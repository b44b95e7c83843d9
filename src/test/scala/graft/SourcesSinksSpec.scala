package graft

import org.apache.spark.sql.functions._
import graft.sources.{Sinks, Tables}

class SourcesSinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    tempDir("graft-sink").toString

  test("S1: CSV ingest infers schema and _row_id preserves file order") {
    val dir = tmp()
    val csv = new java.io.File(dir, "train.csv")
    val w = new java.io.PrintWriter(csv)
    w.println("engine_no,cycle,sensor"); (1 to 50).foreach(i =>
      w.println(s"${i % 3},$i,${100.0 - i}")); w.close()

    val df = Tables.csvWithRowId(spark, csv.getAbsolutePath)
    assert(df.schema("engine_no").dataType.typeName == "integer")
    assert(df.schema("sensor").dataType.typeName == "double")
    val cycles = df.orderBy("_row_id").select("cycle").collect().map(_.getInt(0))
    assert(cycles.toSeq == (1 to 50)) // ascending _row_id == file order
  }

  test("partitioned writer prunes partitions on read") {
    val dir = tmp() + "/part"
    val ev = Tables.load(spark, sf, "events")
      .withColumn("day", to_date(col("ts")))
    Sinks.writePartitioned(ev, dir, Seq("event_type"))
    val back = spark.read.parquet(dir)
    assert(back.count() == ev.count())
    val pruned = back.filter(col("event_type") === "click")
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters: [isnotnull(event_type"),
      s"no partition pruning in:\n$planStr")
    assert(pruned.count() ==
      ev.filter(col("event_type") === "click").count())
  }

  test("bucketed table joins without an exchange on the bucket key") {
    // managed tables land in the shared session's warehouse, which is
    // whatever session the suite order left as the default (another
    // suite's temp warehouse, or ./spark-warehouse): clean the paths
    // the catalog will actually use, and remove a warehouse dir that
    // only these tables created
    val locs = Seq("orders_b", "lineitem_b").map { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = java.nio.file.Paths.get(spark.sessionState.catalog
        .defaultTablePath(org.apache.spark.sql.catalyst.TableIdentifier(t)))
      graft.sources.Artifacts.deleteRecursively(loc)
      loc
    }
    val warehouse = locs.head.getParent
    val ownWarehouse = !java.nio.file.Files.exists(warehouse)
    val orders = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_totalprice")
    Sinks.writeBucketed(orders, "orders_b", "o_orderkey", 4)
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity")
    Sinks.writeBucketed(li.withColumnRenamed("l_orderkey", "o_orderkey"),
      "lineitem_b", "o_orderkey", 4)

    // force a sort-merge join (broadcast would sidestep bucketing)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"), "o_orderkey")
      val shuffles = joined.queryExecution.executedPlan.toString
        .linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(shuffles == 0, "bucketed join must not shuffle")
      assert(joined.count() > 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
      if (ownWarehouse) graft.sources.Artifacts.deleteRecursively(warehouse)
    }
  }

  test("S2: xlsx round-trip with inference, shared/inline strings, blanks") {
    val path = tmp() + "/t.xlsx"
    graft.sources.Xlsx.write(Seq(
      Seq("engine_no", "sensor", "label", "note"),
      Seq(1L, 10.5, 3L, "ok"),
      Seq(2L, null, 4L, "warn"),   // blank cell → null
      Seq(3L, 30.25, 5L, "ok")), path)
    val df = graft.sources.Xlsx.read(spark, path)
    assert(df.schema.map(f => f.name -> f.dataType.typeName).toSeq == Seq(
      "engine_no" -> "long", "sensor" -> "double", "label" -> "long",
      "note" -> "string"))
    val rows = df.orderBy("engine_no").collect()
    assert(rows.length == 3)
    assert(rows(1).isNullAt(1)) // the blank sensor cell
    assert(rows(2).getDouble(1) == 30.25)
    assert(rows(0).getString(3) == "ok")

    // the upload route accepts it (reference's pd.read_excel fallback)
    val session = graft.api.AnalysisSession(graft.api.TaskConfig("x"))
      .upload(spark, path)
    assert(session.displayData.count() == 3)
  }

  test("S2: multi-file xlsx directory ingest parallelizes per file and widens types") {
    val dir = new java.io.File(tmp() + "/xlsxdir"); dir.mkdirs()
    // file 1: ids long, sensor long (whole numbers)
    graft.sources.Xlsx.write(Seq(
      Seq("engine_no", "sensor", "note"),
      Seq(1L, 10L, "a"), Seq(2L, 20L, "b")), s"$dir/part1.xlsx")
    // file 2: same header, sensor double → union widens long→double
    graft.sources.Xlsx.write(Seq(
      Seq("engine_no", "sensor", "note"),
      Seq(3L, 30.5, "c")), s"$dir/part2.xlsx")
    // file 3: blank cell survives the union as null
    graft.sources.Xlsx.write(Seq(
      Seq("engine_no", "sensor", "note"),
      Seq(4L, null, "d")), s"$dir/part3.xlsx")
    // a non-xlsx file in the directory is ignored by the glob filter
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/README.txt"), "not a workbook")
    val df = graft.sources.Xlsx.readAll(spark, dir.toString)
    assert(df.schema.map(f => f.name -> f.dataType.typeName).toSeq == Seq(
      "engine_no" -> "long", "sensor" -> "double", "note" -> "string"))
    val rows = df.orderBy("engine_no").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(rows(0).getDouble(1) == 10.0 && rows(2).getDouble(1) == 30.5)
    assert(rows(3).isNullAt(1))
    assert(rows.map(_.getString(2)).toSeq == Seq("a", "b", "c", "d"))
    // mismatched header fails fast with both paths named
    graft.sources.Xlsx.write(Seq(Seq("other"), Seq(1L)), s"$dir/bad.xlsx")
    val e = intercept[Exception] {
      graft.sources.Xlsx.readAll(spark, dir.toString).collect()
    }
    assert(e.getMessage.contains("header"))
  }

  test("S2: xlsx round-trip beyond 26 columns (AA-style refs)") {
    val path = tmp() + "/wide.xlsx"
    val n = 30 // crosses the Z→AA boundary
    val header = (0 until n).map(i => s"c$i")
    val row1 = (0 until n).map(_.toLong)
    val row2 = (0 until n).map(i => (i * 10).toLong)
    graft.sources.Xlsx.write(Seq(header, row1, row2), path)
    val df = graft.sources.Xlsx.read(spark, path)
    assert(df.columns.toSeq == header)
    val rows = df.orderBy("c0").collect()
    assert(rows(0).getLong(n - 1) == (n - 1).toLong)
    assert(rows(1).getLong(n - 1) == ((n - 1) * 10).toLong)
  }

  test("csv sink round-trips") {
    val dir = tmp() + "/csv"
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    Sinks.writeCsv(df, dir)
    val back = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(dir)
    assert(back.collect().map(_.toSeq).toSet == df.collect().map(_.toSeq).toSet)
  }

  test("orc sink round-trips with pushdown-capable scan") {
    val dir = tmp() + "/orc"
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5))
      .toDF("k", "v", "x")
    Sinks.writeOrc(df, dir)
    val back = spark.read.orc(dir).filter($"k" > 1)
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThan(k,1)"),
      s"ORC scan must push the filter down:\n$scan")
    assert(back.count() == 2)
    assert(spark.read.orc(dir).schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
  }

  test("json-lines sink round-trips under an explicit schema") {
    val dir = tmp() + "/json"
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("k", "v", "x")
    Sinks.writeJson(df, dir)
    val back = spark.read.schema(df.schema).json(dir)
    assert(back.collect().map(_.toSeq).toSet == df.collect().map(_.toSeq).toSet)
  }

  test("compaction folds many small files into few; data survives intact") {
    val dir = tmp() + "/compact"
    val df = (1 to 5000).map(i => (i.toLong, s"row$i")).toDF("k", "v")
    df.repartition(64).write.parquet(dir) // 64 tiny files
    val before = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(before == 64)
    Sinks.compact(spark, dir, targetBytes = 512L << 20)
    val after = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(after < 8, s"still $after files")
    val back = spark.read.parquet(dir)
    assert(back.count() == 5000)
    assert(back.agg(org.apache.spark.sql.functions.sum("k")).head().getLong(0)
      == 5000L * 5001 / 2)
  }

  test("compact self-heals a crash window: _old restored, stale tmp cleared") {
    val dir = tmp() + "/compact_recover"
    val df = (1 to 100).map(i => (i.toLong, s"r$i")).toDF("k", "v")
    df.repartition(8).write.parquet(dir)
    // simulate a crash between the two swap renames: table parked at
    // _old, nothing at dir, a partial tmp left behind
    val f = new java.io.File(dir)
    assert(f.renameTo(new java.io.File(dir + "_old")))
    val staleTmp = new java.io.File(dir + "_compacting")
    staleTmp.mkdirs()
    new java.io.FileOutputStream(
      new java.io.File(staleTmp, "partial.parquet")).close()
    Sinks.compact(spark, dir, targetBytes = 512L << 20)
    val back = spark.read.parquet(dir)
    assert(back.count() == 100)
    assert(!new java.io.File(dir + "_old").exists())
    assert(!staleTmp.exists())
  }

  private def parts(dir: String): Int =
    new java.io.File(dir).listFiles().count(_.getName.startsWith("part-"))

  /** `rows` rows of (k, v) written as `files` parquet files, read back. */
  private def spread(rows: Int, files: Int) = {
    val src = tmp() + "/scan_sized_src"
    (1 to rows).map(i => (i.toLong, s"row$i")).toDF("k", "v")
      .repartition(files).write.parquet(src)
    val in = spark.read.parquet(src)
    assert(in.inputFiles.length == files && in.rdd.getNumPartitions == files)
    in
  }

  test("writeScanSized keeps a first write within 2x of its target: 600 rows over 2 files") {
    val in = spread(600, 2)
    val out = tmp() + "/scan_sized"
    // a stale swap directory: only the resize rewrite clears it
    val stale = new java.io.File(out + "_resize/stale")
    assert(stale.mkdirs())
    Sinks.writeScanSized(in, out) // target 1 file; 2 are kept
    assert(parts(out) == 2)
    assert(stale.exists(), "the artifact was rewritten through _resize")
    assert(spark.read.parquet(out).as[(Long, String)].collect().sorted.toSeq ==
      in.as[(Long, String)].collect().sorted.toSeq)
  }

  test("writeScanSized rewrites too many files and too few to the footer target") {
    // 600 rows: target 1 file, 3 written (> 2x); 10k rows:
    // min(4 cores, 10000 / 2048) = 4 files, 1 written (< target)
    for ((rows, files, target) <- Seq((600, 3, 1), (10000, 1, 4))) {
      val out = tmp() + "/scan_sized"
      Sinks.writeScanSized(spread(rows, files), out)
      assert(parts(out) == target)
      assert(!new java.io.File(out + "_resize").exists())
      val back = spark.read.parquet(out)
      assert(back.count() == rows)
      assert(back.agg(sum("k")).head().getLong(0) == rows.toLong * (rows + 1) / 2)
    }
  }

  test("zorder key: adjacent keys stay spatially local; both dims interleave") {
    import org.apache.spark.sql.functions._
    // 64x64 grid; Morton order must map equal keys only for equal cells
    val grid = for { x <- 0 until 64; y <- 0 until 64 } yield (x.toDouble, y.toDouble)
    val df = grid.toDF("x", "y")
      .withColumn("z", Sinks.zorderKey(col("x"), col("y"), 0, 63, 0, 63))
    assert(df.select("z").distinct().count() == 64L * 64)
    // quadrant property: the top bit pair splits the plane into 4 boxes
    val q = df.withColumn("quad", (col("z") / lit(1L << 30)).cast("int"))
      .groupBy("quad")
      .agg(max("x").as("mx"), min("x").as("nx"),
        max("y").as("my"), min("y").as("ny"))
      .collect().map(r => r.getInt(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(q.size == 4)
    q.values.foreach { case (mx, nx, my, ny) =>
      assert(mx - nx <= 31.0 && my - ny <= 31.0) // each quad is a 32x32 box
    }
  }

  test("zorder write: every file is a bounded box in BOTH columns") {
    import org.apache.spark.sql.functions._
    val dir = tmp() + "/zorder"
    val n = 4096
    // deterministic scatter over [0,256)x[0,256)
    val pts = (0 until n).map { i =>
      (((i * 2654435761L) % 256).toDouble, ((i * 40503L) % 256).toDouble)
    }
    Sinks.writeZOrdered(pts.toDF("x", "y"), dir, "x", "y",
      0, 255, 0, 255, numFiles = 16)
    val boxes = spark.read.parquet(dir)
      .withColumn("file", input_file_name())
      .groupBy("file")
      .agg(max("x").as("mx"), min("x").as("nx"),
        max("y").as("my"), min("y").as("ny"))
      .collect()
    assert(boxes.length > 4)
    // single-column sort would give full-range y spans (~255) in every
    // file; Morton boxes must be materially tighter on BOTH dims
    val spans = boxes.map(r => (r.getDouble(1) - r.getDouble(2),
      r.getDouble(3) - r.getDouble(4)))
    val avgX = spans.map(_._1).sum / spans.length
    val avgY = spans.map(_._2).sum / spans.length
    assert(avgX < 160, s"avg x-span $avgX not clustered")
    assert(avgY < 160, s"avg y-span $avgY not clustered")
  }

  private def write(path: java.nio.file.Path, text: String): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, text)
  }
  private def read(path: java.nio.file.Path): String =
    java.nio.file.Files.readString(path)

  test("memo: a fresh stamp skips the build and touches nothing") {
    val dir = tempDir("graft-memo")
    var builds = 0
    def call() = graft.sources.Artifacts.memo(dir.toString, "A",
      Seq("part")) { builds += 1; write(dir.resolve("part/x"), "v1") }
    assert(!call() && builds == 1)
    assert(read(dir.resolve("stamp")) == "A")
    assert(call() && builds == 1)
    assert(read(dir.resolve("part/x")) == "v1")
  }

  test("memo: a mismatched stamp deletes every listed part, keeps the " +
    "rest of the dir, and rebuilds") {
    val dir = tempDir("graft-memo")
    write(dir.resolve("stamp"), "A")
    write(dir.resolve("index/cells/p0"), "old")
    write(dir.resolve("codes/p0"), "old")
    write(dir.resolve("notes.txt"), "caller's file")
    var partsAtBuild = Seq.empty[Boolean]
    val fresh = graft.sources.Artifacts.memo(dir.toString, "B",
      Seq("index", "codes", "absent")) {
      partsAtBuild = Seq("stamp", "index", "codes")
        .map(p => java.nio.file.Files.exists(dir.resolve(p)))
      write(dir.resolve("index/cells/p1"), "new")
    }
    assert(!fresh)
    // stale stamp and every listed part were gone before the build ran
    assert(partsAtBuild == Seq(false, false, false))
    assert(read(dir.resolve("stamp")) == "B")
    assert(read(dir.resolve("index/cells/p1")) == "new")
    assert(!java.nio.file.Files.exists(dir.resolve("index/cells/p0")))
    assert(!java.nio.file.Files.exists(dir.resolve("codes")))
    assert(read(dir.resolve("notes.txt")) == "caller's file")
  }

  test("memo: a build that throws leaves no stamp, so the OLD stamp " +
    "value rebuilds instead of reading the half-built parts") {
    val dir = tempDir("graft-memo")
    graft.sources.Artifacts.memo(dir.toString, "A", Seq("index"))(
      write(dir.resolve("index/p"), "built for A"))
    intercept[IllegalStateException] {
      graft.sources.Artifacts.memo(dir.toString, "B", Seq("index")) {
        write(dir.resolve("index/p"), "half of B")
        throw new IllegalStateException("died before the stamp")
      }
    }
    assert(!java.nio.file.Files.exists(dir.resolve("stamp")))
    var rebuilt = false
    val fresh = graft.sources.Artifacts.memo(dir.toString, "A",
      Seq("index")) {
      rebuilt = true
      write(dir.resolve("index/p"), "built for A")
    }
    assert(!fresh && rebuilt)
    assert(read(dir.resolve("index/p")) == "built for A")
  }
}
