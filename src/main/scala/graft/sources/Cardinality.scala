package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** Row counts the routers and memo writers size their work by. A
  * plain parquet scan answers on the driver from its files' footers,
  * which record every row group's row count, so no Spark job runs;
  * every other frame is counted with `count()`, as before.
  *
  * "Plain" means a `LogicalRelation` over a parquet `HadoopFsRelation`,
  * optionally under deterministic `Project`/`SubqueryAlias` nodes:
  * none of those can add or drop a row. Any `Filter`, `Limit`,
  * `Sample`, `Join` or `Aggregate` (indeed any other node) falls back
  * to `count()`. So does a scan of more files than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold`, the bound
  * above which Spark itself stops listing files on the driver, and a
  * scan that sets `ignoreCorruptFiles` or `ignoreMissingFiles` on the
  * session or the read, where the rows a job sees may differ from
  * what the footers say. */
object Cardinality {

  def rows(df: DataFrame): Long = footerRows(df).getOrElse(df.count())

  /** The footer row count of a plain parquet scan, or None where
    * [[rows]] has to count. */
  private[graft] def footerRows(df: DataFrame): Option[Long] =
    plainParquet(df.queryExecution.analyzed).flatMap { rel =>
      val spark = df.sparkSession
      val conf = spark.sessionState.conf
      val opts = rel.options.map { case (k, v) => k.toLowerCase -> v }
      def ignores(key: String) =
        conf.getConfString(s"spark.sql.files.$key", "false").toBoolean ||
          opts.get(key.toLowerCase).exists(_.toBoolean)
      if (ignores("ignoreCorruptFiles") || ignores("ignoreMissingFiles")) None
      else {
        val files = rel.location.inputFiles
        if (files.length > conf.parallelPartitionDiscoveryThreshold) None
        else Some(fileRows(files.toSeq.map(new Path(_)),
          spark.sessionState.newHadoopConfWithOptions(rel.options)))
      }
    }

  private def plainParquet(plan: LogicalPlan): Option[HadoopFsRelation] =
    plan match {
      case p: Project if p.projectList.forall(_.deterministic) =>
        plainParquet(p.child)
      case a: SubqueryAlias => plainParquet(a.child)
      case LogicalRelation(rel: HadoopFsRelation, _, _, false, _)
          if rel.fileFormat.isInstanceOf[ParquetFileFormat] => Some(rel)
      case _ => None
    }

  /** Sum of the footer row counts of parquet `files`, read on the
    * driver. */
  private[graft] def fileRows(files: Seq[Path], conf: Configuration): Long =
    files.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try reader.getRecordCount
      finally reader.close()
    }.sum

  /** The data files directly under a directory written by a parquet
    * writer: hidden (`.`) and metadata (`_`) files skipped, by the rule
    * Spark's file listing applies. */
  private[graft] def dataFiles(fs: FileSystem, dir: Path): Seq[Path] =
    fs.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
}
