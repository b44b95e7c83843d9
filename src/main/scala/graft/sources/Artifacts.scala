package graft.sources

import java.io.File
import java.nio.file.{Files, Path, Paths}

/** Repo-root-anchored, git-TRACKED artifact store for gate-critical
  * memos (currently the m5 full-grid CrossValidatorModel), and the one
  * stamp protocol ([[Artifacts.memo]]) every on-disk memo goes through.
  *
  * Why it exists (r14 verdict #1): the m5 memo lived under gitignored
  * `target/automl_cv`, so a wiped workspace re-paid an ~11-minute cold
  * CV grid inside the correctness gate — the exact failure mode that
  * produced the empty r13 artifact. Anchoring under `<repo>/artifacts`
  * (tracked) makes the memo survive a `target/` wipe AND a fresh
  * clone; anchoring to the REPO ROOT rather than the CWD makes gate
  * runs launched from any working directory hit the same cache
  * (r14 ADVICE finding #3).
  */
object Artifacts {

  /** Repo root, resolved in priority order: `GRAFT_REPO_DIR` env var;
    * the directory containing `build.sbt` above this class's code
    * source (target/scala-2.13/classes → repo); the first `build.sbt`
    * ancestor of the CWD; the CWD itself as a last resort. */
  lazy val repoRoot: Path = {
    def ancestorWithBuild(start: Path): Option[Path] =
      Iterator.iterate(start.toAbsolutePath)(_.getParent)
        .takeWhile(_ != null)
        .find(p => Files.exists(p.resolve("build.sbt")))
    val fromCodeSource =
      Option(getClass.getProtectionDomain.getCodeSource)
        .flatMap(cs => scala.util.Try(Paths.get(cs.getLocation.toURI)).toOption)
        .flatMap(ancestorWithBuild)
    sys.env.get("GRAFT_REPO_DIR").map(Paths.get(_).toAbsolutePath)
      .orElse(fromCodeSource)
      .orElse(ancestorWithBuild(Paths.get(sys.props("user.dir"))))
      .getOrElse(Paths.get(sys.props("user.dir")).toAbsolutePath)
  }

  /** Delete `root` and everything under it; a missing `root` is a
    * no-op. Children go before their directory, the walk stream is
    * closed, and a file that cannot be deleted throws. */
  def deleteRecursively(root: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      val all =
        try walk.iterator().asScala.toSeq.reverse
        finally walk.close()
      all.foreach(Files.deleteIfExists)
    }
  }

  /** Absolute path of a named tracked-artifact directory. */
  def dir(name: String): String =
    repoRoot.resolve("artifacts").resolve(name).toString

  /** `base/<dataset>`: the memo directory of one dataset, its path
    * flattened to a single safe name (`/root/testdata/sf0.01` →
    * `_root_testdata_sf0.01`). */
  def memoDir(base: String, dataset: String): String =
    base + "/" + dataset.replaceAll("[^A-Za-z0-9.]+", "_")

  /** The one on-disk memo protocol. If `dir/stamp` holds `stamp`, the
    * memo is fresh: return true and touch nothing. Otherwise remove
    * the stale stamp FIRST, delete each named part under `dir` (an
    * artifact plus everything derived from it), run `build`, and write
    * the stamp LAST; return false. A build that dies part-way leaves
    * no stamp, so no later call, whatever stamp it asks for, reads the
    * half-built parts as fresh. Files in `dir` that are not listed
    * parts are left alone. */
  def memo(dir: String, stamp: String, parts: Seq[String])
          (build: => Unit): Boolean = {
    val stampPath = Paths.get(dir, "stamp")
    if (Files.exists(stampPath) && Files.readString(stampPath) == stamp)
      true
    else {
      Files.deleteIfExists(stampPath)
      parts.foreach(p => deleteRecursively(Paths.get(dir, p)))
      build
      Files.createDirectories(Paths.get(dir))
      Files.writeString(stampPath, stamp)
      false
    }
  }

  /** Content fingerprint of a dataset (parquet file or directory of
    * part files): one line per file of `name:length:sha256(head 8 KiB
    * ‖ tail 8 KiB)`, plus the caller's protocol tag. The tail window
    * covers the parquet FOOTER — row counts, column min/max stats,
    * schema — so an attribute-preserving copy of *different* data
    * cannot serve a stale model (r14 ADVICE #3: the old
    * name:length:mtime stamp could). Deliberately NOT mtime-based:
    * a byte-identical regeneration of the test corpus keeps the memo
    * warm across driver rounds. */
  def contentFingerprint(dataset: File, tag: String): String = {
    val files =
      if (dataset.isDirectory)
        dataset.listFiles.toSeq.filter(_.isFile).sortBy(_.getName)
      else Seq(dataset)
    val lines = files.map { f =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val ch = java.nio.channels.FileChannel.open(f.toPath)
      try {
        val n = ch.size()
        val head = java.nio.ByteBuffer.allocate(math.min(8192L, n).toInt)
        ch.read(head, 0L); head.flip(); md.update(head)
        if (n > 8192L) {
          val tail = java.nio.ByteBuffer.allocate(
            math.min(8192L, n - 8192L).toInt)
          ch.read(tail, n - tail.capacity()); tail.flip(); md.update(tail)
        }
      } finally ch.close()
      val hex = md.digest().map("%02x".format(_)).mkString
      s"${f.getName}:${f.length}:$hex"
    }
    (lines :+ tag).mkString("\n")
  }
}
