package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite, small parallelism. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Sessions.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh temp directory, deleted with everything under it once the
    * suite has run. */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  override def afterAll(): Unit = {
    import scala.jdk.CollectionConverters._
    // a directory that cannot be deleted is reported, not failed: the
    // suite's own cases have already passed or failed on their merits
    try tempDirs.asScala.foreach { dir =>
      try graft.sources.Artifacts.deleteRecursively(dir)
      catch { case e: java.io.IOException =>
        System.err.println(s"could not delete $dir: $e") }
    } finally super.afterAll()
  }
}
