package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per JVM via getOrCreate). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // suites run in parallel and all converge on one session via
    // getOrCreate — declare the extensions here so whichever suite builds
    // it first produces the session ExtensionsSpec asserts against
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .getOrCreate()

  def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  // One temp root per suite: every spec directory and file goes under it,
  // and afterAll deletes the whole tree.
  private var tmpRoot: Option[Path] = None

  /** A fresh directory under this suite's temp root. */
  def tempDir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** A fresh file under this suite's temp root. */
  def tempFile(prefix: String, suffix: String): Path =
    Files.createTempFile(root, prefix, suffix)

  /** A private copy of the sf0.001 corpus under this suite's temp root:
    * memo entries and CacheManager entries keyed on its path are this
    * suite's own, since no other suite of the shared session reads it.
    */
  def corpusCopy(prefix: String): String = {
    val tmp = tempDir(prefix)
    Tables.names.foreach(t => Files.copy(
      Paths.get(s"$corpus/$t.parquet"), tmp.resolve(s"$t.parquet")))
    tmp.toString
  }

  private val corpus = "/root/testdata/sf0.001"

  private def root: Path = synchronized {
    if (tmpRoot.isEmpty) tmpRoot = Some(Files.createTempDirectory("graft-spec-"))
    tmpRoot.get
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally synchronized(tmpRoot.foreach(p => FileUtils.deleteQuietly(p.toFile)))
}
