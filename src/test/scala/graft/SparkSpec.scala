package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
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

  /** Result-stage names of the Spark jobs `body` starts, in order — the
    * job budget of a call. Under AQE a multi-stage query's jobs are
    * named after the AQE thread, not the call site: count them.
    */
  def jobsOf(body: => Any): Seq[String] = traceOf(body).jobs

  /** What `body` ran: its jobs' result-stage names, in order, and the
    * shuffle bytes its tasks wrote.
    */
  case class JobTrace(jobs: Seq[String], shuffleWriteBytes: Long)

  def traceOf(body: => Any): JobTrace = {
    val sc = spark.sparkContext
    val group = s"spark-spec-${java.util.UUID.randomUUID}"
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val written = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          val description = e.properties.getProperty("spark.job.description")
          if (description != "sentinel") e.stageIds.foreach(stages.add(_))
          seen.add((description, e.stageInfos.maxBy(_.stageId).name))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          written.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "body")
      body
      sc.setJobDescription("sentinel")
      spark.range(1).count()
      // the bus delivers in order: once the sentinel shows, every job
      // started before it has been counted
      def done = seen.asScala.exists(_._1 == "sentinel")
      val t0 = System.nanoTime()
      while (!done && System.nanoTime() - t0 < 60e9) Thread.sleep(20)
      assert(done, "listener never saw the sentinel")
      JobTrace(seen.asScala.toSeq.takeWhile(_._1 != "sentinel").map(_._2),
        written.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

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
