package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Child JVM of [[MemoLifecycleSpec]]: runs five memo-backed queries in
  * session A, stops A's context, runs them again in a fresh session B,
  * and prints one JSON line with what it saw:
  *
  *   {"rows_equal":B,"a_entries":N,"a_entries_after_stop":N,
  *    "a_dirs":N,"a_dirs_left":N,"b_dirs":N,"b_dirs_left":N}
  *
  * The memo directories are the `graft-*` entries of `java.io.tmpdir`,
  * which the spec points at a fresh directory.
  *
  * usage: MemoLifecycleChild <corpusDir>
  */
object MemoLifecycleChild {
  val Queries = Seq("dedup_index_persisted", "scan_zonemap_prune",
    "tokenizer_persisted", "g4_lincode", "s10_replicate_lincodes")

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def memoDirs(): Set[Path] =
    Files.list(Paths.get(sys.props("java.io.tmpdir"))).iterator().asScala
      .filter(_.getFileName.toString.startsWith("graft-")).toSet

  private def run(s: SparkSession, dir: String): Seq[Seq[String]] = {
    val byName = queries.AllQueries.modules.flatMap(_.qs).map(q => q.name -> q).toMap
    Queries.map(q => byName(q).fn(s, dir).collect().toSeq.map(_.toString))
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val a = session()
    val rowsA = run(a, dir)
    val aDirs = memoDirs()
    val aEntries = SessionMemo.size(a)
    a.stop()
    val aEntriesAfter = SessionMemo.size(a)
    val aDirsLeft = aDirs.count(Files.exists(_))

    val b = session()
    val rowsB = run(b, dir)
    val bDirs = memoDirs()
    b.stop()
    val bDirsLeft = bDirs.count(Files.exists(_))
    println(s"""{"rows_equal":${rowsA == rowsB},"a_entries":$aEntries,""" +
      s""""a_entries_after_stop":$aEntriesAfter,"a_dirs":${aDirs.size},""" +
      s""""a_dirs_left":$aDirsLeft,"b_dirs":${bDirs.size},""" +
      s""""b_dirs_left":$bDirsLeft}""")
  }
}
