package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Keeps hand-rolled memos, crossover gates and default-store
  * FileSystem lookups out of the engine: every value kept past one call
  * goes through [[SessionMemo]], which alone owns a concurrent map and
  * the stopped-context check (`Pinning.disk2Pins` is a registry of live
  * pins, not a memo), every memoized cached frame goes through
  * [[SessionMemo.cached]] or its [[SessionMemo.register]], every
  * driver-local crossover goes through [[graft.operators.Crossover]],
  * which alone owns the budgets and the forced-distributed override,
  * and artifact IO resolves each path's own FileSystem.
  */
class MemoGuardSpec extends AnyFunSuite {

  /** `file:line: text` of every src/main line matching `banned`, outside
    * the `allowed` file names. */
  private def hits(banned: Regex, allowed: Set[String]): List[String] = {
    var root = Paths.get(".").toAbsolutePath.normalize
    while (!Files.exists(root.resolve("build.sbt"))) root = root.getParent
    Files.walk(root.resolve("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !allowed(p.getFileName.toString))
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if banned.findFirstIn(l).nonEmpty => s"$p:${i + 1}: ${l.trim}"
      }).toList
  }

  /** [[hits]] on code lines only: comment lines may name what they ban. */
  private def codeHits(banned: Regex, allowed: Set[String]): List[String] =
    hits(banned, allowed).filterNot(h =>
      Seq("//", "/*", "*").exists(h.split(": ", 2)(1).startsWith))

  test("no concurrent map or isStopped check in src/main outside " +
      "SessionMemo and Pinning") {
    val found = hits("ConcurrentHashMap|TrieMap|isStopped".r,
      Set("SessionMemo.scala", "Pinning.scala"))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("no per-operator crossover gate in src/main outside Crossover") {
    val found = hits(
      "localWorkThreshold|localEdgeThreshold|fitsLocal|localPairs|localCap".r,
      Set("Crossover.scala"))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("no .cache() in src/main outside SessionMemo and the listed " +
      "call sites") {
    // file -> the .cache() calls allowed in it: Tokenizer.bpeTrain's loop
    // unpersists every round; Profiles.similarityJoin's hot-key path
    // caches for fault recovery (its comment says why)
    val allowed = Map("Tokenizer.scala" -> 2, "Profiles.scala" -> 1)
    val code = codeHits("""\.cache\(\)""".r, Set("SessionMemo.scala"))
    val over = code.groupBy(h => Paths.get(h.takeWhile(_ != ':')).getFileName
      .toString).filter { case (f, hs) => hs.size > allowed.getOrElse(f, 0) }
    assert(over.isEmpty, over.values.flatten.mkString("\n"))
  }

  test("no .persist() in src/main code: a memoized frame is cached " +
      "through SessionMemo.cached") {
    // persist() is cache() under another name; Pinning's explicit
    // storage levels are per-call pins, not memos
    val found = codeHits("""\.persist\(\)""".r, Set.empty)
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("no FileSystem.get( in src/main code: artifact IO resolves the " +
      "path's own FileSystem") {
    // FileSystem.get(conf) is the configured DEFAULT store: a pointer,
    // manifest or marker of a table on another store would be read from
    // or written to the wrong one
    val found = codeHits("""FileSystem\.get\(""".r, Set.empty)
    assert(found.isEmpty, found.mkString("\n"))
  }
}
