package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Keeps hand-rolled memos and crossover gates out of the engine: every
  * value kept past one call goes through [[SessionMemo]], which alone
  * owns a concurrent map and the stopped-context check
  * (`Pinning.disk2Pins` is a registry of live pins, not a memo), and
  * every driver-local crossover goes through
  * [[graft.operators.Crossover]], which alone owns the budgets and the
  * forced-distributed override.
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
}
