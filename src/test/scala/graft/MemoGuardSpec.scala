package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps hand-rolled memos out of the engine: every value kept past one
  * call goes through [[SessionMemo]], which alone owns a concurrent map
  * and the stopped-context check. `Pinning.disk2Pins` is a registry of
  * live pins, not a memo.
  */
class MemoGuardSpec extends AnyFunSuite {

  test("no concurrent map or isStopped check in src/main outside " +
      "SessionMemo and Pinning") {
    var root = Paths.get(".").toAbsolutePath.normalize
    while (!Files.exists(root.resolve("build.sbt"))) root = root.getParent
    val allowed = Set("SessionMemo.scala", "Pinning.scala")
    val banned = "ConcurrentHashMap|TrieMap|isStopped".r
    val hits = Files.walk(root.resolve("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !allowed(p.getFileName.toString))
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if banned.findFirstIn(l).nonEmpty => s"$p:${i + 1}: ${l.trim}"
      }).toList
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
