package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite

/** Session-stop lifecycle of [[SessionMemo]]: a stopped session leaves
  * nothing behind — no entry, no directory — and a fresh session rebuilds
  * the same results. Runs in a child JVM ([[MemoLifecycleChild]]) so the
  * sessions it stops are its own, not the suites' shared one.
  */
class MemoLifecycleSpec extends AnyFunSuite {

  test("stopping a session drops its memo entries and deletes its " +
      "directories; a fresh session rebuilds identical rows") {
    val tmp = Files.createTempDirectory("memo-lifecycle")
    val err = Files.createTempFile("memo-lifecycle", ".err")
    try {
      val addOpens = Seq(
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar"
      ).map(p => s"--add-opens=java.base/$p=ALL-UNNAMED")
      val cmd = Seq(sys.props("java.home") + "/bin/java") ++ addOpens ++ Seq(
        "-Xmx1g", s"-Djava.io.tmpdir=$tmp",
        "-cp", sys.props("java.class.path"),
        "graft.MemoLifecycleChild", "/root/testdata/sf0.001")
      val proc = new ProcessBuilder(cmd: _*)
        .redirectError(err.toFile).start()
      val out = scala.io.Source.fromInputStream(proc.getInputStream, "UTF-8")
        .getLines().toList
      assert(proc.waitFor(300, java.util.concurrent.TimeUnit.SECONDS),
        "child did not exit")
      val json = out.findLast(_.startsWith("{")).getOrElse(fail(
        s"child printed no result line (exit ${proc.exitValue()}):\n" +
          Files.readString(err).takeRight(3000)))
      def num(k: String) = s""""$k":(\\d+)""".r.findFirstMatchIn(json)
        .map(_.group(1).toInt).getOrElse(fail(s"no $k in $json"))
      assert(json.contains("\"rows_equal\":true"), json)
      assert(num("a_entries") > 0, json)
      assert(num("a_entries_after_stop") == 0, json)
      // one store per persisted memo: minhash index, zone-map layout,
      // tokenizer artifact, s10's LIN-code replica (g4_lincode's memo is a
      // pin, no directory)
      assert(num("a_dirs") == 4 && num("b_dirs") == 4, json)
      assert(num("a_dirs_left") == 0 && num("b_dirs_left") == 0, json)
    } finally {
      FileUtils.deleteQuietly(tmp.toFile)
      Files.deleteIfExists(err)
    }
  }
}
