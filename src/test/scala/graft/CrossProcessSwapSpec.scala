package graft

import graft.operators.CacheRefresh

/** Cross-PROCESS atomicity of the versioned-pointer publish (r11 VERDICT
  * #6): FederationSpec's race readers share the writer's JVM; the
  * protocol's claim is rename(2) atomicity between INDEPENDENT processes
  * (the reference's property, lib/BIGSdb/Datastore.pm:2165-2172). This
  * spec spawns [[graft.PointerRaceReader]] as a second JVM — same
  * classpath, its own SparkSession — which hammers the REAL
  * CacheRefresh.resolveLive path and content-checks every resolved
  * version, while this JVM storms >= 150 publishes through
  * publishVersioned. Zero torn/failed/backwards reads required.
  */
class CrossProcessSwapSpec extends SparkSpec {

  test("a second JVM hammering resolveLive sees zero torn reads across " +
      "150 cross-process pointer flips") {
    val base = tempDir("graft-xproc")
    val livePath = base.toString + "/cache"
    val flips = 150

    def publish(v: Long): Unit =
      CacheRefresh.publishVersioned(spark, livePath) { dir =>
        val d = java.nio.file.Paths.get(dir)
        java.nio.file.Files.createDirectories(d)
        val line = s"version $v\n"
        java.nio.file.Files.write(d.resolve("data.txt"),
          (line * 100).getBytes("UTF-8"))
        java.nio.file.Files.write(d.resolve("sum.txt"),
          s"100 $v".getBytes("UTF-8"))
      }

    // v1 exists before the reader's first resolve
    publish(1L)

    val addOpens = Seq(
      "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
      "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic"
    ).map(p => s"--add-opens=java.base/$p=ALL-UNNAMED") ++ Seq(
      "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
      "--add-opens=java.base/sun.nio.cs=ALL-UNNAMED",
      "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
      "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED")
    val javaBin = sys.props("java.home") + "/bin/java"
    val cmd = (Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx1g", "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"),
      "graft.PointerRaceReader", livePath)).toArray
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(false)
    pb.redirectError(tempFile("xproc-reader", ".err").toFile)
    val proc = pb.start()
    val out = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream, "UTF-8"))
    try {
      // wait for the reader's Spark session (it prints READER_READY)
      var line = out.readLine()
      val t0 = System.nanoTime()
      while (line != null && line != "READER_READY" &&
          (System.nanoTime() - t0) < 120e9) line = out.readLine()
      assert(line == "READER_READY", s"reader never came up (got: $line)")

      (2L to (flips + 1L)).foreach(publish)

      // let the reader take a final few laps over the settled pointer,
      // then stop it
      Thread.sleep(300)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(livePath + ".stop"),
        Array.emptyByteArray)
      assert(proc.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
        "reader did not exit")
      var json: String = null
      var l = out.readLine()
      while (l != null) { if (l.startsWith("{")) json = l; l = out.readLine() }
      assert(json != null, "reader printed no result line")
      val reads = "\"reads\":(\\d+)".r.findFirstMatchIn(json)
        .map(_.group(1).toLong).getOrElse(-1L)
      val failures = "\"failures\":(\\d+)".r.findFirstMatchIn(json)
        .map(_.group(1).toLong).getOrElse(-1L)
      val maxV = "\"max_version\":(\\d+)".r.findFirstMatchIn(json)
        .map(_.group(1).toLong).getOrElse(-1L)
      assert(failures == 0L, s"cross-process reader saw torn reads: $json")
      assert(reads >= 100L, s"reader did too few laps to prove anything: $json")
      assert(maxV == flips + 1L, s"reader never saw the final version: $json")
    } finally {
      proc.destroyForcibly()
      out.close()
    }
  }
}
