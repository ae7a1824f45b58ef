package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.Properties

import scala.collection.mutable
import scala.util.Random

import graft.Tables
import graft.queries.AllQueries
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}

/** One benchmark run of one workload, driven from outside the program
  * through the public query registry (`AllQueries`).
  *
  * Schedule (all in one JVM, one closed-loop client on the main thread):
  *   1. session 1 (set-up counted from process start): one untimed check
  *      pass that writes every query's rows for the oracle compare and
  *      warms the JIT;
  *   2. sessions 2 and 3, each a fresh one (new SparkContext, so empty
  *      memos, CacheManager and block manager; tables loaded once by
  *      set-up), each with one timed cold pass;
  *   3. in session 3, two untimed warm-up passes, then timed warm passes
  *      until `seconds` have elapsed (whole passes, at least two).
  * Every pass runs the workload's queries in the one order drawn from
  * `seed`, and every timed execution records its row count, which the
  * caller compares with the oracle-checked rows. Every set-up, pass and
  * query records the guest's busy and steal CPU seconds beside its wall
  * time, so the caller can take host steal out.
  *
  * With `trace=1` a listener attributes Spark jobs to queries through
  * `setJobGroup`, spans are kept in memory and written with the result,
  * and warm passes alternate traced and untraced so the tracing overhead
  * is measured in the same run. Untraced runs register no listener.
  */
object Harness {
  /** Untimed warm passes before the timed ones; see `warm_evidence` in
    * run.py for the evidence that the timed passes have levelled off. */
  val WarmupPasses = 2

  /** Spark's compiled-class cache. At its default of 100 entries the
    * workloads' generated classes (about 110 a pass on isolate_typing)
    * overflow it, and which classes are evicted, and so the pass time,
    * depends on the query order: warm passes compiled 29-73 classes and
    * took 2.0-2.9 s by seed. See README "Codegen cache". */
  val CodegenCacheEntries = 1000
  private val epochNs = System.nanoTime()
  private val epochMs = System.currentTimeMillis()
  private def now(): Double = (System.nanoTime() - epochNs) / 1e9
  private def msToRun(ms: Long): Double = (ms - epochMs) / 1e3

  final case class Conf(corpus: String, runDir: String, out: String,
      workload: String, queries: Seq[String], tables: Seq[String], seed: Long,
      seconds: Double, trace: Boolean, cores: Int, cpuAtStart: (Double, Double))

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val conf = Conf(kv("corpus"), kv("runDir"), kv("out"), kv("workload"),
      kv("queries").split(",").toSeq, kv("tables").split(",").toSeq, kv("seed").toLong,
      kv("seconds").toDouble,
      kv("trace") == "1", kv("cores").toInt, {
        val Array(b, x) = kv("cpuAtStart").split(",").map(_.toDouble); (b, x)
      })
    new Harness(conf).run()
  }

  /** Per-job counters gathered from task ends; times are run seconds. */
  final class Job(val id: Int, val group: String, val start: Double) {
    var end = Double.NaN
    var stages, tasks = 0
    var runMs, gcMs = 0L
    var cpuNs, shuffleRead, shuffleWrite, spill = 0L
  }

  final class Listener extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stageJob = mutable.Map.empty[Int, Job]
    private def group(p: Properties): String =
      Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val j = new Job(e.jobId, group(e.properties), msToRun(e.time))
      jobs(e.jobId) = j
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = msToRun(e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.diskBytesSpilled
        }
      }
    }
  }

  /** Plan-shape counts over the executed plan and its subqueries. Cached
    * relations are leaves: their inner plans ran at set-up, not here. */
  def planCounts(p: SparkPlan): Map[String, Int] = {
    val nodes = p.collectWithSubqueries { case n => n }
    Map(
      "exchanges" -> nodes.count(n => n.isInstanceOf[ShuffleExchangeLike] ||
        n.isInstanceOf[BroadcastExchangeLike]),
      "scans" -> nodes.count(n => n.isInstanceOf[LeafExecNode] &&
        !n.isInstanceOf[ReusedExchangeExec]),
      "aggregates" -> nodes.count(_.isInstanceOf[BaseAggregateExec]),
      "broadcast_joins" -> nodes.count(n => n.isInstanceOf[BroadcastHashJoinExec] ||
        n.isInstanceOf[BroadcastNestedLoopJoinExec]))
  }

  /** Bytes this process has passed to write(2): shuffle files, spill,
    * memo stores, layouts, sinks and checkpoints (Linux only). */
  def writtenBytes(): Long = {
    val line = Files.readAllLines(Paths.get("/proc/self/io")).toArray
      .map(_.toString).find(_.startsWith("wchar:"))
    line.map(_.split(":")(1).trim.toLong).getOrElse(0L)
  }

  /** (busy, steal) CPU seconds summed over all CPUs from /proc/stat:
    * busy = user + nice + system + irq + softirq; steal is time the
    * hypervisor gave to other guests while this one had work to run. */
  def cpuSeconds(): (Double, Double) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
    (Seq(1, 2, 3, 6, 7).map(f(_).toDouble).sum / 100, f(8).toDouble / 100)
  }

  /** Time the JIT compilers have spent compiling, in seconds. */
  def jitSeconds(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Collection time of every JVM garbage collector, in seconds. */
  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  }

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
  }
}

final class Harness(c: Harness.Conf) {
  import Harness._

  private val queries: Map[String, (SparkSession, String) => DataFrame] =
    AllQueries.queries
  private val moduleOf: Map[String, String] = AllQueries.modules.flatMap { m =>
    m.qs.map(_.name -> m.getClass.getSimpleName.stripSuffix("$"))
  }.toMap
  /** The seed's query order, the same in every pass: per-pass orders
    * change which generated classes Spark's codegen cache evicts, and
    * with that the pass time, from pass to pass. */
  private val order: Seq[String] = new Random(c.seed).shuffle(c.queries)
  private val setups = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val execs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val errors = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var listener: Listener = null
  private var spark: SparkSession = null

  private def newSession(fromProcessStart: Boolean): Unit = {
    val t0 = if (fromProcessStart)
      msToRun(ManagementFactory.getRuntimeMXBean.getStartTime) else now()
    val (b0, x0) = if (fromProcessStart) c.cpuAtStart else cpuSeconds()
    if (spark != null) spark.stop()
    val b = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${c.runDir}/local")
      .config("spark.sql.warehouse.dir", s"${c.runDir}/warehouse")
      .config("spark.graft.checkpointDir", s"${c.runDir}/checkpoint")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(s"${c.runDir}/checkpoint")
    if (c.trace) {
      listener = new Listener
      spark.sparkContext.addSparkListener(listener)
    }
    val ready = now()
    c.tables.foreach(t => Tables.load(spark, c.corpus, t).count())
    val t1 = now()
    val (b1, x1) = cpuSeconds()
    setups += Map("index" -> setups.size, "from_process_start" -> fromProcessStart,
      "wall_s" -> (t1 - t0), "busy_s" -> (b1 - b0), "steal_s" -> (x1 - x0),
      "session_s" -> (ready - t0), "load_s" -> (t1 - ready), "cached_mb" -> storageMb())
  }

  /** Corpus tables the session holds in its table cache. */
  private def cachedTables(): Seq[String] = {
    val names = spark.sparkContext.getRDDStorageInfo.map(_.name)
    Tables.names.filter(t => names.exists(_.contains(s"/$t.parquet")))
  }

  private def storageMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Runs one pass over the workload. `check` writes rows for the oracle
    * compare instead of counting them. */
  private def pass(kind: String, traced: Boolean, check: Option[String] = None): Unit = {
    val idx = passes.size
    val sc = spark.sparkContext
    val w0 = writtenBytes()
    val ((bz0, st0), gc0, jit0) = (cpuSeconds(), gcSeconds(), jitSeconds())
    val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = now()
    order.foreach { q =>
      val id = s"${c.workload}/$idx/$q"
      if (traced) sc.setJobGroup(id, id, interruptOnCancel = false)
      val (b0, x0) = cpuSeconds()
      val s0 = now()
      var s1, s2 = Double.NaN
      var rec = Map[String, Any]("pass" -> idx, "query" -> q)
      try {
        val df = queries(q)(spark, c.corpus)
        s1 = now()
        check match {
          case Some(dir) =>
            df.write.mode("overwrite").parquet(s"$dir/$q")
            s2 = now()
          case None =>
            val qe = df.queryExecution
            val plan = qe.executedPlan
            s2 = now()
            rec += "rows" -> qe.toRdd.count()
            if (traced) rec ++= Map(
              "phases" -> qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 },
              "plan" -> planCounts(plan))
        }
      } catch {
        case e: Throwable =>
          errors += Map("pass" -> idx, "kind" -> kind, "query" -> q,
            "class" -> e.getClass.getName, "message" -> String.valueOf(e.getMessage).take(300))
          rec += "error" -> e.getClass.getName
      }
      val s3 = now()
      val (b1, x1) = cpuSeconds()
      if (traced) sc.clearJobGroup()
      execs += rec ++ Map("ok" -> !rec.contains("error"), "start" -> s0,
        "busy_s" -> (b1 - b0), "steal_s" -> (x1 - x0),
        "construct_s" -> (s1 - s0), "plan_s" -> (s2 - s1), "execute_s" -> (s3 - s2),
        "wall_s" -> (s3 - s0))
      if (traced) {
        spans += Map("id" -> id, "parent" -> null, "name" -> "query", "start" -> s0, "end" -> s3)
        Seq(("construct", s0, s1), ("plan", s1, s2), ("execute", s2, s3)).foreach {
          case (n, a, b) if !a.isNaN && !b.isNaN =>
            spans += Map("id" -> s"$id/$n", "parent" -> id, "name" -> n, "start" -> a, "end" -> b)
          case _ =>
        }
      }
    }
    val (bz1, st1) = cpuSeconds()
    passes += Map("index" -> idx, "kind" -> kind, "session" -> (setups.size - 1),
      "traced" -> traced, "order" -> order, "start" -> t0, "wall_s" -> (now() - t0),
      "written_mb" -> (writtenBytes() - w0) / 1048576.0,
      "busy_s" -> (bz1 - bz0), "steal_s" -> (st1 - st0),
      "jvm_gc_s" -> (gcSeconds() - gc0), "jit_s" -> (jitSeconds() - jit0),
      "codegen_compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0),
      "persisted_rdds" -> sc.getPersistentRDDs.size, "storage_mb" -> storageMb())
  }

  /** Job spans, each parented to the query phase it started in. */
  private def jobSpans(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val phases = spans.filter(s => s("name") != "query")
      .groupBy(s => s("parent").asInstanceOf[String])
    listener.synchronized {
      listener.jobs.values.filter(_.group.nonEmpty).foreach { j =>
        val parent = phases.getOrElse(j.group, Seq.empty).find { s =>
          j.start >= s("start").asInstanceOf[Double] - 1e-3 &&
            j.start <= s("end").asInstanceOf[Double] + 1e-3
        }.map(_("id")).getOrElse(s"${j.group}/execute")
        spans += Map("id" -> s"job/${j.id}", "parent" -> parent, "name" -> "job",
          "start" -> j.start, "end" -> j.end, "group" -> j.group, "stages" -> j.stages,
          "tasks" -> j.tasks, "task_run_s" -> j.runMs / 1e3, "task_cpu_s" -> j.cpuNs / 1e9,
          "gc_s" -> j.gcMs / 1e3, "shuffle_read_b" -> j.shuffleRead,
          "shuffle_write_b" -> j.shuffleWrite, "spill_b" -> j.spill)
      }
      listener.jobs.clear()
    }
  }

  def run(): Unit = {
    Seq("local", "warehouse", "checkpoint", "check")
      .foreach(d => Files.createDirectories(Paths.get(c.runDir, d)))
    newSession(fromProcessStart = true)
    pass("check", traced = false, Some(s"${c.runDir}/check"))
    val tablesUsed = cachedTables()
    (1 to 2).foreach { _ =>
      if (c.trace) jobSpans()
      newSession(fromProcessStart = false)
      pass("cold", c.trace)
    }
    (1 to WarmupPasses).foreach(_ => pass("warmup", traced = false))
    // whole passes keep the query mix of every run the same
    val t0 = now()
    var n = 0
    while (now() - t0 < c.seconds || n < 2) {
      pass("warm", c.trace)
      if (c.trace) pass("warm_untraced", traced = false)
      n += 1
    }
    val warmSpan = now() - t0
    if (c.trace) jobSpans()
    val endStorage = storageMb()
    val endRdds = spark.sparkContext.getPersistentRDDs.size
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    spark.stop()
    val result = Map(
      "workload" -> c.workload, "seed" -> c.seed, "cores" -> c.cores,
      "trace" -> c.trace, "warm_span_s" -> warmSpan,
      "queries" -> c.queries, "tables_used" -> tablesUsed,
      "modules" -> c.queries.map(q => q -> moduleOf(q)).toMap,
      "setups" -> setups, "passes" -> passes, "execs" -> execs, "spans" -> spans,
      "errors" -> errors,
      "end" -> Map("heap_retained_mb" -> heap, "storage_retained_mb" -> endStorage,
        "persisted_rdds" -> endRdds))
    Files.writeString(Paths.get(c.out), json(result))
  }
}
