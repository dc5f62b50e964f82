package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.Internals
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** The benchmark's JVM side: one closed-loop client that submits the
  * workload's queries one after another through
  * `SparkEntry.queries(name)(spark, dir)` and materializes each result
  * through the `noop` sink. It records raw samples (and, in a traced
  * run, spans and per-layer counts) to a JSON file; `perfbench/run.py`
  * turns them into metrics.
  *
  * {{{
  * Runner --launch-ms <epoch ms the JVM was launched> --data <table dir>
  *   --warehouse <dir> --out <result.json> --check-dir <dir>
  *   --cores <n> --queries a,b,c --seconds <s> --seed <n> --trace 0|1
  * }}}
  *
  * Set-up is the JVM launch, `GraftSession.local` and two untimed warm-up
  * passes. The first writes each query's result as parquet to
  * `--check-dir` for the correctness check (part files in partition
  * order, so a sorted result keeps its order); the second runs like a
  * timed pass. The timed loop then runs
  * whole passes over the queries, each in an order drawn from the seed,
  * starting passes until `--seconds` have elapsed (at least three). A
  * traced run alternates untraced and traced passes, so the tracing
  * overhead is measured inside one JVM.
  */
object Runner {
  private val MB = 1024.0 * 1024.0

  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala.find(p =>
    p.getType == MemoryType.HEAP &&
      (p.getName.contains("Old Gen") || p.getName.contains("Tenured")))

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val launchMs = o("launch-ms").toDouble
    val data = o("data")
    val queries = o("queries").split(",").toSeq.filter(_.nonEmpty)
    val trace = o("trace") == "1"
    val out = mutable.LinkedHashMap.empty[String, Any]

    val spark = GraftSession.local(o("cores").toInt, "graft-perfbench", Map(
      "spark.sql.warehouse.dir" -> o("warehouse"),
      // Shuffle files of a finished query are deleted during its
      // teardown, not while the next query is being timed.
      "spark.cleaner.referenceTracking.blocking.shuffle" -> "true"))
    val sessionMs = Clock.nowMs
    // Warm-up: every query once, untimed, its result written for the
    // correctness check. It pays code generation and class loading.
    out("checks") = queries.sorted.map { q =>
      teardown(spark)
      q -> (try {
        SparkEntry.queries(q)(spark, data).write.mode("overwrite")
          .parquet(s"${o("check-dir")}/$q")
        null
      } catch { case NonFatal(e) => message(e) })
    }.toMap
    // A second untimed pass, through the noop sink like the timed ones.
    // The JIT is still compiling the hot paths after one pass: without
    // it the first timed pass runs slower by a share that varies from run
    // to run.
    val bench = new Loop(spark, data)
    queries.sorted.foreach(bench.warm)
    val warmMs = Clock.nowMs
    out("session_start_s") = (sessionMs - launchMs) / 1000
    out("warmup_s") = (warmMs - sessionMs) / 1000

    val rng = new scala.util.Random(o("seed").toLong)
    val budgetMs = o("seconds").toDouble * 1000
    // Three passes at least, so each query's median sample leaves out
    // one slow one.
    val minPasses = 3
    // Whole passes only, so every query has the same number of samples:
    // a pass starts while time is left and always runs to its end.
    val loopStart = Clock.nowMs
    var pass = 0
    while (pass < minPasses || Clock.nowMs - loopStart < budgetMs) {
      val mode = if (trace && pass % 2 == 1) "traced" else "plain"
      rng.shuffle(queries).foreach(q => bench.measure(q, pass, mode))
      pass += 1
    }
    out("loop_s") = (Clock.nowMs - loopStart) / 1000
    out("samples") = bench.samples
    if (trace) {
      bench.spans += Span(Loop.RunSpan, 0L, "run", launchMs, Clock.nowMs)
      bench.spans += Span(bench.nextId(), Loop.RunSpan, "session.start",
        launchMs, sessionMs)
      bench.spans += Span(bench.nextId(), Loop.RunSpan, "session.warmup",
        sessionMs, warmMs)
      out("spans") = bench.spans.map(_.toJson)
    }
    spark.stop()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o("out")),
      Json(out))
  }

  /** Untimed state teardown before every query: the previous query's
    * persisted blocks, cached relations and (by the GC) its shuffle and
    * broadcast state are gone when the timer starts. The old-generation
    * peak is reset after the GC, so it attributes the next query. */
  def teardown(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
    oldGen.foreach(_.resetPeakUsage())
  }

  def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).take(300)

  private object Loop { val RunSpan = 1L }

  private final class Loop(spark: SparkSession, data: String) {
    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val spans = mutable.ArrayBuffer.empty[Span]
    private var lastId = Loop.RunSpan
    def nextId(): Long = { lastId += 1; lastId }
    private val sc = spark.sparkContext
    private val rec = new Recorder

    private def listen(on: Boolean): Unit =
      if (on) {
        sc.addSparkListener(rec)
        spark.listenerManager.register(rec)
        spark.streams.addListener(rec.streams)
      } else {
        sc.removeSparkListener(rec)
        spark.listenerManager.unregister(rec)
        spark.streams.removeListener(rec.streams)
      }

    def warm(q: String): Unit = {
      teardown(spark)
      try SparkEntry.queries(q)(spark, data).write.format("noop")
        .mode("overwrite").save()
      // A failure is already recorded by the check pass.
      catch { case NonFatal(_) => }
    }

    def measure(q: String, pass: Int, mode: String): Unit = {
      val traced = mode == "traced"
      teardown(spark)
      if (traced) {
        Internals.drainListenerBus(sc)
        listen(true)
      }
      val gc0 = gcMs()
      val t0 = Clock.nowMs
      var tb = Double.NaN
      val err =
        try {
          val df = SparkEntry.queries(q)(spark, data)
          tb = Clock.nowMs
          df.write.format("noop").mode("overwrite").save()
          null
        } catch { case NonFatal(e) => message(e) }
      val t1 = Clock.nowMs
      if (tb.isNaN) tb = t1
      val sample = mutable.LinkedHashMap[String, Any](
        "q" -> q, "pass" -> pass, "mode" -> mode,
        "wall_s" -> (t1 - t0) / 1000, "build_s" -> (tb - t0) / 1000,
        "old_gen_peak_mb" -> oldGen.map(_.getPeakUsage.getUsed / MB)
          .getOrElse(0.0),
        "error" -> err)
      if (traced) {
        sample("gc_s") = (gcMs() - gc0) / 1000.0
        // Held at query end, before the next teardown frees them.
        sample("checkpoints") = sc.getPersistentRDDs.size
        sample("checkpoint_mb") =
          sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MB
        Internals.drainListenerBus(sc)
        listen(false)
        sample ++= record(q, pass, rec.take(), t0, tb, t1)
      }
      samples += sample.toMap
    }

    /** Spans run → query → {operators.build, exec.execute} → job → stage,
      * with plans.plan under exec.execute and stream batches (and their
      * jobs) under the phase they ran in; plus the per-query counts of the
      * executed plan and the tasks. */
    private def record(q: String, pass: Int, obs: Observed, t0: Double,
        tb: Double, t1: Double): Map[String, Any] = {
      val queryId = nextId()
      val buildId = nextId()
      val execId = nextId()
      spans += Span(queryId, Loop.RunSpan, "query", t0, t1,
        Map("query" -> q, "pass" -> pass))
      spans += Span(buildId, queryId, "operators.build", t0, tb)
      spans += Span(execId, queryId, "exec.execute", tb, t1)
      def phaseParent(startMs: Double) = if (startMs < tb) buildId else execId

      // The noop write is the query's last action, so its execution is
      // the last one the listener saw.
      val written = obs.executions.lastOption
      val plan = written.map(qe => PlanStats(qe.executedPlan))
        .getOrElse(Map.empty[String, Any])
      val phases = written.map(_.tracker.phases.values.toSeq).getOrElse(Nil)
      if (phases.nonEmpty)
        spans += Span(nextId(), execId, "plans.plan",
          phases.map(_.startTimeMs).min.toDouble,
          phases.map(_.endTimeMs).max.toDouble)

      // A job that starts inside a stream batch belongs to that batch.
      val batchSpans = obs.batches.map { b =>
        val trigger = b.durations.getOrElse("triggerExecution", 0L)
        Span(nextId(), phaseParent(b.startMs.toDouble), "streaming.batch",
          b.startMs.toDouble, (b.startMs + trigger).toDouble,
          Map("stream" -> b.stream, "commit_ms" ->
            (b.durations.getOrElse("walCommit", 0L) +
              b.durations.getOrElse("commitOffsets", 0L)),
            "state_rows" -> b.stateRows))
      }
      spans ++= batchSpans
      val stageParent = mutable.Map.empty[Int, Long]
      obs.jobs.values.foreach { j =>
        val id = nextId()
        val start = j.startMs.toDouble
        j.stageIds.foreach(s => stageParent.getOrElseUpdate(s, id))
        val parent = batchSpans.find(b => b.startMs <= start && start < b.endMs)
          .fold(phaseParent(start))(_.id)
        spans += Span(id, parent, "exec.job", start,
          if (j.endMs < 0) t1 else j.endMs.toDouble)
      }
      obs.stages.values.filter(_.startMs >= 0).foreach { s =>
        spans += Span(nextId(), stageParent.getOrElse(s.id, execId),
          "exec.stage", s.startMs.toDouble,
          if (s.endMs < 0) t1 else s.endMs.toDouble,
          Map("task_ms" -> s.taskMs.toSeq))
      }
      Map(
        "build_jobs" -> obs.jobs.values.count(_.startMs < tb),
        "jobs" -> obs.jobs.size,
        "stages" -> obs.stages.size,
        "plan_s" -> phases.map(_.durationMs).sum / 1000.0,
        "plan" -> plan) ++ obs.counters
    }
  }
}

/** JSON rendering of the result file's Scala maps, sequences and options. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
