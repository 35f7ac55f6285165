package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GraftSession
import graft.queries.Registry

final case class Args(workload: String, input: String, out: String, seconds: Double,
                      trace: Boolean, launchedMs: Long)

/** JVM side of the benchmark: runs one workload on the generated inputs and
  * writes `result.json` into the output directory for `perfbench/run.py`.
  *
  * Usage: graft.perfbench.Main <workload> <inputDir> <outDir> <seconds> <trace 0|1> <launchedEpochMs>
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1), argv(2), argv(3).toDouble, argv(4) == "1", argv(5).toLong)
    Host.LiveHeap.install()
    val t0 = Clock.nowUs()
    val spark = GraftSession.get()
    val sessionS = (Clock.nowUs() - t0) / 1e6
    try {
      val result = a.workload match {
        case "ticks_to_calcs" =>
          val batch = new BatchWorkload(spark, a, Seq("pipeline_full"), Seq("events"), nominalRepS = 8)
            .run(sessionS)
          withStream(batch, new TickStream(spark, a, Seq("candles")).run(sessionS))
        case "corpus_dedup" =>
          new BatchWorkload(spark, a, Seq("llm_minhash_dedup", "llm_suffix_array", "llm_dbscan_lsh"),
            Seq("documents", "embeddings"), nominalRepS = 12).run(sessionS)
        case "tick_stream" => new TickStream(spark, a, TickStream.Hops).run(sessionS)
        case w => sys.error(s"unknown workload $w")
      }
      Files.writeString(Paths.get(a.out, "result.json"), Json(result ++ Host.record(spark)))
    } finally spark.stop()
  }

  /** `ticks_to_calcs`: the batch reps, then the candle hop fed as an open
    * loop. Set-up, wall and CPU stay the batch rep's; the latencies and the
    * sustained rate are the stream's; a failed file counts like a failed rep.
    */
  private def withStream(batch: ListMap[String, Any], stream: ListMap[String, Any]): ListMap[String, Any] = {
    def m(r: ListMap[String, Any], k: String) = r(k).asInstanceOf[scala.collection.Map[String, Any]]
    def n(r: ListMap[String, Any], k: String) = r(k).asInstanceOf[Int]
    val streamE2e = m(stream, "end_to_end")
    val e2e = m(batch, "end_to_end") ++
      Seq("latency_p50_ms", "latency_p95_ms", "sustained_rows_per_s").map(k => k -> streamE2e(k)) +
      ("peak_rss_mb" -> Host.peakRssMb())
    val layer = stream.get("per_layer").map { l =>
      m(batch, "per_layer") ++ m(stream, "per_layer").filter(_._1.startsWith("streaming.")) +
        ("streaming.warmup_s" -> m(stream, "per_layer")("core.warmup_s"))
    }
    batch ++ Json.obj(
      "attempted" -> (n(batch, "attempted") + n(stream, "attempted")),
      "failed" -> (n(batch, "failed") + n(stream, "failed")),
      "stream" -> (stream -- Seq("end_to_end", "per_layer", "trace_file")),
      "stream_check" -> stream("stream_check"),
      "end_to_end" -> e2e) ++
      layer.map(l => Json.obj("per_layer" -> l, "stream_trace_file" -> stream("trace_file"))).getOrElse(ListMap.empty)
  }

  /** An order-independent 64-bit digest of every column of every row. The
    * aggregate forces the whole result to be computed (a bare count() would
    * let Catalyst prune unused columns), and it doubles as the rep's output
    * fingerprint.
    */
  def digest(df: DataFrame): Long = {
    // bit_xor, not sum: a long sum of hashes overflows under ANSI mode
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toSeq: _*)
    val r = df.select(h.as("h")).agg(bit_xor(col("h"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else xs.sorted.apply(((p / 100.0 * xs.size).ceil.toInt - 1).max(0).min(xs.size - 1))
}

/** Process and machine facts every run record carries. */
object Host {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuS(): Double = os.getProcessCpuTime / 1e9

  def loadAvg1m(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** VmHWM: the peak resident set of this process. */
  def peakRssMb(): Double =
    try Files.readString(Paths.get("/proc/self/status")).linesIterator
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    catch { case _: Exception => -1.0 }

  /** Machine CPU ticks (total, idle + iowait) from /proc/stat and this
    * process's own ticks (utime + stime) from /proc/self/stat.
    */
  private def ticks(): Option[(Long, Long, Long)] =
    try {
      val f = Files.readString(Paths.get("/proc/stat")).linesIterator.next()
        .split("\\s+").drop(1).map(_.toLong)
      // comm may contain spaces: split after its closing paren
      val s = Files.readString(Paths.get("/proc/self/stat"))
      val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
      Some((f.sum, f(3) + f(4), rest(11).toLong + rest(12).toLong))
    } catch { case _: Exception => None }

  /** Share of the whole machine's CPU that other processes used between
    * construction and `apply()`; -1 when /proc is unreadable.
    */
  final class OtherCpu {
    private val t0 = ticks()
    def apply(): Double = (t0, ticks()) match {
      case (Some((tot0, idle0, self0)), Some((tot1, idle1, self1))) =>
        val total = (tot1 - tot0).max(1L)
        val busy = total - (idle1 - idle0)
        ((busy - (self1 - self0)).max(0L).toDouble / total).min(1.0)
      case _ => -1.0
    }
  }

  def record(spark: SparkSession): ListMap[String, Any] = {
    val conf = spark.conf
    Json.obj(
      "cores" -> spark.sparkContext.defaultParallelism,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_conf" -> Json.obj(
        "master" -> spark.sparkContext.master,
        "spark.sql.shuffle.partitions" -> conf.get("spark.sql.shuffle.partitions"),
        "spark.sql.adaptive.enabled" -> conf.get("spark.sql.adaptive.enabled"),
        "SPARK_GRAFT_EXTRA_CONF_set" -> sys.env.contains("SPARK_GRAFT_EXTRA_CONF")),
      "peak_rss_mb" -> peakRssMb(),
      "live_heap_mb" -> LiveHeap.maxMb)
  }

  /** The largest heap occupancy a collection left behind over the run. With
    * the parallel collector, whose old generation no run fills, that is
    * what the run has promoted, live or not; `peakRssMb` adds the young
    * generation and the JVM's memory outside the heap.
    */
  object LiveHeap {
    import java.lang.management.ManagementFactory
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    import com.sun.management.GarbageCollectionNotificationInfo
    import scala.jdk.CollectionConverters._

    private val maxBytes = new java.util.concurrent.atomic.AtomicLong()
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, hb: AnyRef): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
              .getGcInfo.getMemoryUsageAfterGc.asScala
            val used = after.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            maxBytes.accumulateAndGet(used, (x: Long, y: Long) => x.max(y))
          }
      }, null, null)
      case _ =>
    }

    def maxMb: Double = maxBytes.get / (1024.0 * 1024.0)
  }
}

/** One timed repetition of a batch workload. */
final case class Rep(index: Int, traced: Boolean, wallS: Double, cpuS: Double,
                     digests: Map[String, Long], rowS: Map[String, Double], jobs: Int,
                     error: Option[String], layer: Map[String, Double] = Map.empty)

/** A closed loop with one client: each rep runs the workload's registry rows
  * in sequence, each fully materialized, with the cache cleared first.
  *
  * The rep count is `seconds` ÷ `nominalRepS`, rounded up, so it is the
  * same in every run: with a time-based stop the count flipped between runs
  * and the median jumped with it. Both workloads take one rep at the
  * BENCHMARK.json run length: the time budget allows no more, and a second
  * rep in the same JVM agreed with the first within a few percent while
  * whole runs differed by ~15%.
  *
  * Set-up is the session, then one untimed warm-up rep that writes every
  * row's output; that output is what the oracle check verifies, and every
  * timed rep's digest must equal the digest of it. With `trace`, reps
  * alternate untraced / traced (listeners attached, spans recorded) and the
  * stage-isolated probes run after them.
  */
final class BatchWorkload(spark: SparkSession, a: Args, rowNames: Seq[String], inputs: Seq[String],
                          nominalRepS: Double) {
  private val rows = rowNames.map(n => Registry.all.find(_.name == n)
    .getOrElse(sys.error(s"registry row $n not found")))
  private val spans = new Spans(a.workload)
  private val sc = spark.sparkContext

  def run(sessionS: Double): ListMap[String, Any] = {
    val w0 = Clock.nowUs()
    rows.foreach(q => q.run(spark, a.input).write.mode("overwrite").parquet(s"${a.out}/${q.name}"))
    val warmupS = (Clock.nowUs() - w0) / 1e6
    val firstRepMs = System.currentTimeMillis()
    Files.writeString(Paths.get(a.out, "oracle_sql.json"),
      Json(rows.map(q => q.name -> q.oracle.getOrElse(sys.error(s"${q.name} has no oracle"))).toMap))

    val other = new Host.OtherCpu
    val load0 = Host.loadAvg1m()
    // traced runs alternate untraced / traced reps in ABBA order, so JIT
    // warming over the run does not favour one side
    val nReps = math.ceil(a.seconds / nominalRepS).toInt.max(if (a.trace) 4 else 1)
    val reps = (0 until nReps).map(i => rep(i, traced = a.trace && (i % 4 == 1 || i % 4 == 2)))
    val otherCpu = other()
    val load1 = Host.loadAvg1m()

    // outside the timed reps: the verified output's digest, per row
    val verified = rows.map(q => q.name -> Main.digest(spark.read.parquet(s"${a.out}/${q.name}"))).toMap
    val checked = reps.map { r =>
      if (r.error.isEmpty && r.digests != verified)
        r.copy(error = Some(s"output digest ${r.digests} differs from the verified output $verified"))
      else r
    }
    val ok = checked.filter(_.error.isEmpty)
    val inputRows = inputs.map(t => spark.read.parquet(s"${a.input}/$t.parquet").count()).sum
    val plain = ok.filter(!_.traced).toSeq
    val wallS = Main.median(plain.map(_.wallS))
    // a client's request is one rep: every row of the workload, run and
    // materialized (per row, the middle of three rows swapped between runs)
    val repMs = plain.map(_.wallS * 1000)
    val e2e = Json.obj(
      "setup_s" -> (firstRepMs - a.launchedMs) / 1000.0,
      "wall_s" -> wallS,
      "cpu_s" -> Main.median(plain.map(_.cpuS)),
      "peak_rss_mb" -> Host.peakRssMb(),
      "latency_p50_ms" -> Main.median(repMs),
      "latency_p95_ms" -> Main.percentile(repMs, 95),
      "sustained_rows_per_s" -> inputRows / wallS)
    val base = Json.obj(
      "workload" -> a.workload, "rows" -> rowNames, "input_rows" -> inputRows,
      "attempted" -> checked.size, "failed" -> checked.count(_.error.nonEmpty),
      "errors" -> checked.flatMap(_.error).distinct.take(5),
      "reps" -> checked.map(r => Json.obj("index" -> r.index, "traced" -> r.traced,
        "wall_s" -> r.wallS, "cpu_s" -> r.cpuS, "row_s" -> r.rowS, "jobs" -> r.jobs,
        "ok" -> r.error.isEmpty)),
      "load_1m_before" -> load0, "load_1m_after" -> load1, "other_cpu_frac" -> otherCpu,
      "end_to_end" -> e2e)
    if (!a.trace) base
    else base ++ traceSummary(checked.toSeq, sessionS, warmupS)
  }

  private def rep(i: Int, traced: Boolean): Rep = {
    val group = s"rep-$i"
    sc.setJobGroup(group, group)
    spark.catalog.clearCache()
    val trace = new SparkTrace
    val repSpan = spans.all.size
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val c0 = Host.cpuS()
    val t0 = System.nanoTime()
    val (digests, rowS, error) =
      try {
        val d = if (traced) SparkTrace.attached(spark, trace)(spans.span(s"rep $i")(body(traced)))
                else body(traced)
        (d.map { case (q, (h, _)) => q -> h }, d.map { case (q, (_, s)) => q -> s }, None)
      } catch {
        case e: Exception => (Map.empty[String, Long], Map.empty[String, Double], Some(e.toString.take(300)))
      }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Host.cpuS() - c0
    sc.clearJobGroup()
    val jobs = sc.statusTracker.getJobIdsForGroup(group).length
    val layer =
      if (!traced || error.nonEmpty) Map.empty[String, Double]
      else Layers.of(spark, spans, repSpan, trace) ++ Map(
        "spark.codegen_compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble,
        "spark.non_task_cpu_s" -> (cpu - trace.tasks.map(_.cpuNs).sum / 1e9))
    Rep(i, traced, wall, cpu, digests, rowS, jobs, error, layer)
  }

  /** The rows in sequence: each row's output digest and wall seconds.
    * Traced, each row's `Q.run` (DataFrame build and the eager jobs it
    * triggers) and its final action get their own spans.
    */
  private def body(traced: Boolean): Map[String, (Long, Double)] = {
    def timed[T](name: String)(f: => T): T = if (traced) spans.span(name)(f) else f
    rows.map { q =>
      val t0 = System.nanoTime()
      val df = timed(s"build ${q.name}")(q.run(spark, a.input))
      val h = timed(s"action ${q.name}")(Main.digest(df))
      q.name -> (h, (System.nanoTime() - t0) / 1e9)
    }.toMap
  }

  private def traceSummary(reps: Seq[Rep], sessionS: Double, warmupS: Double): ListMap[String, Any] = {
    val traced = reps.filter(r => r.traced && r.error.isEmpty)
    val plain = reps.filter(r => !r.traced && r.error.isEmpty)
    val layerNames = traced.flatMap(_.layer.keys).distinct
    val layer = layerNames.map(n => n -> Main.median(traced.flatMap(_.layer.get(n)))).toMap
    val overhead = Main.median(traced.map(_.wallS)) / Main.median(plain.map(_.wallS)) - 1
    val probes = Probes.run(spark, a)
    val checks = Json.obj(
      // the listeners add no Spark job: jobs per rep equal with tracing on
      // and off, up to the rep-to-rep variation of the iterative rows
      // (one extra job per execution would exceed it)
      "jobs_equal_traced_untraced" -> {
        val (on, off) = (Main.median(traced.map(_.jobs.toDouble)), Main.median(plain.map(_.jobs.toDouble)))
        (on - off).abs <= Layers.JobsTolerance * off
      },
      "listener_sees_every_job" -> traced.forall(r => r.layer.get("spark.jobs").contains(r.jobs.toDouble)),
      "unattributed_within_tolerance" ->
        traced.forall(_.layer.getOrElse("trace.unattributed_frac", 1.0) <= Layers.Tolerance),
      // the executions the listener reported fill the build and action spans
      "executions_attributed" ->
        traced.forall(_.layer.getOrElse("trace.driver_only_frac", 1.0) <= Layers.DriverOnlyTolerance))
    val spansFile = Paths.get(a.out, "trace_spans.json")
    Files.writeString(spansFile, spans.toJson)
    Json.obj("per_layer" -> (layer ++ probes.metrics ++ Map(
      "core.session_s" -> sessionS, "core.warmup_s" -> warmupS,
      "jvm.live_heap_mb" -> Host.LiveHeap.maxMb,
      "trace.overhead_frac" -> overhead)),
      "probe_invariants" -> probes.invariants,
      "trace_checks" -> checks, "trace_file" -> spansFile.toString)
  }
}

/** Per-layer numbers of one traced rep, read off its span tree and the
  * listener records.
  */
object Layers {
  /** Largest share of a traced rep's wall its top-level spans may leave
    * uncovered before the trace is reported invalid.
    */
  val Tolerance = 0.05

  /** Largest share of a traced rep that its build and action spans may
    * spend with no Spark execution under them: about 0.10-0.14 in
    * both batch workloads on 4 cores (analysis and the gaps between
    * executions); a listener that misses executions drives it towards 1.
    */
  val DriverOnlyTolerance = 0.5

  /** Share by which a traced rep's job count may differ from an untraced
    * one's: `corpus_dedup`'s connected-components and AQE decisions vary it
    * by a job or two per rep.
    */
  val JobsTolerance = 0.02

  def of(spark: SparkSession, spans: Spans, repSpan: Int, t: SparkTrace): Map[String, Double] =
    t.synchronized {
      val rep = spans.all(repSpan)
      // executions under the benchmark span that was open at their midpoint,
      // stages under their execution
      val execSpan = t.execs.values.filter(_.endMs > 0).map { e =>
        val (s, en) = (e.startMs * 1000, e.endMs * 1000)
        e.id -> spans.add(spans.innermost(repSpan, (s + en) / 2), s"exec ${e.id}", s, en)
      }.toMap
      t.stages.filter(_.startMs > 0).foreach { st =>
        val (s, en) = (st.startMs * 1000, st.endMs * 1000)
        val parent = t.execOfStage(st.id).flatMap(execSpan.get)
          .getOrElse(spans.innermost(repSpan, (s + en) / 2))
        spans.add(parent, s"stage ${st.id}", s, en)
      }
      val top = spans.children(repSpan)
      def sumS(prefix: String) = top.filter(_.name.startsWith(prefix)).map(_.durUs).sum / 1e6
      def phase(p: String) = t.qes.values.map(_.phasesMs.getOrElse(p, 0L)).sum / 1000.0
      val wallS = rep.durUs / 1e6
      val runS = t.tasks.map(_.runMs).sum / 1000.0
      val slowest = t.stages.filter(_.endMs > 0).sortBy(s => s.startMs - s.endMs).headOption
      val skew = slowest.map { st =>
        val ms = t.tasks.filter(_.stage == st.id).map(_.runMs.toDouble).toSeq
        if (ms.isEmpty || Main.median(ms) <= 0) 1.0 else ms.max / Main.median(ms)
      }.getOrElse(1.0)
      Map(
        "queries.build_s" -> sumS("build "),
        "queries.action_s" -> sumS("action "),
        "spark.executions" -> t.execs.size.toDouble,
        "spark.jobs" -> t.jobs.toDouble,
        "spark.tasks" -> t.tasks.size.toDouble,
        "catalyst.analysis_s" -> phase("analysis"),
        "catalyst.optimization_s" -> phase("optimization"),
        "catalyst.planning_s" -> phase("planning"),
        "shuffle.exchanges" -> t.qes.values.map(_.exchanges).sum.toDouble,
        "shuffle.write_bytes" -> t.tasks.map(_.writeBytes).sum.toDouble,
        "shuffle.write_records" -> t.tasks.map(_.writeRecords).sum.toDouble,
        "shuffle.fetch_wait_s" -> t.tasks.map(_.fetchWaitMs).sum / 1000.0,
        "spark.task_run_s" -> runS,
        "spark.gc_s" -> t.tasks.map(_.gcMs).sum / 1000.0,
        "spill.bytes" -> t.tasks.map(_.spillBytes).sum.toDouble,
        "spark.idle_frac" -> (1 - runS / (wallS * spark.sparkContext.defaultParallelism)),
        "stage.task_skew" -> skew,
        "trace.unattributed_frac" -> spans.selfUs(rep) / rep.durUs.toDouble,
        // inside the benchmark's spans but under no Spark execution: driver
        // work (analysis, planning, the build of `Q.run`) and the gaps
        // between executions; a listener that lost executions drives it to 1
        "trace.driver_only_frac" -> top.map(spans.selfUs).sum / rep.durUs.toDouble)
    }
}
