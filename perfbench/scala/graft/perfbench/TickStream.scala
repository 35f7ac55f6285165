package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.calc.{AnchorSnapshots, IndicatorPass}
import graft.operators.{CandleAggregator, TickOps}
import graft.streaming.{StreamingAnchoredVwap, StreamingCandles, StreamingIndicators}

/** An open loop over file-source hops of `stream_pipeline_full` (candles →
  * indicators+patterns, candles → trigger anchors), each with a parquet sink
  * and an on-disk checkpoint, all running at once in this session.
  * `tick_stream` runs all three hops; `ticks_to_calcs` runs the candle hop
  * after its batch reps.
  *
  * A generator thread moves pre-written tick files into the source
  * directory on a fixed schedule (an atomic rename, so a file is never seen
  * half-written). Phases:
  *  - set-up: the first [[WarmupFiles]] at once, until every hop has
  *    committed a batch that read data;
  *  - timed: [[RatePerS]] files per second for `seconds`, then the flush
  *    file, whose sentinels close every window and chunk, then the drain; a
  *    file's latency runs from its due time to the commit of the last batch
  *    (any hop) that read it or a file the candle hop derived from it; the
  *    sustained rate is the phase's ticks ÷ its wall (phase start → the last
  *    of those commits);
  *  - check: the output must equal the batch chain over the fed ticks
  *    exactly.
  */
final class TickStream(spark: SparkSession, a: Args, hops: Seq[String]) {
  // 25 files of 8 ticks: 200 ticks/s
  private val RatePerS = 25.0
  private val WarmupFiles = 40
  // Every hop starts a micro-batch every 3 s. With the default trigger (the
  // next batch as soon as the last ends) a batch's file count and its
  // duration fed each other, and runs settled at ~1.1 s or ~1.9 s cycles,
  // which moved p50 latency between 1.8 and 2.6 s from run to run. At 2 s,
  // a batch of 50 files took about the interval, and one that overran it
  // shifted the next off the cadence.
  private val TriggerMs = 3000L
  private val Bar = "\u0000BARRIER"
  require(hops.headOption.contains("candles") && hops.toSet.subsetOf(TickStream.Hops.toSet))

  private val root = Paths.get(a.out, "stream").toAbsolutePath
  private val staging = root.resolve("staging")
  private val inDir = root.resolve("in")
  private def sinkDir(h: String) = root.resolve(s"out_$h")
  private def ckpt(h: String) = root.resolve(s"ckpt_$h")

  private val files = Files.list(Paths.get(a.input, "tick_files")).iterator().asScala.toSeq
    .map(_.getFileName.toString).sorted
  private val rowsOf = Files.readAllLines(Paths.get(a.input, "tick_files.txt")).asScala
    .map(_.split(" ")).map(p => p(0) -> p(1).toLong).toMap
  private val (warm, rest) = files.splitAt(WarmupFiles)
  private val timed = rest.take((a.seconds * RatePerS).toInt)

  private val tickCols = Seq("symbol", "timestamp", "price", "volume", "seq")
  // the batch twin reads the ticks the stream is fed
  private val ticksAll = spark.read.parquet((warm ++ timed).map(f => s"${a.input}/tick_files/$f"): _*)
    .select(tickCols.map(col): _*)
  private val deduped = TickOps.dedupKeepLast(TickOps.validate(ticksAll).valid,
    Seq("symbol", "timestamp"), Seq(col("seq")))
  private val candleSchema = CandleAggregator.aggregate(deduped).schema
  private val trace = if (a.trace) Some(new SparkTrace) else None
  private val streamTrace = new StreamTrace

  def run(sessionS: Double): ListMap[String, Any] = {
    Files.createDirectories(staging)
    Files.createDirectories(inDir)
    files.foreach(f => Files.copy(Paths.get(a.input, "tick_files", f), staging.resolve(f)))
    Files.copy(Paths.get(a.input, "tick_flush.parquet"), staging.resolve("zzflush.parquet"))
    if (a.trace) spark.streams.addListener(streamTrace)

    // ---- set-up
    val w0 = Clock.nowUs()
    warm.foreach(release)
    val queries = hops.map {
      case "candles" => startCandles()
      case "indicators" => startIndicators()
      case "anchors" => startAnchors()
    }
    try measure(queries, sessionS, w0)
    finally queries.foreach(_.stop())
  }

  private def measure(queries: Seq[StreamingQuery], sessionS: Double, w0: Long): ListMap[String, Any] = {
    awaitOrFail("every hop commits a batch with data", 120) {
      hops.forall(h => sourceFiles(h).nonEmpty && commitTimes(h).nonEmpty) &&
        hops.tail.forall(h => sourceFiles(h).values.toSet.forall(commitTimes(h).contains))
    }
    val warmupS = (Clock.nowUs() - w0) / 1e6
    val setupS = (System.currentTimeMillis() - a.launchedMs) / 1000.0

    // ---- timed phase at the reference rate. Once every hop is idle, it
    // starts 100 ms past the next trigger tick (processing-time triggers fire
    // on multiples of the interval since the epoch): the same point of the
    // cadence in every run, rather than wherever set-up happened to end.
    awaitOrFail("every hop is idle", 60)(queries.forall(!_.status.isTriggerActive))
    val phaseStartMs = (System.currentTimeMillis() / TriggerMs + 1) * TriggerMs + 100
    Thread.sleep((phaseStartMs - System.currentTimeMillis()).max(0L))
    val other = new Host.OtherCpu
    val load0 = Host.loadAvg1m()
    val c0 = Host.cpuS()
    val due = timed.zipWithIndex.map { case (f, k) => f -> (phaseStartMs + (k * 1000 / RatePerS).toLong) }
    val released = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    // the flush file follows the last timed file on the same schedule
    val flushDue = phaseStartMs + (timed.size * 1000 / RatePerS).toLong
    val generator = new Thread(() => (due :+ ("zzflush.parquet" -> flushDue)).foreach { case (f, d) =>
      val wait = d - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      release(f)
      released.put(f, System.currentTimeMillis())
    }, "tick-generator")
    val phaseSpan = Clock.nowUs()
    /** Returns the files released but not yet read when the generator ends. */
    def phase(): Int = {
      generator.start()
      generator.join()
      val backlog = timed.count(f => !sourceFiles("candles").contains(f))
      drainFlush(queries)
      backlog
    }
    val backlogEnd = trace.fold(phase())(t => SparkTrace.attached(spark, t)(phase()))
    val phaseEndUs = Clock.nowUs()
    val cpu = Host.cpuS() - c0
    val otherCpu = other()
    val load1 = Host.loadAvg1m()

    val lat = latenciesMs(due.toMap)
    // the last commit that carried a timed file's ticks
    val lastCommitMs = due.flatMap { case (f, d) => lat.get(f).map(d + _.toLong) }.maxOption
      .getOrElse(phaseStartMs)
    val wallS = (lastCommitMs - phaseStartMs) / 1000.0
    val timedRows = timed.map(rowsOf).sum

    // ---- compare against the batch chain
    val c0Check = Clock.nowUs()
    val (onlyBatch, onlyStream, nStream) = if (hops.size == 1) compareCandles() else compare()
    val checkEndUs = Clock.nowUs()
    val unresolved = timed.count(f => !lat.contains(f))
    val fed = warm.size + timed.size

    val e2e = Json.obj(
      "setup_s" -> setupS,
      "wall_s" -> wallS,
      "cpu_s" -> cpu,
      "peak_rss_mb" -> Host.peakRssMb(),
      "latency_p50_ms" -> Main.median(lat.values.toSeq),
      "latency_p95_ms" -> Main.percentile(lat.values.toSeq, 95),
      "sustained_rows_per_s" -> timedRows / wallS)
    val lagMs = due.map { case (f, d) => released.get(f).longValue - d }
    val base = Json.obj(
      "workload" -> a.workload, "rows" -> Seq("stream_pipeline_full"), "hops" -> hops,
      "input_rows" -> files.map(rowsOf).sum,
      "attempted" -> fed, "failed" -> unresolved,
      "errors" -> (if (unresolved > 0) Seq(s"$unresolved timed files never committed") else Nil),
      "files" -> Json.obj("warmup" -> warm.size, "timed" -> timed.size,
        "rate_files_per_s" -> RatePerS,
        "ticks_per_s" -> RatePerS * timedRows / timed.size.max(1)),
      "phases_s" -> Json.obj("warmup" -> warmupS, "timed_and_drain" -> (phaseEndUs - phaseSpan) / 1e6,
        "check" -> (checkEndUs - c0Check) / 1e6),
      "latency_samples" -> lat.size,
      // per candle batch: [id, files read, commit ms after the timed phase start]
      "candle_batches" -> {
        val commits = commitTimes("candles")
        sourceFiles("candles").groupBy(_._2).toSeq.sortBy(_._1).map { case (b, fs) =>
          Seq(b, fs.size.toLong, commits.get(b).map(_ - phaseStartMs).getOrElse(-1L))
        }
      },
      "stream_check" -> Json.obj("only_batch" -> onlyBatch, "only_stream" -> onlyStream,
        "stream_rows" -> nStream, "ok" -> (onlyBatch == 0 && onlyStream == 0 && nStream > 0)),
      "load_1m_before" -> load0, "load_1m_after" -> load1, "other_cpu_frac" -> otherCpu,
      "end_to_end" -> e2e)
    if (!a.trace) base
    else {
      val spans = new Spans(a.workload)
      val rep = spans.add(-1, "timed phase", phaseSpan, phaseEndUs)
      // the micro-batches that ended inside the timed phase
      def inPhase(h: String) = streamTrace.of(h)
        .filter(b => b.endMs * 1000 > phaseSpan && b.endMs * 1000 <= phaseEndUs)
      hops.foreach(h => inPhase(h).foreach(b =>
        spans.add(rep, s"batch $h ${b.batchId}", (b.endMs - b.durations.getOrElse("triggerExecution", 0L)) * 1000,
          b.endMs * 1000)))
      val layer = Layers.of(spark, spans, rep, trace.get)
      val perHop = hops.flatMap { h =>
        val bs = inPhase(h).filter(_.numInputRows > 0)
        def p50(k: String) = Main.median(bs.map(_.durations.getOrElse(k, 0L).toDouble))
        Seq(s"streaming.$h.batches" -> bs.size.toDouble,
          s"streaming.$h.batch_ms_p50" -> p50("triggerExecution"),
          s"streaming.$h.planning_ms_p50" -> p50("queryPlanning"),
          s"streaming.$h.add_batch_ms_p50" -> p50("addBatch"),
          s"streaming.$h.commit_ms_p50" -> Main.median(bs.map(b =>
            (b.durations.getOrElse("walCommit", 0L) + b.durations.getOrElse("commitOffsets", 0L)).toDouble)),
          s"streaming.$h.state_rows_max" -> (0L +: bs.map(_.stateRows)).max.toDouble,
          s"streaming.$h.state_bytes_max" -> (0L +: bs.map(_.stateBytes)).max.toDouble)
      }
      val spansFile = Paths.get(a.out, "stream_spans.json")
      Files.writeString(spansFile, spans.toJson)
      base ++ Json.obj(
        "per_layer" -> (layer ++ perHop ++ Map(
          "core.session_s" -> sessionS, "core.warmup_s" -> warmupS,
          "jvm.live_heap_mb" -> Host.LiveHeap.maxMb,
          "streaming.backlog_files_end" -> backlogEnd.toDouble,
          "streaming.generator_lag_ms_max" -> (0L +: lagMs).max.toDouble)),
        "trace_file" -> spansFile.toString)
    }
  }

  private def release(name: String): Unit =
    Files.move(staging.resolve(name), inDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)

  private def startCandles(): StreamingQuery =
    StreamingCandles.dedupedCandles1s(
        spark.readStream.schema(ticksAll.schema).parquet(inDir.toString).filter(TickOps.tickValidity))
      .writeStream.queryName("candles").format("parquet").option("path", sinkDir("candles").toString)
      .option("checkpointLocation", ckpt("candles").toString).outputMode("append")
      .trigger(Trigger.ProcessingTime(TriggerMs)).start()

  private def candleSource: DataFrame =
    spark.readStream.schema(candleSchema).parquet(sinkDir("candles").toString)

  private def startIndicators(): StreamingQuery =
    StreamingIndicators.indicatorStream(
        candleSource.select("symbol", "timestamp", "open", "high", "low", "close"), patterns = true)
      .writeStream.queryName("indicators").format("parquet").option("path", sinkDir("indicators").toString)
      .option("checkpointLocation", ckpt("indicators").toString).outputMode("append")
      .trigger(Trigger.ProcessingTime(TriggerMs)).start()

  private def startAnchors(): StreamingQuery =
    StreamingAnchoredVwap.anchoredVwapStream(candleSource.select("symbol", "timestamp", "close", "volume"))
      .writeStream.queryName("anchors").format("parquet").option("path", sinkDir("anchors").toString)
      .option("checkpointLocation", ckpt("anchors").toString).outputMode("append")
      .trigger(Trigger.ProcessingTime(TriggerMs)).start()

  /** Until the candle hop has committed the batch that read the flush file
    * and the no-data batch after it, which emits the windows the flush
    * closed, and then until the downstream hops have read every file it
    * wrote. (`processAllAvailable` on the candle hop would also wait for a
    * further, empty trigger.)
    */
  private def drainFlush(queries: Seq[StreamingQuery]): Unit = {
    awaitOrFail("the candle hop commits the flush", 60) {
      sourceFiles("candles").get("zzflush.parquet").exists(b => commitTimes("candles").keys.exists(_ > b))
    }
    queries.tail.foreach(_.processAllAvailable())
  }

  private def awaitOrFail(what: String, seconds: Int)(cond: => Boolean): Unit = {
    val t0 = System.nanoTime()
    while (!cond) {
      if ((System.nanoTime() - t0) / 1e9 > seconds) sys.error(s"tick_stream: timed out waiting until $what")
      Thread.sleep(20)
    }
  }

  // ---- the checkpoint and sink logs: which batch read, and wrote, which file

  private def logEntries(dir: Path): Seq[(Long, Seq[String])] =
    if (!Files.isDirectory(dir)) Nil
    else Files.list(dir).iterator().asScala.toSeq
      .map(_.getFileName.toString).filter(n => n.matches("\\d+(\\.compact)?"))
      .map { n =>
        val lines = Files.readAllLines(dir.resolve(n)).asScala.toSeq.drop(1)
        n.takeWhile(_ != '.').toLong -> lines
      }.sortBy(_._1)

  private val PathRe = "\"path\":\"([^\"]+)\"".r
  private val BatchRe = "\"batchId\":(\\d+)".r
  private val LogOffsetRe = "\"logOffset\":(\\d+)".r
  private def baseName(uri: String) = uri.substring(uri.lastIndexOf('/') + 1)

  /** File name → id of the micro-batch of hop `h` that read it. The file
    * source numbers its log entries itself: micro-batch N read the entries
    * up to the `logOffset` its offset log entry records, and the no-data
    * batches a moving watermark runs take ids without adding entries.
    */
  private def sourceFiles(h: String): Map[String, Long] = {
    val upTo = logEntries(ckpt(h).resolve("offsets")).flatMap { case (b, lines) =>
      lines.lastOption.flatMap(LogOffsetRe.findFirstMatchIn).map(m => m.group(1).toLong -> b)
    }
    logEntries(ckpt(h).resolve("sources").resolve("0")).flatMap(_._2).flatMap { l =>
      for {
        p <- PathRe.findFirstMatchIn(l)
        k <- BatchRe.findFirstMatchIn(l).map(_.group(1).toLong)
        b <- upTo.filter(_._1 >= k).map(_._2).minOption
      } yield baseName(p.group(1)) -> b
    }.toMap
  }

  /** Batch id → its commit time (epoch ms) for hop `h`. */
  private def commitTimes(h: String): Map[Long, Long] = {
    val dir = ckpt(h).resolve("commits")
    if (!Files.isDirectory(dir)) Map.empty
    else Files.list(dir).iterator().asScala.toSeq.map(_.getFileName.toString)
      .filter(_.matches("\\d+")).map(n => n.toLong -> Files.getLastModifiedTime(dir.resolve(n)).toMillis).toMap
  }

  /** Batch id → the files the candle hop's sink committed in that batch (a
    * compacted log entry lists everything up to it, hence the differences).
    */
  private def candleOutputs(): Map[Long, Set[String]] = {
    var seen = Set.empty[String]
    logEntries(sinkDir("candles").resolve("_spark_metadata")).map { case (b, lines) =>
      val all = lines.flatMap(l => PathRe.findFirstMatchIn(l).map(m => baseName(m.group(1)))).toSet
      val fresh = all -- seen
      seen ++= all
      b -> fresh
    }.toMap
  }

  private def latenciesMs(due: Map[String, Long]): Map[String, Double] = {
    val read = hops.map(h => h -> sourceFiles(h)).toMap
    val commits = hops.map(h => h -> commitTimes(h)).toMap
    val outputs = candleOutputs()
    due.flatMap { case (f, d) =>
      for {
        b1 <- read("candles").get(f)
        c1 <- commits("candles").get(b1)
        downstream = outputs.getOrElse(b1, Set.empty).toSeq.flatMap(o => hops.tail.map(h =>
          read(h).get(o).flatMap(commits(h).get)))
        if downstream.forall(_.isDefined)
      } yield f -> (((c1 +: downstream.flatten).max - d).toDouble)
    }
  }

  private def maxUs: Long = ticksAll.agg(max(unix_micros(col("timestamp")))).head().getLong(0)

  /** The candle hop's sink equals the batch candles exactly, both ways. */
  private def compareCandles(): (Long, Long, Long) = {
    val last = maxUs
    val batch = CandleAggregator.aggregate(deduped)
    val stream = spark.read.parquet(sinkDir("candles").toString)
      .filter(col("symbol") =!= Bar && unix_micros(col("timestamp")) <= last)
    TickStream.diff(batch, stream.select(batch.columns.map(c => col(s"`$c`")).toSeq: _*))
  }

  /** `stream_pipeline_full`'s check: the composed per-candle rows of the
    * stream equal the batch chain's exactly, both ways.
    */
  private def compare(): (Long, Long, Long) = {
    val maxUs = this.maxUs
    val batchCandles = CandleAggregator.aggregate(deduped).cache()
    val hCols = IndicatorPass.indicatorFields.map(f => col(f.name)) :+ col("candle_pattern_sum")
    val batchH = IndicatorPass.withIndicators(
        batchCandles.select("symbol", "timestamp", "open", "high", "low", "close"), patterns = true)
      .select(col("symbol") +: col("timestamp") +: hCols: _*)
    val trigTypes = AnchorSnapshots.Triggers.map(_._1)
    val batchAnchors = AnchorSnapshots.snapshots(batchCandles)
      .filter(col("anchor_type").isin(trigTypes: _*))
    def composed(h: DataFrame, anchors: DataFrame): DataFrame = {
      val counts = anchors.groupBy(col("symbol"), col("anchor_timestamp").as("timestamp"))
        .agg(count(lit(1)).as("n_anchors"))
      h.join(counts, Seq("symbol", "timestamp"), "left")
        .withColumn("n_anchors", coalesce(col("n_anchors"), lit(0L)))
    }
    val batch = composed(batchH, batchAnchors)
    val stream = composed(
      spark.read.parquet(sinkDir("indicators").toString)
        .filter(col("symbol") =!= Bar && unix_micros(col("timestamp")) <= maxUs)
        .select(col("symbol") +: col("timestamp") +: hCols: _*),
      spark.read.parquet(sinkDir("anchors").toString).filter(col("symbol") =!= Bar))
    val cols = batch.columns.sorted.map(c => col(s"`$c`")).toSeq
    val res = TickStream.diff(batch.select(cols: _*), stream.select(cols: _*))
    batchCandles.unpersist()
    res
  }
}

object TickStream {
  val Hops = Seq("candles", "indicators", "anchors")

  /** (rows only in `b`, rows only in `s`, rows of `s`). Equal row counts and
    * equal order-independent digests of every column mean equal outputs;
    * only when they differ do the two set differences run, to count the
    * mismatch.
    */
  def diff(b: DataFrame, s: DataFrame): (Long, Long, Long) = {
    def summary(df: DataFrame) = {
      val h = xxhash64(df.columns.map(c => col(s"`$c`")).toSeq: _*)
      val r = df.select(h.as("h")).agg(count(lit(1)), bit_xor(col("h"))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val (sb, ss) = (summary(b), summary(s))
    if (sb == ss) (0L, 0L, ss._1)
    else (b.exceptAll(s).count(), s.exceptAll(b).count(), ss._1)
  }
}
