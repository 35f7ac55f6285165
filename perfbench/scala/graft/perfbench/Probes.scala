package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.calc.{AnchorSnapshots, IndicatorPass}
import graft.core.Tables
import graft.functions.{Dbscan, MinHash, Similarity}
import graft.operators.{CandleAggregator, ConnectedComponents, SuffixArray, TickOps}
import graft.queries.QueriesLlm

/** Stage-isolated probes of the traced run: each layer's public function is
  * called on its predecessor's output, staged to parquet beforehand, so a
  * layer's own cost shows even where the fused registry plan blends layers.
  * Each probe is the median of [[Reps]] digests; staging is untimed.
  */
object Probes {
  private val Reps = 3

  /** Timings and counts, plus row counts the input fixes: those are checks
    * of the probe chain, reported in the run record, not metrics.
    */
  final case class Result(metrics: Map[String, Double], invariants: Map[String, Long])

  def run(spark: SparkSession, a: Args): Result = a.workload match {
    case "ticks_to_calcs" => ticks(spark, a.input, s"${a.out}/probe")
    case "corpus_dedup" => corpus(spark, a.input, s"${a.out}/probe")
    case _ => Result(Map.empty, Map.empty)
  }

  private def time(spark: SparkSession)(f: => DataFrame): Double =
    Main.median((1 to Reps).map { _ =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      Main.digest(f)
      (System.nanoTime() - t0) / 1e9
    })

  private def stage(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  private def ticks(spark: SparkSession, input: String, dir: String): Result = {
    val ticks = stage(Tables.ticks(spark, input), s"$dir/ticks")
    val validateS = time(spark)(TickOps.validate(ticks).valid)
    val valid = stage(TickOps.validate(ticks).valid, s"$dir/valid")
    def dedup = TickOps.dedupKeepLast(valid, Seq("symbol", "timestamp"), Seq(col("seq")))
    val dedupS = time(spark)(dedup)
    val deduped = stage(dedup, s"$dir/deduped")
    val candlesS = time(spark)(CandleAggregator.aggregate(deduped))
    val candles = stage(CandleAggregator.aggregate(deduped), s"$dir/candles")
    Result(Map(
      "operators.validate_s" -> validateS,
      "operators.dedup_keep_last_s" -> dedupS,
      "operators.candles_s" -> candlesS,
      "calc.indicators_s" -> time(spark)(IndicatorPass.withIndicators(candles, patterns = true)),
      "calc.anchors_s" -> time(spark)(AnchorSnapshots.anchoredVwapPoints(candles))),
      Map("candle_rows" -> candles.count(),
        "anchor_rows" -> AnchorSnapshots.anchoredVwapPoints(candles).count()))
  }

  private def corpus(spark: SparkSession, input: String, dir: String): Result = {
    val docs = Tables.documents(spark, input)
    val pairsS = time(spark)(MinHash.candidatePairs(docs))
    val pairs = stage(MinHash.candidatePairs(docs), s"$dir/pairs")
    val candidates = pairs.count()
    val jaccardS = time(spark)(MinHash.withExactJaccard(pairs, docs))
    val trueDups = MinHash.withExactJaccard(pairs, docs).filter(col("jaccard") >= 0.8).count()
    // the llm_dbscan_lsh inputs: its injected vector base and auto geometry
    val base = stage(QueriesLlm.dbscanBase(spark, input), s"$dir/dbscan_base")
    val (bits, tables) = QueriesLlm.dbscanLshGeometry(base.count())
    def eps = Similarity.nearDupPairsLsh(base, threshold = 0.9, bits = bits, tables = tables)
    val vectorS = time(spark)(eps)
    val epsPairs = stage(eps, s"$dir/eps_pairs")
    val dbscanS = time(spark)(Dbscan.cluster(epsPairs, minPts = 6))
    val ccRounds = ConnectedComponents.lastRounds
    val saS = time(spark)(SuffixArray.build(docs.filter(col("source").isin("src0", "src1", "src2"))))
    Result(Map(
      "functions.minhash_pairs_s" -> pairsS,
      "functions.candidate_pairs" -> candidates.toDouble,
      "functions.jaccard_verify_s" -> jaccardS,
      "functions.true_dup_pairs" -> trueDups.toDouble,
      "functions.lsh_yield" -> (if (candidates == 0) 0.0 else trueDups.toDouble / candidates),
      "functions.vector_pairs_s" -> vectorS,
      "functions.eps_pairs" -> epsPairs.count().toDouble,
      "functions.dbscan_s" -> dbscanS,
      "operators.cc_rounds" -> ccRounds.toDouble,
      "operators.suffix_array_s" -> saS), Map.empty)
  }
}
