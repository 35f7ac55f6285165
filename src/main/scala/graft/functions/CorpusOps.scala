package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-corpus curation operators a large-scale data pipeline needs
  * beyond dedup/similarity: benchmark decontamination, repetition-quality
  * filtering (Gopher-style), deterministic stratified sampling, and
  * training-example packing planning. All are column-expression / single-
  * shuffle compositions — no driver materialization, no all-pairs work —
  * and every metric that feeds a filter decision or an oracle hash is
  * integer arithmetic, so results are bit-stable across engines and
  * partitionings.
  *
  * Reference scope note: the reference pipeline (SURVEY §2) has no corpus
  * operators; these extend the engine per the BASELINE north_star the same
  * way the dedup/ANN family does.
  */
object CorpusOps {

  /** Distinct word n-grams of the benchmark ("eval") documents — the
    * contamination dictionary. Shares [[MinHash.shingles]] so the gram
    * definition (normalized text, whole-text gram when ≤ n tokens) is the
    * single one the dedup family already oracle-proved.
    */
  def evalNgrams(evalDocs: DataFrame, n: Int, textCol: String = "text"): DataFrame =
    evalDocs
      .select(explode(array_distinct(MinHash.shingles(col(textCol), n))).as("gram"))
      .distinct()

  /** Benchmark decontamination: flag every corpus document sharing at least
    * one word n-gram with the eval set (the GPT-3/PaLM-style n-gram-overlap
    * rule). The eval dictionary is broadcast — benchmark suites are a few
    * MB of grams against a corpus of TBs, so the corpus side never
    * shuffles; each doc is checked map-side and the only wide op is the
    * per-doc `distinct` on (doc_id) after the inner join, keyed by unique
    * ids. If the dictionary ever outgrew broadcast, dropping the
    * `broadcast` hint degrades gracefully to a shuffled hash join on the
    * gram string — uniform keys, no skew.
    *
    * Returns the corpus frame plus `is_contaminated` (0/1 int).
    */
  def withContamination(
      corpus: DataFrame,
      evalGrams: DataFrame,
      n: Int,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val hit = corpus
      .select(col(idCol), explode(array_distinct(MinHash.shingles(col(textCol), n))).as("gram"))
      .join(broadcast(evalGrams), "gram")
      .select(col(idCol))
      .distinct()
      .withColumn("is_contaminated", lit(1))
    corpus
      .join(hit, Seq(idCol), "left")
      .withColumn("is_contaminated", coalesce(col("is_contaminated"), lit(0)))
  }

  /** Gopher-style repetition statistics per document, over word 2-grams of
    * the normalized text: total grams `n2`, distinct grams `d2`, and the
    * count of the most frequent gram `top2`. The duplicate-gram fraction is
    * (n2−d2)/n2 and the top-gram fraction top2/n2; both are exposed as
    * integer numerators/denominators so threshold tests stay exact
    * cross-engine ((n2−d2)·16 > n2 ⇔ frac > 1/16 — no float compare).
    *
    * Distributed shape: n2/d2 are pure column expressions (no shuffle);
    * top2 explodes grams and aggregates on (doc_id, gram) — two shuffles
    * keyed by the unique doc id, so parallelism is row-count-bound and
    * skew-free regardless of how repetitive any single document is.
    */
  def withRepetitionStats(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val grams = MinHash.shingles(col(textCol), 2)
    val withCounts = docs
      .withColumn("n2", size(grams).cast("long"))
      .withColumn("d2", size(array_distinct(grams)).cast("long"))
    val top = withCounts
      .select(col(idCol), explode(grams).as("gram"))
      .groupBy(col(idCol), col("gram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(max(col("c")).as("top2"))
    withCounts.join(top, Seq(idCol))
  }

  /** Deterministic, engine-portable sampling key in [0, 1000): the first 32
    * bits of md5("graft" ++ id) — the same value is computable as
    * `CAST('0x' || substr(md5(...), 1, 8) AS BIGINT) % 1000` in ANSI-ish
    * SQL, so stratified sampling decisions are reproducible anywhere (and
    * across reruns/partitionings, unlike `rand()`).
    */
  def sampleKey(id: Column): Column =
    conv(substring(md5(concat(lit("graft"), id.cast("string"))), 1, 8), 16, 10)
      .cast("long") % 1000

  /** Deterministic global shuffle + shard manifest for training export:
    * every document gets a pseudo-random but fully reproducible position in
    * a sharded training order. The shuffle key is Spark's codegen'd
    * `xxhash64` of the id (NOT `rand()` — same key for the same id on any
    * rerun, any partitioning, any executor count); the shard is the key mod
    * `numShards`; the in-shard position ranks by (key, id).
    *
    * 100 TB shape: one shuffle on the scalar shard id, then a per-shard
    * sort — parallelism is `numShards`, so size shards to the writer task
    * you want (a 100 TB corpus exports to ~100k shards, not 16; the window
    * never sees more than one shard). No global total-order sort, no
    * driver-side state; hash keys are uniform so shard sizes are balanced
    * within sampling noise — the classic shuffle-and-shard step every
    * training pipeline runs before writing tfrecord/webdataset-style
    * output.
    */
  def shardManifest(docs: DataFrame, numShards: Int, idCol: String = "doc_id"): DataFrame = {
    val keyed = docs.select(
      col(idCol),
      xxhash64(col(idCol)).as("shuffle_key"),
      pmod(xxhash64(col(idCol)), lit(numShards.toLong)).cast("int").as("shard"))
    val w = Window.partitionBy(col("shard")).orderBy(col("shuffle_key"), col(idCol))
    keyed.withColumn("pos", row_number().over(w) - 1)
  }

  /** Consecutive non-overlapping `width`-token chunks of the normalized
    * text — the unit of exact-substring dedup (Lee et al. 2022's
    * "Deduplicating Training Data Makes Language Models Better" suffix-
    * array pass, discretized to a fixed token grid so it distributes as a
    * plain group-by instead of a global suffix sort). The trailing partial
    * chunk is kept: dropping it would blind the detector to short docs.
    */
  def tokenChunks(text: Column, width: Int): Column = {
    val toks = split(TextOps.normalized(text), " ")
    transform(
      sequence(lit(0), ((size(toks) - 1) / width).cast("int")),
      i => concat_ws(" ", slice(toks, i * width + 1, lit(width))))
  }

  /** Exact substring-chunk dedup: a chunk is duplicated when its exact text
    * occurs in ≥ 2 distinct documents; each doc gets its distinct-chunk
    * count `n_chunks` and duplicated-chunk count `n_dup_chunks` (a doc with
    * n_dup·2 > n_chunks is mostly-duplicated — the usual removal rule).
    *
    * Distributed shape: per-doc distinct chunks explode once, then two
    * shuffles — group-by on the chunk text (short, ~width words; partial
    * map-side counts collapse common chunks before the exchange) and the
    * per-doc re-aggregation keyed by the unique doc id. Grouping on the
    * chunk TEXT keeps the operator exact (cf. [[TextOps.fingerprint]]'s
    * 256-bit key for whole-doc identity — a 64-bit chunk hash would start
    * colliding near the 2^32-distinct-chunk birthday bound, well inside
    * 100 TB territory). Chunk frequencies are vocabulary-shaped, but the
    * duplicate filter runs AFTER the full aggregation, so a hyper-common
    * chunk costs one combined row per partition, not a skewed reduce.
    */
  def withChunkDedup(
      docs: DataFrame,
      width: Int,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val chunks = array_distinct(tokenChunks(col(textCol), width))
    val base = docs.withColumn("n_chunks", size(chunks).cast("long"))
    val pairs = base.select(col(idCol), explode(chunks).as("chunk"))
    val dup = pairs
      .groupBy(col("chunk"))
      .agg(count(lit(1)).as("n_docs_with"))
      .filter(col("n_docs_with") >= 2)
    val perDoc = pairs
      .join(dup.select(col("chunk")), Seq("chunk"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dup_chunks"))
    base
      .join(perDoc, Seq(idCol), "left")
      .withColumn("n_dup_chunks", coalesce(col("n_dup_chunks"), lit(0L)))
  }

  /** Integer square root as a column expression: `floor(sqrt(n))` with a
    * one-step correction in each direction, so the result is the true
    * isqrt for any non-negative BIGINT even if the double `sqrt` rounds
    * across an integer boundary. Pure integer output — bit-stable in any
    * engine that has IEEE `sqrt` (all of them).
    *
    * Overflow safety: the upward correction squares `s0 + 1`, which for
    * n ≥ 3037000499² (near Long.MaxValue) would wrap; it is guarded by
    * `s0 + 1 ≤ 3037000499` (the largest long whose square fits), which is
    * also semantically exact — when the guard fails, (s0+1)² > Long.Max ≥ n,
    * so the +1 correction could never apply anyway. Spark's `And`
    * short-circuits in both eval and codegen, so the product is never
    * computed (no ANSI-mode throw). `s0` itself cannot exceed 3037000499:
    * `sqrt(double(Long.Max)) < 3037000500` after both roundings, so the
    * downward branch's `s0 * s0` is always in range.
    */
  def isqrt(n: Column): Column = {
    val s0 = floor(sqrt(n.cast("double"))).cast("long")
    when(s0 + 1 <= lit(3037000499L) && (s0 + 1) * (s0 + 1) <= n, s0 + 1)
      .when(s0 * s0 > n, s0 - 1)
      .otherwise(s0)
  }

  /** Temperature-weighted source-mixing targets (α = 1/2): the per-source
    * document budget for a training mixture that upweights small sources —
    * the standard multinomial-with-temperature scheme (e.g. the
    * mBERT/XLM-R exponent-smoothed sampling rule). Source `s` with `c_s`
    * docs gets weight `w_s = isqrt(c_s)` (= c^α at α = ½, exact integer)
    * and target `k_s = (B · w_s) div Σw` docs, where the global budget `B`
    * is `Σc div budgetDiv`. All integer math — targets are bit-identical
    * in any engine, unlike a float `c^α / Σc^α` rule whose ulps could
    * flip a floor.
    *
    * Distributed shape: one tiny aggregate (#sources rows), a 1-row total,
    * and a broadcastable result — the corpus itself is not touched beyond
    * the counting scan.
    */
  def sourceMixTargets(
      docs: DataFrame,
      budgetDiv: Long = 4L,
      srcCol: String = "source"): DataFrame = {
    val counts = docs.groupBy(col(srcCol)).agg(count(lit(1)).as("n_docs"))
      .withColumn("wgt", isqrt(col("n_docs")))
    val totals = counts.agg(
      sum(col("n_docs")).as("total_docs"),
      sum(col("wgt")).as("total_wgt"))
    counts.crossJoin(broadcast(totals))
      .withColumn(
        "k_target",
        expr(s"((total_docs div ${budgetDiv}L) * wgt) div total_wgt"))
  }

  /** Materializes a source mix: per source, keep the `k_target` documents
    * with the smallest deterministic [[sampleKey]] (ties broken by id) —
    * reproducible membership, no `rand()`. The rank window partitions by
    * source; at 100 TB, replace the full per-source sort with a bottom-k
    * selection (the [[graft.operators.TopK]] aggregator shape: O(k) state
    * per source instead of a sort over c_s rows) — the manifest contract
    * (smallest k keys per source) is identical.
    */
  def sourceMixSample(
      docs: DataFrame,
      targets: DataFrame,
      srcCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col(srcCol))
      .orderBy(sampleKey(col(idCol)).asc, col(idCol).asc)
    docs
      .join(broadcast(targets.select(col(srcCol), col("k_target"))), srcCol)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= col("k_target"))
      .drop("__rn")
  }

  /** Redaction policy: named (category, regex) scrub rules — PII shapes
    * (emails, North-American phone numbers) plus a term blocklist. Only
    * constructs with identical semantics in Java regex and RE2 (literal
    * classes, bounded quantifiers, `\b`, alternation), so hit counts and
    * replacements are oracle-checkable cross-engine.
    */
  val ScrubRules: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phone" -> "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b",
    "blocklist" -> "\\b(slow|big)\\b")

  /** Number of non-overlapping matches of `pattern` in `text`. */
  def scrubHits(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Text with every [[ScrubRules]] match replaced by `[REDACTED]`,
    * applied in rule order (same order as any oracle replay). Pure
    * map-side column expression — scales as a scan.
    */
  def scrubbed(text: Column): Column =
    ScrubRules.foldLeft(text) { case (t, (_, pat)) =>
      regexp_replace(t, pat, "[REDACTED]")
    }

  /** Training-example packing plan, GPT-style concat-and-chunk: documents
    * are concatenated in (stream, position) order and split into
    * fixed-`budget` token bins; a document whose token span crosses a bin
    * boundary is split across bins. This computes, per document, its
    * starting token offset within the stream and its start/end bin — a
    * window running-sum per stream, all integer math. Streams (here
    * `source`) are the unit of sequential order, so parallelism is
    * #streams; a 100 TB corpus has millions of stream-days, not five.
    */
  def withPackingPlan(
      docs: DataFrame,
      budget: Long,
      streamCol: String = "source",
      orderCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(col(streamCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .withColumn("n_tok", TextOps.bpeTokenCount(col(textCol)).cast("long"))
      .withColumn("tok_offset", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("start_bin", expr(s"tok_offset div ${budget}L"))
      .withColumn(
        "end_bin",
        when(col("n_tok") === 0, col("start_bin"))
          .otherwise(expr(s"(tok_offset + n_tok - 1) div ${budget}L")))
  }
}
