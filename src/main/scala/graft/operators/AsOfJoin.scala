package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** J3 — as-of join (each left row picks the latest right row with
  * rightTime <= leftTime, per key). The reference's anchored-VWAP
  * cross-product is the embryo of this shape (SURVEY §2.3).
  *
  * Implemented as the scalable union-window form: tag both sides, union,
  * one window over (key, time) carrying the right side's payload forward
  * with last_value(ignoreNulls). ONE shuffle on the key — no range-join
  * explosion, no per-key driver loops; ties at equal timestamps resolve
  * right-before-left so "at or before" includes the simultaneous row.
  */
object AsOfJoin {

  /** @param left      probe side (keeps all rows)
    * @param right     reference side (its `payload` columns are attached)
    * @param keyCol    equality key (e.g. symbol)
    * @param timeCol   event-time column name present on both sides
    * @param payload   right-side columns to carry (renamed as-is onto left)
    */
  def asOf(left: DataFrame, right: DataFrame, keyCol: String, timeCol: String,
           payload: Seq[String]): DataFrame = {
    val leftCols = left.columns
    val l = left
      .withColumn("__side", lit(1))
      .select(leftCols.map(col) ++ Seq(col("__side")) ++
        payload.map(p => lit(null).cast(right.schema(p).dataType).as(s"__p_$p")): _*)
    val r = right
      .withColumn("__side", lit(0))
      .select(leftCols.map(c =>
        if (c == keyCol || c == timeCol) col(c)
        else lit(null).cast(left.schema(c).dataType).as(c)) ++
        Seq(col("__side")) ++ payload.map(p => col(p).as(s"__p_$p")): _*)
    val w = Window.partitionBy(keyCol).orderBy(col(timeCol), col("__side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val carried = payload.foldLeft(l.unionByName(r)) { (df, p) =>
      df.withColumn(p, last(col(s"__p_$p"), ignoreNulls = true).over(w))
    }
    carried.filter(col("__side") === 1)
      .select(leftCols.map(col) ++ payload.map(col): _*)
  }

  /** Few-key scale path: the same as-of semantics with the window keyed by
    * (key, time-bucket) instead of key alone, so no partition ever holds a
    * key's full history. Cross-bucket continuity comes from a carry table at
    * (key, bucket) grain — the last right-side payload of every prior
    * bucket, computed with one aggregate over the right side plus a window
    * over the tiny grain table — which seeds each bucket's in-bucket
    * carry-forward as the fallback. Exactly equivalent to [[asOf]]
    * (AsOfJoinSpec proves it), with parallelism keys × buckets.
    */
  def asOfBucketed(left: DataFrame, right: DataFrame, keyCol: String, timeCol: String,
                   payload: Seq[String], bucketSeconds: Long): DataFrame = {
    val bUs = bucketSeconds * 1000000L
    def bkt(df: DataFrame) = df.withColumn("__bkt", expr(s"unix_micros($timeCol) div ${bUs}L"))
    val lB = bkt(left)
    val rB = bkt(right)
    val ord = unix_micros(col(timeCol)) // single primitive: keeps HashAggregate

    val lastAggs = payload.map(p => max_by(col(p), ord).as(s"__lp_$p"))
    val lastPer = rB.groupBy(col(keyCol), col("__bkt")).agg(lastAggs.head, lastAggs.tail: _*)
    val allBuckets = lB.select(col(keyCol), col("__bkt"))
      .unionByName(rB.select(col(keyCol), col("__bkt"))).distinct()
    val wCarry = Window.partitionBy(keyCol).orderBy("__bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = allBuckets.join(lastPer, Seq(keyCol, "__bkt"), "left")
      .select(col(keyCol) +: col("__bkt") +: payload.map(p =>
        last(col(s"__lp_$p"), ignoreNulls = true).over(wCarry).as(s"__c_$p")): _*)

    val leftCols = left.columns
    val l = lB
      .withColumn("__side", lit(1))
      .select(leftCols.map(col) ++ Seq(col("__bkt"), col("__side")) ++
        payload.map(p => lit(null).cast(right.schema(p).dataType).as(s"__p_$p")): _*)
    val r = rB
      .withColumn("__side", lit(0))
      .select(leftCols.map(c =>
        if (c == keyCol || c == timeCol) col(c)
        else lit(null).cast(left.schema(c).dataType).as(c)) ++
        Seq(col("__bkt"), col("__side")) ++ payload.map(p => col(p).as(s"__p_$p")): _*)
    val w = Window.partitionBy(col(keyCol), col("__bkt"))
      .orderBy(col(timeCol), col("__side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val carried = payload.foldLeft(l.unionByName(r).join(carry, Seq(keyCol, "__bkt"), "left")) {
      (df, p) =>
        df.withColumn(p,
          coalesce(last(col(s"__p_$p"), ignoreNulls = true).over(w), col(s"__c_$p")))
    }
    carried.filter(col("__side") === 1)
      .select(leftCols.map(col) ++ payload.map(col): _*)
  }
}
