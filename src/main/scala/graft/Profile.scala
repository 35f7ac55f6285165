package graft

import graft.core.GraftSession

/** Dev main for plan and oracle evidence (not part of the library surface).
  * Stage timings live in the benchmark's traced run
  * (`python3 perfbench/run.py --workload W --seed N --seconds 8 --trace 1`).
  *
  *   - `explain <row>...` prints each registry row's formatted physical
  *     plan (SF dir from SPARK_GRAFT_SF_DIR; the source of the `plans/r18` dumps);
  *   - `hashes` prints the ground-truth vectors for
  *     `scripts/spark_hashes.py`'s self-check;
  *   - `oraclesql` writes the hash-oracle rows' DuckDB SQL to /tmp/oraclesql.
  */
object Profile {

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get()
    args.headOption match {
      case Some("explain") =>
        args.drop(1).foreach { name =>
          println(s"=== $name")
          graft.queries.Registry.queries(name)(spark, dir).explain("formatted")
        }
      case Some("oraclesql") =>
        val out = java.nio.file.Paths.get("/tmp/oraclesql")
        java.nio.file.Files.createDirectories(out)
        Seq(
          "llm_fingerprints" -> graft.queries.LlmHashOracles.fingerprintsSql,
          "llm_simhash_neardup" -> graft.queries.LlmHashOracles.simhashSql,
          "llm_minhash_dedup" -> graft.queries.LlmHashOracles.minhashSql,
          "llm_ann_recall" -> graft.queries.LlmHashOracles.annSql
        ).foreach { case (n, sql) =>
          java.nio.file.Files.writeString(out.resolve(s"$n.sql"), sql)
        }
        println(s"[profile] wrote 4 oracle SQLs to $out")
      case Some("hashes") =>
        spark.sql(
          """SELECT xxhash64('') a, xxhash64('a') b, xxhash64('hello world') c,
            |  xxhash64('abcdefghijklmnopqrst') d,
            |  xxhash64(CAST(0 AS INT), CAST(0 AS INT)) e,
            |  xxhash64(CAST(5 AS INT), CAST(63 AS INT)) f,
            |  xxhash64(CAST(123456789 AS INT), CAST(7 AS INT)) g,
            |  hash(array(CAST(1 AS BIGINT))) h,
            |  hash(array(CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(3 AS BIGINT))) i,
            |  hash(array(CAST(-9223372036854775808 AS BIGINT), CAST(982451653 AS BIGINT))) j,
            |  xxhash64('spark dedup corpus shingles') k,
            |  hash(array(CAST(17 AS BIGINT), CAST(2038074742 AS BIGINT), CAST(0 AS BIGINT),
            |       CAST(55 AS BIGINT), CAST(1 AS BIGINT), CAST(999999999 AS BIGINT),
            |       CAST(123 AS BIGINT), CAST(456 AS BIGINT))) l
            |""".stripMargin).show(false)
      case other =>
        System.err.println(s"usage: graft.Profile explain <row>... | hashes | oraclesql " +
          s"(got ${other.getOrElse("no mode")})")
    }
    spark.stop()
  }
}
