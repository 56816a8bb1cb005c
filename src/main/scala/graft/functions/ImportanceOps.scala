package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-selection operators for pretraining-corpus curation: score every
  * document by how much its hashed n-gram distribution resembles a
  * target domain (the DSIR recipe — Xie et al. 2023, "Data Selection
  * for Language Models via Importance Resampling" — re-expressed in
  * exact integer arithmetic so the score is bit-identical on any
  * engine and any row order).
  */
object ImportanceOps {

  /** Hashed n-gram importance score.
    *
    * Features are word n-grams of the normalized text hashed into
    * `buckets` buckets (md5-prefix hash — the repo's portable
    * integer-from-hash recipe). With per-bucket counts t (target
    * rows), r (all rows) and totals T, R, each document scores
    *
    *   score(d) = Σ_{g ∈ ngrams(d)}  t[b(g)]·R − r[b(g)]·T
    *
    * — an exact-integer surrogate of DSIR's Σ log(p_target/p_raw):
    * each term is positive iff the bucket is over-represented in the
    * target distribution (t/T > r/R), so ranking by score prefers
    * target-like documents. Pure integers: no log, no division —
    * deterministic under any aggregation order.
    *
    * Scale shape: ONE narrow map-side explode pass over the corpus.
    * The gram stream collapses (with map-side partial aggregation)
    * into the per-(doc, bucket) count matrix — at most `buckets`
    * entries per document regardless of its length — which is pinned
    * with a localCheckpoint and feeds BOTH the histogram and the
    * score, so the text is normalized, shingled and md5-hashed exactly
    * once (the former shape ran that work twice, once per consumer).
    * Per bucket b: r_cnt = Σ_d c[d,b], t_cnt = Σ_d t_d·c[d,b], and
    * score(d) = Σ_b c[d,b]·(t_cnt[b]·R − r_cnt[b]·T) — the same sum
    * grouped by bucket instead of enumerated per gram instance; pure
    * integers, so the regrouping is exact. The histogram is a bounded
    * driver collect (≤ `buckets` rows — 128 here; even 2²⁰ buckets is
    * ~24 MB, the t12 top-50 / kernel-probe bounded-collect class), its
    * totals fold on the driver with the same null-skipping semantics
    * as SQL sum, and the score join reads the histogram back as a
    * broadcast local relation — so the only cluster work is the matrix
    * aggregation and the per-doc score sum (two jobs, vs the former
    * three corpus passes). At 100 TB the totals and per-term products
    * approach 2⁶³. Past it the query fails loudly instead of wrapping:
    * the SQL sums under ANSI mode, the driver fold of the totals through
    * [[exactSum]]. DECIMAL(38,0) sums would lift that limit; at gate
    * scale BIGINT is exact (the c[d,b] factor tightens the bound vs the
    * per-instance form by the same factor it saves).
    *
    * Returns (doc_id, score). */
  def hashedNgramImportance(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, n: Int = 2, buckets: Int = 128): DataFrame = {
    val spark = df.sparkSession
    val grams = df
      .select(col(idCol).as("doc_id"),
        isTarget.cast("long").as("t"),
        explode(DedupOps.shingleList(col(textCol), n)).as("g"))
      .select(col("doc_id"), col("t"),
        pmod(conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long"),
          lit(buckets.toLong)).as("b"))
    // bounded: ≤ buckets entries/doc, ~24 B each — O(docs), not O(text)
    val matrix = grams.groupBy(col("doc_id"), col("t"), col("b"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val stat = matrix.groupBy(col("b"))
      .agg(sum(col("c")).as("r_cnt"), sum(col("t") * col("c")).as("t_cnt"))
      .collect() // bounded: ≤ buckets rows
    // driver fold == SQL sum over the histogram: nulls skipped (t_cnt
    // is null only for a bucket whose every doc has a null target flag)
    val rTot = exactSum(stat.map(_.getLong(1)))
    val tTot = exactSum(stat.flatMap(r => if (r.isNullAt(2)) None
      else Some(r.getLong(2))))
    import org.apache.spark.sql.types._
    val statsDf = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(stat: _*)),
      StructType(Seq(StructField("b", LongType, nullable = false),
        StructField("r_cnt", LongType, nullable = false),
        StructField("t_cnt", LongType, nullable = true))))
    matrix.join(broadcast(statsDf), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c") *
          (col("t_cnt") * lit(rTot) - col("r_cnt") * lit(tTot)))
        .as("score"))
  }

  /** The sum of `xs`, throwing `ArithmeticException` past the BIGINT
    * range as ANSI SQL's `sum` does, instead of wrapping. */
  private[functions] def exactSum(xs: Iterable[Long]): Long =
    xs.foldLeft(0L)(Math.addExact)

  /** The repo's portable integer-from-hash: first 8 hex chars of md5,
    * as a BIGINT (DuckDB: `('0x' || substr(md5(x),1,8))::BIGINT`). */
  private def md5Int(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Deterministic pseudo-weight table for [[hashedLinearScore]]'s
    * correctness gate: weight(b) = md5int("w:" + b) % 2001 − 1000, an
    * integer in [−1000, 1000] reproducible in any engine. A production
    * deployment passes its LEARNED weights instead — the inference
    * operator is identical. */
  def pseudoWeights(spark: org.apache.spark.sql.SparkSession,
      buckets: Int): DataFrame =
    spark.range(buckets).select(col("id").as("b"),
      (pmod(md5Int(concat(lit("w:"), col("id").cast("string"))),
        lit(2001L)) - lit(1000L)).as("w"))

  /** Linear text-classifier INFERENCE over hashed bag-of-words features
    * — the fastText-style quality/domain filter every production
    * curation pipeline runs at full corpus scale (CCNet, Gopher, FineWeb
    * all gate on one). The model is a `weights` table (bucket → integer
    * weight, vocabulary-free by hashing); a document's margin is
    *
    *   margin(d) = Σ_{word w ∈ norm(d)} weights[b(w)],   b = md5 % buckets
    *
    * and `keep = margin > 0` is the filter decision. Integer weights
    * keep the margin exact under any aggregation order (a float model
    * would be order-sensitive; quantizing learned weights to ints is
    * standard for exactly this reason).
    *
    * Scale shape: ONE narrow explode pass over the corpus; the model is
    * broadcast (buckets rows — a few KB even at 2²⁰ buckets); the only
    * shuffle is the per-doc margin sum, partially aggregated map-side.
    * Zero-token docs survive with margin 0 inside the same pass:
    * explode_outer keeps one row per empty doc, its null bucket misses
    * the LEFT broadcast join, and coalesce scores it 0 — no second
    * corpus scan, no id-restoring sort-merge join.
    *
    * Returns (idCol, margin, keep). */
  def hashedLinearScore(df: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, buckets: Int): DataFrame = {
    val words = df.select(col(idCol),
        explode_outer(split(TextOps.normalize(col(textCol)), " "))
          .as("word"))
      .select(col(idCol),
        when(col("word").isNull || col("word") === "", lit(null))
          .otherwise(pmod(md5Int(col("word")), lit(buckets.toLong)))
          .as("b"))
    words.join(broadcast(weights), Seq("b"), "left")
      .groupBy(col(idCol))
      .agg(sum(coalesce(col("w"), lit(0L))).as("margin"))
      .withColumn("keep", col("margin") > 0)
  }
}
