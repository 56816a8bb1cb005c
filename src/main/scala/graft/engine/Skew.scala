package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for hot join keys (SURVEY "salting for skew").
  * AQE's skew-join handles sort-merge skew automatically; manual salting
  * remains the tool for joins whose skew AQE cannot split (e.g. a single
  * key holding >split-size rows on BOTH sides).
  */
object Skew {

  /** Salted inner equi-join on `key`: the left (skewed) side gets a
    * deterministic salt in [0, factor), the right side is replicated
    * `factor`× so every (key, salt) pair finds its match. Result equals
    * the plain join, but the hot key's rows spread over `factor`
    * reducers. Deterministic: salt derives from xxhash64 of the full
    * left row, not rand(). */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      factor: Int): DataFrame = {
    val leftSalted = left.withColumn("__salt",
      pmod(xxhash64(left.columns.map(col).toSeq: _*), lit(factor.toLong)))
    val rightReplicated = right.withColumn("__salt",
      explode(sequence(lit(0L), lit(factor.toLong - 1))))
    leftSalted.join(rightReplicated, Seq(key, "__salt"))
      .drop("__salt")
  }
}
