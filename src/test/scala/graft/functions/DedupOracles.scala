package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference forms of `DedupOps` operators, kept as the oracles
  * DedupSpec checks them against. */
object DedupOracles {

  /** [[DedupOps.minhashSignature]] from an already-materialized shingle
    * column instead of the text. */
  def minhashSignatureFromShingles(df: DataFrame, idCol: String,
      shingleCol: String, k: Int = 64): DataFrame = {
    import org.apache.spark.sql.graft.{shims, MinHashSigExpr}
    df.select(col(idCol), shims.column(
      MinHashSigExpr(shims.expression(col(shingleCol)), k)).as("signature"))
  }

  /** [[DedupOps.containmentPairs]] over the full inverted index: exact,
    * but its Σ C(df,2) join output is quadratic in the posting lists of
    * near-dup-heavy corpora. */
  def containmentPairsFullIndex(df: DataFrame,
      idCol: String, textCol: String, n: Int, thresholdBp: Int)
      : DataFrame = {
    val sh = df.select(col(idCol).as("id"),
        DedupOps.shingleSet(col(textCol), n).as("shs"))
      .select(col("id"), size(col("shs")).cast("long").as("sz"),
        explode(col("shs")).as("g"))
    val a = sh.select(col("g"), col("id").as("id1"), col("sz").as("sz1"))
    val b = sh.select(col("g"), col("id").as("id2"), col("sz").as("sz2"))
    a.join(b, Seq("g"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"), col("sz1"), col("sz2"))
      .agg(count(lit(1)).as("inter"))
      .select(col("id1"), col("id2"),
        expr("10000L * inter div sz1").as("c1_bp"),
        expr("10000L * inter div sz2").as("c2_bp"))
      .filter(greatest(col("c1_bp"), col("c2_bp")) >= thresholdBp)
  }
}
