package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.SparkSpec

/** [[TextOps.spreadSmallScan]] changes where rows run, never what comes
  * out: on random corpora (near-duplicate word lists, empty and null
  * texts) [[DedupOps.minhashSignature]] and the consumers after it give
  * the same rows from a one-partition input, which the spread
  * repartitions, and from an input with one partition per slot, which
  * it leaves alone. */
class SpreadSmallScanPropertySpec extends SparkSpec {
  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("text", StringType)))

  private val text: Gen[String] = Gen.frequency(
    12 -> Gen.choose(0, 10)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e")))
      .map(_.mkString(" ")),
    1 -> Gen.const(null: String))
  private val corpus: Gen[Seq[(Long, String)]] = Gen.choose(1, 40)
    .flatMap(n => Gen.listOfN(n, text))
    .map(_.zipWithIndex.map { case (t, i) => (i.toLong * 7919L, t) })

  private def frame(docs: Seq[(Long, String)], partitions: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      docs.map { case (id, t) => Row(id, t) }, partitions), schema)

  /** Signatures, LSH candidate pairs and an exact count per hash, each
    * as sorted strings, and whether the signature plan spread. */
  private def outputs(df: DataFrame): (Seq[Seq[String]], Boolean) = {
    val sig = DedupOps.minhashSignature(df, "id", "text", n = 2, k = 16)
    val spread = sig.queryExecution.optimizedPlan.collectFirst {
      case r: RepartitionByExpression => r }.isDefined
    val pairs = DedupOps.candidatePairs(DedupOps.lshBands(sig, "id", 4),
      "id")
    val hashCounts = sig.select(explode(col("signature")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("n"))
    (Seq(sig, pairs, hashCounts).map(
      _.collect().map(_.mkString("|")).toSeq.sorted), spread)
  }

  property("minhashSignature and its consumers: spread on ≡ spread off",
      8) {
    forAll(corpus) { docs =>
      val slots = spark.sparkContext.defaultParallelism
      val (on, spreadOn) = outputs(frame(docs, 1))
      val (off, spreadOff) = outputs(frame(docs, slots))
      (spreadOn && !spreadOff && on == off) :|
        s"spread $spreadOn/$spreadOff, on $on, off $off"
    }
  }
}
