package graft.functions

import java.util.Locale

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft._
import org.scalacheck.{Gen, Prop, Test}

import graft.SparkSpec

/** Every fused text expression normalizes exactly like
  * [[TextOps.normalize]], on random strings mixing control characters,
  * Unicode whitespace and the Turkish I forms, under a Turkish JVM
  * default locale (where `String.toLowerCase` maps `I` to dotless `ı`
  * and `String.trim` would also strip controls below U+0020). */
class TextNormalizerSpec extends SparkSpec {
  private val n = 2
  private val k = 16

  private val chars =
    "aIİiıbZ \t\n\u000b\f\r\u0001\u001f\u00a0\u2003\u3000"
  private val text: Gen[String] = Gen.choose(0, 14)
    .flatMap(len => Gen.listOfN(len, Gen.oneOf(chars.toSeq)))
    .map(_.mkString)
  private val batch = Gen.listOfN(60, text)
    .map(_ ++ Seq("", " I ", "\u0001İ\u0001", "\tIı i I\n"))

  private def fused(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Column = shims.column(e)
  private def t = shims.expression(col("t"))

  /** Reference SimHash over words of the Spark-normalized text. */
  private def simhashMd5(norm: String): Long = {
    val votes = new Array[Int](64)
    norm.split(" ", -1).foreach { w =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val h = (0 until 8).foldLeft(0L)((a, b) => (a << 8) | (d(b) & 0xffL))
      (0 until 64).foreach(j => votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1))
    }
    (0 until 64).foldLeft(0L)((s, j) => if (votes(j) > 0) s | (1L << j) else s)
  }

  private def agrees(texts: List[String]): Boolean = {
    import spark.implicits._
    val sh = DedupOps.shingles(col("t"), n)
    val rows = texts.toDF("t").select(
      fused(ShingleListExpr(t, n)) === sh,
      fused(ShingleSetExpr(t, n)) === array_distinct(sh),
      fused(MinHashTextSigExpr(t, n, k)) ===
        fused(MinHashSigExpr(shims.expression(sh), k)),
      fused(SimHashMd5Expr(t)),
      TextOps.normalize(col("t"))).collect()
    rows.forall(r => (0 until 3).forall(r.getBoolean) &&
      r.getLong(3) == simhashMd5(r.getString(4)))
  }

  test("fused text expressions normalize exactly like TextOps.normalize") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.forLanguageTag("tr-TR"))
    try {
      val result = Test.check(Test.Parameters.default
        .withMinSuccessfulTests(8), Prop.forAll(batch)(agrees))
      assert(result.passed, result.status.toString)
    } finally Locale.setDefault(saved)
  }
}
