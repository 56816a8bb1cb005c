package graft.functions

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean

import graft.SparkSpec

/** Every fused text expression normalizes exactly like
  * [[TextOps.normalize]], and every native per-row feature (token count,
  * non-whitespace characters, language id) equals its compositional
  * form in [[TextOracles]], on random strings mixing control
  * characters, Unicode whitespace and the Turkish I forms, under a
  * Turkish JVM default locale (where `String.toLowerCase` maps `I` to
  * dotless `ı` and `String.trim` would also strip controls below
  * U+0020). */
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

  private def inTurkish[T](body: => T): T = {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.forLanguageTag("tr-TR"))
    try body finally Locale.setDefault(saved)
  }

  test("fused text expressions normalize exactly like TextOps.normalize") {
    inTurkish(checkProperty(8)(Prop.forAll(batch)(agrees)))
  }

  // --- native per-row features against their compositional oracles ---

  /** Profile words, some only after Spark's lower ("THE", "İs"), some
    * never ("ıs": dotless i stays dotless), mixed into the alphabet so
    * rows score, win and tie under the profiles. */
  private val words = Seq("the", "THE", "a", "İs", "IS", "ıs", "la", "le",
    "el", "der", "Es")
  private val featureText: Gen[String] = Gen.choose(0, 12)
    .flatMap(len => Gen.listOfN(len, Gen.frequency(
      3 -> Gen.oneOf(chars.toSeq).map(_.toString), 1 -> Gen.oneOf(words))))
    .map(_.mkString)
  /** Null, blank and all-whitespace texts, and default-profile ties
    * ("la" scores fr and es alike; "" scores nothing). */
  private val fixedTexts = Seq(null, "", " ", "   ", "\t", "\t\t", " \t ",
    "\u000b", "\u001c", "\u2003", "la", "el la", "the le der el")
  private val featureBatch = Gen.listOfN(40, featureText)
    .map(_ ++ fixedTexts)
  /** Every row ties "x" with "w", and "y" with "x" when it holds no "b". */
  private val tieProfiles = Seq("x" -> Seq("a"), "y" -> Seq("a", "b"),
    "z" -> Seq("b"), "w" -> Seq("a"))

  /** Rows of `d` (column `t`) on which a native feature differs from its
    * oracle, under the session's current ANSI mode. Columns are built
    * here, after the mode is set, as a query would build them. */
  private def featureMismatches(d: DataFrame, ansi: Boolean): Seq[String] = {
    val t = col("t")
    val oracleTokens = TextOracles.tokenCount(t)
    // under ANSI a blank text's mean word length divides by zero in both
    // forms; compare the rows that have a token
    def wordLen(c: Column) = if (ansi) when(oracleTokens =!= 0, c) else c
    val checks = Seq(
      TextOps.tokenCount(t) <=> oracleTokens,
      fused(NonWsCharCountExpr(shims.expression(t))) <=>
        TextOracles.nonWsChars(t),
      wordLen(TextOps.meanWordLen(t)) <=>
        wordLen(TextOracles.meanWordLen(t)),
      TextOps.languageId(t) <=> TextOracles.languageId(t),
      TextOps.languageId(t, tieProfiles) <=>
        TextOracles.languageId(t, tieProfiles))
    d.select(t +: checks: _*).collect().toSeq
      .filterNot(r => checks.indices.forall(i => r.getBoolean(i + 1)))
      .map(r => s"ansi=$ansi ${r.mkString("|")}")
  }

  /** Both ANSI modes, on a local relation (the optimizer evaluates the
    * projection, interpreted) and on an RDD scan (codegen). */
  private def featuresAgree(texts: List[String]): Prop = {
    import spark.implicits._
    val schema = StructType(Seq(StructField("t", StringType)))
    val saved = spark.conf.get("spark.sql.ansi.enabled")
    val bad = try Seq(true, false).flatMap { ansi =>
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      Seq(texts.toDF("t"), df(schema, texts.map(Row(_)): _*))
        .flatMap(featureMismatches(_, ansi))
    } finally spark.conf.set("spark.sql.ansi.enabled", saved)
    bad.isEmpty :| bad.mkString("; ")
  }

  test("native token, char and language-id features equal their " +
      "compositional forms") {
    inTurkish(checkProperty(8)(Prop.forAll(featureBatch)(featuresAgree)))
  }

  test("the quality feature projection runs one language_id and no " +
      "regex or stopword_count") {
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val d = df(schema, Row(1L, "the cat is a cat"), Row(2L, "le chat"),
      Row(3L, null))
    val text = col("text")
    val feats = d.select(col("doc_id"), text,
        TextOps.nChars(text).as("n_chars"),
        TextOps.tokenCount(text).as("n_tokens"),
        TextOps.meanWordLen(text).as("mean_word_len"),
        TextOps.languageId(text).as("lang"))
      .filter(col("n_tokens") >= 2)
    val plan = feats.queryExecution.executedPlan.toString
    assert("language_id\\(".r.findAllMatchIn(plan).size == 1, plan)
    Seq("stopword_count", "split(", "regexp_replace")
      .foreach(op => assert(!plan.contains(op), plan))
    assert(feats.select("doc_id", "lang").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1L, "en"), Seq(2L, "fr")))
  }
}
