package graft.functions

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.SparkSpec

/** Every shim expression with both an `eval` and a `doGenCode` computes
  * the same rows interpreted (`factoryMode=NO_CODEGEN`, no whole-stage
  * codegen, as a small stream batch runs) and compiled
  * (`CODEGEN_ONLY`, whole-stage codegen on). Inputs are random, with
  * null values, and come from an RDD scan, so the projection runs in
  * the physical plan rather than being folded by the optimizer. The
  * text expressions without a stopword list are covered by
  * TextNormalizerSpec; `CodegenFallback` expressions run the same code
  * both ways. */
class InterpretedCodegenPropertySpec extends SparkSpec {
  private val WholeStage = SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key
  private val FactoryMode = SQLConf.CODEGEN_FACTORY_MODE.key

  /** `exprs` over `rows` with codegen off or forced on; the plan must
    * hold a whole-stage codegen span exactly when it is on. */
  private def eval(schema: StructType, rows: Seq[Row], exprs: Seq[Column],
      compiled: Boolean): Seq[Row] = {
    val confs = Seq(WholeStage -> compiled.toString,
      FactoryMode -> (if (compiled) "CODEGEN_ONLY" else "NO_CODEGEN"))
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val out = df(schema, rows: _*).select(exprs: _*)
      val spans = out.queryExecution.executedPlan
        .collect { case w: WholeStageCodegenExec => w }
      assert(spans.nonEmpty == compiled, out.queryExecution.executedPlan)
      out.collect().toSeq
    } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def agree(schema: StructType, rows: Seq[Row],
      exprs: Seq[Column]): Prop = {
    val interpreted = eval(schema, rows, exprs, compiled = false)
    val codegen = eval(schema, rows, exprs, compiled = true)
    (interpreted == codegen) :|
      s"interpreted ${interpreted.mkString(";")} vs codegen " +
        codegen.mkString(";")
  }

  private def e(name: String) = shims.expression(col(name))
  private def c(expr: org.apache.spark.sql.catalyst.expressions.Expression) =
    shims.column(expr)

  private def rowsOf[T](g: Gen[T]): Gen[List[T]] =
    Gen.choose(0, 24).flatMap(Gen.listOfN(_, g))

  private def orNull[T](g: Gen[T]): Gen[Any] =
    Gen.frequency(1 -> Gen.const(null), 6 -> g)

  private val longs: Gen[Long] = Gen.oneOf(Gen.choose(-3L, 3L),
    Gen.oneOf(Long.MinValue, Long.MaxValue, -1L), Gen.long)

  property("key_lookup: interpreted ≡ codegen, key set and value map", 10) {
    val keySchema = StructType(Seq(StructField("k1", StringType),
      StructField("k2", LongType), StructField("v", StringType)))
    val key = for {
      k1 <- orNull(Gen.oneOf("a", "b", "", "ü"))
      k2 <- orNull(Gen.choose(0L, 3L))
    } yield (k1, k2)
    val entry = for ((k1, k2) <- key; v <- orNull(Gen.alphaStr))
      yield (k1, k2, v)
    forAll(rowsOf(entry), rowsOf(key)) { (entries, probes) =>
      val internal = entries.map { case (k1, k2, v) =>
        InternalRow(Option(k1).map(s => UTF8String.fromString(s.toString))
          .orNull, k2, Option(v).map(s => UTF8String.fromString(s.toString))
          .orNull)
      }
      val keys = Seq("k1", "k2")
      val set = KeyTable(keySchema, internal, keys, None)
      val map = KeyTable(keySchema, internal, keys, Some("v"))
      val schema = StructType(keySchema.fields.take(2))
      agree(schema, probes.map { case (k1, k2) => Row(k1, k2) },
        Seq(set, map).map(t => c(KeyLookup(Seq(e("k1"), e("k2")), t))))
    }
  }

  property("dot_product: interpreted ≡ codegen", 10) {
    val schema = StructType(Seq(
      StructField("x", ArrayType(DoubleType, containsNull = false)),
      StructField("y", ArrayType(DoubleType, containsNull = false))))
    val vec = orNull(Gen.choose(0, 6).flatMap(Gen.listOfN(_,
      Gen.oneOf(Gen.choose(-10.0, 10.0), Gen.const(0.0), Gen.const(-0.0)))))
    forAll(rowsOf(Gen.zip(vec, vec))) { rows =>
      agree(schema, rows.map { case (x, y) => Row(x, y) },
        Seq(c(DotProductExpr(e("x"), e("y")))))
    }
  }

  property("bands_first_match, sig_eq_frac: interpreted ≡ codegen", 10) {
    val schema = StructType(Seq(
      StructField("x", ArrayType(LongType, containsNull = false)),
      StructField("y", ArrayType(LongType, containsNull = false))))
    val sig = orNull(Gen.choose(0, 6).flatMap(Gen.listOfN(_,
      Gen.choose(0L, 2L))))
    forAll(rowsOf(Gen.zip(sig, sig))) { rows =>
      agree(schema, rows.map { case (x, y) => Row(x, y) },
        Seq(c(BandsFirstMatchExpr(e("x"), e("y"))),
          c(SigEqFracExpr(e("x"), e("y")))))
    }
  }

  property("hamming64: interpreted ≡ codegen", 10) {
    val schema = StructType(Seq(StructField("x", LongType),
      StructField("y", LongType)))
    forAll(rowsOf(Gen.zip(orNull(longs), orNull(longs)))) { rows =>
      agree(schema, rows.map { case (x, y) => Row(x, y) },
        Seq(c(HammingDistanceExpr(e("x"), e("y")))))
    }
  }

  property("stopword_count, stopword_prefer: interpreted ≡ codegen", 10) {
    val schema = StructType(Seq(StructField("t", StringType)))
    val en = Seq("the", "a", "is", "of")
    val fr = Seq("le", "la", "est", "de")
    val word = Gen.oneOf(en ++ fr ++ Seq("The", "LE", "cat", "été", "İs"))
    val text = orNull(Gen.choose(0, 8).flatMap(n => Gen.listOfN(n,
      Gen.zip(word, Gen.oneOf(" ", "  ", "\t", ", ", "\n"))))
      .map(_.map { case (w, sep) => w + sep }.mkString))
    forAll(rowsOf(text)) { texts =>
      agree(schema, texts.map(Row(_)),
        Seq(c(StopwordCountExpr(e("t"), en)),
          c(StopwordPreferExpr(e("t"), en, fr)),
          c(StopwordPreferExpr(e("t"), fr, en))))
    }
  }
}
