package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{SparkPlan, SQLExecution}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{AbstractDataType, DataType, LongType}

/** Bridge into Spark's `private[sql]` Column↔Expression converters and
  * type-coercion traits, so graft can ship native Catalyst expressions
  * (the sanctioned extension-library pattern: one shim file inside the
  * sql package namespace).
  */
object shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `body` over `df`'s physical plan as one SQL execution, as a
    * Dataset action runs: its tasks see the session's conf (map-key
    * dedup policy, ANSI) and its jobs report to the SQL listeners. */
  def action[T](df: DataFrame, name: String)(body: SparkPlan => T): T = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name))(body(qe.executedPlan))
  }

  /** Block until every event already posted to the listener bus has
    * reached its listeners, so a listener's totals are complete when
    * read (events are delivered asynchronously). */
  def drainListenerBus(spark: SparkSession, timeoutMs: Long = 30000L)
      : Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  /** The session `q` plans and runs its micro-batches with, cloned from
    * the caller's when the query was constructed (`protected[sql]`,
    * hence this shim). */
  def streamSession(q: StreamingQuery): SparkSession =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery
      .sparkSessionForStream

  /** The leaves of `q`'s plan that read a streaming source; a source
    * that a self-join reads twice counts twice, as Spark's
    * `numInputRows` does. */
  def sourceReads(q: StreamingQuery): Int =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.logicalPlan
      .collectLeaves().count(_.isStreaming)

  /** `rows`, already on the driver in `like`'s schema, as a frame over
    * a LocalRelation: raw rows (no external-Row round trip), exact
    * statistics for the planner (broadcast joins, empty-relation
    * pruning) and no job to read. */
  def localRelation(like: DataFrame, rows: Seq[InternalRow]): DataFrame = {
    val cdf = like.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(cdf.sparkSession, LocalRelation(
      cdf.queryExecution.analyzed.output.map(_.newInstance()), rows))
  }

  /** Release the block-manager storage behind a `localCheckpoint()`ed
    * DataFrame (the checkpointed RDD lives in the plan's LogicalRDD
    * leaves — `private[sql]`, hence this shim). For driver-side
    * iterative loops that re-checkpoint per iteration: without this,
    * every superseded iteration's blocks linger until the driver GCs
    * the DataFrame and ContextCleaner catches up. No-op on frames that
    * are not local checkpoints: only RDDs that really are local
    * checkpoints are unpersisted, so a LogicalRDD over a USER-persisted
    * RDD keeps its cache. */
  def releaseLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.filter(_.checkpointData.exists(
        _.isInstanceOf[org.apache.spark.rdd.LocalRDDCheckpointData[_]]))
      .foreach(_.unpersist(blocking = false))

  /** Assert that every local-checkpoint RDD in `df`'s plan is already
    * MATERIALIZED (checkpointData.isCheckpointed). Guards the release
    * pattern `releaseLocalCheckpoint(prev)` in iterative loops: prev's
    * blocks are unrecoverable once dropped, so the successor frame must
    * have finished checkpointing (its lineage no longer reaches prev)
    * BEFORE the release — i.e. some action must already have computed
    * it. Fails fast at the release site instead of as a
    * "checkpoint block not found" job failure later. */
  def assertLocallyCheckpointed(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.filter(_.checkpointData.exists(
        _.isInstanceOf[org.apache.spark.rdd.LocalRDDCheckpointData[_]]))
      .foreach { r =>
        require(r.isCheckpointed,
          s"RDD ${r.id} is a lazy local checkpoint that has NOT " +
            "materialized yet — releasing its predecessor now would " +
            "drop blocks its lineage still needs")
      }
}

/** The key tuples of a pinned write delta, held on the driver, each
  * mapped to a value (the delta's `__delta` column, or `true` for a key
  * set). A tuple with a null key is left out: a null key never matches,
  * as in an equi-join. Keys compare by value (`UTF8String` bytes, boxed
  * integers), so key columns are strings or integral types. Equality
  * is identity: plans compare and hash their expressions often, and
  * the table can hold [[graft.engine.GraphState]]'s whole pin cap. */
final class KeyTable private (table: java.util.HashMap[AnyRef, AnyRef],
    val keyTypes: Seq[DataType], val dataType: DataType)
    extends Serializable {
  def size: Int = table.size
  def isEmpty: Boolean = table.isEmpty
  /** The value of `key` (a [[KeyTable.key]]); null when absent. */
  def get(key: AnyRef): AnyRef = if (key == null) null else table.get(key)
  override def toString: String = s"$size keys"
}

object KeyTable {
  /** The lookup key of one tuple: null when any value is null, the
    * value itself for one column, a `java.util.List` for several. */
  def key(values: Array[AnyRef]): AnyRef =
    if (values.contains(null)) null
    else if (values.length == 1) values(0)
    else java.util.Arrays.asList(values: _*)

  /** The table of `rows` (in `schema`): `keys` → `value`'s column, or
    * → true when `value` is None. */
  def apply(schema: org.apache.spark.sql.types.StructType,
      rows: Seq[InternalRow], keys: Seq[String], value: Option[String])
      : KeyTable = {
    import org.apache.spark.sql.types.BooleanType
    def reader(name: String): InternalRow => AnyRef = {
      val i = schema.fieldIndex(name)
      val get = InternalRow.getAccessor(schema(i).dataType)
      r => InternalRow.copyValue(get(r, i)).asInstanceOf[AnyRef]
    }
    val keyOf = keys.map(reader).toArray
    val valueOf = value.map(reader)
      .getOrElse((_: InternalRow) => java.lang.Boolean.TRUE)
    val table = new java.util.HashMap[AnyRef, AnyRef]()
    rows.foreach { r =>
      val k = key(keyOf.map(_(r)))
      if (k != null) table.put(k, valueOf(r))
    }
    new KeyTable(table, keys.map(schema(_).dataType),
      value.fold[DataType](BooleanType)(schema(_).dataType))
  }
}

/** `table`'s value for the key tuple `children`: null when the tuple
  * is absent or any key is null. A pinned delta's key set or
  * `id → __delta` map as one hash probe per row, in place of a join
  * against the delta: `isNull` is the anti-join, `isNotNull` the
  * semi-join, the value the left join's `__delta`. Never foldable, so
  * the optimizer cannot evaluate it over a null literal key. */
case class KeyLookup(children: Seq[Expression], table: KeyTable)
    extends Expression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodeGenerator}
  import org.apache.spark.sql.catalyst.expressions.codegen.Block._

  override def nullable: Boolean = true
  override def dataType: DataType = table.dataType
  override def prettyName: String = "key_lookup"

  /** Keys of another type would compare unequal to every entry. */
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (children.map(_.dataType) == table.keyTypes) TypeCheckSuccess
    else TypeCheckFailure(s"key types ${children.map(_.dataType)} differ " +
      s"from the table's ${table.keyTypes}")
  }

  override def eval(input: InternalRow): Any =
    table.get(KeyTable.key(children.map(_.eval(input).asInstanceOf[AnyRef])
      .toArray))

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("keyTable", table, classOf[KeyTable].getName)
    val kids = children.map(_.genCode(ctx))
    val boxed = kids.zip(children).map { case (k, c) =>
      if (CodeGenerator.isPrimitiveType(c.dataType))
        s"${CodeGenerator.boxedType(c.dataType)}.valueOf(${k.value})"
      else s"(Object) ${k.value}"
    }
    val key =
      if (boxed.length == 1) boxed.head
      else s"java.util.Arrays.asList(new Object[] {${boxed.mkString(", ")}})"
    val anyNull = kids.map(_.isNull.toString).mkString(" || ")
    val res = ctx.freshName("res")
    val javaType = CodeGenerator.javaType(dataType)
    val unboxed =
      if (CodeGenerator.isPrimitiveType(dataType))
        s"((${CodeGenerator.boxedType(dataType)}) $res).${javaType}Value()"
      else s"($javaType) $res"
    ev.copy(code = Block.blocksToBlock(kids.map(_.code)) + code"""
      Object $res = ($anyNull) ? null : $t.get($key);
      boolean ${ev.isNull} = $res == null;
      $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      if (!${ev.isNull}) ${ev.value} = $unboxed;
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KeyLookup =
    copy(children = newChildren)
}

/** Native codegen'd dot product over two ARRAY<DOUBLE> columns — the hot
  * inner loop of every cosine-similarity operator
  * (graft.functions.SimilarityOps). The higher-order-function equivalent
  * (`aggregate(zip_with(...))`) runs interpreted with per-element lambda
  * dispatch: ~20× slower on brute-force pair scoring. Identical result
  * semantics: sequential left-to-right summation. */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types.{ArrayType, DoubleType}

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toDoubleArray()
    val y = b.asInstanceOf[ArrayData].toDoubleArray()
    val n = math.min(x.length, y.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x(i) * y(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

/** Single-pass MinHash signature: ARRAY<STRING> shingles → ARRAY<LONG>
  * of k permutation minima. One xxhash64 (seed 42 — identical to the SQL
  * `xxhash64` function) per shingle, then k linear permutations
  * `(a_i·h + b_i) mod (2³¹−1)` in a tight JVM loop — replaces an
  * explode + k-column partial-aggregate shape: same math and identical
  * output values, but zero row blowup and zero shuffle. Interpreted eval
  * (CodegenFallback): one virtual call per ROW, with the k×|shingles|
  * inner work in primitive loops.
  */
case class MinHashSigExpr(child: Expression, k: Int)
    extends UnaryExpression with ImplicitCastInputTypes
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.expressions.XxHash64Function
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.types.{ArrayType, LongType, StringType}

  private val P = 2147483647L // 2^31 - 1

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private val as: Array[Long] =
    Array.tabulate(k)(i => (mix(2L * i) & 0x7FFFFFFFL) | 1L)
  private val bs: Array[Long] =
    Array.tabulate(k)(i => mix(2L * i + 1) & 0x7FFFFFFFL)

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val s = arr.getUTF8String(j)
      val h0 = XxHash64Function.hash(s, StringType, 42L)
      val h = ((h0 % P) + P) % P
      var i = 0
      while (i < k) {
        val v = (h * as(i) + bs(i)) % P
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : MinHashSigExpr = copy(child = newChild)
}

/** MinHash signature straight from raw TEXT: normalization
  * (trim/whitespace-collapse/lowercase), word n-gram shingling, hashing
  * and the k permutation minima all in one per-row pass — the fully
  * fused form of MinHashSigExpr that also skips the interpreted
  * higher-order split/slice/array_join shingle pipeline. Shingle strings
  * and the permutation family are identical to the compositional path
  * (TextOps.normalize + DedupOps.shingles + MinHashSigExpr). */
case class MinHashTextSigExpr(child: Expression, n: Int, k: Int)
    extends UnaryExpression with ImplicitCastInputTypes with TextNormalizing
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.expressions.XxHash64Function
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  private val P = 2147483647L
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private val as: Array[Long] =
    Array.tabulate(k)(i => (mix(2L * i) & 0x7FFFFFFFL) | 1L)
  private val bs: Array[Long] =
    Array.tabulate(k)(i => mix(2L * i + 1) & 0x7FFFFFFFL)

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_text_sig"

  override protected def nullSafeEval(input: Any): Any = {
    val norm = normalized(input)
    val words = norm.split(" ", -1)
    val mins = Array.fill(k)(Long.MaxValue)
    def update(shingle: String): Unit = {
      val h0 = XxHash64Function.hash(
        UTF8String.fromString(shingle), StringType, 42L)
      val h = ((h0 % P) + P) % P
      var i = 0
      while (i < k) {
        val v = (h * as(i) + bs(i)) % P
        if (v < mins(i)) mins(i) = v
        i += 1
      }
    }
    if (words.length < n) update(words.mkString(" "))
    else {
      var j = 0
      val sb = new java.lang.StringBuilder
      while (j + n <= words.length) {
        sb.setLength(0)
        var w = 0
        while (w < n) {
          if (w > 0) sb.append(' ')
          sb.append(words(j + w))
          w += 1
        }
        update(sb.toString)
        j += 1
      }
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : MinHashTextSigExpr = copy(child = newChild)
}

/** All hyperplane-LSH band values in ONE per-row pass: `bands` packed
  * longs, bit j of band b = sign of ⟨v, plane(b·planesPerBand+j)⟩. The
  * Column-composed equivalent (bands×planesPerBand separate DotProductExpr
  * trees over literal plane arrays) grows a codegen unit past the JVM
  * method limit, knocking the WHOLE stage (including downstream cosine
  * scoring) back to interpreted eval. Planes are derived from the same
  * deterministic splitmix64 family as SimilarityOps.planeVector, and the
  * dot is the same sequential left-to-right sum as DotProductExpr, so the
  * band values are bit-identical to the compositional form. */
case class HyperplaneBandsExpr(child: Expression, dim: Int,
    planesPerBand: Int, bands: Int)
    extends UnaryExpression with ImplicitCastInputTypes
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.types.{ArrayType, DoubleType}

  private val planes: Array[Array[Double]] =
    Array.tabulate(planesPerBand * bands) { p =>
      Array.tabulate(dim) { i =>
        var z = p.toLong * 0x9E3779B97F4A7C15L +
          i.toLong * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z = z ^ (z >>> 31)
        (z % 1000000L).toDouble / 2000000.0
      }
    }

  override def inputTypes: Seq[AbstractDataType] =
    Seq(org.apache.spark.sql.types.ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_bands"

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData].toDoubleArray()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var packed = 0L
      var j = 0
      while (j < planesPerBand) {
        val plane = planes(b * planesPerBand + j)
        val n = math.min(v.length, plane.length)
        var acc = 0.0
        var i = 0
        while (i < n) { acc += v(i) * plane(i); i += 1 }
        if (acc >= 0) packed |= (1L << j)
        j += 1
      }
      out(b) = packed
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : HyperplaneBandsExpr = copy(child = newChild)
}

/** First index at which two ARRAY<LONG> band sketches are equal (-1 if
  * none). Lets a banded-LSH self-join score each candidate pair exactly
  * once — keep the (band, pair) row only when band == first matching
  * band — turning the post-join pair dedup (a full shuffle of every
  * bucket collision) into a codegen'd per-row filter. */
case class BandsFirstMatchExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types.{ArrayType, IntegerType}

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "bands_first_match"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) return i
      i += 1
    }
    -1
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${ev.value} = -1;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) { ${ev.value} = $i; break; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BandsFirstMatchExpr =
    copy(left = newLeft, right = newRight)
}

/** Distinct word n-gram shingle set straight from raw TEXT, one per-row
  * pass: normalization (trim/whitespace-collapse/lowercase), n-gram
  * shingling and first-occurrence dedup fused — value-identical to
  * `array_distinct(DedupOps.shingles(text, n))`, whose higher-order
  * `transform` lambda runs interpreted with per-element dispatch (the
  * dominant cost of the Jaccard verify stage: ~5 s of a 5.7 s d06 run at
  * sf0.1 went to building shingle sets for the whole corpus). Shingle
  * strings match MinHashTextSigExpr's exactly, so estimates computed from
  * signatures and exact Jaccard computed from these sets agree on the
  * same underlying set family. */
case class ShingleSetExpr(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes with TextNormalizing
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.types.{ArrayType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_set"

  override protected def nullSafeEval(input: Any): Any = {
    val norm = normalized(input)
    val words = norm.split(" ", -1)
    val seen = new java.util.LinkedHashSet[String]()
    if (words.length < n) seen.add(words.mkString(" "))
    else {
      var j = 0
      val sb = new java.lang.StringBuilder
      while (j + n <= words.length) {
        sb.setLength(0)
        var w = 0
        while (w < n) {
          if (w > 0) sb.append(' ')
          sb.append(words(j + w))
          w += 1
        }
        seen.add(sb.toString)
        j += 1
      }
    }
    val out = new Array[AnyRef](seen.size)
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : ShingleSetExpr = copy(child = newChild)
}

/** The MULTISET sibling of [[ShingleSetExpr]]: every word n-gram of the
  * normalized text in order, duplicates preserved — value-identical to
  * `DedupOps.shingles(text, n)` (whose `transform` lambda runs
  * INTERPRETED per element; this is one tight per-row loop). Hot path
  * for n-gram counting pipelines (LM cross-entropy), where the corpus
  * explode dominates wall-time. */
case class ShingleListExpr(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes with TextNormalizing
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.types.{ArrayType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_list"

  override protected def nullSafeEval(input: Any): Any = {
    val norm = normalized(input)
    val words = norm.split(" ", -1)
    if (words.length < n)
      return new GenericArrayData(
        Array[AnyRef](UTF8String.fromString(words.mkString(" "))))
    val out = new Array[AnyRef](words.length - n + 1)
    var j = 0
    val sb = new java.lang.StringBuilder
    while (j + n <= words.length) {
      sb.setLength(0)
      var w = 0
      while (w < n) {
        if (w > 0) sb.append(' ')
        sb.append(words(j + w))
        w += 1
      }
      out(j) = UTF8String.fromString(sb.toString)
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : ShingleListExpr = copy(child = newChild)
}

/** Fraction of positions at which two ARRAY<LONG> MinHash signatures
  * agree — an unbiased estimator of the Jaccard similarity of the
  * underlying shingle sets (P[minima equal] = J per permutation; with
  * k=64, σ ≈ √(J(1−J)/64) ≤ 0.063). Codegen'd: used as a cheap
  * candidate pre-filter BEFORE the exact set-intersection verify, so the
  * expensive text joins touch only pairs whose estimate clears
  * `threshold − margin`. */
case class SigEqFracExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types.{ArrayType, DoubleType}

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sig_eq_frac"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    if (n == 0) return 0.0
    var eq = 0
    var i = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) eq += 1
      i += 1
    }
    eq.toDouble / n
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val eq = ctx.freshName("eq")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $eq = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) $eq++;
         |}
         |${ev.value} = ($n == 0) ? 0.0 : ((double) $eq) / $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigEqFracExpr =
    copy(left = newLeft, right = newRight)
}

/** Native codegen'd popcount(a ^ b) — see graft.functions.HammingDistance
  * for the public API and rationale. Lives here because ImplicitCastInputTypes
  * / AbstractDataType are private[sql]. */
/** Bloom-filter membership probe: STRING → BOOLEAN against a fixed
  * `org.apache.spark.util.sketch.BloomFilter` (serialized into the task
  * closure — at cluster scale the same bits ride a broadcast variable).
  * Spark's own `Column.mightContain` route requires the internal
  * BloomFilterMightContain + a binary aggregate plan; this shim keeps
  * the established expression-with-constant pattern. NO false
  * negatives is the bloom theorem the decontamination gate certifies. */
case class MightContainExpr(child: Expression,
    bf: org.apache.spark.util.sketch.BloomFilter)
    extends UnaryExpression with ImplicitCastInputTypes
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.types.{BooleanType, StringType}

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "might_contain"

  override protected def nullSafeEval(input: Any): Any =
    bf.mightContainString(input.toString)

  override protected def withNewChildInternal(newChild: Expression)
      : MightContainExpr = copy(child = newChild)
}

/** Product-quantization encoder: ARRAY<DOUBLE> vector → ARRAY<INT> of m
  * subspace code assignments against a fixed codebook (m × ksub × dsub).
  * Same assignment rule as the composed Column form it replaces —
  * d = ‖c‖² − 2⟨v_sub,c⟩ per code, ties to the lower code id, with the
  * same left-to-right summation — but in tight primitive loops: the
  * composed form expands to m·ksub struct builds + an array_sort per
  * row, whose generated code dwarfs the JIT budget at ksub ≥ 32.
  * Interpreted eval (CodegenFallback): one virtual call per row, all
  * m·ksub·dsub multiply-adds primitive. */
case class PqEncodeExpr(child: Expression,
    codebooks: Array[Array[Array[Double]]])
    extends UnaryExpression with ImplicitCastInputTypes
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}

  private val m = codebooks.length
  private val dsub = codebooks(0)(0).length
  // ‖c‖² per (sub, code), precomputed once per operator instance with
  // the same ascending-index summation as the Column form's
  // cvec.map(x*x).sum
  private val c2: Array[Array[Double]] = codebooks.map(_.map { c =>
    var acc = 0.0; var i = 0
    while (i < c.length) { acc += c(i) * c(i); i += 1 }
    acc
  })

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType))
  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData].toDoubleArray()
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val off = s * dsub
      val book = codebooks(s)
      var best = 0
      var bestD = Double.PositiveInfinity
      var code = 0
      while (code < book.length) {
        val cvec = book(code)
        var dotAcc = 0.0
        var i = 0
        val n = math.min(dsub, math.max(v.length - off, 0))
        while (i < n) { dotAcc += v(off + i) * cvec(i); i += 1 }
        val d = c2(s)(code) - 2.0d * dotAcc
        if (d < bestD) { bestD = d; best = code }
        code += 1
      }
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : PqEncodeExpr = copy(child = newChild)
}

/** Element-wise vector difference over two ARRAY<DOUBLE> columns (the
  * IVF-PQ residual v − c): the zip_with(-) lambda equivalent, but
  * codegen-eligible primitive loops instead of interpreted per-element
  * dispatch — this runs once per corpus row at encode time. Lengths
  * must match; the shorter bound is used defensively. */
case class VecSubExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.types.{ArrayType, DoubleType}

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "vec_sub"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toDoubleArray()
    val y = b.asInstanceOf[ArrayData].toDoubleArray()
    val n = math.min(x.length, y.length)
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = x(i) - y(i); i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecSubExpr =
    copy(left = newLeft, right = newRight)
}

case class HammingDistanceExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "hamming64"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.bitCount(a.asInstanceOf[Long] ^ b.asInstanceOf[Long])
      .toLong

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = (long) java.lang.Long.bitCount($a ^ $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingDistanceExpr =
    copy(left = newLeft, right = newRight)
}

/** Single-pass hashing-trick featurization: NORMALIZED text (the caller
  * applies TextOps.normalize, keeping lower/trim/whitespace semantics in
  * Spark's own functions) → ARRAY<LONG> of `dim` bucket counts. Each
  * space-separated word buckets by the house cross-engine hash — the
  * first 4 md5 bytes as an unsigned int, mod dim, identical to
  * SamplingOps.shardKey and the DuckDB
  * `('0x' || substr(md5(w), 1, 8))::BIGINT % dim` oracle form — and the
  * counts accumulate in ONE primitive loop. Replaces a dim× interpreted
  * filter() sweep (O(dim·words) lambda dispatches per row) with
  * O(words) digest work; same per-row CodegenFallback stance as
  * MinHashSigExpr. */
case class HashingFeaturesExpr(child: Expression, dim: Int)
    extends UnaryExpression with ImplicitCastInputTypes
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.types.{ArrayType, StringType}

  require(dim > 0, "dim must be positive")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hashing_features"

  override protected def nullSafeEval(input: Any): Any = {
    val words = input.toString.split(" ", -1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val counts = new Array[Long](dim)
    var i = 0
    while (i < words.length) {
      md.reset()
      val d = md.digest(words(i).getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      val bucket = (((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)) % dim
      counts(bucket.toInt) += 1
      i += 1
    }
    new GenericArrayData(counts)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : HashingFeaturesExpr = copy(child = newChild)
}

/** Cross-engine 64-bit SimHash: NORMALIZED text (caller applies
  * TextOps.normalize semantics; this expression repeats them like
  * MinHashTextSigExpr so it works straight off the raw column) →
  * per-word 64-bit hash = first 8 md5 bytes big-endian (identical to
  * DuckDB's `('0x' || substr(md5(w), 1, 16))::UBIGINT`), each bit votes
  * ±1 per occurrence, output bit j set iff the vote sum is > 0. The
  * production near-dup path keeps the faster xxhash64 family
  * (DedupOps.simhash); this md5 family exists so the signature itself
  * is reproducible by an independent engine (gate d04). */
case class SimHashMd5Expr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes with TextNormalizing
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.types.StringType

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_md5"

  override protected def nullSafeEval(input: Any): Any = {
    val norm = normalized(input)
    val words = norm.split(" ", -1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val votes = new Array[Int](64)
    var i = 0
    while (i < words.length) {
      md.reset()
      val d = md.digest(words(i).getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      var h = 0L
      var b = 0
      while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      var j = 0
      while (j < 64) {
        votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression)
      : SimHashMd5Expr = copy(child = newChild)
}

object MinHashMd5SigExpr {
  /** The k linear-permutation constants (a_i odd, b_i) — same splitmix
    * family as MinHashSigExpr; public so the DuckDB oracle SQL can embed
    * the identical literals. */
  def perms(k: Int): (Array[Long], Array[Long]) = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    (Array.tabulate(k)(i => (mix(2L * i) & 0x7FFFFFFFL) | 1L),
      Array.tabulate(k)(i => mix(2L * i + 1) & 0x7FFFFFFFL))
  }
  val P = 2147483647L // 2^31 - 1
}

/** Cross-engine MinHash signature: shingle ARRAY<STRING> → k permutation
  * minima, base hash = first 4 md5 bytes as an unsigned int mod 2³¹−1
  * (identical to DuckDB's `('0x' || substr(md5(sh), 1, 8))::BIGINT %
  * 2147483647`), permutations `(a_i·h + b_i) mod (2³¹−1)` with the same
  * splitmix constants as MinHashSigExpr. The production dedup path keeps
  * the faster xxhash64 base (one hash vs one md5 digest per shingle);
  * this family exists so the signature is reproducible by an independent
  * engine (gate d03). */
case class MinHashMd5SigExpr(child: Expression, k: Int)
    extends UnaryExpression with ImplicitCastInputTypes
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.types.{ArrayType, StringType}
  import MinHashMd5SigExpr.P

  private val (as, bs) = MinHashMd5SigExpr.perms(k)

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_md5_sig"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val md = java.security.MessageDigest.getInstance("MD5")
    val mins = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < n) {
      md.reset()
      val d = md.digest(arr.getUTF8String(j).getBytes)
      val h = (((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)) % P
      var i = 0
      while (i < k) {
        val v = (h * as(i) + bs(i)) % P
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : MinHashMd5SigExpr = copy(child = newChild)
}

/** |A ∩ B| for two SORTED-ascending, duplicate-free ARRAY<INT> columns
  * via a single zero-allocation linear merge (on duplicate runs it
  * counts min(run lengths), not distinct matches). The built-in
  * `array_intersect` builds a boxed hash set plus a result array per
  * row — on a 250k-pair × 200-element containment join that allocation
  * churn was the dominant GC source at sf1. When set elements have been
  * mapped through an injective dictionary (string shingle → dense int
  * id), intersection counts are IDENTICAL to the string-set counts, and
  * the merge compares 4-byte ints instead of variable-length UTF8 — the
  * verify join of the containment-dedup operator shuffles ~6× fewer
  * bytes per candidate pair this way. */
case class SortedIntersectCountIntExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types.{ArrayType, IntegerType}

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(IntegerType), ArrayType(IntegerType))
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count_int"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < nx && j < ny) {
      val xi = x.getInt(i)
      val yj = y.getInt(j)
      if (xi == yj) { c += 1; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    c
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCountIntExpr =
    copy(left = newLeft, right = newRight)
}

/** Shared core of the fused text expressions: the EXACT normalize
  * pipeline `lower(trim(regexp_replace(text, "\s+", " ")))` replayed
  * operator by operator with Spark's own machinery — java.util.regex
  * over the decoded string (what RegExpReplace runs, pattern compiled
  * ONCE here, not per row), `UTF8String.trim()` (space-only, exactly
  * StringTrim — Java's String.trim strips all controls ≤ U+0020 and
  * was a latent mismatch), and `CollationSupport.Lower.exec` with the
  * session ICU flag (exactly the Lower expression — String.toLowerCase
  * used the default locale: Turkish-I hazard). Occurrence counting
  * walks the padded UTF-8 bytes advancing by needle length — the same
  * non-overlapping match sequence as `replace()` (UTF-8 is
  * self-synchronizing, so byte matches sit on char boundaries) — so
  * scores stay bit-identical to the compositional form and the DuckDB
  * oracle under ANY JVM default locale. */
object StopwordScore {
  import org.apache.spark.unsafe.types.UTF8String

  private val Ws = java.util.regex.Pattern.compile("\\s+")

  def needles(words: Seq[String]): Array[Array[Byte]] =
    words.map(w => (" " + w + " ")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray

  /** `lower(trim(regexp_replace(input, '\s+', ' ')))` — exactly
    * TextOps.normalize. The one normalizer of every fused text
    * expression in this file. */
  def normalize(input: UTF8String, collationId: Int, useICU: Boolean)
      : UTF8String = {
    val replaced = Ws.matcher(input.toString).replaceAll(" ")
    org.apache.spark.sql.catalyst.util.CollationSupport.Lower.exec(
      UTF8String.fromString(replaced).trim(), collationId, useICU)
  }

  /** `' ' || normalize(input) || ' '` as UTF-8 bytes. */
  def paddedBytes(input: UTF8String, collationId: Int, useICU: Boolean)
      : Array[Byte] = {
    val b = normalize(input, collationId, useICU).getBytes
    val out = new Array[Byte](b.length + 2)
    out(0) = ' '.toByte
    out(out.length - 1) = ' '.toByte
    System.arraycopy(b, 0, out, 1, b.length)
    out
  }

  /** Σ non-overlapping occurrences of every needle over the padded
    * bytes (left-to-right, advance by needle length — `replace()`'s
    * counting). */
  def countAll(pad: Array[Byte], needles: Array[Array[Byte]]): Long = {
    var total = 0L
    var i = 0
    while (i < needles.length) {
      val nd = needles(i)
      var p = indexOf(pad, nd, 0)
      while (p >= 0) { total += 1; p = indexOf(pad, nd, p + nd.length) }
      i += 1
    }
    total
  }

  private def indexOf(hay: Array[Byte], nd: Array[Byte], from: Int)
      : Int = {
    val last = hay.length - nd.length
    var p = if (from < 0) 0 else from
    while (p <= last) {
      var j = 0
      while (j < nd.length && hay(p + j) == nd(j)) j += 1
      if (j == nd.length) return p
      p += 1
    }
    -1
  }

  /** Mirror of Lower's collation dispatch inputs, resolved once at
    * expression construction (on the driver, under the active
    * session) and serialized with the expression. */
  def collationIdOf(e: Expression): Int = e.dataType match {
    case st: org.apache.spark.sql.types.StringType => st.collationId
    case _ => 0
  }
  def useICU: Boolean =
    org.apache.spark.sql.internal.SQLConf.get.getConf(
      org.apache.spark.sql.internal.SQLConf.ICU_CASE_MAPPINGS_ENABLED)
}

/** A fused text expression over its child's string, normalized exactly
  * like TextOps.normalize by [[StopwordScore.normalize]]. */
trait TextNormalizing { self: UnaryExpression =>
  // lazy: the child is unresolved at construction during analysis
  // rewrites; resolved by the first dataType/eval/codegen access
  protected lazy val collationId: Int = StopwordScore.collationIdOf(child)
  protected lazy val icu: Boolean = StopwordScore.useICU

  protected def normalized(input: Any): String = StopwordScore.normalize(
    input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
    collationId, icu).toString
}

/** Σ non-overlapping occurrences of ` word ` over space-padded
  * normalized text, for a whole stopword list in ONE per-row pass —
  * the fused form of TextOps.stopwordCount. The compositional Column
  * form evaluates `concat(" ", normalize(text), " ")` once per word
  * per occurrence-count — and the n_tokens/score filter the curation
  * gates apply is pushed below the projection by substitution, so the
  * p01/p11 plans evaluated 20 regexp_replace + 20 full-string replace
  * per ROW in a single-task scan stage (r13 plan audit). Normalize +
  * counting semantics: [[StopwordScore]]. Codegen'd (r14): the call
  * sits inside the surrounding WholeStageCodegen span instead of
  * breaking it as a CodegenFallback island. */
case class StopwordCountExpr(child: Expression, words: Seq[String])
    extends UnaryExpression with ImplicitCastInputTypes
    with TextNormalizing {
  import org.apache.spark.sql.types.StringType
  import org.apache.spark.unsafe.types.UTF8String

  private val needles = StopwordScore.needles(words)

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "stopword_count"

  def count(input: UTF8String): Long =
    StopwordScore.countAll(
      StopwordScore.paddedBytes(input, collationId, icu), needles)

  override protected def nullSafeEval(input: Any): Any =
    count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopwordCount", this,
      classOf[StopwordCountExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.count($c);")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : StopwordCountExpr = copy(child = newChild)
}

/** Fused curation-gate predicate: `stopwordCount(a) > stopwordCount(b)`
  * evaluated from ONE normalize and one walk over the padded bytes.
  * The p01/p11 language gate (`en_score > fr_score`) is pushed into
  * the scan-stage Filter by alias substitution, and FilterExec does no
  * common-subexpression elimination — as two score expressions the
  * filter normalized the text TWICE per row. Bit-equivalent to the
  * compositional comparison: both sides are the exact
  * [[StopwordScore]] counts. */
case class StopwordPreferExpr(child: Expression, a: Seq[String],
    b: Seq[String])
    extends UnaryExpression with ImplicitCastInputTypes
    with TextNormalizing {
  import org.apache.spark.sql.types.{BooleanType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  private val needlesA = StopwordScore.needles(a)
  private val needlesB = StopwordScore.needles(b)

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "stopword_prefer"

  def prefer(input: UTF8String): Boolean = {
    val pad = StopwordScore.paddedBytes(input, collationId, icu)
    StopwordScore.countAll(pad, needlesA) >
      StopwordScore.countAll(pad, needlesB)
  }

  override protected def nullSafeEval(input: Any): Any =
    prefer(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopwordPrefer", this,
      classOf[StopwordPreferExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.prefer($c);")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : StopwordPreferExpr = copy(child = newChild)
}

/** The language whose stopword profile scores highest on the row's
  * text, ties to the earlier profile: the fused form of
  * TextOps.languageId. One normalize and one padded byte array per
  * row, then one [[StopwordScore.countAll]] walk per profile. A Column
  * fold over the profiles repeats its accumulator's score in each
  * `when` condition and else branch, so it normalizes a row up to
  * twice per profile. A null text gives the first profile's language,
  * as that fold does: every score is null, and `score > null` keeps
  * the head. */
case class LanguageIdExpr(child: Expression,
    profiles: Seq[(String, Seq[String])])
    extends UnaryExpression with ImplicitCastInputTypes
    with TextNormalizing {
  import org.apache.spark.sql.catalyst.expressions.codegen.Block._
  import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
  import org.apache.spark.sql.types.StringType
  import org.apache.spark.unsafe.types.UTF8String

  require(profiles.nonEmpty, "languageId needs at least one profile")
  private val langs = profiles.map(p => UTF8String.fromString(p._1)).toArray
  private val needles = profiles.map(p => StopwordScore.needles(p._2)).toArray

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "language_id"

  def pick(input: UTF8String): UTF8String = {
    if (input == null) return langs(0)
    val pad = StopwordScore.paddedBytes(input, collationId, icu)
    var best = 0
    var bestScore = StopwordScore.countAll(pad, needles(0))
    var i = 1
    while (i < needles.length) {
      val s = StopwordScore.countAll(pad, needles(i))
      if (s > bestScore) { best = i; bestScore = s }
      i += 1
    }
    langs(best)
  }

  override def eval(input: InternalRow): Any =
    pick(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("languageId", this,
      classOf[LanguageIdExpr].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      UTF8String ${ev.value} = $ref.pick(${c.isNull} ? null : ${c.value});
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : LanguageIdExpr = copy(child = newChild)
}

/** Byte walks over `trim(text)` (Spark's trim: spaces only) for the
  * whitespace statistics of TextOps.tokenCount and meanWordLen,
  * without a regex split or replace. Java regex `\s` is exactly the six
  * ASCII bytes `[ \t\n\x0B\f\r]`, and UTF-8 never holds an ASCII byte
  * inside a multi-byte character, so a byte walk sees the same runs as
  * `split(trim(text), '\s+')`. Not `Character.isWhitespace`: that also
  * takes U+001C–U+001F, which `\s` does not. Character counts assume
  * valid UTF-8, as every string decoded from parquet or built from a
  * Java `String` is. */
object WhitespaceScan {
  import org.apache.spark.unsafe.types.UTF8String

  private def isWs(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

  /** Pieces of `split(trim(s), '\s+')`, or 0 when `trim(s)` is empty:
    * 1 + the number of `\s` runs. */
  def tokens(s: UTF8String): Long = {
    var end = s.numBytes
    while (end > 0 && s.getByte(end - 1) == ' ') end -= 1
    var i = 0
    while (i < end && s.getByte(i) == ' ') i += 1
    if (i == end) return 0L
    var runs = 0L
    var inRun = false
    while (i < end) {
      val ws = isWs(s.getByte(i))
      if (ws && !inRun) runs += 1
      inRun = ws
      i += 1
    }
    runs + 1
  }

  /** `length(regexp_replace(trim(s), '\s+', ''))`: the characters of
    * `trim(s)` that are not `\s`. */
  def nonWsChars(s: UTF8String): Int = {
    var n = 0
    var i = 0
    while (i < s.numBytes) {
      val b = s.getByte(i)
      // a character starts at every byte that is not 10xxxxxx
      if ((b & 0xC0) != 0x80 && !isWs(b)) n += 1
      i += 1
    }
    n
  }
}

/** Whitespace token count, `split(trim(text), '\s+')`'s pieces and 0
  * for blank text, by [[WhitespaceScan.tokens]] — the fused form of
  * TextOps.tokenCount. A null text gives what the compositional form's
  * `size(null)` gives: −1 under `legacySizeOfNull` (ANSI off), null
  * under ANSI. The flag is read from the session at construction, as
  * `Size` reads it. */
case class WsTokenCountExpr(child: Expression, legacySizeOfNull: Boolean)
    extends UnaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.sql.catalyst.expressions.codegen.Block._
  import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
  import org.apache.spark.sql.types.StringType
  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = !legacySizeOfNull && child.nullable
  override def prettyName: String = "ws_token_count"

  def count(input: UTF8String): Long = WhitespaceScan.tokens(input)

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v != null) count(v.asInstanceOf[UTF8String])
    else if (legacySizeOfNull) -1L
    else null
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wsTokenCount", this,
      classOf[WsTokenCountExpr].getName)
    if (!legacySizeOfNull)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.count($c);")
    else {
      val c = child.genCode(ctx)
      ev.copy(code = code"""
        ${c.code}
        long ${ev.value} = ${c.isNull} ? -1L : $ref.count(${c.value});
        """, isNull = FalseLiteral)
    }
  }

  override protected def withNewChildInternal(newChild: Expression)
      : WsTokenCountExpr = copy(child = newChild)
}

object WsTokenCountExpr {
  def apply(child: Expression): WsTokenCountExpr = WsTokenCountExpr(child,
    org.apache.spark.sql.internal.SQLConf.get.legacySizeOfNull)
}

/** Non-whitespace character count of `trim(text)`,
  * `length(regexp_replace(trim(text), '\s+', ''))`, by
  * [[WhitespaceScan.nonWsChars]]: the numerator of
  * TextOps.meanWordLen. Null for a null text, as `length` is. */
case class NonWsCharCountExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.sql.types.{IntegerType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "non_ws_char_count"

  def count(input: UTF8String): Int = WhitespaceScan.nonWsChars(input)

  override protected def nullSafeEval(input: Any): Any =
    count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nonWsCharCount", this,
      classOf[NonWsCharCountExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.count($c);")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : NonWsCharCountExpr = copy(child = newChild)
}
