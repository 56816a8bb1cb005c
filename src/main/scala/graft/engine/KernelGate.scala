package graft.engine

import java.util.stream.IntStream

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The one "collect to the driver or stay distributed" decision for
  * every driver-side graph kernel: the long-id kernels of
  * [[LocalGraphKernels]], the string-id path kernels of
  * [[LocalPathKernel]] and [[StarCC]]'s driver leg. The same choice a
  * broadcast-hash join makes (OPTIMIZATION_r13.md): a graph that fits
  * comfortably on the driver runs as array code there, anything larger
  * keeps the distributed plan.
  *
  * A kernel runs inside [[KernelGate.apply]] and asks its [[Inputs]]
  * for each frame it needs on the driver. The gate owns the bound
  * ([[MaxEdgesKey]]), the id-type and null checks, the size probe, the
  * collect and the vertex dictionary: an edge frame arrives as
  * [[DenseEdges]], its endpoints already dense indices in Spark's id
  * order, so no kernel sorts or searches ids itself. A kernel may still
  * decline on its own work caps ([[Inputs.decline]]). A declined kernel
  * returns None and the caller runs its distributed plan:
  * `kernel(...).getOrElse(distributed)`. Each decision is reported once,
  * as a `spark.graft.debug` line with kernel, probed rows, dictionary
  * size n, bound, leg and reason.
  *
  * Probes. An edge frame is counted first and then collected by Spark's
  * parallel collect: a `limit(bound + 1)` collect would funnel every
  * row through one task and one driver decode thread (measured ~1 s for
  * the 1.2M-edge sf0.1 co-purchase graph). The count of a cached input
  * is kept per session on the frame's plan ([[SessionCache]]; kernel
  * inputs are immutable within a session), so an over-bound graph costs
  * one count per session. Small endpoint and pair lists take one
  * `limit(bound + 1)` job instead, which saves a scheduled job at their
  * size.
  *
  * Caching. Every input is read as raw `UnsafeRow`s, with no external
  * `Row` conversion. An edge frame's count and [[DenseEdges]] are kept
  * per plan in [[SessionCache]] (the six gates over the co-purchase
  * graph share one) unless the caller opts out, as the path kernels and
  * StarCC do: their frames are new on every call, so nothing of them is
  * kept. A kernel collects its input as it is, unshuffled: a persisted
  * or repartitioned copy of an edge table is an input of distributed
  * legs only (the path kernels read the plain forward hop edges and
  * symmetrize them on the driver; [[Traversals]]' partitioned edge
  * table feeds only its frontier loops).
  */
private[graft] object KernelGate {

  /** Conf: max rows of any one kernel input (an edge or endpoint list);
    * 0 or less declines every kernel. Default 4M edges ≈ 32 MB as dense
    * ids ≈ 40 MB as a broadcast CSR, the small-broadcast class on any
    * driver. A per-GRAPH bound, not a per-SF one
    * (OPTIMIZATION_r13.md): a 100 TB run whose extracted subgraph is
    * under it (a per-tenant slice) takes the kernel; the full
    * co-purchase graph at sf1+ keeps the distributed plan. */
  val MaxEdgesKey = "spark.graft.graph.localKernelMaxEdges"

  private def maxEdges(spark: SparkSession): Long = {
    val v = spark.conf.get(MaxEdgesKey, "4000000")
    try v.trim.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"$MaxEdgesKey must be a row count (0 disables the driver " +
          s"kernels), got: '$v'")
    }
  }

  /** Count of `df`, cached per session on its plan. */
  private def countOnce(df: DataFrame): Long =
    SessionCache.ofPlan("kernel.count", df)(
      java.lang.Long.valueOf(countRows(df))).longValue

  /** Count of `df`, run as the running Cypher statement chose
    * ([[CompileGate.interpreted]]), as every probe and collect here. */
  private def countRows(df: DataFrame): Long =
    CompileGate.interpreted(df).count()

  /** A vertex id type a kernel emits, with Spark's order on it. */
  sealed abstract class VertexKey[I] {
    private[KernelGate] val what: String
    private[KernelGate] def admits(t: DataType): Boolean
    private[KernelGate] def cast(c: Column): Column
    /** Column `ord` of every row. */
    private[KernelGate] def column(rows: Array[InternalRow], ord: Int)
        : Array[I]
    /** The distinct values of `a` ∪ `b` in Spark's order, and the
      * index in them of each value of `a` and of `b`. */
    private[KernelGate] def dense(a: Array[I], b: Array[I])
        : (Array[I], Array[Int], Array[Int])
    /** Index of `id` in `ids` (as [[dense]] returns them), negative
      * when absent. */
    private[KernelGate] def search(ids: Array[I], id: I): Int
    private[KernelGate] def bytes(ids: Array[I]): Long
  }

  /** `f` of every element of `a`, in parallel. */
  private def parallelMap[I](a: Array[I])(f: I => Int): Array[Int] = {
    val out = new Array[Int](a.length)
    IntStream.range(0, a.length).parallel().forEach(i => out(i) = f(a(i)))
    out
  }

  /** Integral columns cast to long, in numeric order. */
  implicit object LongIds extends VertexKey[Long] {
    private[KernelGate] val what = "integral"
    private[KernelGate] def admits(t: DataType) = t match {
      case LongType | IntegerType | ShortType => true
      case _ => false
    }
    private[KernelGate] def cast(c: Column) = c.cast("long")
    private[KernelGate] def column(rows: Array[InternalRow], ord: Int) = {
      val out = new Array[Long](rows.length)
      var i = 0
      while (i < rows.length) { out(i) = rows(i).getLong(ord); i += 1 }
      out
    }
    private[KernelGate] def dense(a: Array[Long], b: Array[Long]) = {
      val all = a ++ b
      java.util.Arrays.parallelSort(all)
      var n = 0
      var i = 0
      while (i < all.length) {
        if (n == 0 || all(i) != all(n - 1)) { all(n) = all(i); n += 1 }
        i += 1
      }
      val ids = java.util.Arrays.copyOf(all, n)
      (ids, parallelMap(a)(search(ids, _)), parallelMap(b)(search(ids, _)))
    }
    private[KernelGate] def search(ids: Array[Long], id: Long) =
      java.util.Arrays.binarySearch(ids, id)
    private[KernelGate] def bytes(ids: Array[Long]) = 16L + 8L * ids.length
  }

  /** String columns as `UTF8String`s in binary (UTF-8 byte) order,
    * Spark's string order; Java's `String` order differs from it above
    * U+FFFF. The strings point into their collected rows. */
  implicit object StringIds extends VertexKey[UTF8String] {
    private val order: java.util.Comparator[UTF8String] = _ binaryCompare _
    private[KernelGate] val what = "string"
    private[KernelGate] def admits(t: DataType) = t == StringType
    private[KernelGate] def cast(c: Column) = c
    private[KernelGate] def column(rows: Array[InternalRow], ord: Int) =
      rows.map(_.getUTF8String(ord))
    /** Hashes to the distinct ids, sorts only those, and maps every
      * endpoint through the same hash map. */
    private[KernelGate] def dense(a: Array[UTF8String],
        b: Array[UTF8String]) = {
      val index = new java.util.HashMap[UTF8String, Integer]()
      val absent = Integer.valueOf(-1)
      a.foreach(index.putIfAbsent(_, absent))
      b.foreach(index.putIfAbsent(_, absent))
      val ids = index.keySet.toArray(new Array[UTF8String](index.size))
      java.util.Arrays.parallelSort(ids, order)
      var i = 0
      while (i < ids.length) { index.put(ids(i), i); i += 1 }
      (ids, parallelMap(a)(index.get(_).intValue),
        parallelMap(b)(index.get(_).intValue))
    }
    private[KernelGate] def search(ids: Array[UTF8String], id: UTF8String) =
      java.util.Arrays.binarySearch(ids, id, order)
    private[KernelGate] def bytes(ids: Array[UTF8String]) =
      ids.foldLeft(16L)(_ + 56L + _.numBytes)
  }

  /** An edge frame in dense vertex ids: `ids` sorted and distinct in
    * Spark's order ([[VertexKey]]), so dense index order is id order and
    * a tie-break on indices is Spark's; edge `e` runs `src(e)` →
    * `dst(e)`, with `weights(e)` and `payload(e)` when the caller asked
    * for them (else null). A cached one is shared: never mutate it. */
  final class DenseEdges[I] private[KernelGate] (val ids: Array[I],
      val src: Array[Int], val dst: Array[Int], val weights: Array[Double],
      val payload: Array[UTF8String], key: VertexKey[I]) {
    def n: Int = ids.length
    def m: Int = src.length

    /** Dense index of `id`; negative when it is no vertex. */
    def indexOf(id: I): Int = key.search(ids, id)

    /** Driver heap bytes, for [[SessionCache]]'s budget. */
    def bytes: Long = key.bytes(ids) + 32L + 8L * m +
      (if (weights == null) 0L else 16L + 8L * m) +
      (if (payload == null) 0L else StringIds.bytes(payload))
  }

  /** The inputs one kernel has asked for; every method returns None
    * (and records why) when the kernel must decline. */
  final class Inputs private[KernelGate] (max: Long) {
    private[KernelGate] var rows = 0L
    private[KernelGate] var n = 0
    private[KernelGate] var reason = "fits"

    def decline(why: String): Option[Nothing] = { reason = why; None }

    private def fits(count: Long): Boolean = {
      rows += count
      count <= max || { reason = "over bound"; false }
    }

    /** `df`'s `src` → `dst` edges in dense ids, with the `weight` column
      * as doubles and the `payload` column as strings when named.
      * `counted` is the caller's own count of a frame it just
      * materialized: no count job runs. */
    def edges[I](df: DataFrame, src: String = "src", dst: String = "dst",
        weight: Option[String] = None, payload: Option[String] = None,
        cache: Boolean = true, counted: Option[Long] = None)(
        implicit key: VertexKey[I]): Option[DenseEdges[I]] = {
      if (!key.admits(df.schema(src).dataType) ||
          !key.admits(df.schema(dst).dataType))
        return decline(s"non-${key.what} ids")
      val proj = df.select(Seq(key.cast(col(src)), key.cast(col(dst))) ++
        weight.map(col(_).cast("double")) ++
        payload.map(col(_).cast("string")): _*)
      val count =
        counted.getOrElse(if (cache) countOnce(proj) else countRows(proj))
      if (!fits(count)) return None
      def build(): DenseEdges[I] = {
        // one SQL execution, so the tasks see the session's conf
        val rs = shims.action(CompileGate.interpreted(proj), "kernel.edges")(
          _.executeCollect())
        // a null read back as 0 or "" would invent a vertex
        if (rs.exists(_.anyNull)) return null
        val (ids, s, d) = key.dense(key.column(rs, 0), key.column(rs, 1))
        new DenseEdges(ids, s, d,
          if (weight.isEmpty) null else rs.map(_.getDouble(2)),
          if (payload.isEmpty) null
          else StringIds.column(rs, 2 + weight.size), key)
      }
      val out =
        if (cache) SessionCache.ofPlan("kernel.edges", proj)(build())
        else build()
      if (out == null) decline("null id")
      else { n = out.n; Some(out) }
    }

    /** Every column of a small list (endpoints, seeds, pairs), probed
      * by one `limit(bound + 1)` job; map its ids to indices with
      * [[DenseEdges.indexOf]]. */
    def list[I](df: DataFrame)(implicit key: VertexKey[I])
        : Option[IndexedSeq[Array[I]]] = {
      if (!df.schema.forall(f => key.admits(f.dataType)))
        return decline(s"non-${key.what} ids")
      val rs = shims.action(CompileGate.interpreted(
        df.select(df.columns.toSeq.map(c => key.cast(col(c))): _*)
          .limit(math.min(max, Int.MaxValue - 1L).toInt + 1)),
        "kernel.list")(_.executeCollect())
      if (!fits(rs.length)) None
      else if (rs.exists(_.anyNull)) decline("null id")
      else Some(df.columns.indices.map(key.column(rs, _)))
    }
  }

  /** Runs `kernel` on the driver when its inputs pass the gate. */
  def apply[A](kernel: String, spark: SparkSession)(
      body: Inputs => Option[A]): Option[A] = {
    val max = maxEdges(spark)
    val in = new Inputs(max)
    val out = if (max > 0) body(in) else in.decline("disabled")
    graft.util.Dbg(spark, s"[kernel] $kernel rows=${in.rows} n=${in.n} " +
      s"bound=$max leg=${if (out.isDefined) "driver" else "distributed"} " +
      s"reason=${in.reason}")
    out
  }
}
