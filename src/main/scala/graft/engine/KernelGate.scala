package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.{IntegerType, LongType, ShortType, StringType}

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
  * ([[MaxEdgesKey]]), the id-type and null checks, the size probe and
  * the collect; a kernel may still decline on its own work caps
  * ([[Inputs.decline]]). A declined kernel returns None and the caller
  * runs its distributed plan: `kernel(...).getOrElse(distributed)`.
  * Each decision is reported once, as a `spark.graft.debug` line with
  * kernel, probed rows, bound, leg and reason.
  *
  * Probes. An edge frame is counted first and then collected by Spark's
  * parallel collect: a `limit(bound + 1)` collect would funnel every
  * row through one task and one driver decode thread (measured ~1 s for
  * the 1.2M-edge sf0.1 co-purchase graph). The count is kept per session
  * on the frame's plan ([[SessionCache]]; kernel inputs are immutable
  * within a session), so an over-bound graph costs one count per
  * session. Small endpoint and pair lists take one `limit(bound + 1)`
  * job instead, which saves a scheduled job at their size.
  *
  * Caching. Long-id inputs are kept packed per plan in [[SessionCache]]
  * (the six gates over the co-purchase graph share one array) unless
  * the caller opts out; string-id inputs are collected on every call.
  */
private[graft] object KernelGate {

  /** Conf: max rows of any one kernel input (an edge, vertex or
    * endpoint list); 0 or less declines every kernel. Default 4M edges
    * ≈ 64 MB packed ≈ 40 MB as a broadcast CSR, the small-broadcast
    * class on any driver. A per-GRAPH bound, not a per-SF one
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
      java.lang.Long.valueOf(df.count())).longValue

  /** The inputs one kernel has asked for; every method returns None
    * (and records why) when the kernel must decline. */
  final class Inputs private[KernelGate] (max: Long) {
    private[KernelGate] var rows = 0L
    private[KernelGate] var reason = "fits"

    def decline(why: String): Option[Nothing] = { reason = why; None }

    private def fits(n: Long): Boolean = {
      rows += n
      n <= max || { reason = "over bound"; false }
    }

    /** The `ids` columns of `df` (integral: the dense-index mapping
      * needs a total numeric order) as longs, then its `weights` as
      * doubles in raw IEEE bits, packed row-major. `counted` is the
      * caller's own count of a frame it just materialized: no count
      * job runs. A cached array is shared: never mutate it. */
    def longs(df: DataFrame, ids: Seq[String], weights: Seq[String] = Nil,
        cache: Boolean = true, counted: Option[Long] = None)
        : Option[Array[Long]] = {
      val integral = ids.forall(c => df.schema(c).dataType match {
        case LongType | IntegerType | ShortType => true
        case _ => false
      })
      if (!integral) return decline("non-integral ids")
      val proj = df.select(ids.map(col(_).cast("long")) ++
        weights.map(col(_).cast("double")): _*)
      if (!fits(counted.getOrElse(countOnce(proj)))) return None
      // raw UnsafeRows: no external-Row conversion (two boxed longs per
      // edge on a millions-of-edges collect), collected as one SQL
      // execution so the tasks see the session's conf
      def collect() = pack(
        shims.action(proj, "kernel.longs")(_.executeCollect()),
        ids.length, ids.length + weights.length)
      val packed =
        if (cache) SessionCache.ofPlan("kernel.longs", proj)(collect())
        else collect()
      if (packed == null) decline("null id") else Some(packed)
    }

    /** Every column of `df` as strings. `small`: an endpoint or pair
      * list, probed by one `limit(bound + 1)` job. */
    def strings(df: DataFrame, small: Boolean = false)
        : Option[Array[Row]] = {
      if (df.schema.exists(_.dataType != StringType))
        return decline("non-string ids")
      val out =
        if (small) df.limit(math.min(max, Int.MaxValue - 1L).toInt + 1)
          .collect()
        else if (!fits(countOnce(df))) return None
        else df.collect()
      if (small && !fits(out.length)) None
      else if (out.exists(_.anyNull)) decline("null id")
      else Some(out)
    }
  }

  /** Row-major longs, or null when any value is null (the null reading
    * back as 0 would invent a vertex). */
  private def pack(rows: Array[InternalRow], nIds: Int, width: Int)
      : Array[Long] = {
    val out = new Array[Long](rows.length * width)
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      if (r.anyNull) return null
      var j = 0
      while (j < width) {
        out(i * width + j) =
          if (j < nIds) r.getLong(j)
          else java.lang.Double.doubleToRawLongBits(r.getDouble(j))
        j += 1
      }
      i += 1
    }
    out
  }

  /** Runs `kernel` on the driver when its inputs pass the gate. */
  def apply[A](kernel: String, spark: SparkSession)(
      body: Inputs => Option[A]): Option[A] = {
    val max = maxEdges(spark)
    val in = new Inputs(max)
    val out = if (max > 0) body(in) else in.decline("disabled")
    graft.util.Dbg(spark, s"[kernel] $kernel rows=${in.rows} bound=$max " +
      s"leg=${if (out.isDefined) "driver" else "distributed"} " +
      s"reason=${in.reason}")
    out
  }
}
