package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

/** Driver-side kernel for the unweighted shortest-path engines
  * ([[Traversals.shortestPathsFromTo]] / [[Traversals.shortestPathsPairs]])
  * — the round-13 driver-kernel recipe applied to the string-id
  * frontier-BFS family.
  *
  * Why: the distributed engines are frontier loops whose cost at bench
  * SF is ~30+ stages of job/planning latency over a warm 10–60 MB
  * partitioned-edge cache (measured r13: cy32 2.2 s, sp01 1.4 s clean)
  * — the data is tiny, the scheduling is not. When [[KernelGate]] admits
  * the endpoint lists and the forward hop-edge list (collected as it
  * is: no shuffle, no persisted copy; an undirected query's reverse
  * edges are added on the driver), BFS + path reconstruction run as
  * driver array code and the result returns as one local relation. A
  * declined gate or a work/output cap leaves the caller's distributed
  * plan (the 100 TB path), which builds its own partitioned table.
  *
  * Determinism contract (must match the distributed engines bit for
  * bit; pinned kernel-vs-distributed in TraversalSpec and
  * KernelGatePropertySpec):
  *  - ids are `UTF8String`s and dense vertex indices come from the
  *    gate's dictionary, in `UTF8String` binary (UTF-8 byte) order,
  *    Spark's string order, so integer index order reproduces it;
  *  - single-path mode keeps, per (source, vertex), the minimum
  *    `struct(pred, prededge)` — replicated as (min pred index, then
  *    the `UTF8String` binary order of the edge ids);
  *  - all-paths mode keeps every distinct minimal (pred, prededge) —
  *    adjacency triples are deduped exactly like the engine's
  *    `collect_set`, and the backward walk enumerates every route
  *    (parallel edges stay distinct by edge id);
  *  - self pairs (source == target) emit (id, id, [id], [], 0) exactly
  *    like the engines' `__a === __b` branch; unreachable pairs emit
  *    nothing. The gate's dense edges and the CSR are built from the
  *    input on every call; nothing of it is cached.
  */
private[graft] object LocalPathKernel {

  /** Hard caps for the driver-side work and the local-relation result:
    * past either, the kernel aborts and the distributed plan runs.
    * (Adjacency-entry scans bound BFS work; output rows bound the
    * all-shortest-paths combinatorial fan-out.) */
  private val MaxWork = 64000000L
  private val MaxOutputRows = 1000000

  /** The hop-edge graph over the gate's dense ids `d` (dense index order
    * is Spark's string order); CSR adjacency whose entry k is the edge
    * (src=segment owner, dst=adjV(k), id=eids(k)). */
  private final class G(d: KernelGate.DenseEdges[UTF8String],
      val off: Array[Int], val adjV: Array[Int], val eids: Array[UTF8String]) {
    def ids: Array[UTF8String] = d.ids
    def n: Int = d.n
    def indexOf(id: UTF8String): Int = d.indexOf(id)
  }

  /** The directed CSR of the gate's (src, dst, eid) hop edges, each
    * also as (dst, src, eid) when `undirected`, with duplicate triples
    * dropped, matching the engines' per-group `collect_set` dedup (a
    * self-loop's two directions are one triple). A counting sort on src
    * places the entries; each adjacency segment is then sorted by
    * (dst, eid) in place, so duplicates sit side by side. */
  private def buildGraph(d: KernelGate.DenseEdges[UTF8String],
      undirected: Boolean): G = {
    val m0 = d.m
    val m = if (undirected) 2 * m0 else m0
    // entry k < m0 is edge k forward, entry m0 + k edge k backward
    def from(k: Int) = if (k < m0) d.src(k) else d.dst(k - m0)
    def to(k: Int) = if (k < m0) d.dst(k) else d.src(k - m0)
    def eid(k: Int) = d.payload(if (k < m0) k else k - m0)
    val off = new Array[Int](d.n + 1)
    var k = 0
    while (k < m) { off(from(k) + 1) += 1; k += 1 }
    var j = 0
    while (j < d.n) { off(j + 1) += off(j); j += 1 }
    // (dst << 32 | entry) in src segments; sorting a segment orders it
    // by dst, leaving only parallel edges (runs of one dst) to order
    val packed = new Array[Long](m)
    val fill = java.util.Arrays.copyOf(off, d.n)
    k = 0
    while (k < m) {
      val u = from(k)
      packed(fill(u)) = (to(k).toLong << 32) | k
      fill(u) += 1
      k += 1
    }
    val byEid: java.util.Comparator[java.lang.Long] =
      (x, y) => eid(x.intValue).binaryCompare(eid(y.intValue))
    val adjV = new Array[Int](m)
    val eids = new Array[UTF8String](m)
    var w = 0 // entries kept; segments compact left in place
    j = 0
    while (j < d.n) {
      val lo = off(j); val hi = off(j + 1)
      off(j) = w
      java.util.Arrays.sort(packed, lo, hi)
      var a = lo
      while (a < hi) {
        val v = (packed(a) >>> 32).toInt
        var b = a + 1
        while (b < hi && (packed(b) >>> 32).toInt == v) b += 1
        if (b - a > 1) {
          val run = packed.slice(a, b).map(java.lang.Long.valueOf)
          java.util.Arrays.sort(run, byEid)
          run.indices.foreach(r => packed(a + r) = run(r))
        }
        var r = a
        while (r < b) {
          val e = eid(packed(r).toInt)
          if (r == a || e != eids(w - 1)) { adjV(w) = v; eids(w) = e; w += 1 }
          r += 1
        }
        a = b
      }
      j += 1
    }
    off(d.n) = w
    new G(d, off, adjV, eids)
  }

  private type OutRow = (String, String, Seq[String], Seq[String], Long)

  /** Multi-source BFS + backward reconstruction over the decoded graph.
    * `targetsOf(sIdx)` yields this source's wanted target indices
    * (never containing the source itself — self rows are the caller's
    * job). Returns false when a work/output cap trips. */
  private def runBfs(g: G, sources: Array[Int],
      targetsOf: Int => java.util.HashSet[Integer], maxDepth: Int,
      all: Boolean, out: scala.collection.mutable.ArrayBuffer[OutRow])
      : Boolean = {
    val n = g.n
    val dist = new Array[Int](n)
    val seen = new Array[Int](n)
    var epoch = 0
    // per-vertex minimal predecessors, packed (pred << 32 | edge);
    // single mode keeps exactly one entry
    val preds = new Array[scala.collection.mutable.ArrayBuffer[Long]](n)
    var work = 0L
    var frontier = new Array[Int](16)
    var next = new Array[Int](16)
    val pathV = new Array[Int](maxDepth + 1)
    val pathE = new Array[Int](math.max(1, maxDepth))

    def predAdd(v: Int, u: Int, e: Int): Unit = {
      var buf = preds(v)
      if (buf == null) {
        buf = new scala.collection.mutable.ArrayBuffer[Long](2)
        preds(v) = buf
      }
      val packed = (u.toLong << 32) | (e.toLong & 0xffffffffL)
      if (buf.isEmpty || all) { buf += packed; return }
      // single mode: keep min struct(pred, prededge) — pred index order
      // IS Spark's string order; the rare same-pred tie (parallel
      // edges) compares the edge ids in the same order
      val cur = buf(0)
      val cu = (cur >>> 32).toInt
      if (u < cu || (u == cu &&
          g.eids(e).binaryCompare(g.eids((cur & 0xffffffffL).toInt)) < 0))
        buf(0) = packed
    }

    // backward DFS from the target: each distinct minimal (pred, edge)
    // choice sequence is one route; depth ≤ maxDepth so recursion is
    // shallow. Returns false when the output cap trips.
    def rec(sId: String, t: Int, len: Int, v: Int, dd: Int): Boolean = {
      pathV(dd) = v
      if (dd == 0) {
        if (out.length >= MaxOutputRows) return false
        val pv = new Array[String](len + 1)
        val pe = new Array[String](len)
        var x = 0
        while (x <= len) { pv(x) = g.ids(pathV(x)).toString; x += 1 }
        x = 0
        while (x < len) { pe(x) = g.eids(pathE(x)).toString; x += 1 }
        out += ((sId, g.ids(t).toString,
          scala.collection.immutable.ArraySeq.unsafeWrapArray(pv),
          scala.collection.immutable.ArraySeq.unsafeWrapArray(pe),
          len.toLong))
        true
      } else {
        val buf = preds(v)
        var pi = 0
        while (pi < buf.length) {
          val packed = buf(pi)
          pathE(dd - 1) = (packed & 0xffffffffL).toInt
          if (!rec(sId, t, len, (packed >>> 32).toInt, dd - 1)) return false
          pi += 1
        }
        true
      }
    }

    var si = 0
    while (si < sources.length) {
      val s = sources(si)
      epoch += 1
      val wanted = targetsOf(s)
      var remaining = wanted.size
      if (remaining > 0) {
        seen(s) = epoch; dist(s) = 0
        frontier(0) = s
        var fLen = 1
        var d = 0
        val found = new scala.collection.mutable.ArrayBuffer[Int]()
        while (d < maxDepth && fLen > 0 && remaining > 0) {
          d += 1
          var nLen = 0
          var fi = 0
          while (fi < fLen) {
            val u = frontier(fi)
            var k = g.off(u)
            val ke = g.off(u + 1)
            work += (ke - k)
            while (k < ke) {
              val v = g.adjV(k)
              if (seen(v) != epoch) {
                seen(v) = epoch; dist(v) = d
                if (preds(v) != null) preds(v).clear()
                predAdd(v, u, k)
                if (nLen == next.length)
                  next = java.util.Arrays.copyOf(next, next.length * 2)
                next(nLen) = v; nLen += 1
                if (wanted.contains(v)) { found += v; remaining -= 1 }
              } else if (dist(v) == d) {
                predAdd(v, u, k)
              }
              k += 1
            }
            fi += 1
          }
          if (work > MaxWork) return false
          val tmp = frontier; frontier = next; next = tmp
          fLen = nLen
        }
        val sId = g.ids(s).toString
        var ti = 0
        while (ti < found.length) {
          val t = found(ti)
          if (!rec(sId, t, dist(t), t, dist(t))) return false
          ti += 1
        }
      }
      si += 1
    }
    true
  }

  private def toDf(spark: SparkSession,
      rows: scala.collection.mutable.ArrayBuffer[OutRow]): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("__a", "__b", "path", "epath", "length")
  }

  /** The (eid, src, dst) hop edges as a CSR over dense ids, with the
    * eid as payload; uncached, the frame is new on every call. */
  private def hopGraph(in: KernelGate.Inputs, edges: DataFrame,
      undirected: Boolean): Option[G] =
    in.edges[UTF8String](edges, payload = Some("eid"), cache = false)
      .flatMap { d =>
        if (undirected && d.m > Int.MaxValue / 2)
          in.decline("too many edges to symmetrize")
        else Some(buildGraph(d, undirected))
      }

  private def selfRow(id: UTF8String): OutRow = {
    val s = id.toString
    (s, s, Seq(s), Seq.empty, 0L)
  }

  /** Kernel for [[Traversals.shortestPathsFromTo]]: every (source,
    * target) pair, self rows included. `edges`: the forward hop-edge
    * frame (eid, src, dst), read once as it is; with `undirected` the
    * kernel adds each edge's reverse itself. */
  def fromTo(edges: DataFrame, undirected: Boolean, srcs: DataFrame,
      tgts: DataFrame, maxDepth: Int, all: Boolean): Option[DataFrame] = {
    val spark = srcs.sparkSession
    KernelGate("paths.fromTo", spark) { in =>
      for {
        srcL <- in.list[UTF8String](srcs)
        tgtL <- in.list[UTF8String](tgts)
        g <- hopGraph(in, edges, undirected)
        result <- {
          val out = new scala.collection.mutable.ArrayBuffer[OutRow]()
          // dedup driver-side (the engines dropDuplicates)
          val srcIds = srcL.head.distinct
          val tgtSet = tgtL.head.toSet
          // self rows: srcs ∩ tgts, graph membership irrelevant
          srcIds.filter(tgtSet).foreach(out += selfRow(_))
          // targets resolved to dense indices once, shared per source
          // (runBfs only reads the set); a source that is itself a target
          // gets a copy with itself removed
          val tgtIdx = new java.util.HashSet[Integer]()
          tgtSet.map(g.indexOf).filter(_ >= 0).foreach(tgtIdx.add(_))
          def targetsOf(s: Int): java.util.HashSet[Integer] =
            if (tgtIdx.contains(s)) {
              val set = new java.util.HashSet[Integer](tgtIdx)
              set.remove(Integer.valueOf(s))
              set
            } else tgtIdx
          if (runBfs(g, srcIds.map(g.indexOf).filter(_ >= 0), targetsOf,
              maxDepth, all, out))
            Some(toDf(spark, out))
          else in.decline("work or output cap")
        }
      } yield result
    }
  }

  /** Kernel for [[Traversals.shortestPathsPairs]]: explicit (source,
    * target) pair list, deduped driver-side exactly like the engine's
    * dropDuplicates; `edges` and `undirected` as for [[fromTo]]. */
  def pairsPaths(edges: DataFrame, undirected: Boolean, pairs: DataFrame,
      maxDepth: Int, all: Boolean): Option[DataFrame] = {
    val spark = pairs.sparkSession
    val pairProj = pairs.select(pairs.columns(0), pairs.columns(1))
    KernelGate("paths.pairs", spark) { in =>
      for {
        pairL <- in.list[UTF8String](pairProj)
        g <- hopGraph(in, edges, undirected)
        result <- {
          val out = new scala.collection.mutable.ArrayBuffer[OutRow]()
          val seenPair = new java.util.HashSet[(UTF8String, UTF8String)]()
          // per-source wanted target sets, in first-seen source order
          val perSource = scala.collection.mutable
            .LinkedHashMap[Int, java.util.HashSet[Integer]]()
          pairL(0).indices.foreach { r =>
            val a = pairL(0)(r); val b = pairL(1)(r)
            if (seenPair.add((a, b))) {
              if (a == b) out += selfRow(a)
              else {
                val ai = g.indexOf(a); val bi = g.indexOf(b)
                if (ai >= 0 && bi >= 0) perSource.getOrElseUpdate(ai,
                  new java.util.HashSet[Integer]()).add(bi)
              }
            }
          }
          if (runBfs(g, perSource.keys.toArray, perSource, maxDepth, all,
              out))
            Some(toDf(spark, out))
          else in.decline("work or output cap")
        }
      } yield result
    }
  }
}
