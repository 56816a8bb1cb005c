package graft.engine

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Driver-side kernel for the unweighted shortest-path engines
  * ([[Traversals.shortestPathsFromTo]] / [[Traversals.shortestPathsPairs]])
  * — the round-13 driver-kernel recipe applied to the string-id
  * frontier-BFS family.
  *
  * Why: the distributed engines are frontier loops whose cost at bench
  * SF is ~30+ stages of job/planning latency over a warm 10–60 MB
  * partitioned-edge cache (measured r13: cy32 2.2 s, sp01 1.4 s clean)
  * — the data is tiny, the scheduling is not. When [[KernelGate]] admits
  * the endpoint lists and the hop-edge list (collected from the same
  * persisted cache the distributed path uses), BFS + path
  * reconstruction run as driver array code and the result returns as
  * one local relation. A declined gate or a work/output cap leaves the
  * caller's distributed plan (the 100 TB path).
  *
  * Determinism contract (must match the distributed engines bit for
  * bit; pinned kernel-vs-distributed in TraversalSpec and
  * KernelGatePropertySpec):
  *  - dense vertex indices are assigned in ascending UTF-8 BINARY
  *    order (Spark's UTF8String comparison), so integer index order
  *    reproduces Spark's string order;
  *  - single-path mode keeps, per (source, vertex), the minimum
  *    `struct(pred, prededge)` — replicated as (min pred index, then
  *    min edge-id bytes);
  *  - all-paths mode keeps every distinct minimal (pred, prededge) —
  *    adjacency triples are deduped exactly like the engine's
  *    `collect_set`, and the backward walk enumerates every route
  *    (parallel edges stay distinct by edge id);
  *  - self pairs (source == target) emit (id, id, [id], [], 0) exactly
  *    like the engines' `__a === __b` branch; unreachable pairs emit
  *    nothing. The decoded graph is rebuilt from the input on every
  *    call; only the gate's edge count is cached.
  */
private[graft] object LocalPathKernel {

  /** Hard caps for the driver-side work and the local-relation result:
    * past either, the kernel aborts and the distributed plan runs.
    * (Adjacency-entry scans bound BFS work; output rows bound the
    * all-shortest-paths combinatorial fan-out.) */
  private val MaxWork = 64000000L
  private val MaxOutputRows = 1000000

  private def utf8(s: String): Array[Byte] =
    s.getBytes(StandardCharsets.UTF_8)

  /** The decoded hop-edge graph: `ids` sorted by UTF-8 bytes (dense
    * idx order == Spark string order); CSR adjacency whose entry k is
    * the edge (src=segment owner, dst=adjV(k), id=eids(k)). */
  private final class G(val ids: Array[String], val off: Array[Int],
      val adjV: Array[Int], val eids: Array[String],
      val index: java.util.HashMap[String, Integer]) {
    def n: Int = ids.length
  }

  /** Decode the (eid, src, dst) hop-edge rows (null-free: the gate
    * declines a null id) into a dense CSR — parallel over driver cores
    * (the single-threaded form measured 1.7 s at 766k edges, dominating
    * the kernel it fed). Duplicate (src, eid, dst) triples are dropped,
    * matching the engines' per-group `collect_set` dedup. */
  private def buildGraph(edgeRows: Array[Row]): G = {
    val m0 = edgeRows.length
    val srcA = new Array[String](m0)
    val dstA = new Array[String](m0)
    val eidA = new Array[String](m0)
    java.util.stream.IntStream.range(0, m0).parallel().forEach { i =>
      val r = edgeRows(i)
      eidA(i) = r.getString(0); srcA(i) = r.getString(1)
      dstA(i) = r.getString(2)
    }
    // vertex dictionary: endpoints sorted by UTF-8 bytes (dense index
    // order == Spark string order); bytes precomputed once, indices
    // sorted in parallel, then uniqued
    val nAll = 2 * m0
    val allS = new Array[String](nAll)
    System.arraycopy(srcA, 0, allS, 0, m0)
    System.arraycopy(dstA, 0, allS, m0, m0)
    val allB = new Array[Array[Byte]](nAll)
    java.util.stream.IntStream.range(0, nAll).parallel()
      .forEach(i => allB(i) = utf8(allS(i)))
    val order = new Array[Integer](nAll)
    java.util.stream.IntStream.range(0, nAll).parallel()
      .forEach(i => order(i) = Integer.valueOf(i))
    java.util.Arrays.parallelSort(order,
      new java.util.Comparator[Integer] {
        def compare(a: Integer, b: Integer): Int =
          java.util.Arrays.compareUnsigned(allB(a.intValue), allB(b.intValue))
      })
    var n = 0
    var i = 0
    while (i < nAll) {
      val o = order(i).intValue
      if (n == 0 || !java.util.Arrays.equals(allB(order(i - 1).intValue),
          allB(o)))
        { order(n) = order(i); n += 1 }
      i += 1
    }
    val ids = new Array[String](n)
    val index = new java.util.HashMap[String, Integer](n * 2)
    i = 0
    while (i < n) {
      ids(i) = allS(order(i).intValue)
      index.put(ids(i), i)
      i += 1
    }
    // endpoint lookups in parallel (read-only HashMap)
    val srcI = new Array[Int](m0)
    val dstI = new Array[Int](m0)
    java.util.stream.IntStream.range(0, m0).parallel().forEach { k =>
      srcI(k) = index.get(srcA(k)).intValue
      dstI(k) = index.get(dstA(k)).intValue
    }
    // triple dedup: sort edge indices by (src, dst, eid) and drop exact
    // repeats — equality (not order) is all dedup needs, so plain
    // String compareTo is a valid tie order here
    val eOrder = new Array[Integer](m0)
    java.util.stream.IntStream.range(0, m0).parallel()
      .forEach(k => eOrder(k) = Integer.valueOf(k))
    java.util.Arrays.parallelSort(eOrder,
      new java.util.Comparator[Integer] {
        def compare(x: Integer, y: Integer): Int = {
          val a = x.intValue; val b = y.intValue
          if (srcI(a) != srcI(b)) Integer.compare(srcI(a), srcI(b))
          else if (dstI(a) != dstI(b)) Integer.compare(dstI(a), dstI(b))
          else eidA(a).compareTo(eidA(b))
        }
      })
    val keep = new Array[Boolean](m0)
    java.util.stream.IntStream.range(0, m0).parallel().forEach { k =>
      val cur = eOrder(k).intValue
      if (k == 0) keep(cur) = true
      else {
        val prev = eOrder(k - 1).intValue
        keep(cur) = srcI(cur) != srcI(prev) || dstI(cur) != dstI(prev) ||
          eidA(cur) != eidA(prev)
      }
    }
    val off = new Array[Int](n + 1)
    i = 0
    while (i < m0) { if (keep(i)) off(srcI(i) + 1) += 1; i += 1 }
    var j = 0
    while (j < n) { off(j + 1) += off(j); j += 1 }
    val m = off(n)
    val cursor = java.util.Arrays.copyOf(off, n)
    val adjV = new Array[Int](m)
    val eids = new Array[String](m)
    i = 0
    while (i < m0) {
      if (keep(i)) {
        val p = cursor(srcI(i)); cursor(srcI(i)) += 1
        adjV(p) = dstI(i)
        eids(p) = eidA(i)
      }
      i += 1
    }
    new G(ids, off, adjV, eids, index)
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
      // edges) compares edge-id UTF-8 bytes on demand
      val cur = buf(0)
      val cu = (cur >>> 32).toInt
      if (u < cu || (u == cu && java.util.Arrays.compareUnsigned(
          utf8(g.eids(e)), utf8(g.eids((cur & 0xffffffffL).toInt))) < 0))
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
        while (x <= len) { pv(x) = g.ids(pathV(x)); x += 1 }
        x = 0
        while (x < len) { pe(x) = g.eids(pathE(x)); x += 1 }
        out += ((sId, g.ids(t),
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
        val sId = g.ids(s)
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

  /** Kernel for [[Traversals.shortestPathsFromTo]]: every (source,
    * target) pair, self rows included. `edges`: the hop-edge frame
    * (eid, src, dst) — pass the shared partitioned cache so the collect
    * and any distributed fallback read the same persisted table. */
  def fromTo(edges: => DataFrame, srcs: DataFrame, tgts: DataFrame,
      maxDepth: Int, all: Boolean): Option[DataFrame] = {
    val spark = srcs.sparkSession
    KernelGate("paths.fromTo", spark) { in =>
      for {
        srcRows <- in.strings(srcs, small = true)
        tgtRows <- in.strings(tgts, small = true)
        edgeRows <- in.strings(edges)
        result <- {
          val g = buildGraph(edgeRows)
          val out = new scala.collection.mutable.ArrayBuffer[OutRow]()
          // dedup driver-side (the engines dropDuplicates)
          val srcSet = new java.util.LinkedHashSet[String]()
          srcRows.foreach(r => srcSet.add(r.getString(0)))
          val tgtSet = new java.util.HashSet[String]()
          tgtRows.foreach(r => tgtSet.add(r.getString(0)))
          // self rows: srcs ∩ tgts, graph membership irrelevant
          val sIt = srcSet.iterator()
          while (sIt.hasNext) {
            val s = sIt.next()
            if (tgtSet.contains(s)) out += ((s, s, Seq(s), Seq.empty, 0L))
          }
          // targets resolved to dense indices once, shared per source
          // (runBfs only reads the set); a source that is itself a target
          // gets a copy with itself removed
          val tgtIdx = new java.util.HashSet[Integer]()
          val tIt = tgtSet.iterator()
          while (tIt.hasNext) {
            val x = g.index.get(tIt.next())
            if (x != null) tgtIdx.add(x)
          }
          val sourceIdx = new scala.collection.mutable.ArrayBuffer[Int]()
          val sIt2 = srcSet.iterator()
          while (sIt2.hasNext) {
            val x = g.index.get(sIt2.next())
            if (x != null) sourceIdx += x.intValue
          }
          def targetsOf(s: Int): java.util.HashSet[Integer] =
            if (tgtIdx.contains(s)) {
              val set = new java.util.HashSet[Integer](tgtIdx)
              set.remove(Integer.valueOf(s))
              set
            } else tgtIdx
          if (runBfs(g, sourceIdx.toArray, targetsOf, maxDepth, all, out))
            Some(toDf(spark, out))
          else in.decline("work or output cap")
        }
      } yield result
    }
  }

  /** Kernel for [[Traversals.shortestPathsPairs]]: explicit (source,
    * target) pair list, deduped driver-side exactly like the engine's
    * dropDuplicates. */
  def pairsPaths(edges: => DataFrame, pairs: DataFrame, maxDepth: Int,
      all: Boolean): Option[DataFrame] = {
    val spark = pairs.sparkSession
    val pairProj = pairs.select(pairs.columns(0), pairs.columns(1))
    KernelGate("paths.pairs", spark) { in =>
      for {
        pairRows <- in.strings(pairProj, small = true)
        edgeRows <- in.strings(edges)
        result <- {
          val g = buildGraph(edgeRows)
          val out = new scala.collection.mutable.ArrayBuffer[OutRow]()
          val seenPair = new java.util.HashSet[(String, String)]()
          // per-source wanted target sets, in first-seen source order
          val perSource =
            new java.util.LinkedHashMap[Integer, java.util.HashSet[Integer]]()
          pairRows.foreach { r =>
            val a = r.getString(0); val b = r.getString(1)
            if (seenPair.add((a, b))) {
              if (a == b) out += ((a, a, Seq(a), Seq.empty, 0L))
              else {
                val ai = g.index.get(a); val bi = g.index.get(b)
                if (ai != null && bi != null) {
                  var set = perSource.get(ai)
                  if (set == null) {
                    set = new java.util.HashSet[Integer]()
                    perSource.put(ai, set)
                  }
                  set.add(bi)
                }
              }
            }
          }
          val sources = new Array[Int](perSource.size)
          val it = perSource.keySet.iterator()
          var i = 0
          while (it.hasNext) { sources(i) = it.next().intValue; i += 1 }
          if (runBfs(g, sources, s => perSource.get(Integer.valueOf(s)),
              maxDepth, all, out))
            Some(toDf(spark, out))
          else in.decline("work or output cap")
        }
      } yield result
    }
  }
}
