package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-side kernels for small long-id graphs: the wedge/triangle
  * family (link prediction, triangle support) and the iterative
  * operators (label propagation, integer PPR, k-core, weighted SSSP,
  * connected components) of [[GraphXBridge]].
  *
  * Why (OPTIMIZATION_r13.md): at sf0.1 the co-purchase graph is 20k
  * vertices / 1.2M canonical edges ≈ 10 MB as a CSR array, yet the
  * distributed wedge formulation shuffles the FULL Σ C(deg,2) wedge
  * stream (148M packed longs ≈ 1.0 GB measured) just to count pair
  * multiplicities that a broadcast adjacency counts in place; the
  * iterative operators spend their time in per-round job latency, not
  * data. Every kernel decides through [[KernelGate]], which sizes,
  * checks and collects its inputs; a declined kernel returns None and
  * the caller keeps the distributed (and, past the disk budget,
  * bucketed) plan.
  *
  * Determinism: dense vertex indices are assigned in ascending id
  * order, so dense order == id order and every tie-break below
  * reproduces the distributed plan's (common DESC, id1, id2) /
  * canonical-edge ordering exactly; counts are exact integers.
  * Equivalence is pinned in ScaleSpec and KernelGatePropertySpec
  * (kernel vs distributed on the same graphs).
  */
private[graft] object LocalGraphKernels {

  /** Symmetric CSR adjacency in dense index space: `ids` sorted
    * ascending (dense idx → original id), `off`/`nbr` the usual
    * offsets/targets arrays with each neighbor segment sorted. */
  final case class Csr(ids: Array[Long], off: Array[Int],
      nbr: Array[Int]) {
    def n: Int = ids.length
  }

  /** The id columns of a canonical edge frame. */
  private val SrcDst = Seq("src", "dst")

  /** `a` sorted in place; its distinct values, ascending. */
  private[engine] def sortedDistinct(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var n = 0
    var i = 0
    while (i < a.length) {
      if (n == 0 || a(i) != a(n - 1)) { a(n) = a(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(a, n)
  }

  /** Component label (its minimum id) of every id in `ids` (sorted,
    * distinct) under the packed pairs of `edges`, whose endpoints are
    * all in `ids`. Union-find that always parents the larger root under
    * the smaller, so a root is its component's minimum index, i.e. its
    * minimum id. */
  private[engine] def minLabels(ids: Array[Long], edges: Array[Long])
      : Array[Long] = {
    val parent = new Array[Int](ids.length)
    var i = 0
    while (i < parent.length) { parent(i) = i; i += 1 }
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    i = 0
    while (i < edges.length) {
      val ra = find(java.util.Arrays.binarySearch(ids, edges(i)))
      val rb = find(java.util.Arrays.binarySearch(ids, edges(i + 1)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      i += 2
    }
    val label = new Array[Long](ids.length)
    i = 0
    while (i < ids.length) { label(i) = ids(find(i)); i += 1 }
    label
  }

  private def buildCsr(packed: Array[Long]): Csr = {
    val m = packed.length / 2
    val ids = sortedDistinct(packed.clone())
    val nDistinct = ids.length
    def idx(id: Long): Int = {
      val p = java.util.Arrays.binarySearch(ids, id)
      p // inputs are endpoints by construction; always found
    }
    val off = new Array[Int](nDistinct + 1)
    var i = 0
    while (i < m) {
      off(idx(packed(2 * i)) + 1) += 1
      off(idx(packed(2 * i + 1)) + 1) += 1
      i += 1
    }
    var j = 0
    while (j < nDistinct) { off(j + 1) += off(j); j += 1 }
    val cursor = java.util.Arrays.copyOf(off, nDistinct)
    val nbr = new Array[Int](2 * m)
    i = 0
    while (i < m) {
      val u = idx(packed(2 * i)); val v = idx(packed(2 * i + 1))
      nbr(cursor(u)) = v; cursor(u) += 1
      nbr(cursor(v)) = u; cursor(v) += 1
      i += 1
    }
    j = 0
    while (j < nDistinct) {
      java.util.Arrays.sort(nbr, off(j), off(j + 1))
      j += 1
    }
    Csr(ids, off, nbr)
  }

  /** First index in nbr[lo, hi) with value > u (segment sorted). */
  private def firstGreater(nbr: Array[Int], lo: Int, hi: Int, u: Int)
      : Int = {
    var a = lo; var b = hi
    while (a < b) {
      val mid = (a + b) >>> 1
      if (nbr(mid) <= u) a = mid + 1 else b = mid
    }
    a
  }

  private def chunkRanges(n: Int, spark: SparkSession)
      : Seq[(Int, Int)] = {
    val nChunks = math.max(1,
      math.min(256, math.min(n, spark.sparkContext.defaultParallelism * 8)))
    val sz = (n + nChunks - 1) / nChunks
    (0 until nChunks).map(c => (c * sz, math.min(n, (c + 1) * sz)))
  }

  /** Local top-k common-neighbor candidates: exactly the distributed
    * pipeline's non-adjacent (id1 < id2, common = #shared neighbors)
    * pairs, cut to the global top-k under (common DESC, id1, id2) — a
    * total order, so the per-chunk top-k union contains the global
    * top-k (each pair is scored in exactly one chunk: its id1's). */
  def topCommonNeighbors(edges: DataFrame, k: Int)
      : Option[(DataFrame, DataFrame)] = {
    val spark = edges.sparkSession
    // k < 1: the bounded heap below cannot represent it (ADVICE r13) —
    // the distributed plan handles it gracefully via limit(k)
    KernelGate("linkpred", spark)(in =>
      if (k < 1) in.decline("k < 1") else in.longs(edges, SrcDst)
    ).map { packed =>
      val csr = buildCsr(packed)
      // the (id, deg) frame for scoring comes straight off the CSR —
      // the distributed path's sym-union groupBy + localCheckpoint
      // jobs are pure overhead once the adjacency is already on the
      // driver
      val degDf = {
        import spark.implicits._
        (0 until csr.n).map(i =>
            (csr.ids(i), (csr.off(i + 1) - csr.off(i)).toLong))
          .toDF("id", "deg")
      }
      val bc = spark.sparkContext.broadcast(csr)
      import spark.implicits._
      val ranges = chunkRanges(csr.n, spark)
      val out = spark.createDataset(ranges).repartition(ranges.size)
        .mapPartitions { it =>
          val c = bc.value
          val n = c.n
          val counts = new Array[Int](n)
          val marks = new Array[Boolean](n)
          val touched = new Array[Int](n)
          // bounded worst-first heap under (common DESC, id1, id2):
          // head = the candidate that drops first
          val ord = new java.util.Comparator[Array[Long]] {
            def compare(a: Array[Long], b: Array[Long]): Int = {
              if (a(2) != b(2)) java.lang.Long.compare(a(2), b(2))
              else if (a(0) != b(0)) java.lang.Long.compare(b(0), a(0))
              else java.lang.Long.compare(b(1), a(1))
            }
          }
          val heap = new java.util.PriorityQueue[Array[Long]](k, ord)
          // primitive mirrors of heap.peek (the worst kept candidate):
          // the overwhelmingly common case is a REJECT, and allocating
          // a 3-long candidate array per 2-hop pair just to compare it
          // was ~GBs of garbage per run (the dominant kernel cost).
          // Compare primitives first; allocate only on accept.
          var h0 = 0L; var h1 = 0L; var h2 = 0L
          it.foreach { case (lo, hi) =>
            var u = lo
            while (u < hi) {
              val us = c.off(u); val ue = c.off(u + 1)
              var t = us
              while (t < ue) { marks(c.nbr(t)) = true; t += 1 }
              var nTouched = 0
              t = us
              while (t < ue) {
                val w = c.nbr(t)
                val we = c.off(w + 1)
                var t2 = firstGreater(c.nbr, c.off(w), we, u)
                while (t2 < we) {
                  val v = c.nbr(t2)
                  if (counts(v) == 0) { touched(nTouched) = v; nTouched += 1 }
                  counts(v) += 1
                  t2 += 1
                }
                t += 1
              }
              var ti = 0
              while (ti < nTouched) {
                val v = touched(ti)
                val cm = counts(v); counts(v) = 0
                if (!marks(v)) {
                  val idU = c.ids(u); val idV = c.ids(v); val cmL = cm.toLong
                  if (heap.size < k) {
                    heap.add(Array(idU, idV, cmL))
                    val h = heap.peek; h0 = h(0); h1 = h(1); h2 = h(2)
                  } else {
                    // same total order as `ord`: (common DESC, id1, id2)
                    val better =
                      if (cmL != h2) cmL > h2
                      else if (idU != h0) idU < h0
                      else idV < h1
                    if (better) {
                      heap.poll(); heap.add(Array(idU, idV, cmL))
                      val h = heap.peek; h0 = h(0); h1 = h(1); h2 = h(2)
                    }
                  }
                }
                ti += 1
              }
              t = us
              while (t < ue) { marks(c.nbr(t)) = false; t += 1 }
              u += 1
            }
          }
          val buf = scala.collection.mutable.ArrayBuffer.empty[
            (Long, Long, Long)]
          while (!heap.isEmpty) {
            val a = heap.poll(); buf += ((a(0), a(1), a(2)))
          }
          buf.iterator
        }
        .toDF("id1", "id2", "common")
      (out.orderBy(col("common").desc, col("id1"), col("id2")).limit(k),
        degDf)
    }
  }

  /** Local synchronous label propagation — exactly
    * [[GraphXBridge.labelPropagation]]'s per-round rule (adopt the most
    * frequent neighbor label from the PREVIOUS round, ties → minimum
    * label, initial label = id), computed on the driver over the
    * bounded CSR (the stronglyConnectedBounded precedent: a few M array
    * ops replace rounds × (join + 2 aggregates + checkpoint) jobs). */
  def labelPropagation(edges: DataFrame, rounds: Int)
      : Option[DataFrame] = {
    val spark = edges.sparkSession
    KernelGate("labelprop", spark)(_.longs(edges, SrcDst)).map { packed =>
      val c = buildCsr(packed)
      var labels: Array[Long] = c.ids.clone()
      var round = 0
      while (round < rounds) {
        val next = new Array[Long](c.n)
        var u = 0
        while (u < c.n) {
          val s = c.off(u); val e = c.off(u + 1)
          val tmp = new Array[Long](e - s)
          var i = s
          while (i < e) { tmp(i - s) = labels(c.nbr(i)); i += 1 }
          java.util.Arrays.sort(tmp)
          // runs ascending: first run of max length = (max count, min
          // label) — the pinned tie-break
          var best = tmp(0); var bestC = 0; var j = 0
          while (j < tmp.length) {
            var j2 = j
            while (j2 < tmp.length && tmp(j2) == tmp(j)) j2 += 1
            if (j2 - j > bestC) { bestC = j2 - j; best = tmp(j) }
            j = j2
          }
          next(u) = best
          u += 1
        }
        labels = next
        round += 1
      }
      import spark.implicits._
      (0 until c.n).map(i => (c.ids(i), labels(i)))
        .toDF("id", "label")
    }
  }

  /** Local exact-integer personalized PageRank — bit-for-bit
    * [[GraphXBridge.personalizedPageRankInt]]: per iteration each
    * positive-rank vertex pushes `rank div deg` along every symmetric
    * edge, new rank = `(Σ incoming) div 2` + `seedMass/2` at seeds,
    * zero-rank rows dropped. Long arithmetic only — identical to the
    * DataFrame plan under any order. */
  def pprInt(edges: DataFrame, seeds: DataFrame, iters: Int,
      seedMass: Long): Option[DataFrame] = {
    val spark = edges.sparkSession
    KernelGate("ppr", spark) { in =>
      for {
        packed <- in.longs(edges, SrcDst)
        seedIds <- in.longs(seeds, Seq("id"), cache = false)
      } yield {
        val c = buildCsr(packed)
        val isSeed = new Array[Boolean](c.n)
        seedIds.foreach { s =>
          val p = java.util.Arrays.binarySearch(c.ids, s)
          if (p >= 0) isSeed(p) = true // seeds outside the graph drop
        }
        var rank = new Array[Long](c.n)
        var i = 0
        while (i < c.n) { if (isSeed(i)) rank(i) = seedMass; i += 1 }
        var it = 0
        while (it < iters) {
          val s = new Array[Long](c.n)
          var u = 0
          while (u < c.n) {
            if (rank(u) > 0) {
              val deg = c.off(u + 1) - c.off(u)
              val contrib = rank(u) / deg
              var t = c.off(u)
              while (t < c.off(u + 1)) {
                s(c.nbr(t)) += contrib; t += 1
              }
            }
            u += 1
          }
          val next = new Array[Long](c.n)
          u = 0
          while (u < c.n) {
            next(u) = s(u) / 2 +
              (if (isSeed(u)) seedMass / 2 else 0L)
            u += 1
          }
          rank = next
          it += 1
        }
        import spark.implicits._
        (0 until c.n).filter(rank(_) > 0)
          .map(i => (c.ids(i), rank(i))).toDF("id", "rank")
      }
    }
  }

  /** Local k-core peel — the same synchronous fixpoint as
    * [[GraphXBridge.kCore]]: each round drops vertices whose CURRENT
    * degree < k and the edges touching them, until the edge set is
    * stable; returns (id, within-core degree) for vertices with a
    * surviving edge. */
  def kCore(edges: DataFrame, k: Int): Option[DataFrame] = {
    val spark = edges.sparkSession
    KernelGate("kcore", spark)(_.longs(edges, SrcDst)).map { packed =>
      val c = buildCsr(packed)
      val m = packed.length / 2
      val alive = new Array[Boolean](m)
      java.util.Arrays.fill(alive, true)
      val su = new Array[Int](m); val sv = new Array[Int](m)
      var i = 0
      while (i < m) {
        su(i) = java.util.Arrays.binarySearch(c.ids, packed(2 * i))
        sv(i) = java.util.Arrays.binarySearch(c.ids, packed(2 * i + 1))
        i += 1
      }
      val deg = new Array[Int](c.n)
      var nAlive = m
      var changed = true
      while (changed && nAlive > 0) {
        java.util.Arrays.fill(deg, 0)
        i = 0
        while (i < m) {
          if (alive(i)) { deg(su(i)) += 1; deg(sv(i)) += 1 }
          i += 1
        }
        var n2 = 0
        i = 0
        while (i < m) {
          if (alive(i) && (deg(su(i)) < k || deg(sv(i)) < k))
            alive(i) = false
          if (alive(i)) n2 += 1
          i += 1
        }
        changed = n2 != nAlive
        nAlive = n2
      }
      java.util.Arrays.fill(deg, 0)
      i = 0
      while (i < m) {
        if (alive(i)) { deg(su(i)) += 1; deg(sv(i)) += 1 }
        i += 1
      }
      import spark.implicits._
      (0 until c.n).filter(deg(_) > 0)
        .map(v => (c.ids(v), deg(v).toLong))
        .toDF("id", "core_degree")
    }
  }

  /** Local weighted SSSP — the same (min, +) fixpoint as
    * [[GraphXBridge.weightedSssp]]'s Pregel relaxation (IEEE + is
    * monotone, so the fixpoint is the min over per-path left-to-right
    * costs whatever the relaxation order). DIRECTED edges read
    * positionally (src, dst, weight) like the RDD path; vertices are
    * all edge endpoints; unreached vertices are dropped. */
  def weightedSssp(edges: DataFrame, sources: Seq[Long])
      : Option[DataFrame] = {
    val spark = edges.sparkSession
    val c = edges.columns
    KernelGate("sssp", spark)(
      _.longs(edges, c.take(2).toSeq, weights = Seq(c(2)))
    ).map { rows => // (src, dst, weight bits) per edge
      val m = rows.length / 3
      val ends = new Array[Long](2 * m)
      var i = 0
      while (i < m) {
        ends(2 * i) = rows(3 * i)
        ends(2 * i + 1) = rows(3 * i + 1)
        i += 1
      }
      val ids = sortedDistinct(ends)
      val n = ids.length
      val es = new Array[Int](m); val ed = new Array[Int](m)
      val ew = new Array[Double](m)
      i = 0
      while (i < m) {
        es(i) = java.util.Arrays.binarySearch(ids, rows(3 * i))
        ed(i) = java.util.Arrays.binarySearch(ids, rows(3 * i + 1))
        ew(i) = java.lang.Double.longBitsToDouble(rows(3 * i + 2))
        i += 1
      }
      val dist = new Array[Double](n)
      java.util.Arrays.fill(dist, Double.PositiveInfinity)
      sources.foreach { s =>
        val p = java.util.Arrays.binarySearch(ids, s)
        if (p >= 0) dist(p) = 0.0 // sources outside the graph drop
      }
      var changed = true
      while (changed) {
        changed = false
        i = 0
        while (i < m) {
          val du = dist(es(i))
          if (du != Double.PositiveInfinity) {
            val cand = du + ew(i)
            if (cand < dist(ed(i))) { dist(ed(i)) = cand; changed = true }
          }
          i += 1
        }
      }
      import spark.implicits._
      (0 until n).filter(dist(_) < Double.PositiveInfinity)
        .map(v => (ids(v), dist(v))).toDF("id", "distance")
    }
  }

  /** Local connected components over ALREADY-HASHED long ids — the
    * GraphX contract: every vertex (isolated included) labeled by the
    * minimum vertex id of its component ([[minLabels]]); both frames
    * read positionally. */
  def connectedComponentsLong(vertexIds: DataFrame, edges: DataFrame)
      : Option[DataFrame] = {
    val spark = vertexIds.sparkSession
    KernelGate("cc", spark) { in =>
      for {
        vs <- in.longs(vertexIds, vertexIds.columns.take(1).toSeq)
        es <- in.longs(edges, edges.columns.take(2).toSeq)
      } yield {
        // GraphX adds edge endpoints missing from the vertex RDD as
        // vertices — reproduce that
        val ids = sortedDistinct(vs ++ es)
        val label = minLabels(ids, es)
        import spark.implicits._
        ids.indices.map(v => (ids(v), label(v))).toDF("vid", "component")
      }
    }
  }

  /** Local per-edge triangle support: |N(src) ∩ N(dst)| for every
    * canonical (src < dst) input edge, zero-support edges included —
    * exactly [[GraphXBridge.edgeTriangleSupport]]'s contract. Each
    * canonical edge is emitted from its src's chunk. */
  def triangleSupport(edges: DataFrame): Option[DataFrame] = {
    val spark = edges.sparkSession
    KernelGate("trisupport", spark)(_.longs(edges, SrcDst)).map { packed =>
      val csr = buildCsr(packed)
      val bc = spark.sparkContext.broadcast(csr)
      import spark.implicits._
      val ranges = chunkRanges(csr.n, spark)
      spark.createDataset(ranges).repartition(ranges.size)
        .mapPartitions { it =>
          val c = bc.value
          val marks = new Array[Boolean](c.n)
          it.flatMap { case (lo, hi) =>
            (lo until hi).iterator.flatMap { u =>
              val us = c.off(u); val ue = c.off(u + 1)
              var t = us
              while (t < ue) { marks(c.nbr(t)) = true; t += 1 }
              val vStart = firstGreater(c.nbr, us, ue, u)
              val rows = new Array[(Long, Long, Long)](ue - vStart)
              var r = 0
              var tv = vStart
              while (tv < ue) {
                val v = c.nbr(tv)
                var cm = 0
                var t2 = c.off(v); val ve = c.off(v + 1)
                while (t2 < ve) {
                  if (marks(c.nbr(t2))) cm += 1
                  t2 += 1
                }
                rows(r) = (c.ids(u), c.ids(v), cm.toLong)
                r += 1
                tv += 1
              }
              t = us
              while (t < ue) { marks(c.nbr(t)) = false; t += 1 }
              rows.iterator
            }
          }
        }
        .toDF("src", "dst", "support")
    }
  }
}
