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
  * checks and collects its inputs and hands over the edges as
  * [[KernelGate.DenseEdges]]; a declined kernel returns None and the
  * caller keeps the distributed (and, past the disk budget, bucketed)
  * plan.
  *
  * Determinism: the gate's dense vertex indices are in ascending id
  * order, so dense order == id order and every tie-break below
  * reproduces the distributed plan's (common DESC, id1, id2) /
  * canonical-edge ordering exactly; counts are exact integers. No
  * kernel here sorts or searches ids itself.
  * Equivalence is pinned in ScaleSpec and KernelGatePropertySpec
  * (kernel vs distributed on the same graphs).
  */
private[graft] object LocalGraphKernels {

  /** Symmetric CSR adjacency over dense indices `0 until n`:
    * `off`/`nbr` the usual offsets/targets arrays with each neighbor
    * segment sorted. */
  final case class Csr(off: Array[Int], nbr: Array[Int]) {
    def n: Int = off.length - 1
  }

  /** Component label of every dense index `0 until n` under the edges
    * `src(e)`–`dst(e)`: the minimum index in its component, hence the
    * minimum id. Union-find that always parents the larger root under
    * the smaller, so a root is its component's minimum. */
  private[engine] def minLabels(n: Int, src: Array[Int], dst: Array[Int])
      : Array[Int] = {
    val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    var i = 0
    while (i < src.length) {
      val ra = find(src(i)); val rb = find(dst(i))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      i += 1
    }
    i = 0
    while (i < n) { parent(i) = find(i); i += 1 }
    parent
  }

  private def buildCsr(n: Int, src: Array[Int], dst: Array[Int]): Csr = {
    val m = src.length
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < m) {
      off(src(i) + 1) += 1
      off(dst(i) + 1) += 1
      i += 1
    }
    var j = 0
    while (j < n) { off(j + 1) += off(j); j += 1 }
    val cursor = java.util.Arrays.copyOf(off, n)
    val nbr = new Array[Int](2 * m)
    i = 0
    while (i < m) {
      val u = src(i); val v = dst(i)
      nbr(cursor(u)) = v; cursor(u) += 1
      nbr(cursor(v)) = u; cursor(v) += 1
      i += 1
    }
    j = 0
    while (j < n) {
      java.util.Arrays.sort(nbr, off(j), off(j + 1))
      j += 1
    }
    Csr(off, nbr)
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
      if (k < 1) in.decline("k < 1") else in.edges[Long](edges)
    ).map { d =>
      val csr = buildCsr(d.n, d.src, d.dst)
      // the (id, deg) frame for scoring comes straight off the CSR —
      // the distributed path's sym-union groupBy + localCheckpoint
      // jobs are pure overhead once the adjacency is already on the
      // driver
      val degDf = {
        import spark.implicits._
        (0 until csr.n).map(i =>
            (d.ids(i), (csr.off(i + 1) - csr.off(i)).toLong))
          .toDF("id", "deg")
      }
      val bc = spark.sparkContext.broadcast((d.ids, csr))
      import spark.implicits._
      val ranges = chunkRanges(csr.n, spark)
      val out = spark.createDataset(ranges).repartition(ranges.size)
        .mapPartitions { it =>
          val (ids, c) = bc.value
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
                  val idU = ids(u); val idV = ids(v); val cmL = cm.toLong
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
    KernelGate("labelprop", spark)(_.edges[Long](edges)).map { d =>
      val c = buildCsr(d.n, d.src, d.dst)
      var labels: Array[Long] = d.ids.clone()
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
      (0 until c.n).map(i => (d.ids(i), labels(i)))
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
        d <- in.edges[Long](edges)
        seedIds <- in.list[Long](seeds.select("id"))
      } yield {
        val c = buildCsr(d.n, d.src, d.dst)
        val isSeed = new Array[Boolean](c.n)
        seedIds.head.foreach { s =>
          val p = d.indexOf(s)
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
          .map(i => (d.ids(i), rank(i))).toDF("id", "rank")
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
    KernelGate("kcore", spark)(_.edges[Long](edges)).map { d =>
      val m = d.m
      val su = d.src; val sv = d.dst
      val alive = new Array[Boolean](m)
      java.util.Arrays.fill(alive, true)
      val deg = new Array[Int](d.n)
      var i = 0
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
      (0 until d.n).filter(deg(_) > 0)
        .map(v => (d.ids(v), deg(v).toLong))
        .toDF("id", "core_degree")
    }
  }

  /** Local weighted SSSP — the same (min, +) fixpoint as
    * [[GraphXBridge.weightedSssp]]'s Bellman-Ford relaxation (IEEE + is
    * monotone, so the fixpoint is the min over per-path left-to-right
    * costs whatever the relaxation order). DIRECTED edges read
    * positionally (src, dst, weight) like the distributed leg; vertices
    * are all edge endpoints; unreached vertices are dropped. */
  def weightedSssp(edges: DataFrame, sources: Seq[Long])
      : Option[DataFrame] = {
    val spark = edges.sparkSession
    val c = edges.columns
    KernelGate("sssp", spark)(
      _.edges[Long](edges, c(0), c(1), weight = Some(c(2)))
    ).map { d =>
      val m = d.m
      val es = d.src; val ed = d.dst; val ew = d.weights
      val dist = new Array[Double](d.n)
      java.util.Arrays.fill(dist, Double.PositiveInfinity)
      sources.foreach { s =>
        val p = d.indexOf(s)
        if (p >= 0) dist(p) = 0.0 // sources outside the graph drop
      }
      var i = 0
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
      (0 until d.n).filter(dist(_) < Double.PositiveInfinity)
        .map(v => (d.ids(v), dist(v))).toDF("id", "distance")
    }
  }

  /** Local connected components over ALREADY-HASHED long ids —
    * [[GraphXBridge.connectedComponents]]' contract: every vertex
    * (isolated included) labeled by the minimum vertex id of its
    * component ([[minLabels]]); both frames read positionally. The
    * gate sees one edge frame: each vertex as a self-loop, then the
    * edges, whose endpoints missing from the vertex frame are vertices
    * too, as on the distributed leg. */
  def connectedComponentsLong(vertexIds: DataFrame, edges: DataFrame)
      : Option[DataFrame] = {
    val spark = vertexIds.sparkSession
    val v = col(vertexIds.columns.head)
    val Array(s, t) = edges.columns.take(2).map(col)
    val all = vertexIds.select(v.as("src"), v.as("dst"))
      .unionAll(edges.select(s.as("src"), t.as("dst")))
    KernelGate("cc", spark)(_.edges[Long](all)).map { d =>
      val label = minLabels(d.n, d.src, d.dst)
      import spark.implicits._
      d.ids.indices.map(i => (d.ids(i), d.ids(label(i))))
        .toDF("vid", "component")
    }
  }

  /** Local per-edge triangle support: |N(src) ∩ N(dst)| for every
    * canonical (src < dst) input edge, zero-support edges included —
    * exactly [[GraphXBridge.edgeTriangleSupport]]'s contract. Each
    * canonical edge is emitted from its src's chunk. */
  def triangleSupport(edges: DataFrame): Option[DataFrame] = {
    val spark = edges.sparkSession
    KernelGate("trisupport", spark)(_.edges[Long](edges)).map { d =>
      val csr = buildCsr(d.n, d.src, d.dst)
      val bc = spark.sparkContext.broadcast((d.ids, csr))
      import spark.implicits._
      val ranges = chunkRanges(csr.n, spark)
      spark.createDataset(ranges).repartition(ranges.size)
        .mapPartitions { it =>
          val (ids, c) = bc.value
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
                rows(r) = (ids(u), ids(v), cm.toLong)
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
