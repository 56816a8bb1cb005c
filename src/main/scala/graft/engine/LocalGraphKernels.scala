package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** Size-gated LOCAL kernels for the wedge/triangle operator family.
  *
  * Rationale (optimization guide §8: move decisions to small data —
  * measured in OPTIMIZATION_r13.md): at sf0.1 the co-purchase graph is
  * 20k vertices / 1.2M canonical edges ≈ 10 MB as a CSR array, yet the
  * distributed wedge formulation shuffles the FULL Σ C(deg,2) wedge
  * stream (148M packed longs ≈ 1.0 GB measured) just to count pair
  * multiplicities that a broadcast adjacency can count in-place. This
  * is the same strategy decision as a broadcast-hash join: when one
  * side (here, the whole adjacency) fits comfortably in memory, ship
  * it everywhere once and never shuffle the big derived stream at all.
  *
  * The gate is a column-pruned `count()` probe ([[countOnce]])
  * followed by a parallel `collect()` of the projection, checked
  * against [[LocalGraphKernels.MaxEdgesKey]]; above the threshold the
  * caller falls back to the unchanged distributed (and, past the disk
  * budget, bucketed) plan — the 100 TB path is untouched. The collected
  * edge list is bounded by the same conf (default 4M edges ≈ 64 MB —
  * the broadcast-relation size class, far below Spark's own 8 GB
  * broadcast cap). Counts and collected arrays are kept for later
  * queries of the same session by [[SessionCache]], keyed by the
  * projection's canonicalized plan; its budget and LRU decide how long.
  *
  * Determinism: dense vertex indices are assigned in ascending id
  * order, so dense order == id order and every tie-break below
  * reproduces the distributed plan's (common DESC, id1, id2) /
  * canonical-edge ordering exactly; counts are exact integers.
  * Equivalence is pinned in ScaleSpec (kernel vs distributed on the
  * same graphs, long ids; string-id inputs always take the distributed
  * path).
  */
private[graft] object LocalGraphKernels {

  /** Conf: max canonical edge count for the local kernels (shared by
    * the link-prediction and triangle-support fast paths); 0 disables
    * them. Default 4M edges ≈ 64 MB collected / ~40 MB as broadcast
    * CSR — small-broadcast class on any driver. Production note
    * (OPTIMIZATION_r13.md): this is a per-GRAPH bound, not a per-SF
    * bound — a 100 TB run whose extracted subgraph is still ≤ 4M edges
    * (e.g. a per-tenant slice) legitimately takes this path; the full
    * co-purchase graph at sf1+ exceeds it and keeps the distributed
    * plan. */
  val MaxEdgesKey = "spark.graft.graph.localKernelMaxEdges"

  private[engine] def maxEdges(spark: SparkSession): Int =
    spark.conf.get(MaxEdgesKey, "4000000").toInt

  /** Gate-probe count of `df`, cached per session on its plan: else
    * every kernel call pays a full count, at scale to learn "too big".
    * Sound because kernel inputs are immutable within a session. */
  private[engine] def countOnce(df: DataFrame): Long =
    SessionCache.ofPlan("kernel.count", df)(
      java.lang.Long.valueOf(df.count())).longValue

  /** Collected raw rows of `proj`, cached like [[countOnce]], for the
    * positional readers (weightedSssp, connectedComponentsLong). */
  private def collectRowsOnce(proj: DataFrame): Array[InternalRow] =
    SessionCache.ofPlan("kernel.rows", proj)(
      proj.queryExecution.executedPlan.executeCollect())

  /** Both id columns integral (the dense-index mapping needs a total
    * numeric order; string graphs keep the distributed plan). */
  private def integralIds(edges: DataFrame): Boolean =
    Seq("src", "dst").forall(c => edges.schema(c).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType => true
      case _ => false
    })

  /** Symmetric CSR adjacency in dense index space: `ids` sorted
    * ascending (dense idx → original id), `off`/`nbr` the usual
    * offsets/targets arrays with each neighbor segment sorted. */
  final case class Csr(ids: Array[Long], off: Array[Int],
      nbr: Array[Int]) {
    def n: Int = ids.length
  }

  /** Bounded probe: a column-pruned count() decides engagement, then
    * the edge list is collected with the normal PARALLEL collect path
    * (a limit(max+1)-guarded collect funnels every row through one
    * task and a single-threaded driver decode — measured ~1 s for the
    * 1.2M-edge sf0.1 graph, dominating the kernels it fed; the count
    * is one pass of the input plan on FIRST probe and a [[countOnce]]
    * cache hit after that, so an over-limit graph costs one cheap count
    * per session instead of a 4M-row truncated fetch per call). */
  private def collectIfSmall(edges: DataFrame, max: Int)
      : Option[Array[Long]] = {
    if (max <= 0 || !integralIds(edges)) return None
    val proj = edges
      .select(col("src").cast("long"), col("dst").cast("long"))
    if (countOnce(proj) > max) return None // size gate BEFORE the cache:
                                           // a forced lower bound still
                                           // rejects a cached array
    // shared by every kernel gate over the same projection (six gates
    // read the co-purchase graph); CONSUMERS MUST NOT MUTATE it
    // (buildCsr copies; kCore reads positionally)
    Some(SessionCache.ofPlan("kernel.edges", proj) {
      // executeCollect returns the raw UnsafeRows — skips the per-row
      // external-Row conversion (2 boxed Longs per edge on a millions-
      // of-edges collect); the pack loop reads the longs in place
      val rows = proj.queryExecution.executedPlan.executeCollect()
      val packed = new Array[Long](rows.length * 2)
      var i = 0
      while (i < rows.length) {
        packed(2 * i) = rows(i).getLong(0)
        packed(2 * i + 1) = rows(i).getLong(1)
        i += 1
      }
      packed
    })
  }

  private def buildCsr(packed: Array[Long]): Csr = {
    val m = packed.length / 2
    // dense ids: sorted distinct endpoints
    val all = new Array[Long](2 * m)
    System.arraycopy(packed, 0, all, 0, 2 * m)
    java.util.Arrays.sort(all)
    var nDistinct = 0
    var i = 0
    while (i < all.length) {
      if (nDistinct == 0 || all(i) != all(nDistinct - 1)) {
        all(nDistinct) = all(i); nDistinct += 1
      }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(all, nDistinct)
    def idx(id: Long): Int = {
      val p = java.util.Arrays.binarySearch(ids, id)
      p // inputs are endpoints by construction; always found
    }
    val off = new Array[Int](nDistinct + 1)
    i = 0
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
    * top-k (each pair is scored in exactly one chunk: its id1's).
    * Returns None when the graph exceeds the conf bound or ids are
    * non-integral. */
  def topCommonNeighbors(edges: DataFrame, k: Int)
      : Option[(DataFrame, DataFrame)] = {
    val spark = edges.sparkSession
    // k < 1: the bounded heap below cannot represent it (ADVICE r13) —
    // the distributed plan handles it gracefully via limit(k)
    if (k < 1) return None
    collectIfSmall(edges, maxEdges(spark)).map { packed =>
      val csr = buildCsr(packed)
      graft.util.Dbg(spark,
        s"[linkpred] local kernel: n=${csr.n} m=${packed.length / 2}")
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
    collectIfSmall(edges, maxEdges(spark)).map { packed =>
      val c = buildCsr(packed)
      graft.util.Dbg(spark, s"[labelprop] local kernel: n=${c.n}")
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
    val max = maxEdges(spark)
    collectIfSmall(edges, max).flatMap { packed =>
      val seedProj = seeds.select(col("id").cast("long"))
      if (countOnce(seedProj) > max) None
      else Some {
        val seedRows = seedProj.collect()
        val c = buildCsr(packed)
        graft.util.Dbg(spark, s"[ppr] local kernel: n=${c.n}")
        val isSeed = new Array[Boolean](c.n)
        seedRows.foreach { r =>
          val p = java.util.Arrays.binarySearch(c.ids, r.getLong(0))
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
    collectIfSmall(edges, maxEdges(spark)).map { packed =>
      val c = buildCsr(packed)
      graft.util.Dbg(spark, s"[kcore] local kernel: n=${c.n}")
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
    val max = maxEdges(spark)
    if (max <= 0) return None
    val cols = edges.columns
    val ok = Seq(0, 1).forall(i => edges.schema(i).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType => true
      case _ => false
    })
    if (!ok) return None
    val proj = edges.select(col(cols(0)).cast("long"),
      col(cols(1)).cast("long"), col(cols(2)).cast("double"))
    if (countOnce(proj) > max) return None
    // raw UnsafeRows — same no-boxing collect as collectIfSmall
    val rows = collectRowsOnce(proj)
    Some {
      val m = rows.length
      val ends = new Array[Long](2 * m)
      var i = 0
      while (i < m) {
        ends(2 * i) = rows(i).getLong(0)
        ends(2 * i + 1) = rows(i).getLong(1)
        i += 1
      }
      java.util.Arrays.sort(ends)
      var n = 0
      i = 0
      while (i < ends.length) {
        if (n == 0 || ends(i) != ends(n - 1)) { ends(n) = ends(i); n += 1 }
        i += 1
      }
      val ids = java.util.Arrays.copyOf(ends, n)
      graft.util.Dbg(spark, s"[sssp] local kernel: n=$n m=$m")
      val es = new Array[Int](m); val ed = new Array[Int](m)
      val ew = new Array[Double](m)
      i = 0
      while (i < m) {
        es(i) = java.util.Arrays.binarySearch(ids, rows(i).getLong(0))
        ed(i) = java.util.Arrays.binarySearch(ids, rows(i).getLong(1))
        ew(i) = rows(i).getDouble(2)
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
    * minimum vertex id of its component. Union-find over the bounded
    * edge list; both frames read positionally. */
  def connectedComponentsLong(vertexIds: DataFrame, edges: DataFrame)
      : Option[DataFrame] = {
    val spark = vertexIds.sparkSession
    val max = maxEdges(spark)
    if (max <= 0) return None
    val vc = vertexIds.columns
    val vProj = vertexIds.select(col(vc(0)).cast("long"))
    if (countOnce(vProj) > max) return None
    val vRows = collectRowsOnce(vProj)
    val ec = edges.columns
    val eProj = edges.select(col(ec(0)).cast("long"),
      col(ec(1)).cast("long"))
    if (countOnce(eProj) > max) return None
    // raw UnsafeRows — same no-boxing collect as collectIfSmall
    val eRows = collectRowsOnce(eProj)
    Some {
      // GraphX adds edge endpoints missing from the vertex RDD as
      // vertices — reproduce that
      val ids = (vRows.map(_.getLong(0)) ++
        eRows.flatMap(r => Seq(r.getLong(0), r.getLong(1))))
        .distinct.sorted
      graft.util.Dbg(spark,
        s"[cc] local kernel: n=${ids.length} m=${eRows.length}")
      val parent = Array.tabulate(ids.length)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      eRows.foreach { r =>
        val a = java.util.Arrays.binarySearch(ids, r.getLong(0))
        val b = java.util.Arrays.binarySearch(ids, r.getLong(1))
        if (a >= 0 && b >= 0) {
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
      }
      val minId = new Array[Long](ids.length)
      java.util.Arrays.fill(minId, Long.MaxValue)
      for (v <- ids.indices) {
        val r = find(v)
        if (ids(v) < minId(r)) minId(r) = ids(v)
      }
      import spark.implicits._
      ids.indices.map(v => (ids(v), minId(find(v))))
        .toDF("vid", "component")
    }
  }

  /** Local per-edge triangle support: |N(src) ∩ N(dst)| for every
    * canonical (src < dst) input edge, zero-support edges included —
    * exactly [[GraphXBridge.edgeTriangleSupport]]'s contract. Each
    * canonical edge is emitted from its src's chunk. Returns None
    * above the conf bound / non-integral ids. */
  def triangleSupport(edges: DataFrame): Option[DataFrame] = {
    val spark = edges.sparkSession
    collectIfSmall(edges, maxEdges(spark)).map { packed =>
      val csr = buildCsr(packed)
      graft.util.Dbg(spark,
        s"[trisupport] local kernel: n=${csr.n} m=${packed.length / 2}")
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
