package graftbench

import scala.collection.mutable

/** Plain-Scala reference answers for the analytics calls, computed from
  * the collected edge lists without any graft code, and the checkers
  * that compare graft's results against them. A checker returns None
  * when the result is right and a short reason otherwise. */
object Refs {

  /** Undirected adjacency over dense indices of the given ids. */
  final class Adj(val ids: Array[String], val nbr: Array[Array[Int]]) {
    val index: Map[String, Int] = ids.zipWithIndex.toMap
  }

  def adjacency(vertices: Iterable[String],
      edges: Iterable[(String, String)]): Adj = {
    val ids = (vertices ++ edges.flatMap(e => Seq(e._1, e._2)))
      .toArray.distinct.sorted
    val index = ids.zipWithIndex.toMap
    val lists = Array.fill(ids.length)(mutable.ArrayBuilder.make[Int])
    edges.foreach { case (a, b) =>
      val (i, j) = (index(a), index(b))
      lists(i) += j; lists(j) += i
    }
    new Adj(ids, lists.map(_.result().distinct.sorted))
  }

  /** Hop distances from a set of sources, up to maxDepth. */
  def bfs(adj: Adj, sources: Seq[String], maxDepth: Int): Map[String, Int] = {
    val dist = Array.fill(adj.ids.length)(-1)
    var frontier = sources.flatMap(adj.index.get).distinct.toArray
    frontier.foreach(dist(_) = 0)
    var d = 0
    while (frontier.nonEmpty && d < maxDepth) {
      d += 1
      val next = mutable.ArrayBuilder.make[Int]
      frontier.foreach(u => adj.nbr(u).foreach { v =>
        if (dist(v) < 0) { dist(v) = d; next += v }
      })
      frontier = next.result()
    }
    adj.ids.indices.filter(dist(_) >= 0).map(i => adj.ids(i) -> dist(i)).toMap
  }

  private def diff[K, V](what: String, want: Map[K, V], got: Map[K, V])
      : Option[String] =
    if (want == got) None
    else {
      val missing = want.keySet -- got.keySet
      val extra = got.keySet -- want.keySet
      val wrong = want.keySet.intersect(got.keySet).filter(k => want(k) != got(k))
      Some(s"$what: ${missing.size} missing, ${extra.size} extra, " +
        s"${wrong.size} wrong" + wrong.headOption.map(k =>
          s" (e.g. $k: want ${want(k)}, got ${got(k)})").getOrElse(""))
    }

  /** Components as a map from each id to the smallest id of its
    * component, so two labelings compare regardless of label choice. */
  def components(adj: Adj): Map[String, String] = {
    val parent = adj.ids.indices.toArray
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    adj.nbr.indices.foreach(u => adj.nbr(u).foreach { v =>
      val (a, b) = (find(u), find(v))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    })
    // ids are sorted, so the root (smallest index) is the smallest id
    adj.ids.indices.map(i => adj.ids(i) -> adj.ids(find(i))).toMap
  }

  def checkComponents(adj: Adj, got: Seq[(String, Long)]): Option[String] = {
    val minOf = got.groupBy(_._2).values
      .flatMap { g => val m = g.map(_._1).min; g.map(_._1 -> m) }.toMap
    if (minOf.size != got.size) Some("cc: duplicate vertex rows")
    else diff("cc", components(adj), minOf)
  }

  /** Sorted, symmetric long adjacency (CSR) of an undirected edge list. */
  final class Csr(val ids: Array[Long], val off: Array[Int],
      val nbr: Array[Int]) {
    def n: Int = ids.length
    def deg(u: Int): Int = off(u + 1) - off(u)
    def adjOf(u: Int): Array[Int] = java.util.Arrays.copyOfRange(nbr, off(u),
      off(u + 1))
  }

  def csr(edges: Array[(Long, Long)]): Csr = {
    val ids = edges.flatMap(e => Array(e._1, e._2)).distinct.sorted
    val idx = new java.util.HashMap[Long, Int]()
    ids.indices.foreach(i => idx.put(ids(i), i))
    // both directions packed as (i << 32 | j), sorted and deduplicated
    val packed = edges.flatMap { case (a, b) =>
      val (i, j) = (idx.get(a).toLong, idx.get(b).toLong)
      Array(i << 32 | j, j << 32 | i)
    }
    java.util.Arrays.sort(packed)
    val pairs = packed.distinct
    val off = new Array[Int](ids.length + 1)
    pairs.foreach(p => off((p >>> 32).toInt + 1) += 1)
    ids.indices.foreach(i => off(i + 1) += off(i))
    new Csr(ids, off, pairs.map(p => (p & 0xffffffffL).toInt))
  }

  /** The k-core with each member's degree inside it. */
  def kCore(g: Csr, k: Int): Map[Long, Long] = {
    val deg = Array.tabulate(g.n)(g.deg)
    val alive = Array.fill(g.n)(true)
    val queue = mutable.Queue[Int]()
    (0 until g.n).filter(deg(_) < k).foreach { u => alive(u) = false; queue += u }
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      g.adjOf(u).foreach { v =>
        if (alive(v)) {
          deg(v) -= 1
          if (deg(v) < k) { alive(v) = false; queue += v }
        }
      }
    }
    (0 until g.n).filter(alive).map(u => g.ids(u) -> deg(u).toLong).toMap
  }

  def checkKCore(g: Csr, k: Int, got: Seq[(Long, Long)]): Option[String] =
    diff("kcore", kCore(g, k), got.toMap)

  private def common(g: Csr, u: Int, v: Int): Int = {
    var (i, j, c) = (g.off(u), g.off(v), 0)
    while (i < g.off(u + 1) && j < g.off(v + 1)) {
      if (g.nbr(i) == g.nbr(j)) { c += 1; i += 1; j += 1 }
      else if (g.nbr(i) < g.nbr(j)) i += 1 else j += 1
    }
    c
  }

  /** Per canonical edge (src < dst), the number of triangles on it. */
  def triangleSupport(g: Csr): Map[(Long, Long), Long] = {
    val out = mutable.HashMap[(Long, Long), Long]()
    (0 until g.n).foreach { u =>
      (g.off(u) until g.off(u + 1)).foreach { t =>
        val v = g.nbr(t)
        if (u < v) out((g.ids(u), g.ids(v))) = common(g, u, v).toLong
      }
    }
    out.toMap
  }

  def checkTriangleSupport(g: Csr, got: Seq[(Long, Long, Long)])
      : Option[String] =
    diff("triangle_support", triangleSupport(g),
      got.map(t => (t._1, t._2) -> t._3).toMap)

  /** Top-k non-adjacent pairs by common neighbours, ties by (id1, id2). */
  def topLinks(g: Csr, k: Int): Seq[(Long, Long, Long)] = {
    // ids are sorted, so index order is id order
    val best = mutable.PriorityQueue.empty[(Long, Int, Int)](
      Ordering.by[(Long, Int, Int), (Long, Int, Int)](
        t => (-t._1, t._2, t._3)))
    val count = new Array[Int](g.n)
    val touched = mutable.ArrayBuilder.make[Int]
    (0 until g.n).foreach { u =>
      var t = g.off(u)
      while (t < g.off(u + 1)) {
        val w = g.nbr(t)
        var x = g.off(w)
        while (x < g.off(w + 1)) {
          val v = g.nbr(x)
          if (v > u) { if (count(v) == 0) touched += v; count(v) += 1 }
          x += 1
        }
        t += 1
      }
      val adjacent = g.adjOf(u).toSet
      touched.result().foreach { v =>
        if (!adjacent.contains(v)) {
          best.enqueue((count(v).toLong, u, v))
          if (best.size > k) best.dequeue()
        }
        count(v) = 0
      }
      touched.clear()
    }
    best.dequeueAll[(Long, Int, Int)].reverse
      .map { case (c, u, v) => (g.ids(u), g.ids(v), c) }.toSeq
  }

  def checkTopLinks(g: Csr, k: Int, got: Seq[(Long, Long, Long)])
      : Option[String] = {
    val want = topLinks(g, k)
    if (want == got) None
    else Some(s"link_pred: top-$k differs (want ${want.take(2)}, " +
      s"got ${got.take(2)})")
  }

  /** Synchronous label propagation; ties go to the smallest label. */
  def labelPropagation(g: Csr, rounds: Int): Map[Long, Long] = {
    var labels = g.ids.clone()
    (1 to rounds).foreach { _ =>
      labels = Array.tabulate(g.n) { u =>
        g.adjOf(u).map(labels(_)).groupBy(identity).toSeq
          .map { case (l, xs) => (-xs.length, l) }.min._2
      }
    }
    g.ids.indices.map(u => g.ids(u) -> labels(u)).toMap
  }

  def checkLabelPropagation(g: Csr, rounds: Int, got: Seq[(Long, Long)])
      : Option[String] =
    diff("label_prop", labelPropagation(g, rounds), got.toMap)

  /** Exact-integer personalized PageRank: floor-divided push, alpha 1/2,
    * the seeds re-injecting half the seed mass each round. */
  def pprInt(g: Csr, seeds: Set[Long], iters: Int, mass: Long)
      : Map[Long, Long] = {
    val isSeed = g.ids.map(seeds.contains)
    var rank = isSeed.map(s => if (s) mass else 0L)
    (1 to iters).foreach { _ =>
      val s = new Array[Long](g.n)
      (0 until g.n).foreach { u =>
        if (rank(u) > 0) {
          val c = rank(u) / g.deg(u)
          g.adjOf(u).foreach(v => s(v) += c)
        }
      }
      rank = Array.tabulate(g.n)(v =>
        s(v) / 2 + (if (isSeed(v)) mass / 2 else 0L))
    }
    (0 until g.n).filter(rank(_) > 0).map(u => g.ids(u) -> rank(u)).toMap
  }

  def checkPpr(g: Csr, seeds: Set[Long], iters: Int, mass: Long,
      got: Seq[(Long, Long)]): Option[String] =
    diff("ppr", pprInt(g, seeds, iters, mass), got.toMap)

  /** Multi-source shortest distances over directed weighted edges. */
  def sssp(edges: Array[(Long, Long, Double)], sources: Seq[Long])
      : Map[Long, Double] = {
    val out = edges.groupBy(_._1)
    val dist = mutable.HashMap[Long, Double]()
    val heap = mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by[(Double, Long), Double](-_._1))
    val known = edges.flatMap(e => Seq(e._1, e._2)).toSet
    sources.filter(known).foreach { s => dist(s) = 0.0; heap.enqueue((0.0, s)) }
    while (heap.nonEmpty) {
      val (d, u) = heap.dequeue()
      if (d <= dist(u)) out.getOrElse(u, Array.empty).foreach { e =>
        val nd = d + e._3
        if (nd < dist.getOrElse(e._2, Double.PositiveInfinity)) {
          dist(e._2) = nd; heap.enqueue((nd, e._2))
        }
      }
    }
    dist.toMap
  }

  def checkSssp(edges: Array[(Long, Long, Double)], sources: Seq[Long],
      got: Seq[(Long, Double)]): Option[String] =
    diff("sssp", sssp(edges, sources), got.toMap)

  def checkBfs(adj: Adj, sources: Seq[String], depth: Int,
      got: Seq[(String, Int)]): Option[String] =
    diff("bfs", bfs(adj, sources, depth), got.toMap)

  /** Each pair within maxDepth must come back once, with the BFS length
    * and a path of that length along real edges between its ends. */
  def checkShortestPaths(adj: Adj, pairs: Seq[(String, String)],
      depth: Int, got: Seq[(String, String, Long, Seq[String])])
      : Option[String] = {
    val want = pairs.distinct.flatMap { case (a, b) =>
      bfs(adj, Seq(a), depth).get(b).map(d => (a, b) -> d.toLong)
    }.toMap
    val lens = got.map(r => (r._1, r._2) -> r._3).toMap
    diff("shortest_paths", want, lens).orElse {
      if (lens.size != got.size) Some("shortest_paths: duplicate pairs")
      else got.collectFirst {
        case (a, b, len, path) if path.length != len + 1 ||
            path.head != a || path.last != b ||
            path.sliding(2).exists(p => p.length == 2 &&
              !adj.nbr(adj.index(p(0))).contains(adj.index(p(1)))) =>
          s"shortest_paths: invalid path $path for ($a, $b)"
      }
    }
  }

  /** GraphX static PageRank: ranks start at 1, each round is
    * reset + (1 - reset) * sum of in-neighbour rank / out-degree, and
    * the result is rescaled so the ranks sum to the vertex count. */
  def pageRank(vertices: Seq[String], edges: Seq[(String, String)],
      iters: Int, reset: Double): Map[String, Double] = {
    val outDeg = edges.groupBy(_._1).view.mapValues(_.size).toMap
    var rank = vertices.map(_ -> 1.0).toMap
    (1 to iters).foreach { _ =>
      val in = mutable.HashMap[String, Double]().withDefaultValue(0.0)
      edges.foreach { case (s, d) => in(d) += rank(s) / outDeg(s) }
      rank = vertices.map(v => v -> (reset + (1 - reset) * in(v))).toMap
    }
    val sum = rank.values.sum
    rank.map { case (v, r) => v -> r * vertices.size / sum }
  }

  def checkPageRank(vertices: Seq[String], edges: Seq[(String, String)],
      iters: Int, reset: Double, got: Seq[(String, Double)])
      : Option[String] = {
    val want = pageRank(vertices, edges, iters, reset)
    val g = got.toMap
    if (g.keySet != want.keySet) Some(s"pagerank: ${g.size} ids, want " +
      s"${want.size}")
    else want.collectFirst {
      case (v, r) if math.abs(g(v) - r) > 1e-9 * math.max(1.0, r) =>
        s"pagerank: $v want $r got ${g(v)}"
    }
  }

  /** HyperBall estimates must be within 10% of the exact ball size on
    * average, and never off by more than a factor of two. */
  def checkHyperBall(adj: Adj, hops: Int, got: Seq[(String, Long)])
      : Option[String] = {
    if (got.map(_._1).toSet != adj.ids.toSet)
      return Some(s"hyperball: ${got.size} ids, want ${adj.ids.length}")
    // exact ball sizes with one reusable visit-stamp array
    val stamp = Array.fill(adj.ids.length)(-1)
    def ball(s: Int): Int = {
      stamp(s) = s
      var frontier = Array(s)
      var size = 1
      (1 to hops).foreach { _ =>
        val next = mutable.ArrayBuilder.make[Int]
        frontier.foreach(u => adj.nbr(u).foreach { v =>
          if (stamp(v) != s) { stamp(v) = s; next += v; size += 1 }
        })
        frontier = next.result()
      }
      size
    }
    val errs = got.map { case (v, est) =>
      val exact = ball(adj.index(v)).toDouble
      math.abs(est - exact) / exact
    }
    val mean = errs.sum / errs.size
    if (mean > 0.10 || errs.max > 1.0)
      Some(f"hyperball: mean relative error $mean%.3f, max ${errs.max}%.3f")
    else None
  }
}
