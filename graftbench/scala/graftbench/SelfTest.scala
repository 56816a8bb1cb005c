package graftbench

/** Checks the Scala output checkers on small seeded graphs: each must
  * accept its own reference answer and reject a perturbed one. Prints
  * one line per checker and exits non-zero on the first failure.
  * Run by graftbench/tests/test_bench.py. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val r = new scala.util.Random(7)
    // two dense random clusters joined by one edge, plus isolated ids
    val longEdges = (for {
      base <- Seq(0L, 100L)
      _ <- 0 until 120
      a = base + r.nextInt(20); b = base + r.nextInt(20) if a < b
    } yield (a, b)).distinct.toArray :+ ((5L, 105L))
    val co = Refs.csr(longEdges)
    val strEdges = longEdges.map { case (a, b) => (s"v$a", s"v$b") }.toSeq
    val vertices = strEdges.flatMap(e => Seq(e._1, e._2)).distinct ++
      Seq("iso1", "iso2")
    val adj = Refs.adjacency(vertices, strEdges)
    var failed = false
    def expect(name: String, good: Option[String], bad: Option[String]): Unit = {
      val ok = good.isEmpty && bad.isDefined
      println(s"${if (ok) "ok" else "FAIL"} $name: accepts=${good.isEmpty} " +
        s"rejects=${bad.isDefined}")
      if (!ok) failed = true
    }
    def bump[K](m: Seq[(K, Long)]): Seq[(K, Long)] =
      m.updated(0, (m.head._1, m.head._2 + 1))

    val cc = Refs.components(adj).toSeq.map { case (v, c) =>
      (v, c.hashCode.toLong) }
    expect("cc", Refs.checkComponents(adj, cc),
      Refs.checkComponents(adj, cc.updated(0, (cc.head._1, -1L))))

    val kc = Refs.kCore(co, 4).toSeq
    expect("kcore", Refs.checkKCore(co, 4, kc),
      Refs.checkKCore(co, 4, kc.tail))

    val ts = Refs.triangleSupport(co).toSeq.map { case ((a, b), s) => (a, b, s) }
    expect("triangle_support", Refs.checkTriangleSupport(co, ts),
      Refs.checkTriangleSupport(co, ts.updated(0, ts.head.copy(_3 = ts.head._3 + 1))))

    val tl = Refs.topLinks(co, 5)
    expect("link_pred", Refs.checkTopLinks(co, 5, tl),
      Refs.checkTopLinks(co, 5, tl.reverse))

    val lp = Refs.labelPropagation(co, 2).toSeq
    expect("label_prop", Refs.checkLabelPropagation(co, 2, lp),
      Refs.checkLabelPropagation(co, 2, bump(lp)))

    val seeds = Set(1L, 3L)
    val ppr = Refs.pprInt(co, seeds, 3, 1000000L).toSeq
    expect("ppr", Refs.checkPpr(co, seeds, 3, 1000000L, ppr),
      Refs.checkPpr(co, seeds, 3, 1000000L, bump(ppr)))

    val weighted = longEdges.map { case (a, b) => (a, b, 1.0 + (a + b) % 3) }
    val sp = Refs.sssp(weighted, Seq(0L, 1L)).toSeq
    expect("sssp", Refs.checkSssp(weighted, Seq(0L, 1L), sp),
      Refs.checkSssp(weighted, Seq(0L, 1L),
        sp.updated(0, (sp.head._1, sp.head._2 + 0.5))))

    val bfs = Refs.bfs(adj, Seq("v0"), 3).toSeq
    expect("bfs", Refs.checkBfs(adj, Seq("v0"), 3, bfs),
      Refs.checkBfs(adj, Seq("v0"), 3, bfs.updated(0, (bfs.head._1, 9))))

    val pairs = Seq(("v0", "v105"), ("v1", "v2"))
    def path(a: String, b: String): Seq[String] = {
      // walk back from b along strictly decreasing BFS depth
      val d = Refs.bfs(adj, Seq(a), 6)
      Iterator.iterate(b)(v => adj.nbr(adj.index(v)).map(adj.ids(_))
        .find(u => d.get(u).contains(d(v) - 1)).get)
        .take(d(b) + 1).toSeq.reverse
    }
    val spRows = pairs.map { case (a, b) =>
      val p = path(a, b); (a, b, (p.length - 1).toLong, p) }
    expect("shortest_paths", Refs.checkShortestPaths(adj, pairs, 6, spRows),
      Refs.checkShortestPaths(adj, pairs, 6, spRows.updated(0,
        spRows.head.copy(_4 = spRows.head._4.reverse))))

    val dir = strEdges.take(30)
    val pv = dir.flatMap(e => Seq(e._1, e._2)).distinct
    val pr = Refs.pageRank(pv, dir, 3, 0.15).toSeq
    expect("pagerank", Refs.checkPageRank(pv, dir, 3, 0.15, pr),
      Refs.checkPageRank(pv, dir, 3, 0.15,
        pr.updated(0, (pr.head._1, pr.head._2 * 1.01))))

    val hb = adj.ids.toSeq.map(v => (v, Refs.bfs(adj, Seq(v), 2).size.toLong))
    expect("hyperball", Refs.checkHyperBall(adj, 2, hb),
      Refs.checkHyperBall(adj, 2, hb.map { case (v, n) => (v, n * 3) }))

    if (failed) sys.exit(1)
  }
}
