package graft.dev

import org.apache.spark.sql.SparkSession

/** Conf-forced StarCC equivalence check (round-10 task #5): run the
  * d07 dedup-cluster gate twice at the given SF dir — once on the
  * default hybrid (driver union-find when the measured pair graph
  * passes the shared kernel gate) and once with
  * `spark.graft.graph.localKernelMaxEdges=0`, which forces the
  * DISTRIBUTED star-contraction fixpoint even for an empty edge set —
  * and require bit-identical results. This pins the
  * distributed leg at REAL data scale (sf1's 249k-edge pair graph),
  * not just TraversalSpec's random digraphs.
  *
  *   sbt "runMain graft.dev.StarCCForce /tmp/sf1 [queryName]"
  */
object StarCCForce {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val qName = args.lift(1).getOrElse("d07_dedup_clusters")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // surface the gate's leg line (spark.graft.debug-gated)
    spark.conf.set(graft.util.Dbg.ConfKey, "true")
    val q = graft.SparkEntry.allQueries.find(_.name == qName)
      .getOrElse(sys.error(s"no gate named $qName"))
    val boundKey = graft.engine.KernelGate.MaxEdgesKey

    def timed(tag: String): (Double, org.apache.spark.sql.DataFrame) = {
      val t0 = System.nanoTime()
      val df = q.run(spark, dir).cache()
      val n = df.count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[starcc-force] $tag: $n rows in $secs%.1f s")
      (secs, df)
    }

    // warm-up run (page cache + codegen) so the A/B measures the paths
    q.run(spark, dir).count()

    val (tHybrid, hybrid) = timed("hybrid (default kernel bound)")
    spark.conf.set(boundKey, "0")
    val (tDist, dist) = timed("distributed (bound=0 forced)")
    spark.conf.unset(boundKey)

    val onlyH = hybrid.exceptAll(dist).count()
    val onlyD = dist.exceptAll(hybrid).count()
    require(onlyH == 0 && onlyD == 0,
      s"StarCC legs DIVERGED on $qName at $dir: " +
        s"$onlyH rows only-hybrid, $onlyD rows only-distributed")
    println(f"[starcc-force] EQUAL: $qName at $dir — hybrid $tHybrid%.1f s," +
      f" distributed $tDist%.1f s, 0 differing rows")
    spark.stop()
  }
}
