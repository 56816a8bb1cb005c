package graft.dev

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Plan-inspection utility: prints the formatted physical plan of one or
  * all catalog queries — used to iterate on pushdown/broadcast/codegen
  * quality (the ".explain and iterate" loop).
  *
  *   sbt "runMain graft.dev.Explain q01_pricing_summary [sfDir]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q01_pricing_summary")
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // comma-separated k=v session confs — e.g. decline every driver
    // kernel (spark.graft.graph.localKernelMaxEdges=0, the one kernel
    // gate bound) to capture the at-scale plan shape of a
    // kernel-accelerated operator
    sys.env.get("SPARK_GRAFT_EXPLAIN_CONF").foreach(_.split(',')
      .filter(_.contains('=')).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      })
    val targets =
      if (name == "all") SparkEntry.queries.keys.toSeq.sorted
      else Seq(name)
    targets.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
