package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

/** The one place a graft stream starts. Every query runs with
  * [[LocalCheckpointFileManager]] as its checkpoint file manager (unless
  * the session already names one), so a local checkpoint starts no
  * child process, and optionally with a pinned shuffle-partition count
  * (state store instances are per shuffle partition and their
  * open/commit cost is per-partition-per-microbatch, so heavily-stateful
  * queries on small clusters want fewer, fuller partitions). A query
  * takes both settings when it starts; the session's own values are
  * restored and the query stopped when `body` returns or throws. */
object StreamRun {

  /** Starts `writer`, runs `body` on the started query, then stops it. */
  def run[T](spark: SparkSession, writer: DataStreamWriter[_],
      statePartitions: Option[Int] = None)(body: StreamingQuery => T): T = {
    val key = LocalCheckpointFileManager.ClassKey
    val manager = Seq(key -> classOf[LocalCheckpointFileManager].getName)
      .filter(_ => spark.conf.getOption(key).isEmpty)
    val partitions = statePartitions
      .map(n => "spark.sql.shuffle.partitions" -> n.toString)
    val pins = (manager ++ partitions)
      .map { case (k, v) => (k, v, spark.conf.getOption(k)) }
    pins.foreach { case (k, v, _) => spark.conf.set(k, v) }
    try {
      val q = writer.start()
      try body(q) finally q.stop()
    } finally pins.foreach {
      case (k, _, Some(prev)) => spark.conf.set(k, prev)
      case (k, _, None) => spark.conf.unset(k)
    }
  }

  /** Runs the query until every available input is processed. */
  def drain(spark: SparkSession, writer: DataStreamWriter[_],
      statePartitions: Option[Int] = None): Unit =
    run(spark, writer, statePartitions)(_.processAllAvailable())
}
