package graft.util

import org.apache.spark.sql.SparkSession

/** Opt-in diagnostic channel for library code: one conf flips on the
  * stderr lines the scale rehearsals read (kernel gate legs, gx18
  * bucket decisions), while production-style callers stay silent —
  * engine code must not print unconditionally (round-11 ADVICE).
  * stderr (not log4j) so a `setLogLevel("ERROR")` rehearsal harness
  * still sees it. */
object Dbg {
  val ConfKey = "spark.graft.debug"

  def enabled(spark: SparkSession): Boolean =
    spark.conf.get(ConfKey, "false").toBoolean

  /** Lazily-built message: zero cost when the conf is off. */
  def apply(spark: SparkSession, msg: => String): Unit =
    if (enabled(spark)) System.err.println(msg)
}
