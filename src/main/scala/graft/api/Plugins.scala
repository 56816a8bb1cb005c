package graft.api

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** JSON-in/JSON-out plugin registry — the reference's ExecutePlugin
  * surface (proto/graphdb.proto:321-329,374; lib/src/plugin_system) as a
  * plain function registry. Scalar plugins can also be registered as
  * Spark UDFs so they participate in SQL, though native Column
  * expressions remain the preferred extension point (SURVEY.md §2.A
  * UDF/UDAF table).
  */
object Plugins {
  type Plugin = String => String // JSON in → JSON out

  private val registry = TrieMap[String, Plugin]()

  def register(name: String, p: Plugin): Unit = registry.put(name, p)
  def list: Seq[String] = registry.keys.toSeq.sorted

  def execute(name: String, argJson: String): String =
    registry.getOrElse(name,
      throw new IllegalArgumentException(s"no such plugin: $name")
    ).apply(argJson)

  /** Expose a registered plugin to Spark SQL as a string→string UDF. */
  def registerAsUdf(spark: SparkSession, name: String): Unit = {
    val p = registry(name)
    spark.udf.register(name, (s: String) => p(s))
  }
}
