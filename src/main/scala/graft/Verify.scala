package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryNamePrefix …] — with prefixes, only
    // matching queries dump (dev loop); the driver passes none.
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = Bench.session(sys.env.get("SPARK_GRAFT_SHUFFLE"))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.nonEmpty && !only.exists(name.startsWith)) ()
      else
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // A crashed gate must NEVER vanish from the driver's correctness
        // file (round 4 silently hid 24 red gates this way): create the
        // query dir with an ERROR sentinel and no parquet, so the
        // driver's scan sees the name and records a failure for it.
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        val d = Paths.get(outDir, name)
        try {
          if (Files.exists(d)) {
            val walk = Files.walk(d)
            try walk.sorted(java.util.Comparator.reverseOrder())
              .forEach(p => Files.delete(p))
            finally walk.close()
          }
          Files.createDirectories(d)
          Files.writeString(d.resolve("ERROR.txt"),
            s"$name\n${e.getClass.getName}: ${e.getMessage}\n")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name sentinel write failed: " +
            e2.getMessage)
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
