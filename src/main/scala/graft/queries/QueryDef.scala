package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One correctness-gate entry: a Spark implementation plus (when
  * SQL-expressible) the equivalent DuckDB oracle SQL over the same parquet
  * tables. Column names/types MUST match between the two — the driver
  * sorts columns by name and hashes values.
  *
  * `stage` is the optional deterministic fixture-staging step (persisted
  * index / catalog / store writes the query then READS): Bench and
  * dev.Probe run it untimed before the timed reps, so the recorded
  * seconds measure the query, not one-time fixture construction.
  * `run` must stay self-contained — it calls the same (memoized, see
  * [[Fixtures]]) staging itself, so Verify and direct driver calls need
  * no protocol change.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    stage: Option[(SparkSession, String) => Unit] = None) {
  def withStage(f: (SparkSession, String) => Unit): QueryDef =
    copy(stage = Some(f))
}

object QueryDef {
  def sql(name: String, oracle: String)(run: (SparkSession, String) => DataFrame)
      : QueryDef = QueryDef(name, run, Some(oracle))
}

/** Once-per-JVM staging of deterministic gate fixtures, keyed by
  * (fixture, sfDir). First caller builds into a fresh temp dir; every
  * later call (a Bench rep, a second gate sharing the fixture, the
  * stage hook having already run) reuses the path. No cross-JVM reuse:
  * a new session always restages, so testdata regeneration can never
  * serve a stale fixture.
  */
object Fixtures {
  private val built =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  def staged(fixture: String, dir: String)(build: String => Unit): String =
    built.computeIfAbsent((fixture, dir), { _ =>
      val p = java.nio.file.Files.createTempDirectory(s"graft_$fixture")
      build(p.toString)
      p.toString
    })

  /** Stage one parquet table into a fresh temp directory for a
    * file-source stream. Driver testdata ships flat files
    * (`<table>.parquet`); Spark-written fixtures (the sf1 rehearsal
    * set) are DIRECTORIES of part files — `Files.copy` on those copies
    * only the empty directory entry and the downstream stream silently
    * reads zero rows, so both shapes are handled. Returns the staged
    * directory path. */
  /** Land `df` as ONE flat parquet file `<stage>/<tag>.parquet`. The
    * scratch write dir lives under `scratchBase`, which must be OUTSIDE
    * `stage` — a streaming file source lists `stage` recursively, so a
    * scratch dir inside it would double-ingest every staged row.
    * `mtimeMs` pins the file's modification time (the file source's
    * arrival order) when batch order is contractual. */
  def landSingleFile(df: org.apache.spark.sql.DataFrame,
      scratchBase: java.nio.file.Path, stage: java.nio.file.Path,
      tag: String, mtimeMs: Option[Long] = None): Unit = {
    require(!stage.toAbsolutePath.normalize.startsWith(
      scratchBase.toAbsolutePath.normalize) || scratchBase != stage,
      s"scratch $scratchBase must not equal the staged dir $stage")
    require(!scratchBase.toAbsolutePath.normalize.startsWith(
      stage.toAbsolutePath.normalize),
      s"scratch $scratchBase must live outside the staged dir $stage")
    val tmp = scratchBase.resolve(s"w_$tag").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(s"no part file under $tmp"))
    val dst = stage.resolve(s"$tag.parquet")
    java.nio.file.Files.copy(part.toPath, dst)
    mtimeMs.foreach(dst.toFile.setLastModified(_))
  }

  def stageTable(dir: String, table: String, prefix: String): String = {
    import java.nio.file.{Files, Paths}
    val stage = Files.createTempDirectory(prefix)
    val src = Paths.get(dir, s"$table.parquet")
    if (Files.isDirectory(src)) {
      val stream = Files.list(src)
      val parts =
        try stream.toArray(n => new Array[java.nio.file.Path](n))
          .filter(_.getFileName.toString.endsWith(".parquet"))
        finally stream.close()
      require(parts.nonEmpty, s"no parquet part files under $src")
      parts.foreach(f => Files.copy(f, stage.resolve(f.getFileName.toString)))
    } else Files.copy(src, stage.resolve(s"$table.parquet"))
    stage.toString
  }
}
