package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.engine.{GraphState, SessionCache}

/** Schema-adaptive `events.ts` handling. The driver's testdata has shipped
  * the column both as TIMESTAMP(NANOS) (which Spark's parquet reader only
  * accepts as a long under the legacy `nanosAsLong` conf) and as plain
  * timestamp[us] (arriving as TIMESTAMP_NTZ). Neither unit may be assumed:
  * detect it from the loaded schema and normalize to a session-TZ
  * microsecond TIMESTAMP — the one downstream contract. Sessions run UTC,
  * so the NTZ→TZ cast is value-preserving.
  */
object EventTs {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Session-wide legacy switch that lets the parquet reader accept
    * TIMESTAMP(NANOS) columns (as LongType). Side effect is deliberate
    * and session-wide: once set, OTHER parquet reads in the session with
    * nanos columns also arrive as LongType instead of erroring. To keep
    * the common case clean, [[readBatch]]/[[readStream]] only flip it
    * lazily — after a probe read actually failed on a nanos column — so
    * a session that never touches legacy-layout events never carries the
    * conf. */
  def enableNanosAsLong(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    log.warn("events read: enabling spark.sql.legacy.parquet.nanosAsLong " +
      "session-wide (legacy TIMESTAMP(NANOS) events layout detected); " +
      "unrelated parquet reads with nanos columns now arrive as LongType")
  }

  /** Fail fast unless the session runs in a fixed zero-offset zone. */
  def requireUtc(spark: SparkSession): Unit = {
    // the events contract — and every Det-disciplined gate — is defined
    // under UTC; the NTZ→TZ cast below is only value-preserving there.
    // All repo mains set it at build time; an ad-hoc session in another
    // zone fails LOUDLY here rather than silently shifting timestamps
    // (and rather than this reader hijacking the session's zone, which
    // would silently change unrelated queries mid-session).
    val tz = spark.conf.get("spark.sql.session.timeZone")
    // semantic check: any fixed zero-offset zone id (UTC, GMT, Z,
    // +00:00, Etc/UTC) qualifies
    val isUtc =
      try {
        val rules = java.time.ZoneId.of(tz).getRules
        rules.isFixedOffset &&
          rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds == 0
      } catch { case _: Throwable => false }
    require(isUtc,
      s"events reads require spark.sql.session.timeZone=UTC (got $tz): " +
        "the ts normalization and every deterministic gate are " +
        "UTC-defined — set it at session construction")
  }

  /** Normalize however `ts` arrived into a microsecond TIMESTAMP. */
  def normalize(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType =>
      // nanos-as-long: integer `div`, not `/` — nanos epochs (~1.7e18)
      // exceed double's 53-bit mantissa, float division can be off ±1µs
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case TimestampType => df
    case other => throw new IllegalStateException(
      s"events.ts arrived as unsupported type $other — expected " +
        "long (TIMESTAMP NANOS under nanosAsLong), timestamp_ntz, or timestamp")
  }

  /** A parquet probe failure that means "TIMESTAMP(NANOS) column without
    * the legacy conf" — the only failure the lazy conf flip should
    * swallow-and-retry. Matches the specific schema-converter error
    * shape ("Illegal Parquet type: INT64 (TIMESTAMP(NANOS, ...))" —
    * ParquetSchemaConverter's typeNotSupported path), not a bare
    * "NANOS" substring, so an unrelated error that merely mentions
    * NANOS can't flip the session-wide conf. */
  private def isNanosTypeError(e: Throwable): Boolean = {
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).take(8)
    msgs.exists(m => m.contains("TIMESTAMP(NANOS") &&
      m.toLowerCase(java.util.Locale.ROOT).contains("parquet"))
  }

  /** Read parquet, flipping the legacy nanos conf only if the first
    * attempt fails on a TIMESTAMP(NANOS) column (schema inference for
    * file sources is eager, so the failure surfaces here, not at an
    * action). When the conf genuinely applies it must STAY set for the
    * session: the returned frame is lazy, and the scan re-snapshots
    * SQLConf when an action plans it — a save/restore here would make
    * every later action on the frame fail. If the retry ALSO fails,
    * the flip bought nothing: restore the previous value before
    * re-raising so the failed probe leaves no session-wide residue. */
  private def readAdaptive(spark: SparkSession, path: String): DataFrame =
    try spark.read.parquet(path)
    catch {
      case e: Throwable if isNanosTypeError(e) =>
        val prev = spark.conf.getAll.get(
          "spark.sql.legacy.parquet.nanosAsLong")
        enableNanosAsLong(spark)
        try spark.read.parquet(path)
        catch {
          case retryFailure: Throwable =>
            prev match {
              case Some(v) => spark.conf.set(
                "spark.sql.legacy.parquet.nanosAsLong", v)
              case None => spark.conf.unset(
                "spark.sql.legacy.parquet.nanosAsLong")
            }
            throw retryFailure
        }
    }

  /** Batch read + normalize. */
  def readBatch(spark: SparkSession, path: String): DataFrame = {
    requireUtc(spark)
    normalize(readAdaptive(spark, path))
  }

  /** The streaming source schema when the directory has no files yet
    * to probe (the standard file-source pattern: the stream starts,
    * files arrive later): the CURRENT testdata contract, timestamp[us]
    * arriving as TIMESTAMP_NTZ. A populated dir always wins via the
    * footer probe. */
  private val defaultStreamSchema = org.apache.spark.sql.types.StructType(
    Seq(
      org.apache.spark.sql.types.StructField("event_id", LongType),
      org.apache.spark.sql.types.StructField("ts", TimestampNTZType),
      org.apache.spark.sql.types.StructField("user_id", LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("props",
        org.apache.spark.sql.types.StringType)))

  /** Streaming source over an events parquet dir with the same unit
    * detection: a one-time batch footer probe supplies the source schema
    * (readStream requires one), then the identical normalization applies
    * — batch and streaming can never disagree on the unit again. An
    * EXISTING but not-yet-populated dir falls back to the
    * current-contract default schema (files that later arrive in the
    * legacy nanos layout would need the stream restarted once a file
    * exists to probe — a documented limit of schema-pinned file
    * sources); a nonexistent path still fails loudly. */
  def readStream(spark: SparkSession, sourceDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    requireUtc(spark)
    val schema =
      try readAdaptive(spark, sourceDir).schema
      catch {
        case _: org.apache.spark.sql.AnalysisException
            if java.nio.file.Files.isDirectory(
              java.nio.file.Paths.get(
                sourceDir.stripPrefix("file:"))) =>
          log.warn(s"events stream source $sourceDir has no files to " +
            "probe — pinning the current-contract timestamp[us] schema. " +
            "If files later arrive in the legacy TIMESTAMP(NANOS) " +
            "layout, this stream will fail on schema mismatch and must " +
            "be restarted once a file exists to probe.")
          defaultStreamSchema
        case e: Throwable => throw e
      }
    val reader = spark.readStream.schema(schema)
    val withTrigger = maxFilesPerTrigger
      .map(n => reader.option("maxFilesPerTrigger", n))
      .getOrElse(reader)
    normalize(withTrigger.parquet(sourceDir))
  }
}

/** Loaders for the driver testdata (TESTDATA.md): TPC-H-ish star schema +
  * `events` stream table + `documents`/`embeddings` for the LLM-pipeline
  * operators. All reads are plain parquet scans — Catalyst pushes filters
  * and prunes columns into them.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region: DataFrame = t("region")
  def nation: DataFrame = t("nation")
  def customer: DataFrame = t("customer")
  def supplier: DataFrame = t("supplier")
  def part: DataFrame = t("part")
  def orders: DataFrame = t("orders")
  def lineitem: DataFrame = t("lineitem")
  /** The events table's `ts` unit is NOT fixed across testdata
    * generations — see [[EventTs]] for the schema-adaptive contract. */
  def events: DataFrame = EventTs.readBatch(spark, s"$dir/events.parquet")
  def documents: DataFrame = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

/** Deterministic property-graph projection of the TPC-H-ish tables, so the
  * graph engine (graft.engine) can be exercised — and oracle-checked —
  * against relational ground truth. Vertex ids are `<prefix>:<key>`;
  * edges follow the foreign keys.
  *
  * Graph shape:
  *   customer -IN_NATION->  nation      supplier -IN_NATION-> nation
  *   nation   -IN_REGION->  region      customer -PLACED->    order
  *   order    -CONTAINS->   part  (one edge per lineitem, qty/price props)
  *
  * Scale: vertex/edge construction is a narrow projection of the base
  * tables (no shuffle); at 100 TB these would be written once as
  * partitioned Parquet (edges bucketed by src) and reused.
  */
object TpchGraph {
  private def props(cols: (String, org.apache.spark.sql.Column)*) =
    map(cols.flatMap { case (k, v) => Seq(lit(k), v.cast("string")) }: _*)

  /** The projection is deterministic per (session, dir): the session
    * cache builds and persists it once, so a session running many graph
    * queries (Bench, Verify) builds and scans it once. At production
    * scale this materialization would be a one-time partitioned-parquet
    * write instead. */
  def apply(tb: Tables): GraphState =
    SessionCache.getOrCompute(tb.spark, ("TpchGraph", tb.dir),
        persist = true) {
      val g = build(tb)
      // Both sides cached: every pipe joins edges (both directions) and
      // ends in a vertices semi-join, so repeated union scans dominate
      // when uncached. (Uncached, Catalyst DOES constant-fold label
      // filters into single pruned branch scans — `build` keeps that
      // path; at 100 TB the materialization is parquet partitioned by
      // label, giving the same pruning on disk.)
      //
      // Coalesce before caching: the union of per-table parquet scans
      // inherits ALL input splits (measured 1764 cached partitions at
      // sf1), and every downstream scan of the cache then pays per-task
      // overhead 50× past useful parallelism. Coalesce is shuffle-free;
      // the cap still leaves 2 waves per core.
      val p = 2 * tb.spark.sparkContext.defaultParallelism
      GraphState(g.vertices.coalesce(p), g.edges.coalesce(p))
    }

  def build(tb: Tables): GraphState = {
    val vertices =
      tb.region.select(
        concat(lit("r:"), col("r_regionkey")).as("id"),
        lit("region").as("label"),
        props("name" -> col("r_name")).as("properties"))
      .unionByName(tb.nation.select(
        concat(lit("n:"), col("n_nationkey")).as("id"),
        lit("nation").as("label"),
        props("name" -> col("n_name")).as("properties")))
      .unionByName(tb.customer.select(
        concat(lit("c:"), col("c_custkey")).as("id"),
        lit("customer").as("label"),
        props("name" -> col("c_name"),
          "mktsegment" -> col("c_mktsegment")).as("properties")))
      .unionByName(tb.supplier.select(
        concat(lit("s:"), col("s_suppkey")).as("id"),
        lit("supplier").as("label"),
        props("name" -> col("s_name")).as("properties")))
      .unionByName(tb.part.select(
        concat(lit("p:"), col("p_partkey")).as("id"),
        lit("part").as("label"),
        props("name" -> col("p_name"), "brand" -> col("p_brand"),
          "type" -> col("p_type")).as("properties")))
      .unionByName(tb.orders.select(
        concat(lit("o:"), col("o_orderkey")).as("id"),
        lit("order").as("label"),
        props("status" -> col("o_orderstatus"),
          "priority" -> col("o_orderpriority")).as("properties")))

    val noProps = map().cast("map<string,string>")
    val edges =
      tb.customer.select(
        concat(lit("e:cn:"), col("c_custkey")).as("id"),
        concat(lit("c:"), col("c_custkey")).as("src"),
        concat(lit("n:"), col("c_nationkey")).as("dst"),
        lit("IN_NATION").as("edge_type"),
        lit("").as("label"), noProps.as("properties"))
      .unionByName(tb.supplier.select(
        concat(lit("e:sn:"), col("s_suppkey")).as("id"),
        concat(lit("s:"), col("s_suppkey")).as("src"),
        concat(lit("n:"), col("s_nationkey")).as("dst"),
        lit("IN_NATION").as("edge_type"),
        lit("").as("label"), noProps.as("properties")))
      .unionByName(tb.nation.select(
        concat(lit("e:nr:"), col("n_nationkey")).as("id"),
        concat(lit("n:"), col("n_nationkey")).as("src"),
        concat(lit("r:"), col("n_regionkey")).as("dst"),
        lit("IN_REGION").as("edge_type"),
        lit("").as("label"), noProps.as("properties")))
      .unionByName(tb.orders.select(
        concat(lit("e:co:"), col("o_orderkey")).as("id"),
        concat(lit("c:"), col("o_custkey")).as("src"),
        concat(lit("o:"), col("o_orderkey")).as("dst"),
        lit("PLACED").as("edge_type"),
        lit("").as("label"), noProps.as("properties")))
      .unionByName(tb.lineitem.select(
        concat(lit("e:op:"), col("l_orderkey"), lit(":"),
          col("l_linenumber")).as("id"),
        concat(lit("o:"), col("l_orderkey")).as("src"),
        concat(lit("p:"), col("l_partkey")).as("dst"),
        lit("CONTAINS").as("edge_type"),
        lit("").as("label"),
        map(lit("linenumber"), col("l_linenumber").cast("string"))
          .as("properties")))

    GraphState(vertices, edges)
  }
}
