package graft.streaming

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.multimodal.Multimodal
import graft.temporal.Temporal

class StreamingAndTemporalSpec extends SparkSpec {
  private implicit lazy val s: SparkSession = spark

  /** Streaming file sources need a directory: stage events.parquet alone
    * into a temp dir. */
  private lazy val eventsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf("sf0.001"), "events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("streaming windowed aggregation over the events parquet") {
    val out = EventStreams.runToMemory(spark, eventsDir,
      "win_agg", df => EventStreams.windowedAggregates(df),
      org.apache.spark.sql.streaming.OutputMode.Append)
    // watermark close: append mode emits finalized windows; the last
    // window may be held back, so compare against a strict lower bound
    assert(out.count() > 0)
    val batch = graft.sources.Tables(spark, sf("sf0.001")).events
      .groupBy(window(col("ts"), "1 hour"), col("event_type")).count()
    assert(out.count() <= batch.count())
  }

  test("streaming mapGroupsWithState accumulates per-user state") {
    val out = EventStreams.runToMemory(spark, eventsDir,
      "user_state", df => EventStreams.userRunningState(df),
      org.apache.spark.sql.streaming.OutputMode.Update)
    val expected = graft.sources.Tables(spark, sf("sf0.001")).events
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    // final state per user matches the batch count
    val got = out.groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n"))
    val mismatch = got.join(expected, Seq("user_id"))
      .filter(got("n") =!= expected("n"))
    assert(mismatch.count() == 0)
  }

  test("foreachBatch graph-upsert sink lands every event as a vertex") {
    val sess = graft.api.GraftSession.empty(spark)
    EventStreams.graphUpsertSink(spark, eventsDir, sess, batch =>
      batch.select(
        concat(lit("ev:"), col("event_id")).as("id"),
        col("event_type").as("label"),
        map(lit("user"), col("user_id").cast("string")).as("properties")))
    val nEvents = graft.sources.Tables(spark, sf("sf0.001")).events.count()
    assert(sess.graph.vertices.count() == nEvents)
    // snapshot is queryable through the normal engine after the stream
    implicit val s = spark
    val clicks = graft.cypher.Cypher.query(sess.graph,
      "MATCH (e:click) RETURN count(e) AS n").collect().head.getLong(0)
    assert(clicks > 0)
  }

  test("stream-stream interval join matches the batch join") {
    val streamed = EventStreams.runToMemory(spark, eventsDir,
        "ssj_parity", ev => EventStreams.clickViewJoin(ev, 3600))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = EventStreams.clickViewJoin(
        graft.sources.Tables(spark, sf("sf0.001")).events, 3600)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("left-outer stream join: unmatched emits on eviction, tail is retained") {
    // Hand-built two-batch replay pinning the THREE outcome classes of
    // the watermarked left-outer join, independent of testdata:
    //   click A matches a view        -> inner pair, emitted on match
    //   click B unmatched, cts < wm   -> (B, NULL) emitted on eviction
    //   click C unmatched, cts > wm   -> retained in state, NEVER emitted
    // wm(final) = min(ms-floored max cts, ms-floored max vts) - 1 h
    //           = min(22:30, 23:00) - 1 h = 21:30
    def ts(hhmm: String) = java.sql.Timestamp.valueOf(s"2024-03-01 $hhmm:00")
    val schema = "event_id BIGINT, user_id BIGINT, ts TIMESTAMP, " +
      "event_type STRING"
    val batch1 = Seq(
      (1L, 1L, ts("09:30"), "view"),   // V1: matches A
      (2L, 1L, ts("10:00"), "click"),  // A
      (3L, 2L, ts("10:10"), "click"))  // B: no view for user 2
    val batch2 = Seq(
      (4L, 3L, ts("22:30"), "click"),  // C: view arrives AFTER cts
      (5L, 3L, ts("23:00"), "view"))   // V2: vts > cts, no match
    // scratch writes OUTSIDE the source dir: the file source lists
    // `stage` recursively, so an inside scratch double-ingests rows
    val base = java.nio.file.Files.createTempDirectory("oj_fixture")
    val stage = base.resolve("in")
    java.nio.file.Files.createDirectories(stage)
    def land(rows: Seq[(Long, Long, java.sql.Timestamp, String)],
        tag: String): Unit =
      graft.queries.Fixtures.landSingleFile(
        spark.createDataFrame(rows)
          .toDF("event_id", "user_id", "ts", "event_type"),
        base, stage, tag)
    land(batch1, "a")
    val q = spark.readStream.schema(schema).parquet(stage.toString)
      .transform(e => EventStreams.clickViewJoinOuter(e, 3600))
      .writeStream.format("memory").queryName("oj_semantics")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .start()
    q.processAllAvailable()
    land(batch2, "b")
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("oj_semantics").collect()
    val got = rows
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    assert(got == Set((2L, 1L), (3L, -1L))) // A matched; B evicted; C retained
    assert(rows.length == 2) // exact multiset: nothing emitted twice
  }

  test("stateful streams on the RocksDB state store match the default provider") {
    // The default HDFSBackedStateStore keeps every version's map on the
    // executor heap — at 100 TB streaming state the production provider
    // is RocksDB (spilled, changelog-checkpointed). Pin that the two
    // most state-shaped operators (interval join; watermarked windowed
    // agg) produce IDENTICAL results under it, so the provider is a
    // deployment conf, not a semantics change.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val rocks = "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"
    def joinSet(tag: String): Set[(Long, Long)] =
      EventStreams.runToMemory(spark, eventsDir, s"rocks_join_$tag",
          ev => EventStreams.clickViewJoin(ev, 3600))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def aggSet(tag: String): Set[Row] =
      EventStreams.runToMemory(spark, eventsDir, s"rocks_agg_$tag",
          ev => EventStreams.windowedAggregates(ev))
        .collect().toSet
    val (joinDefault, aggDefault) = (joinSet("d"), aggSet("d"))
    spark.conf.set(key, rocks)
    try {
      assert(joinSet("r") == joinDefault)
      assert(aggSet("r") == aggDefault)
      assert(joinDefault.nonEmpty)
    } finally spark.conf.unset(key)
  }

  test("rangeJoinBinned equals the naive cross-join filter") {
    val ev = graft.sources.Tables(spark, sf("sf0.001")).events
      .select(col("event_id"), col("ts"))
    val iv = graft.sources.Tables(spark, sf("sf0.001")).events
      .filter(col("user_id") < 20)
      .groupBy(col("user_id").as("campaign"))
      .agg(min(col("ts")).as("start_ts"))
      .withColumn("end_ts", col("start_ts") + expr("INTERVAL 47 MINUTES"))
    // bin deliberately NOT aligned to the interval length (701 s) so the
    // multi-bin replication path is exercised
    val binned = graft.temporal.Temporal
      .rangeJoinBinned(ev, "ts", iv, "start_ts", "end_ts", 701)
      .select(col("event_id"), col("campaign"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = ev.crossJoin(iv)
      .filter(col("ts") >= col("start_ts") && col("ts") <= col("end_ts"))
      .select(col("event_id"), col("campaign"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(binned == naive)
    assert(binned.nonEmpty)
  }

  test("sessionization: streaming flatMapGroupsWithState matches batch") {
    implicit val s = spark
    val streamed = EventStreams.runToMemory(spark, eventsDir,
      "sessions", df => EventStreams.sessionizeStream(df, 1800),
      org.apache.spark.sql.streaming.OutputMode.Append)
      .select("user_id", "session_start", "session_end", "n_events")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3))).toSet
    val batchDf = EventStreams.sessionizeBatch(
      graft.sources.Tables(spark, sf("sf0.001")).events, 1800)
    val batch = batchDf
      .select("user_id", "session_start", "session_end", "n_events")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3))).toSet
    // every streamed session is exactly a batch session...
    val phantom = streamed -- batch
    assert(phantom.isEmpty, s"streamed-only sessions: ${phantom.take(3)}")
    // ...and everything flushes except (at most) the per-user session
    // still open at the final watermark
    val nUsers = batch.map(_._1).size
    assert(streamed.size >= batch.size - nUsers)
    assert(streamed.nonEmpty)
  }

  private val logSchema = StructType(Seq(
    StructField("id", StringType), StructField("ts", TimestampType),
    StructField("op", StringType), StructField("payload", StringType)))
  private def t(s: String) = java.sql.Timestamp.valueOf(s)

  test("streaming funnel matches the batch funnel's completed users") {
    implicit val s = spark
    val streamed = EventStreams.runToMemory(spark, eventsDir,
        "funnel_parity",
        df => EventStreams.funnelStream(df,
          Seq("view", "click", "purchase")))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    val batch = graft.functions.EventOps.funnel(
        graft.sources.Tables(spark, sf("sf0.001")).events,
        "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
      .filter(col("depth") === 3)
      .collect()
      .map(r => (r.getLong(0), Seq(r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming funnel counts an equal-timestamp later-stage event") {
    // click and view share a timestamp, click sorts FIRST (lower id):
    // batch semantics still complete the funnel (t2 >= t1 with
    // equality); the stage-outer scan must match
    implicit val s = spark
    import org.apache.spark.sql.{Row => R}
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("funnel_tie")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val micros = t0.getTime * 1000L
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          R(1L, micros * 1000L, 7L, "click", 0.0),
          R(2L, micros * 1000L, 7L, "view", 0.0),
          R(3L, (micros + 1000000L) * 1000L, 7L, "purchase", 0.0))),
        schema)
      .write.mode("overwrite").parquet(dir.toString)
    val out = EventStreams.runToMemory(spark, dir.toString,
        "funnel_tie_q",
        df => EventStreams.funnelStream(df,
          Seq("view", "click", "purchase")))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(out.toSeq == Seq((7L,
      Seq(micros / 1000, micros / 1000, micros / 1000 + 1000))))
  }

  test("streaming sequence match equals the batch regex count") {
    implicit val s = spark
    val streamed = EventStreams.runToMemory(spark, eventsDir,
        "seq_parity",
        df => EventStreams.sequenceMatchStream(
          df, "view", Set("click"), "purchase"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.functions.EventOps.eventSignature(
        graft.sources.Tables(spark, sf("sf0.001")).events,
        "user_id", "event_type", "ts", "event_id",
        Seq("view" -> "v", "click" -> "c", "purchase" -> "p",
          "signup" -> "s", "error" -> "e"))
      .select(col("key"), size(regexp_extract_all(col("sig"),
        lit("vc*p"), lit(0))).cast("long").as("n"))
      .filter(col("n") > 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("sequence automaton: re-anchor, disarm, and non-overlap") {
    implicit val s = spark
    import org.apache.spark.sql.{Row => R}
    val dir = java.nio.file.Files.createTempDirectory("seq_cases")
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
      .getTime * 1000L
    def ev(id: Long, uid: Long, tpe: String) =
      R(id, (base + id * 1000000L) * 1000L, uid, tpe, 0.0)
    spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          // user 1: "vvp" — the second v re-anchors → 1 match
          ev(1, 1, "view"), ev(2, 1, "view"), ev(3, 1, "purchase"),
          // user 2: "vsp" — signup disarms → 0 matches (no rows)
          ev(1, 2, "view"), ev(2, 2, "signup"), ev(3, 2, "purchase"),
          // user 3: "vccpvp" — 2 non-overlapping matches
          ev(1, 3, "view"), ev(2, 3, "click"), ev(3, 3, "click"),
          ev(4, 3, "purchase"), ev(5, 3, "view"), ev(6, 3, "purchase"))),
        schema)
      .write.mode("overwrite").parquet(dir.toString)
    val out = EventStreams.runToMemory(spark, dir.toString, "seq_cases_q",
        df => EventStreams.sequenceMatchStream(
          df, "view", Set("click"), "purchase"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 3L -> 2L))
  }

  test("native streaming session_window: closed sessions match batch") {
    implicit val s = spark
    def sessions(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
    val streamed = EventStreams.runToMemory(spark, eventsDir,
        "sess_native",
        df => sessions(df.withWatermark("ts", "0 seconds")),
        org.apache.spark.sql.streaming.OutputMode.Append)
      .select(col("user_id"), col("w.start"), col("w.end"), col("n"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3))).toSet
    val batch = sessions(
        graft.sources.Tables(spark, sf("sf0.001")).events)
      .select(col("user_id"), col("w.start"), col("w.end"), col("n"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3))).toSet
    // every closed streamed session is exactly a batch session, and
    // everything flushes except (at most) each user's final session,
    // which the watermark can never pass
    val phantom = streamed -- batch
    assert(phantom.isEmpty, s"streamed-only sessions: ${phantom.take(3)}")
    val nUsers = batch.map(_._1).size
    assert(streamed.size >= batch.size - nUsers)
    assert(streamed.nonEmpty)
  }

  test("streaming attribution equals the batch window attribution") {
    implicit val s = spark
    val streamed = EventStreams.runToMemory(spark, eventsDir,
        "attr_parity",
        df => EventStreams.attributionStream(
          df, Set("view", "click", "signup"), "purchase"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), Option(r.get(2)),
        Option(r.get(3)), Option(r.get(4)), Option(r.get(5)))).toMap
    val batch = graft.functions.EventOps.attribution(
        graft.sources.Tables(spark, sf("sf0.001")).events,
        "user_id", "event_type", "ts", "event_id",
        Seq("view", "click", "signup"), "purchase")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), Option(r.get(2)),
        Option(r.get(3)), Option(r.get(4)), Option(r.get(5)))).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("temporal replayAsOf: last-write-wins + delete tombstones") {
    val log = df(logSchema,
      Row("v1", t("2024-01-01 00:00:00"), "insert", "a"),
      Row("v1", t("2024-01-02 00:00:00"), "update", "b"),
      Row("v1", t("2024-01-04 00:00:00"), "update", "c"),
      Row("v2", t("2024-01-01 12:00:00"), "insert", "x"),
      Row("v2", t("2024-01-03 00:00:00"), "delete", null))
    val at2 = Temporal.replayAsOf(log, lit("2024-01-02 12:00:00").cast("timestamp"))
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(at2 == Map("v1" -> "b", "v2" -> "x"))
    val at3 = Temporal.replayAsOf(log, lit("2024-01-03 12:00:00").cast("timestamp"))
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(at3 == Map("v1" -> "b")) // v2 tombstoned
  }

  test("scd2Upsert closes open intervals") {
    val curSchema = StructType(Seq(
      StructField("id", StringType), StructField("ts", TimestampType),
      StructField("end_time", TimestampType), StructField("v", StringType)))
    val current = df(curSchema,
      Row("e1", t("2024-01-01 00:00:00"), null, "old"))
    val fresh = df(StructType(curSchema.filterNot(_.name == "end_time")),
      Row("e1", t("2024-02-01 00:00:00"), "new"))
    val out = Temporal.scd2Upsert(current, fresh, "id", "ts")
    val rows = out.orderBy("ts").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[java.sql.Timestamp]("end_time")
      == t("2024-02-01 00:00:00")) // closed
    assert(rows(1).isNullAt(rows(1).fieldIndex("end_time"))) // open
    // validAt picks exactly one version per instant
    val atJan = out.filter(Temporal.validAt(
      lit("2024-01-15 00:00:00").cast("timestamp"), col("ts"),
      col("end_time"))).collect()
    assert(atJan.length == 1 && atJan.head.getString(3) == "old")
  }

  test("asOfJoin picks the latest right row at-or-before each left ts") {
    val lSchema = StructType(Seq(
      StructField("k", StringType), StructField("ts", TimestampType),
      StructField("ev", StringType)))
    val rSchema = StructType(Seq(
      StructField("k", StringType), StructField("ts", TimestampType),
      StructField("price", DoubleType)))
    val trades = df(lSchema,
      Row("A", t("2024-01-01 10:00:05"), "t1"),
      Row("A", t("2024-01-01 10:00:30"), "t2"),
      Row("A", t("2024-01-01 09:59:00"), "t0"), // before any quote
      Row("B", t("2024-01-01 10:00:10"), "t3"))
    val quotes = df(rSchema,
      Row("A", t("2024-01-01 10:00:00"), 100.0),
      Row("A", t("2024-01-01 10:00:30"), 101.0), // same instant as t2
      Row("B", t("2024-01-01 10:00:01"), 55.0))
    val out = Temporal.asOfJoin(trades, quotes, "k", "ts")
      .collect().map(r => r.getString(2) ->
        Option(r.get(3)).map(_.asInstanceOf[Double])).toMap
    assert(out("t1").contains(100.0))
    assert(out("t2").contains(101.0)) // inclusive <=
    assert(out("t0").isEmpty)         // no quote yet → null
    assert(out("t3").contains(55.0))
  }

  test("asOfJoin carries the latest right ROW atomically (NULL payloads win)") {
    val lSchema = StructType(Seq(
      StructField("k", StringType), StructField("ts", TimestampType),
      StructField("ev", StringType)))
    val rSchema = StructType(Seq(
      StructField("k", StringType), StructField("ts", TimestampType),
      StructField("price", DoubleType), StructField("size", LongType)))
    val left = df(lSchema, Row("A", t("2024-01-01 10:00:20"), "t1"))
    val right = df(rSchema,
      Row("A", t("2024-01-01 10:00:00"), 100.0, 7L),
      // the LATEST right row has a legitimately-NULL price and a new
      // size: both must surface together — no mixing with the older row
      Row("A", t("2024-01-01 10:00:10"), null, 9L))
    val r = Temporal.asOfJoin(left, right, "k", "ts").collect().head
    assert(r.isNullAt(r.fieldIndex("price")))
    assert(r.getLong(r.fieldIndex("size")) == 9L)
  }

  test("multimodal: real feature extraction recovers pixel and PCM " +
      "ground truth; opaque bytes get histogram features") {
    import Multimodal._
    // image path: two-tone PNG → 4×4 grid means recover the gray levels
    val png = {
      val img = new java.awt.image.BufferedImage(16, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 16) {
        val g = if (x < 8) 40 else 200
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val imgFeat = ImageIoCodec.featurize(png, 16).get
    assert(imgFeat.length == 16)
    for (c <- Seq(0, 1, 4, 5, 8, 9, 12, 13))
      assert(math.round(imgFeat(c) * 255f) == 40, s"cell $c")
    for (c <- Seq(2, 3, 6, 7, 10, 11, 14, 15))
      assert(math.round(imgFeat(c) * 255f) == 200, s"cell $c")
    // audio path: banded PCM → band energies recover the amplitudes
    val wav = WavCodec.encodeWavBands(16000, 1, 50,
      Array[Short](100, 900, 2500, 31))
    val wavFeat = WavCodec.pcmBandEnergies(wav, 4).get
    assert(wavFeat.map(f => math.round(f * 32768f)).toSeq ==
      Seq(100, 900, 2500, 31))
    // opaque path: histogram sums to ~1 and reflects the byte content
    val hist = OpaqueCodec.histogramFeatures(
      Array.fill[Byte](64)(65), 8) // all 'A' = bucket 2 of 8
    assert(hist(2) == 1.0f && hist.sum == 1.0f)
    // grid shapes
    assert(ImageIoCodec.gridDims(16) == ((4, 4)))
    assert(ImageIoCodec.gridDims(8) == ((4, 2)))
    assert(ImageIoCodec.gridDims(7) == ((7, 1)))
  }

  test("multimodal: riffMeta survives hostile chunk lengths (unsigned " +
      "32-bit overflow guard) and pcmBandEnergies never throws") {
    val good = Multimodal.WavCodec.encodeWav(8000, 1, 10, 1L)
    // craft a chunk whose length field is 0xFFFFFFF8: the old walk
    // overflowed toInt and looped or indexed negative
    val hostile = good.clone()
    hostile(16) = 0xf8.toByte; hostile(17) = 0xff.toByte
    hostile(18) = 0xff.toByte; hostile(19) = 0xff.toByte
    assert(Multimodal.WavCodec.riffMeta(hostile).isEmpty)
    assert(Multimodal.WavCodec.pcmBandEnergies(hostile, 4).isEmpty)
    // data-chunk length beyond the buffer: bands pool what's present
    val overLong = good.clone()
    overLong(40) = 0xff.toByte; overLong(41) = 0xff.toByte
    assert(Multimodal.WavCodec.pcmBandEnergies(overLong, 2).isDefined)
    // fuzz: arbitrary byte mutations never throw
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val b = good.clone()
      for (_ <- 1 to 6)
        b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      Multimodal.WavCodec.riffMeta(b)
      Multimodal.WavCodec.pcmBandEnergies(b, 4)
    }
    // real image rescale: output decodes at the target dimensions
    val png = Multimodal.ImageIoCodec.encodePng(20, 12, 7L)
    val small = Multimodal.ImageIoCodec.resizeImage(png, 8, 8).get
    val m = Multimodal.ImageIoCodec.probeMeta(small)
    assert(m.width.contains(8) && m.height.contains(8))
  }

  test("multimodal: feature extraction, resize, frame sampling " +
      "(pipeline shape over opaque bytes)") {
    val docs = graft.sources.Tables(spark, sf("sf0.001")).documents
    val media = Multimodal.syntheticMedia(docs).localCheckpoint()
    val feats = Multimodal.extractFeatures(media, dim = 8)
    val fRows = feats.collect()
    assert(fRows.length == docs.count())
    assert(fRows.forall(_.feature.length == 8))
    // deterministic: same input → same hash
    val again = Multimodal.extractFeatures(media, dim = 8).collect()
    assert(fRows.map(_.content_hash).toSet == again.map(_.content_hash).toSet)
    val resized = Multimodal.resizeContent(media, 32)
    assert(resized.select(max(length(col("content")))).collect()
      .head.getInt(0) <= 32)
    val frames = Multimodal.sampleFrames(media.limit(10), everyK = 2)
    assert(frames.count() > 0)
  }

  test("multimodal: WAV dual-reader decode agrees on real bytes and " +
      "rejects malformed ones") {
    // round-trip: both readers recover the encoded parameters exactly
    for ((rate, ch, n) <- Seq((8000, 1, 100), (20000, 2, 149))) {
      val bytes = Multimodal.WavCodec.encodeWav(rate, ch, n, seed = 7L)
      val expected = Some((ch, rate, 16, n.toLong))
      assert(Multimodal.WavCodec.riffMeta(bytes) == expected, s"riff $rate")
      assert(Multimodal.WavCodec.javaxMeta(bytes) == expected, s"jdk $rate")
    }
    // malformed inputs: honest None, never a throw
    val good = Multimodal.WavCodec.encodeWav(8000, 1, 10, 1L)
    for (bad <- Seq(Array.empty[Byte], "RIFFjunk".getBytes,
        good.take(20), good.map(b => (b ^ 0x5a).toByte)))
      assert(Multimodal.WavCodec.riffMeta(bad).isEmpty ||
        bad.sameElements(good), "malformed accepted")
  }

  test("checkpointed restart resumes exactly-once (no reprocessing)") {
    // data lands in two halves; the stream is DOWN when the second half
    // arrives. The checkpoint's file-source log must make the restarted
    // query pick up exactly the unprocessed files — nothing lost,
    // nothing duplicated. This is the production recovery contract the
    // in-memory test harness (runToMemory) doesn't exercise.
    val src = java.nio.file.Files.createTempDirectory("cp_src").toString
    val out = java.nio.file.Files.createTempDirectory("cp_out").toString
    val cp = java.nio.file.Files.createTempDirectory("cp_chk").toString
    val ids = graft.sources.Tables(spark, sf("sf0.001")).events
      .select(col("event_id")).localCheckpoint()
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema(StructType(Seq(StructField("event_id", LongType))))
        .parquet(src)
        .writeStream.format("parquet")
        .option("checkpointLocation", cp)
        .option("path", out)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }
    ids.filter(col("event_id") % 2 === 0).write.mode("append").parquet(src)
    runOnce()
    val n1 = spark.read.parquet(out).count()
    ids.filter(col("event_id") % 2 === 1).write.mode("append").parquet(src)
    runOnce() // restart from the checkpoint
    val outIds = spark.read.parquet(out)
    assert(n1 > 0 && n1 < ids.count())
    assert(outIds.count() == ids.count())          // nothing lost
    assert(outIds.distinct().count() == ids.count()) // nothing duplicated
  }

  test("stateful restart through StreamRun: join state recovers from a " +
      "local checkpoint, with Spark's checksums and no Hadoop .crc") {
    // clickViewJoin over two time-ordered halves: incarnation 1 sees the
    // first half and stops; a new query restarts from the same local
    // checkpoint once the second half lands. Pairs across the cut need
    // the view state restored from the checkpoint. The result must equal
    // one uninterrupted run over both halves.
    val ev = graft.sources.Tables(spark, sf("sf0.001")).events
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .localCheckpoint()
    val mm = ev.agg(min(col("ts")), max(col("ts"))).head()
    val (t0, t1) = (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
    val cut = new java.sql.Timestamp(t0 + (t1 - t0) / 2)
    val base = java.nio.file.Files.createTempDirectory("restart_join")
    val stage = base.resolve("in")
    java.nio.file.Files.createDirectories(stage)
    def land(half: org.apache.spark.sql.Column, tag: String): Unit =
      graft.queries.Fixtures.landSingleFile(ev.filter(half), base, stage, tag)
    def run(tag: String): Seq[(Long, Long)] = {
      val out = base.resolve(s"out_$tag").toString
      StreamRun.drain(spark, spark.readStream
        .schema("event_id BIGINT, user_id BIGINT, ts TIMESTAMP, " +
          "event_type STRING")
        .parquet(stage.toString)
        .transform(e => EventStreams.clickViewJoin(e, 3600))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", base.resolve(s"ckpt_$tag").toString)
        .outputMode("append"), statePartitions = Some(2))
      spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    }
    land(col("ts") < lit(cut), "a")
    val first = run("restart")
    land(col("ts") >= lit(cut), "b")
    val restarted = run("restart")
    val whole = run("whole")
    assert(first.nonEmpty && first.size < whole.size)
    assert(restarted == whole)
    val files = {
      val walk = java.nio.file.Files.walk(base.resolve("ckpt_restart"))
      try walk.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(_.getFileName.toString).toSeq
      finally walk.close()
    }
    assert(files.exists(n => n.endsWith(".delta.crc")),
      s"no state checksum file: $files")
    assert(!files.exists(n => n.startsWith(".") && n.endsWith(".crc")),
      s"hidden Hadoop .crc sidecars: $files")
  }
}
