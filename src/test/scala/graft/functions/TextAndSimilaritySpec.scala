package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class TextAndSimilaritySpec extends SparkSpec {
  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType)))

  test("tokenCount handles blanks, runs of whitespace") {
    val d = df(schema, Row(1L, "a b  c"), Row(2L, "   "), Row(3L, "one"))
    val out = d.select(col("id"), TextOps.tokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 0L, 3L -> 1L))
  }

  test("bpeMergeLearn: hand-computed merges, canonical greedy application") {
    // corpus: "papa" ×3, "pap" ×1 — chars p,a with end marker _
    // pair counts round 1 over [p,a,p,a,_]×3 + [p,a,p,_]×1:
    //   (p,a): 2×3 + 1 = 7; (a,p): 3+1 = 4; (a,_): 3; (p,_): 1
    // → merge 1 = (p,a) c=7. CANONICAL greedy application on papa
    // gives [pa,pa,_] (both occurrences merge — the consecutive-
    // occurrence case a naive single-space replace gets wrong);
    // pap → [pa,p,_]. Round 2: (pa,pa):3, (pa,_):3+0=3, (pa,p):1,
    // (p,_):1 → tie (pa,_) vs (pa,pa) at 3 broken by rhs asc:
    // '_'(0x5f) < 'p' → merge 2 = (pa,_) c=3? compare rhs strings
    // '_' vs 'pa': '_' < 'p' lexicographically → (pa,_) wins.
    val d = df(schema, Row(1L, "papa papa"), Row(2L, "papa pap"))
    val out = TextOps.bpeMergeLearn(d, "text", nMerges = 2)
      .orderBy(col("merge_rank")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    assert(out(0) == ((1L, "p", "a", 7L)), out.mkString(";"))
    assert(out(1) == ((2L, "pa", "_", 3L)), out.mkString(";"))
  }

  test("bpeMergeLearn: dry corpus stops early; compression consistent") {
    // only word 'a': merge 1 = (a, _) c=3, then every word is one
    // symbol — no pair remains, the loop must stop (not emit junk)
    val d = df(schema, Row(1L, "a a"), Row(2L, "a"))
    val merges = TextOps.bpeMergeLearn(d, "text", nMerges = 4).collect()
    assert(merges.length == 1, merges.mkString(";"))
    assert(merges(0).getString(1) == "a" && merges(0).getString(2) == "_")
    val c = TextOps.bpeCompression(d, "text", nMerges = 4).collect()(0)
    // 1 distinct word, before = freq 3 × (1 char + marker) = 6,
    // after the (a,_) merge each word is a single symbol: 3
    assert((c.getLong(0), c.getLong(1), c.getLong(2)) == ((1L, 6L, 3L)),
      c.toString)
  }

  test("bpeMergeLearn is partitioning-invariant") {
    // the cluster-correctness property: learned merges must not depend
    // on how the input happens to be split across partitions
    val rows = (1 to 40).map { i =>
      Row(i.toLong, Seq("the cat", "a cat sat", "the hat", "a bat",
        "the cat sat on a mat")(i % 5))
    }
    val d = df(schema, rows: _*)
    val a = TextOps.bpeMergeLearn(d, "text", nMerges = 5)
      .collect().map(_.toSeq).toSeq
    val b = TextOps.bpeMergeLearn(d.repartition(7), "text", nMerges = 5)
      .collect().map(_.toSeq).toSeq
    assert(a == b, s"$a vs $b")
    assert(a.length == 5)
  }

  test("two-pass globalCumsum equals the single-window running sum") {
    val ids = spark.range(0, 5000)
      .select(col("id"), (col("id") % 37 + 1).as("v"))
    val twoPass = PackingOps.globalCumsum(ids, "id", "v", partitions = 8)
      .select("id", "cumsum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("id"))
    val single = ids.withColumn("c", sum(col("v")).over(w))
      .select("id", "c").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(twoPass == single)
  }

  test("hashSplit: exhaustive, disjoint, near-nominal fractions, stable") {
    val ids = spark.range(0, 10000).select(col("id"))
    val split = ids.select(col("id"),
      SamplingOps.hashSplit(col("id"), 0.8, 0.1).as("s"))
    val counts = split.groupBy("s").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "validation", "test"))
    assert(counts.values.sum == 10000L)
    assert(math.abs(counts("train") - 8000L) < 200)
    assert(math.abs(counts("validation") - 1000L) < 150)
    // rerun-stable: identical assignment on a second evaluation
    val again = ids.select(col("id"),
      SamplingOps.hashSplit(col("id"), 0.8, 0.1).as("s"))
    assert(split.except(again).count() == 0)
    // boundary fractions
    val all = ids.filter(SamplingOps.deterministicSample(col("id"), 1.0))
    val none = ids.filter(SamplingOps.deterministicSample(col("id"), 0.0))
    assert(all.count() == 10000L && none.count() == 0L)
  }

  test("htmlStrip removes markup, decodes entities in safe order") {
    val d = df(schema,
      Row(1L, "<html><body><h1>Hi</h1><p>a &amp; b</p></body></html>"),
      Row(2L, "<style>p{x:1}</style>text<!-- c --><script>var y=2;" +
        "</script>"),
      Row(3L, "&amp;lt; stays; &lt;b&gt; decodes"),
      Row(4L, "no   markup\t at all"))
    val out = d.select(col("id"),
        TextOps.htmlStrip(col("text")).as("s")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "Hi a & b")
    assert(out(2L) === "text")
    // &amp;lt; → literal "&lt;" (amp decoded last), while &lt;b&gt; → <b>
    assert(out(3L) === "&lt; stays; <b> decodes")
    assert(out(4L) === "no markup at all")
    // a stray </style> must NOT close an open <script>: the per-tag
    // alternatives strip only the tags, keeping the visible text
    val cross = df(schema,
      Row(9L, "<script>var a=1;</style>visible<p>x</p>"))
      .select(TextOps.htmlStrip(col("text"))).collect()(0).getString(0)
    assert(cross === "var a=1; visible x")
    val ratios = d.select(col("id"),
        TextOps.visibleTextRatio(col("text")).as("r")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ratios.values.forall(r => r >= 0.0 && r <= 1.0))
    assert(ratios(4L) > ratios(1L)) // plain text is denser than markup
  }

  test("fingerprint is whitespace/case-insensitive and stable") {
    val d = df(schema, Row(1L, "Hello  World"), Row(2L, " hello world "))
    val fps = d.select(TextOps.fingerprint(col("text")))
      .collect().map(_.getString(0))
    assert(fps(0) == fps(1))
    assert(fps(0).length == 32)
  }

  test("fused stopwordCount is bit-identical to the compositional " +
      "form — real corpus incl. mojibake/blank/overlap edge cases") {
    val d = df(schema,
      Row(1L, "the cat is a friend of the dog and the bird"),
      Row(2L, "le chat et la souris et les oiseaux des bois"),
      Row(3L, "  The   THE the\tthe\nthe  "), // case+whitespace collapse
      Row(4L, ""), Row(5L, "   "), Row(6L, null),
      Row(7L, "a a a a"), // adjacent occurrences share pad spaces:
      // replace() counts non-overlapping left-to-right — must match
      Row(8L, "cafÃ© istanbul Ãléonore the"), // mojibake bytes
      Row(9L, "of-of of, of. of of"),
      // locale/trim hazards (r14): dotted/dotless I (a tr_TR-default
      // JVM lowercases 'I' to dotless i — the fused expr must follow
      // Spark's locale-independent lower, not the JVM's), sharp s, and
      // control chars that Java's String.trim strips but Spark's
      // space-only trim keeps
      Row(10L, "THE İSTANBUL I ı WAY OF A"),
      Row(11L, "STRASSE ß GROSS IS THE a"),
      Row(12L, "\u0001the cat is a\u0001"),
      Row(13L, " the\u00A0of ")) // NBSP: not \\s, must survive
    val words = Seq("the", "a", "of", "and", "is")
    val frProfile = Seq("le", "la", "et", "les", "des")
    val rows = d.select(col("id"),
        TextOps.stopwordCount(col("text"), words).as("fused"),
        TextOracles.stopwordCount(col("text"), words)
          .as("comp"),
        TextOps.stopwordPrefer(col("text"), words, frProfile)
          .as("pref"),
        (TextOracles.stopwordCount(col("text"), words) >
          TextOracles.stopwordCount(col("text"), frProfile))
          .as("prefComp"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2), r.toString)
      if (!r.isNullAt(1)) assert(r.getLong(1) == r.getLong(2), r.toString)
      // the fused filter predicate agrees with the compositional
      // comparison row by row (incl. null propagation)
      assert(r.isNullAt(3) == r.isNullAt(4), r.toString)
      if (!r.isNullAt(3))
        assert(r.getBoolean(3) == r.getBoolean(4), r.toString)
    }
    // and a spot value: row 7 "a a a a" pads to " a a a a " — replace
    // semantics count 2 non-overlapping " a " occurrences
    val r7 = rows.find(_.getLong(0) == 7L).get
    assert(r7.getLong(1) == 2L, r7.toString)
  }

  test("languageId picks the dominant stopword profile") {
    val d = df(schema,
      Row(1L, "the cat is a friend of the dog and the bird"),
      Row(2L, "le chat et la souris et les oiseaux des bois"))
    val out = d.select(col("id"), TextOps.languageId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "fr"))
  }

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))
  private lazy val vecs = df(vecSchema,
    Row(1L, Seq(1.0f, 0.0f, 0.0f)),
    Row(2L, Seq(0.9f, 0.1f, 0.0f)),
    Row(3L, Seq(0.0f, 1.0f, 0.0f)),
    Row(4L, Seq(0.0f, 0.0f, 1.0f)))

  test("cosineTopK ranks by true cosine, excludes self") {
    val out = SimilarityOps.cosineTopK(vecs, vecs.filter(col("vec_id") === 1),
        "vec_id", "embedding", k = 2)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(3)))
    assert(out.toSeq == Seq((2L, 1L), (3L, 2L))) // 2 closest, then 3; no self
  }

  test("annTopK returns a subset of brute-force results with scores") {
    val out = SimilarityOps.annTopK(vecs, vecs.filter(col("vec_id") === 1),
      "vec_id", "embedding", k = 2, dim = 3, planesPerBand = 2, bands = 2)
    // bucketing may drop candidates, but anything returned is scored + ranked
    val rows = out.collect()
    assert(rows.forall(_.getDouble(2) <= 1.000001))
    assert(rows.forall(_.getLong(1) != 1L))
  }

  test("banded annTopK recall@5 is 1.0 vs brute force on the test corpus") {
    val emb = graft.sources.Tables(spark, sf("sf0.001")).embeddings
    val q = emb.filter(col("vec_id") < 10)
    val exact = SimilarityOps.cosineTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = SimilarityOps.annTopK(emb, q, "vec_id", "embedding", 5,
        dim = 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((exact -- ann).isEmpty,
      s"ANN missed ${(exact -- ann).size}/${exact.size} exact neighbors")
    assert(ann == exact) // same ordering rule → identical top-5
  }

  test("hashingFeatures: native buckets match the md5-prefix hash, " +
      "counts sum to word count") {
    val d = df(schema, Row(1L, "a b a  C"), Row(2L, "   "), Row(3L, ""))
    val out = d.select(col("id"),
        TextOps.hashingFeatures(col("text"), 8).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def bucket(w: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(w.getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(h, 16) % 8).toInt
    }
    // normalize lowercases and collapses whitespace: words = a, b, a, c
    val expect = new Array[Long](8)
    Seq("a", "b", "a", "c").foreach(w => expect(bucket(w)) += 1)
    assert(out(1L) == expect.toSeq)
    assert(out(1L).sum == 4L)
    // blank/empty text normalizes to "" → the single empty-string word
    assert(out(2L).sum == 1L && out(3L).sum == 1L)
    assert(out(2L) == out(3L).toSeq)
  }

  test("l2TopK ranks by true Euclidean distance, excludes self") {
    val out = SimilarityOps.l2TopK(vecs, vecs.filter(col("vec_id") === 1),
        "vec_id", "embedding", k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
    // dist(1,2)=sqrt(0.02)≈0.141; dist(1,3)=dist(1,4)=sqrt(2)≈1.414,
    // tie-break on neighbor id
    assert(out.map(_._1).toSeq == Seq(2L, 3L, 4L))
    assert(math.abs(out(0)._2 - math.sqrt(0.02)) < 1e-4)
    assert(math.abs(out(1)._2 - math.sqrt(2)) < 1e-4)
  }

  test("binaryQuantizedTopK: full shortlist equals brute force; " +
      "256-bit recall is usable") {
    val emb = graft.sources.Tables(spark, sf("sf0.001")).embeddings
    val q = emb.filter(col("vec_id") < 10)
    val exact = SimilarityOps.cosineTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // shortlist = whole corpus → the rerank IS brute force
    val full = SimilarityOps.binaryQuantizedTopK(emb, q, "vec_id",
        "embedding", 5, dim = 64, shortlist = 1000)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact)
    // gate configuration: bounded shortlist, recall stays usable
    val bin = SimilarityOps.binaryQuantizedTopK(emb, q, "vec_id",
        "embedding", 5, dim = 64, shortlist = 60, words = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect bin).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall@5 = $recall")
  }

  test("ivfTopK with full probe equals brute force; partial probe subsets") {
    val emb = graft.sources.Tables(spark, sf("sf0.001")).embeddings
    val q = emb.filter(col("vec_id") < 3)
    val brute = SimilarityOps.cosineTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = SimilarityOps.ivfTopK(emb, q, "vec_id", "embedding", 5,
        nlist = 8, nprobe = 8)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full == brute)
    val partial = SimilarityOps.ivfTopK(emb, q, "vec_id", "embedding", 5,
        nlist = 8, nprobe = 2).collect()
    assert(partial.nonEmpty)
    assert(partial.forall(_.getLong(3) <= 5))
  }

  test("IVF k-means refinement keeps the exhaustive-probe invariant, deterministically") {
    val emb = graft.sources.Tables(spark, sf("sf0.001")).embeddings
    val q = emb.filter(col("vec_id") < 3)
    def run() = SimilarityOps.ivfTopK(emb, q, "vec_id", "embedding", 5,
        nlist = 8, nprobe = 8, kmeansIters = 2)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val refined = run()
    val brute = SimilarityOps.cosineTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(refined == brute) // exhaustive probe == brute force, any centroids
    assert(run() == refined) // DECIMAL-sum means → bit-deterministic
  }

  test("IVF centroid catalog persists: save→load→search == direct path") {
    val emb = graft.sources.Tables(spark, sf("sf0.001")).embeddings
    val q = emb.filter(col("vec_id") < 3)
    val cats = SimilarityOps.trainIvfCentroids(emb, "vec_id", "embedding",
      nlist = 8, kmeansIters = 2)
    val dir = java.nio.file.Files.createTempDirectory("ivf_catalog")
    cats.write.mode("overwrite").parquet(dir.toString)
    val loaded = spark.read.parquet(dir.toString)
    def key(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = key(SimilarityOps.ivfTopK(emb, q, "vec_id", "embedding",
      5, nlist = 8, nprobe = 4, kmeansIters = 2))
    val served = key(SimilarityOps.ivfTopKWith(emb, q, "vec_id",
      "embedding", 5, loaded, nprobe = 4))
    assert(served == direct)
    assert(served.nonEmpty)
  }

  test("LSH near-dup pairs equal the exact baseline, with no cartesian") {
    val emb = graft.sources.Tables(spark, sf("sf0.001")).embeddings
    val lsh = SimilarityOps.cosineNearDupPairs(
      emb, "vec_id", "embedding", dim = 64, threshold = 0.45)
    val exact = SimilarityOps.cosineNearDupPairsExact(
        emb, "vec_id", "embedding", 0.45).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = lsh.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == exact) // recall 1.0 at this threshold on this corpus
    val plan = lsh.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"near-dup gate path must not contain an all-pairs product:\n$plan")
  }

  test("ANN signature and IVF assignment stay out of interpreted HOFs") {
    val emb = graft.sources.Tables(spark, sf("sf0.001")).embeddings
    val q = emb.filter(col("vec_id") < 3)
    for (d <- Seq(
        SimilarityOps.annTopK(emb, q, "vec_id", "embedding", 5, dim = 64),
        SimilarityOps.ivfTopK(emb, q, "vec_id", "embedding", 5,
          nlist = 8, nprobe = 2))) {
      val plan = d.queryExecution.executedPlan.toString
      assert(!plan.contains("zip_with") && !plan.contains("aggregate("),
        s"hot path regressed to interpreted higher-order lambdas:\n$plan")
    }
  }

  test("zorderKey matches the naive per-bit interleave") {
    import spark.implicits._
    def naive(a: Long, b: Long): Long =
      (0 until 31).foldLeft(0L) { (acc, i) =>
        acc | ((a >> i) & 1L) << (2 * i) | ((b >> i) & 1L) << (2 * i + 1)
      }
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (5L, 3L),
      (123456L, 654321L), ((1L << 30) + 7L, (1L << 29) + 11L))
    val got = cases.toDF("a", "b")
      .select(graft.functions.LayoutOps.zorderKey(col("a"), col("b")))
      .collect().map(_.getLong(0)).toSeq
    assert(got === cases.map { case (a, b) => naive(a, b) })
    // interleave property: z(0,1) > z(1,0) (b holds the odd/high bits)
    assert(naive(0L, 1L) === 2L && naive(1L, 0L) === 1L)
  }

  test("rrfFuse: fixed-order fused scores, missing ids contribute zero") {
    import spark.implicits._
    val a = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "rank")
    val b = Seq((2L, 1L), (4L, 2L)).toDF("id", "rank")
    val out = SimilarityOps.rrfFuse(Seq(a, b), "id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L))
    assert(out(2L) === 1.0 / 62 + 1.0 / 61) // both lists
    assert(out(1L) === 1.0 / 61)            // only a
    assert(out(4L) === 1.0 / 62)            // only b
    // doc 2 (rank 2 + rank 1) beats doc 1 (rank 1 alone): fusion works
    assert(out(2L) > out(1L))
  }

  test("PQ with one code per corpus vector equals brute force exactly") {
    // every vector is its own (sub)centroid → reconstruction is exact →
    // ADC scores equal true cosines: a theorem about the decode path,
    // independent of codebook quality
    val rnd = new scala.util.Random(7)
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType))))
    val data = (1L to 20L).map(i =>
      Row(i, Seq.fill(4)(rnd.nextGaussian())))
    val emb = df(schema, data: _*)
    val q = emb.filter(col("vec_id") <= 3)
    val exact = SimilarityOps.cosineTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id", "score", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val pq = SimilarityOps.pqTopK(emb, q, "vec_id", "embedding", 5,
        dim = 4, m = 2, ksub = 20)
      .select("query_id", "neighbor_id", "score", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(pq == exact)
  }

  test("pqEncode: codes in range, stable under repartition, catalog round-trips") {
    val emb = graft.sources.Tables(spark, sf("sf0.001")).embeddings
    val cb = SimilarityOps.trainPqCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 16)
    assert(cb.count() === 8L * 16L)
    val codes = SimilarityOps.pqEncode(emb, "vec_id", "embedding", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.size === 500)
    assert(codes.values.forall(cs => cs.length == 8 &&
      cs.forall(c => c >= 0 && c < 16)))
    val again = SimilarityOps.pqEncode(emb.repartition(7), "vec_id",
        "embedding", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(again === codes)
  }

  test("PQ ADC recall@5 vs brute force is usable on the test corpus") {
    val emb = graft.sources.Tables(spark, sf("sf0.001")).embeddings
    val q = emb.filter(col("vec_id") < 10)
    val exact = SimilarityOps.cosineTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val raw = SimilarityOps.pqTopK(emb, q, "vec_id", "embedding", 5,
        dim = 64, m = 8, ksub = 32, kmeansIters = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rawRecall = (exact intersect raw).size.toDouble / exact.size
    val rr = SimilarityOps.pqTopKRerank(emb, q, "vec_id", "embedding", 5,
        dim = 64, m = 8, ksub = 32, shortlist = 50, kmeansIters = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect rr).size.toDouble / exact.size
    info(f"PQ raw ADC recall@5 = $rawRecall%.3f; rerank(50) = $recall%.3f")
    assert(recall >= 0.7, f"PQ rerank recall@5 $recall%.3f below 0.7")
    assert(recall >= rawRecall, "rerank must not lose recall")
  }

  test("IVF-PQ rerank recall@5 is usable; exhaustive probe ~= PQ rerank") {
    val emb = graft.sources.Tables(spark, sf("sf0.001")).embeddings
    val q = emb.filter(col("vec_id") < 10)
    val exact = SimilarityOps.cosineTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = SimilarityOps.ivfPqTopKRerank(emb, q, "vec_id",
        "embedding", 5, dim = 64, nlist = 8, nprobe = 4, m = 8,
        ksub = 32, shortlist = 60, pqIters = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect ivfpq).size.toDouble / exact.size
    info(f"IVF-PQ rerank recall@5 = $recall%.3f")
    assert(recall >= 0.5, f"IVF-PQ recall $recall%.3f below 0.5")
    // determinism: a second run returns the identical set
    val again = SimilarityOps.ivfPqTopKRerank(emb, q, "vec_id",
        "embedding", 5, dim = 64, nlist = 8, nprobe = 4, m = 8,
        ksub = 32, shortlist = 60, pqIters = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === ivfpq)
  }

  test("int8 quantization: zero-safe, bounded, and top-k mostly agrees with exact") {
    val emb = graft.sources.Tables(spark, sf("sf0.001")).embeddings
      .localCheckpoint()
    // every quantized component is in [-127, 127]
    val outOfRange = emb.select(
        explode(SimilarityOps.quantizeInt8(col("embedding"))).as("x"))
      .filter(col("x") > 127 || col("x") < -127).count()
    assert(outOfRange == 0)
    val q = emb.filter(col("vec_id") < 10)
    val exact = SimilarityOps.cosineTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = SimilarityOps.quantizedTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // quantized dots approximate UNNORMALIZED similarity — candidate
    // recall need not be perfect, but must be high on real data
    val overlap = exact.intersect(quant).size.toDouble / exact.size
    assert(overlap >= 0.5, s"quantized/exact top-5 overlap $overlap")
  }

  test("TpchGraph projection is consistent with base tables") {
    val g = graft.sources.TpchGraph(
      graft.sources.Tables(spark, sf("sf0.001")))
    val nVerts = g.vertices.count()
    val nCust = spark.read.parquet(sf("sf0.001") + "/customer.parquet").count()
    assert(nVerts > nCust)
    // every edge endpoint resolves to a vertex (referential integrity)
    val dangling = g.edges
      .join(g.vertices.select(col("id").as("src")), Seq("src"), "left_anti")
    assert(dangling.count() == 0)
  }

  test("mmrDiversifiedTopK skips the redundant twin for a diverse pick") {
    import spark.implicits._
    // A (id 1) and its exact twin A2 (id 2) both have rel .9 to q; B
    // (id 3, mirrored) also rel .9 but diverse (sim to A ≈ .62).
    // Plain top-3 = (1, 2, 3) by id ties; MMR must select 1, then 3
    // (the twin's marginal score .45−.5 < B's .45−.31), then 2.
    val corpus = Seq(
      (1L, Seq(0.9, 0.436, 0.0)),
      (2L, Seq(0.9, 0.436, 0.0)),
      (3L, Seq(0.9, -0.436, 0.0))).toDF("vec_id", "embedding")
    val query = Seq((0L, Seq(1.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val out = SimilarityOps.mmrDiversifiedTopK(corpus, query,
        "vec_id", "embedding", shortlist = 3, k = 3, lambda = 0.5)
      .orderBy(col("rank")).collect().map(_.getLong(1)).toSeq
    assert(out == Seq(1L, 3L, 2L))
    // plain relevance top-3 would order purely by id tie-break
    val plain = SimilarityOps.cosineTopK(corpus, query, "vec_id",
        "embedding", 3).orderBy(col("rank"))
      .collect().map(_.getLong(1)).toSeq
    assert(plain == Seq(1L, 2L, 3L))
  }

  test("mmrDiversifiedTopK: multi-query shortlist dedups; k > candidates") {
    import spark.implicits._
    // two queries shortlist the SAME 3 corpus ids (duplicate shortlist
    // rows); k=5 > 3 distinct candidates — the loop must dedup ids,
    // terminate at 3 picks, and never index an empty argmax
    val corpus = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),
      (2L, Seq(0.8, 0.6, 0.0)),
      (3L, Seq(0.0, 1.0, 0.0))).toDF("vec_id", "embedding")
    val query = Seq(
      (10L, Seq(1.0, 0.0, 0.0)),
      (11L, Seq(0.0, 1.0, 0.0))).toDF("vec_id", "embedding")
    val out = SimilarityOps.mmrDiversifiedTopK(corpus, query,
        "vec_id", "embedding", shortlist = 3, k = 5, lambda = 0.5)
      .collect()
    assert(out.length == 3, out.mkString(";"))
    assert(out.map(_.getLong(1)).toSet == Set(1L, 2L, 3L))
  }

  test("filteredCosineTopK: stratum-restricted, full k per stratum") {
    import spark.implicits._
    // two strata; corpus vector 4 (label B) is globally the best match
    // for query 10 (label A) — pre-filter semantics must never surface
    // it, and query 10 must still fill k=2 from its OWN stratum
    val corpus = Seq(
      (1L, "A", Seq(1.0, 0.1, 0.0)),
      (2L, "A", Seq(0.7, 0.7, 0.0)),
      (3L, "A", Seq(0.0, 1.0, 0.0)),
      (4L, "B", Seq(1.0, 0.0, 0.0)),
      (5L, "B", Seq(0.0, 0.0, 1.0))).toDF("vec_id", "label", "embedding")
    val queries = Seq((10L, "A", Seq(1.0, 0.0, 0.0)))
      .toDF("vec_id", "label", "embedding")
    val out = SimilarityOps.filteredCosineTopK(corpus, queries,
        "vec_id", "embedding", "label", k = 2)
      .orderBy(col("rank")).collect()
      .map(r => (r.getLong(1), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 1L), (2L, 2L)), out.mkString(";"))
    // a post-filter composition (global top-2 then label filter) would
    // return ONLY id 1: global top-2 is {4, 1}, and 4 is label B
    val post = SimilarityOps.cosineTopK(corpus, queries,
        "vec_id", "embedding", k = 2)
      .join(corpus.select(col("vec_id").as("neighbor_id"), col("label")),
        Seq("neighbor_id"))
      .filter(col("label") === "A").collect()
    assert(post.length == 1)
  }

  test("quantizedGram: exact, partitioning-invariant, symmetric entries") {
    import spark.implicits._
    val vecs = Seq(
      Seq(1.0f, 2.0f, -1.0f),
      Seq(0.5f, 0.0f, 3.0f),
      Seq(-2.0f, 1.5f, 0.25f)).toDF("embedding")
    def gram(df: org.apache.spark.sql.DataFrame) =
      SimilarityOps.quantizedGram(df, "embedding", scale = 10)
        .orderBy(col("i"), col("j")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val g = gram(vecs)
    // hand-computed at scale 10: q rows (10,20,-10),(5,0,30),(-20,15,3)
    // (0.25·10 = 2.5 rounds HALF_UP to 3 — both engines away-from-zero)
    // g(0,0)=100+25+400=525; g(0,1)=200+0-300=-100;
    // g(0,2)=-100+150-60=-10; g(1,1)=400+0+225=625;
    // g(1,2)=-200+0+45=-155; g(2,2)=100+900+9=1009
    val expect = Seq((0L, 0L, 3L, 525L), (0L, 1L, 3L, -100L),
      (0L, 2L, 3L, -10L), (1L, 1L, 3L, 625L), (1L, 2L, 3L, -155L),
      (2L, 2L, 3L, 1009L))
    assert(g.toSeq == expect, g.mkString(";"))
    assert(gram(vecs.repartition(7)).toSeq == expect)
  }

  test("pcaWhiten: unit variances, zero cross-covariance, max-var first") {
    import spark.implicits._
    // anisotropic 2-D cloud embedded in 3-D: dominant axis (1,1,0)
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      val a = rnd.nextGaussian() * 3.0; val b = rnd.nextGaussian() * 0.5
      (i.toLong, Seq(a + b, a - b, 0.1 * b))
    }
    val d = rows.toDF("id", "vec")
    val out = SimilarityOps.pcaWhiten(d, "id", "vec", r = 2)
      .select(col("id"), col("whitened")).collect()
      .map(r => r.getSeq[Double](1))
    val n = out.length.toDouble
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    val c0 = out.map(_(0)); val c1 = out.map(_(1))
    val (m0, m1) = (mean(c0), mean(c1))
    val v0 = c0.map(x => (x - m0) * (x - m0)).sum / n
    val v1 = c1.map(x => (x - m1) * (x - m1)).sum / n
    val cov01 = c0.zip(c1).map { case (x, y) => (x - m0) * (y - m1) }
      .sum / n
    assert(math.abs(v0 - 1.0) < 0.05, s"v0=$v0")
    assert(math.abs(v1 - 1.0) < 0.05, s"v1=$v1")
    assert(math.abs(cov01) < 0.05, s"cov01=$cov01")
    // component 0 carries the dominant (a-scaled) axis: its raw
    // (pre-whitening) variance must exceed component 1's — verify via
    // the projection of a dominant-direction unit step
    val probe = SimilarityOps.pcaWhiten(
      d, "id", "vec", r = 2).limit(0) // plan-only sanity (no throw)
    assert(probe.columns.contains("whitened"))
  }

  test("hashedLinearScore: zero-token docs survive with margin 0") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta alpha"), (2L, "   "), (3L, ""))
      .toDF("doc_id", "text")
    val w = ImportanceOps.pseudoWeights(spark, 256)
    val out = ImportanceOps.hashedLinearScore(docs, "doc_id", "text",
        w, 256).orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.length == 3)
    assert(out(1) == ((2L, 0L, false)) && out(2) == ((3L, 0L, false)))
    // margin(1) = 2·w(b(alpha)) + w(b(beta)) — recompute independently
    val wm = w.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def bucket(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % 256
    }
    val exp = 2 * wm(bucket("alpha")) + wm(bucket("beta"))
    assert(out(0) == ((1L, exp, exp > 0)), s"got ${out(0)} want $exp")
  }
}
