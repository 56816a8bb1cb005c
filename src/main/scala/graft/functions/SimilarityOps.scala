package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Brute-force cosine top-k is the exact baseline: broadcast the (small)
  * query set against the (huge) corpus — one pass over the corpus, no
  * shuffle except the final per-query top-k, which TakeOrdered handles
  * without a global sort. The LSH-bucketed variant is the 100 TB path:
  * corpus is pre-bucketed by hyperplane signature, probes only touch
  * matching buckets.
  */
object SimilarityOps {

  /** Dot product of two double-array columns — native codegen'd
    * expression (sequential left-to-right summation, so the result is
    * deterministic and identical to the interpreted
    * aggregate(zip_with(...)) formulation it replaces — but stays inside
    * whole-stage codegen, ~20× faster on brute-force pair scoring). */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.{shims, DotProductExpr}
    shims.column(DotProductExpr(shims.expression(a), shims.expression(b)))
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Exact top-k cosine neighbors for each query vector.
    * `corpus`/`queries`: (idCol, vecCol). Queries are broadcast; the
    * corpus is scanned once. Output: (query_id, neighbor_id, score, rank).
    * Scores rounded to 6dp for cross-engine determinism; rank tie-breaks
    * on neighbor id. */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, excludeSelf: Boolean = true): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cvec"))
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qvec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(if (excludeSelf) col("neighbor_id") =!= col("query_id")
        else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("cvec"), col("qvec")), 6).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Banded hyperplane sketches: `bands`×`planesPerBand` deterministic
    * hyperplanes; element i packs band i's sign bits into a long. Two
    * vectors are near-dup candidates iff they agree on ALL bits of at
    * least one band — the OR-of-ANDs banding that keeps recall high at
    * moderate thresholds where a single full-signature bucket would miss
    * almost everything (P[all n bits agree] ≈ p^n). One native expression
    * computes every plane dot per row — a Column-composed version of the
    * same thing breaks whole-stage codegen on size (see
    * HyperplaneBandsExpr). */
  def hyperplaneBandValues(vec: Column, dim: Int, planesPerBand: Int,
      bands: Int): Column = {
    import org.apache.spark.sql.graft.{shims, HyperplaneBandsExpr}
    shims.column(HyperplaneBandsExpr(
      shims.expression(asDouble(vec)), dim, planesPerBand, bands))
  }

  /** ANN via BANDED hyperplane-LSH buckets (OR-of-ANDs): a candidate is
    * any corpus vector agreeing with the query on ALL bits of at least
    * one band; exact cosine re-ranks the candidates. The single
    * full-signature bucket this replaces required every bit to agree —
    * P[all n bits agree] ≈ (1−θ/π)ⁿ decays fast with angle, silently
    * missing moderate-similarity neighbors. Banding turns that into
    * 1−(1−pᵇ)^B, tunable to ≈1 recall on the working similarity range;
    * the s04 gate pins recall@5 == 1.0 vs the exact oracle. A colliding
    * pair is scored only in its FIRST matching band (native fused filter)
    * so no post-join dedup shuffle exists; queries stay broadcast, the
    * corpus is scanned once per band via posexplode. */
  def annTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, planesPerBand: Int = 3,
      bands: Int = 24): DataFrame = {
    import org.apache.spark.sql.graft.{shims, BandsFirstMatchExpr}
    val sig = (df: DataFrame, id: String) => df.select(
      col(idCol).as(id), asDouble(col(vecCol)).as(s"${id}_vec"),
      hyperplaneBandValues(asDouble(col(vecCol)), dim, planesPerBand,
        bands).as(s"${id}_bands"))
    val c = sig(corpus, "neighbor_id").select(col("neighbor_id"),
      col("neighbor_id_vec"), col("neighbor_id_bands"),
      posexplode(col("neighbor_id_bands")).as(Seq("band", "band_hash")))
    val q = sig(queries, "query_id").select(col("query_id"),
      col("query_id_vec"), col("query_id_bands"),
      posexplode(col("query_id_bands")).as(Seq("band", "band_hash")))
    val firstMatch = shims.column(BandsFirstMatchExpr(
      shims.expression(col("neighbor_id_bands")),
      shims.expression(col("query_id_bands"))))
    val scored = c.join(broadcast(q), Seq("band", "band_hash"))
      .filter(col("neighbor_id") =!= col("query_id") &&
        col("band") === firstMatch)
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("neighbor_id_vec"), col("query_id_vec")), 6)
          .as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Train the IVF coarse quantizer and return the centroid CATALOG as
    * a DataFrame (cell INT, centroid ARRAY<DOUBLE>) — parquet-
    * round-trippable, so a 100 TB corpus trains ONCE and every serving
    * job loads the catalog instead of re-clustering. Training runs on a
    * bounded DETERMINISTIC sample (hash-ordered TakeOrdered with id
    * tie-break, pinned by localCheckpoint): each Lloyd iteration costs
    * O(trainSample·nlist) regardless of corpus size. Coarse quantizers
    * only need a representative sample — and correctness never depends
    * on centroid quality (the exhaustive-probe == brute-force
    * invariant holds for ANY centroids; probing quality is a sampling
    * question). */
  def trainIvfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, kmeansIters: Int = 0, trainSample: Int = 4096)
      : DataFrame = {
    import corpus.sparkSession.implicits._
    val seed: Array[(Int, Seq[Double])] = corpus
      .orderBy(col(idCol)).limit(nlist)
      .select(asDouble(col(vecCol))).collect()
      .map(_.getSeq[Double](0)).zipWithIndex
      .map { case (v, i) => (i, v) }
    val train =
      if (kmeansIters == 0) corpus // never scanned by refinement
      else corpus
        .orderBy(xxhash64(col(idCol)), col(idCol)).limit(trainSample)
        .select(col(idCol), col(vecCol)).localCheckpoint()
    refineCentroids(train, vecCol, seed, kmeansIters)
      .toSeq.toDF("cell", "centroid")
  }

  /** IVF (inverted-file) ANN: corpus pre-partitioned into `nlist` cells
    * by nearest coarse centroid; queries probe their `nprobe` nearest
    * cells and exact-rerank inside them. Seed centroids are the first
    * `nlist` corpus vectors by id; `kmeansIters` Lloyd iterations refine
    * them distributedly (assignment is one scan; the per-cell mean uses
    * exact DECIMAL sums so centroids are bit-deterministic regardless of
    * partition order). With nprobe == nlist this is exhaustive and must
    * equal brute force for ANY centroids (tested invariant). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
      kmeansIters: Int = 0, trainSample: Int = 4096): DataFrame =
    ivfTopKWith(corpus, queries, idCol, vecCol, k,
      trainIvfCentroids(corpus, idCol, vecCol, nlist, kmeansIters,
        trainSample), nprobe)

  /** IVF search against a PRE-TRAINED centroid catalog (from
    * `trainIvfCentroids`, possibly persisted and reloaded — the
    * train-once/serve-many shape). The catalog is bounded (nlist×dim
    * doubles), so collecting it to drive codegen'd per-centroid dot
    * products is a constant, not a scan. */
  def ivfTopKWith(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, centroids: DataFrame, nprobe: Int = 4)
      : DataFrame = {
    // (distance, cell) pairs sorted ascending — ties break on cell id,
    // so assignment and probing are deterministic (sortedCellsCol).
    val cents = collectCentroids(centroids)
    val c = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cvec"))
      .withColumn("cell", nearestCellCol(cents)(col("cvec")))
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qvec"))
      .withColumn("cell", explode(probeCellsCol(cents, nprobe)(col("qvec"))))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("cvec"), col("qvec")), 6).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Lloyd refinement of IVF centroids: assign every corpus vector to
    * its nearest centroid (same deterministic rule as the query path),
    * then recompute each cell's element-wise mean with exact DECIMAL
    * sums (shuffle-order independent). Per iteration: one corpus scan +
    * one (cell, dim)-keyed aggregation of nlist×dim rows; the collected
    * centroid set is bounded by nlist×dim doubles. Empty cells keep
    * their previous centroid. */
  /** Distributed Lloyd's k-means over the embedding column, surfaced as
    * a first-class clustering operator (the SemDeDup cluster stage,
    * data-mixture bucketing, IVF training all reduce to it). Seeds are
    * the first k vectors by id; each iteration is ONE corpus scan
    * (assignment against k broadcast-literal centroids — codegen'd dots,
    * map-side only) plus a (cell, dim)-keyed aggregation whose state is
    * k×dim cells, then a final assignment pass. Output: (id, cluster),
    * one row per corpus vector.
    *
    * Cross-engine determinism (the s16 gate hash-matches a DuckDB
    * re-derivation of the same iterations): per-cell means are EXACT
    * DECIMAL sums cast to double BEFORE the divide — both engines then
    * perform the identical IEEE double division — and distances are
    * evaluated with the same sequential-summation dot and (distance,
    * cell) tie-break on both sides, so assignments agree exactly.
    * Empty cells keep their previous centroid.
    *
    * At 100 TB the refinement loop would run on a bounded sample (as
    * `trainIvfCentroids` does) with only the final assignment touching
    * the full corpus; at the gate SFs the whole corpus is within the
    * sample bound, so the full-corpus loop IS the sampled loop.
    *
    * EAGER at construction (like `mmrDiversifiedTopK`): the projection
    * pin, seed collection, and every refinement iteration run Spark
    * jobs before the returned frame's first action — plan-only
    * inspection of the result still pays the training loop. */
  def kmeansAssign(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    // projected once, pinned: seeds + every iteration + the final
    // assignment re-read this frame (bounded re-scan, same rationale as
    // the PQ code-table pin)
    val v = corpus.select(col(idCol).as("id"), asDouble(col(vecCol))
      .as("v")).localCheckpoint()
    val seed: Array[(Int, Seq[Double])] = v.orderBy(col("id")).limit(k)
      .select(col("v")).collect().map(_.getSeq[Double](0))
      .zipWithIndex.map { case (c, i) => (i, c) }
    var cents = seed
    def nearest(vc: Column): Column = {
      val pairs = array(cents.map { case (i, cvec) =>
        val c2 = cvec.map(x => x * x).sum
        struct((lit(c2) - lit(2.0d) * dot(vc, lit(cvec.toArray))).as("d"),
          lit(i).as("cell"))
      }: _*)
      array_sort(pairs).getItem(0).getField("cell")
    }
    (0 until iters).foreach { _ =>
      val means = v.select(col("v"), nearest(col("v")).as("cell"))
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim"))
        // exact sum, cast to double FIRST, then one IEEE divide — the
        // decimal-division scale rules would differ across engines
        .agg((sum(col("x").cast(org.apache.spark.sql.types
          .DecimalType(28, 14))).cast("double") / count(lit(1)))
          .as("m"))
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(
          struct(col("dim"), col("m")))), s => s.getField("m")).as("c"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
      cents = cents.map { case (i, old) => (i, means.getOrElse(i, old)) }
    }
    v.select(col("id").as(idCol),
      nearest(col("v")).cast("long").as("cluster"))
  }

  private def refineCentroids(corpus: DataFrame, vecCol: String,
      seed: Array[(Int, Seq[Double])], iters: Int)
      : Array[(Int, Seq[Double])] = {
    var cents = seed
    (0 until iters).foreach { _ =>
      def nearest(v: Column): Column = {
        val pairs = array(cents.map { case (i, cvec) =>
          val c2 = cvec.map(x => x * x).sum
          struct((lit(c2) - lit(2.0d) * dot(v, lit(cvec.toArray))).as("d"),
            lit(i).as("cell"))
        }: _*)
        array_sort(pairs).getItem(0).getField("cell")
      }
      val assigned = corpus.select(asDouble(col(vecCol)).as("v"))
        .select(col("v"), nearest(col("v")).as("cell"))
      val means = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim"))
        .agg((sum(col("x").cast(org.apache.spark.sql.types
          .DecimalType(28, 14))) / count(lit(1)))
          .cast("double").as("m"))
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(
          struct(col("dim"), col("m")))), s => s.getField("m")).as("c"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
      cents = cents.map { case (i, old) => (i, means.getOrElse(i, old)) }
    }
    cents
  }

  /** IVF-PQ with exact re-rank — the full modern compressed-ANN stack
    * (the FAISS IVFPQ architecture, built from this file's pieces):
    * coarse IVF cells partition the corpus; each vector stores its cell
    * id + an m-byte PQ code of its RESIDUAL v − c_cell (residuals are
    * far more quantizable than raw vectors); queries probe their
    * `nprobe` nearest cells and ADC-score candidates as
    * ⟨q, c_cell⟩ + ⟨q, recon(residual)⟩ — two native dots per row —
    * then the `shortlist` best re-rank at full precision. The scan
    * reads cell + codes (m bytes) per row and touches only probed
    * cells: at 100 TB this is the index layout that makes embedding
    * search tractable. Deterministic end-to-end (id-ordered seeds,
    * exact-decimal Lloyd means, tie-broken assignments); the s09 gate
    * certifies recall against the exact top-k. */
  def ivfPqTopKRerank(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int, nlist: Int = 8,
      nprobe: Int = 4, m: Int = 8, ksub: Int = 32, shortlist: Int = 60,
      coarseIters: Int = 0, pqIters: Int = 2, trainSample: Int = 4096)
      : DataFrame = {
    import org.apache.spark.sql.graft.{shims, PqEncodeExpr, VecSubExpr}
    val cents = collectCentroids(trainIvfCentroids(corpus, idCol, vecCol,
      nlist, coarseIters, trainSample))
    val centLit = typedlit(cents.map(_._2.toSeq).toSeq)
    def cellCentroid(cell: Column): Column = element_at(centLit, cell + 1)
    // corpus side: cell assignment + PQ-coded residual
    val assigned = corpus.select(col(idCol).as("neighbor_id"),
        asDouble(col(vecCol)).as("cvec"))
      .withColumn("cell", nearestCellCol(cents)(col("cvec")))
      .withColumn("res", shims.column(VecSubExpr(
        shims.expression(col("cvec")),
        shims.expression(cellCentroid(col("cell"))))))
      // pinned: codebook seeding, the training sample, and the code
      // table all read this frame — unpinned, each pays the per-row
      // nlist-dot assignment + subtract again (the gx06 re-scan
      // pathology). At cluster scale this is a persisted code table.
      .localCheckpoint()
    val cb = trainPqCodebooks(assigned, "neighbor_id", "res",
      dim, m, ksub, pqIters, trainSample)
    val books = collectCodebooks(cb)
    val codes = assigned.select(col("neighbor_id"), col("cell"),
      shims.column(PqEncodeExpr(shims.expression(col("res")),
        books.map(_.map(_._2.toArray)))).as("codes"))
    val recon = flatten(array(books.indices.map { s =>
      element_at(typedlit(books(s).map(_._2.toSeq).toSeq),
        col("codes").getItem(s) + 1)
    }: _*))
    // query side: probe nprobe cells, ADC-score, shortlist
    val q = queries.select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("qvec"))
      .withColumn("cell",
        explode(probeCellsCol(cents, nprobe)(col("qvec"))))
    val adc = codes.join(broadcast(q), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qvec"), cellCentroid(col("cell"))) +
          dot(col("qvec"), recon)).as("adc"))
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id").asc)
    val cands = adc.withColumn("__rn", row_number().over(ws))
      .filter(col("__rn") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    // exact re-rank of the shortlist
    val full = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cvec"))
    val qv = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qvec"))
    val scored = cands.join(full, Seq("neighbor_id"))
      .join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("cvec"), col("qvec")), 6).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** (dist, cell)-sorted centroid pairs; ties on cell id — one native
    * dot per centroid via the ‖v−c‖² expansion (‖v‖² drops out of the
    * ordering). */
  private def sortedCellsCol(cents: Array[(Int, Seq[Double])])
      (v: Column): Column = {
    val pairs = array(cents.map { case (i, cvec) =>
      val c2 = cvec.map(x => x * x).sum
      val d = lit(c2) - lit(2.0d) * dot(v, lit(cvec.toArray))
      struct(d.as("d"), lit(i).as("cell"))
    }: _*)
    array_sort(pairs)
  }

  private def nearestCellCol(cents: Array[(Int, Seq[Double])])
      (v: Column): Column =
    sortedCellsCol(cents)(v).getItem(0).getField("cell")

  private def probeCellsCol(cents: Array[(Int, Seq[Double])],
      nprobe: Int)(v: Column): Column =
    slice(sortedCellsCol(cents)(v), 1, nprobe).getField("cell")

  private def collectCentroids(centroids: DataFrame)
      : Array[(Int, Seq[Double])] =
    centroids
      .select(col("cell").cast("int"), col("centroid").cast("array<double>"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
      .sortBy(_._1)

  /** Train PRODUCT-QUANTIZATION codebooks: the vector splits into `m`
    * contiguous subspaces of dim/m dims; each subspace gets its own
    * `ksub`-centroid codebook. Returns the catalog as a DataFrame
    * (sub INT, code INT, centroid ARRAY<DOUBLE>) — parquet-
    * round-trippable like the IVF catalog, so a 100 TB corpus trains
    * once and encode/serve jobs load the catalog. Training is
    * deterministic end-to-end: seeds are the sub-slices of the first
    * `ksub` vectors by id; Lloyd iterations (on a bounded hash-ordered
    * sample) recompute means with exact DECIMAL sums. */
  def trainPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, ksub: Int, kmeansIters: Int = 0,
      trainSample: Int = 4096): DataFrame = {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    import corpus.sparkSession.implicits._
    val dsub = dim / m
    val seedVecs: Array[Seq[Double]] = corpus
      .orderBy(col(idCol)).limit(ksub)
      .select(asDouble(col(vecCol))).collect().map(_.getSeq[Double](0))
    var books: Array[Array[(Int, Seq[Double])]] = Array.tabulate(m) { s =>
      seedVecs.zipWithIndex
        .map { case (v, i) => (i, v.slice(s * dsub, (s + 1) * dsub)) }
    }
    if (kmeansIters > 0) {
      val train = corpus
        .orderBy(xxhash64(col(idCol)), col(idCol)).limit(trainSample)
        .select(asDouble(col(vecCol)).as("__v")).localCheckpoint()
      (0 until kmeansIters).foreach { _ =>
        // ONE job refines every subspace: the native encoder assigns all
        // m codes per row; the (sub, code, dim)-keyed exact-DECIMAL
        // means are bounded by m·ksub·dsub rows.
        import org.apache.spark.sql.graft.{shims, PqEncodeExpr}
        val codes = shims.column(PqEncodeExpr(
          shims.expression(col("__v")), books.map(_.map(_._2.toArray))))
        val means = corpusMeans(train
          .select(col("__v"), posexplode(codes).as(Seq("sub", "code")))
          .select(col("sub"), col("code"),
            posexplode(slice(col("__v"),
              col("sub") * dsub + 1, lit(dsub))).as(Seq("dim", "x"))))
        books = books.zipWithIndex.map { case (book, s) =>
          book.map { case (i, old) => (i, means.getOrElse((s, i), old)) }
        }
      }
    }
    books.zipWithIndex.flatMap { case (book, s) =>
      book.map { case (code, c) => (s, code, c) }
    }.toSeq.toDF("sub", "code", "centroid")
  }

  /** (sub, code, dim, x) rows → per-(sub, code) mean vectors with exact
    * DECIMAL sums (shuffle-order independent), collected as a bounded
    * map (≤ m·ksub entries). */
  private def corpusMeans(rows: DataFrame)
      : Map[(Int, Int), Seq[Double]] =
    rows.groupBy(col("sub"), col("code"), col("dim"))
      .agg((sum(col("x").cast(org.apache.spark.sql.types
        .DecimalType(28, 14))) / count(lit(1)))
        .cast("double").as("m"))
      .groupBy(col("sub"), col("code"))
      .agg(transform(array_sort(collect_list(
        struct(col("dim"), col("m")))), s => s.getField("m")).as("c"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2))
      .toMap

  /** PQ-encode a corpus against a trained codebook catalog: each vector
    * becomes `m` small integer codes (the compressed artifact a 100 TB
    * serving index stores — m bytes instead of dim floats, a 32× cut at
    * dim=64/m=8). Assignment is the same deterministic
    * ‖v−c‖² = ‖c‖² − 2⟨v,c⟩ (+‖v‖²) rule as IVF, ties on code id; one
    * native dot product per (subspace, code) inside whole-stage codegen
    * — no interpreted lambdas. Output: (idCol, codes ARRAY<INT>). */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.{shims, PqEncodeExpr}
    val cb = collectCodebooks(codebooks)
    val books = cb.map(_.map(_._2.toArray))
    corpus.select(col(idCol),
      shims.column(PqEncodeExpr(
        shims.expression(asDouble(col(vecCol))), books)).as("codes"))
  }

  /** Asymmetric-distance (ADC) top-k over a PQ-encoded corpus: each
    * candidate's decoded reconstruction ⟨concat of its subspace
    * centroids⟩ scores against the FULL-precision query —
    * ⟨q, recon(x)⟩ equals the textbook per-subspace LUT sum, expressed
    * here as decode-then-dot so the whole path is native codegen
    * (element_at into the literal codebook + flatten + one dot; no
    * lambdas, no per-row LUT allocation). The scan reads only the m
    * codes per row. `codes` is (idCol, codes) from [[pqEncode]]. */
  def pqTopKWith(codes: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, codebooks: DataFrame): DataFrame = {
    val cb = collectCodebooks(codebooks)
    val recon = flatten(array(cb.indices.map { s =>
      element_at(typedlit(cb(s).map(_._2.toSeq).toSeq),
        col("codes").getItem(s) + 1)
    }: _*))
    val c = codes.select(col(idCol).as("neighbor_id"),
      recon.as("rvec"))
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qvec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("rvec"), col("qvec")), 6).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Train + encode + search in one call (the gate/test convenience;
    * production splits these at the catalog and code table). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, m: Int = 8, ksub: Int = 32,
      kmeansIters: Int = 0, trainSample: Int = 4096): DataFrame = {
    val cb = trainPqCodebooks(corpus, idCol, vecCol, dim, m, ksub,
      kmeansIters, trainSample)
    pqTopKWith(pqEncode(corpus, idCol, vecCol, cb), queries, idCol,
      vecCol, k, cb)
  }

  /** PQ candidate generation + EXACT re-rank — the production shape:
    * ADC over the compressed codes shortlists `shortlist` candidates
    * per query (cheap: the scan reads m codes/row), then ONLY the
    * shortlist's full-precision vectors are fetched (an equi-join on
    * id, |queries|×shortlist rows) and re-scored exactly. Quantization
    * error then costs recall only when a true neighbor falls outside
    * the whole shortlist, not whenever it is mis-ranked within it —
    * recall@k of rerank(shortlist) ≫ recall@k of raw ADC at the same
    * scan cost. Output matches [[cosineTopK]]'s shape/ordering rule. */
  def pqTopKRerank(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, m: Int = 8, ksub: Int = 32,
      shortlist: Int = 50, kmeansIters: Int = 0,
      trainSample: Int = 4096): DataFrame = {
    val cb = trainPqCodebooks(corpus, idCol, vecCol, dim, m, ksub,
      kmeansIters, trainSample)
    val cands = pqTopKWith(pqEncode(corpus, idCol, vecCol, cb), queries,
        idCol, vecCol, shortlist, cb)
      .select(col("query_id"), col("neighbor_id"))
    val full = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cvec"))
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qvec"))
    val scored = cands.join(full, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("cvec"), col("qvec")), 6).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Collect a codebook catalog to per-subspace (code, centroid) arrays
    * — bounded by m×ksub×dsub doubles, a constant like the IVF catalog,
    * never a corpus scan. */
  private def collectCodebooks(codebooks: DataFrame)
      : Array[Array[(Int, Seq[Double])]] =
    codebooks.select(col("sub").cast("int"), col("code").cast("int"),
        col("centroid").cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), (r.getInt(1), r.getSeq[Double](2))))
      .groupBy(_._1).toArray.sortBy(_._1)
      .map(_._2.map(_._2).sortBy(_._1))

  /** Reciprocal-rank fusion of ranked lists (hybrid retrieval: vector
    * ranks ⊕ keyword ranks ⊕ …): rrf(d) = Σ_i 1/(c + rank_i(d)), the
    * standard score-free fusion. Each input is (idCol, rank). The sum
    * is a FIXED-ORDER expression over the outer-joined contributions
    * (never a shuffle-order aggregate), and 1/(c+rank) divides exact
    * integers — so the fused doubles are bit-identical on any engine:
    * RRF stays gate-pinnable where BM25/ln-based scores (libm) cannot.
    * Missing ids contribute 0 from that list. */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, c: Int = 60)
      : DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val tagged = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col(idCol),
        (lit(1.0d) / (lit(c.toDouble) + col("rank").cast("double")))
          .as(s"__rrf$i"))
    }
    val joined = tagged.reduce((a, b) => a.join(b, Seq(idCol), "full"))
    val score = tagged.indices
      .map(i => coalesce(col(s"__rrf$i"), lit(0.0d)))
      .reduce(_ + _)
    joined.select(col(idCol), score.as("rrf"))
  }

  /** Symmetric int8 quantization of an embedding column: each vector is
    * scaled by 127/‖v‖∞ and TRUNCATED toward zero (truncation — unlike
    * round-half — is a pure function of the double bits, so any engine
    * quantizes identically; determinism over the last ±0.5 quantum of
    * precision). At 100 TB this is the standard 4–8× scan-bytes
    * reduction for candidate generation: int8 dots select candidates,
    * full-precision vectors re-rank the survivors. Zero vectors map to
    * zero vectors. */
  def quantizeInt8(vec: Column): Column = {
    val v = asDouble(vec)
    val maxAbs = array_max(transform(v, x => abs(x)))
    when(maxAbs === 0.0d, transform(v, _ => lit(0)))
      .otherwise(transform(v,
        x => (x * lit(127.0d) / maxAbs).cast("int")))
  }

  /** Top-k by int8-quantized dot product — the cheap candidate stage of
    * a quantized retrieval pipeline (re-rank survivors with [[cosineTopK]]
    * semantics at full precision). Scores are exact integer dots of the
    * quantized vectors: deterministic, oracle-checkable. */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    // int8 dots computed through the native codegen'd DotProductExpr on
    // double arrays (exact: |dot| ≤ 127²·dim ≪ 2⁵³) — NOT an
    // aggregate(zip_with(...)) lambda, which runs interpreted
    val c = corpus.select(col(idCol).as("neighbor_id"),
      quantizeInt8(col(vecCol)).cast("array<double>").as("cq"))
    val q = queries.select(col(idCol).as("query_id"),
      quantizeInt8(col(vecCol)).cast("array<double>").as("qq"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        dot(col("cq"), col("qq")).cast("long").as("qdot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("qdot").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Exact embedding-cosine near-duplicate pairs (id1 < id2): the
    * brute-force O(n²) baseline the LSH variant approximates — run it on
    * samples/partitions, not the full 100 TB corpus. Threshold applies
    * to the 6dp-rounded score (cross-engine determinism). */
  def cosineNearDupPairsExact(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id1"), asDouble(col(vecCol)).as("v1"))
    val b = df.select(col(idCol).as("id2"), asDouble(col(vecCol)).as("v2"))
    a.crossJoin(b).filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        round(cosine(col("v1"), col("v2")), 6).as("score"))
      .filter(col("score") >= threshold)
  }

  /** Embedding-cosine near-duplicate pairs above a threshold, via banded
    * hyperplane LSH + exact re-score (id1 < id2) — the 100 TB path and
    * the gate entry. Candidates are generated only inside
    * (band, band_value) buckets (never an all-pairs product), then
    * deduplicated and exactly re-scored, so the output is a SUBSET of the
    * brute-force result filtered by recall; with the default 32 bands ×
    * 4 planes the recall is empirically 1.0 on the test corpora at
    * threshold 0.45 (verified against the exact oracle at sf0.001/0.01/
    * 0.1 — deterministic planes make this reproducible). */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, planesPerBand: Int = 4,
      bands: Int = 32): DataFrame = {
    import org.apache.spark.sql.graft.{shims, BandsFirstMatchExpr}
    // Only ids + the band sketch (bands longs) ride through the bucket
    // join — NOT the vectors: the exchange payload per exploded row is
    // the 8·bands-byte sketch instead of sketch + 8·dim-byte vector
    // (3× lighter at dim=64/bands=32; the ratio grows with dim, which
    // is what matters for 1k-dim production embeddings). A pair
    // colliding in k bands appears k times but survives ONLY in its
    // first matching band (native first-match filter fused into the
    // join's codegen stage) — every pair is emitted exactly once and no
    // post-join dedup shuffle exists. Vectors are fetched for the few
    // surviving candidates by two hash joins against the (id, vec)
    // projection, then exactly re-scored map-side.
    val withBands = df.select(col(idCol).as("vid"),
      hyperplaneBandValues(asDouble(col(vecCol)), dim,
        planesPerBand, bands).as("bands"))
    val banded = withBands.select(col("vid"), col("bands"),
      posexplode(col("bands")).as(Seq("band", "band_hash")))
    val a = banded.select(col("band"), col("band_hash"),
      col("vid").as("id1"), col("bands").as("bands1"))
    val b = banded.select(col("band"), col("band_hash"),
      col("vid").as("id2"), col("bands").as("bands2"))
    val firstMatch = shims.column(BandsFirstMatchExpr(
      shims.expression(col("bands1")), shims.expression(col("bands2"))))
    val pairs = a.join(b, Seq("band", "band_hash"))
      .filter(col("id1") < col("id2") && col("band") === firstMatch)
      .select(col("id1"), col("id2"))
    val vecs = df.select(col(idCol).as("jid"),
      asDouble(col(vecCol)).as("jv"))
    pairs
      .join(vecs.withColumnRenamed("jid", "id1")
        .withColumnRenamed("jv", "v1"), Seq("id1"))
      .join(vecs.withColumnRenamed("jid", "id2")
        .withColumnRenamed("jv", "v2"), Seq("id2"))
      .select(col("id1"), col("id2"),
        round(cosine(col("v1"), col("v2")), 6).as("score"))
      .filter(col("score") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): documents whose EMBEDDINGS are near-identical are
    * collapsed to one representative, catching paraphrases that lexical
    * MinHash/SimHash dedup cannot see. Pipeline: embedding-cosine
    * near-dup pairs (banded hyperplane LSH + exact re-score — the
    * cartesian-free d05 path with proven recall), closed into connected
    * components (GraphX min-id propagation), keeper = each component's
    * minimum id. Returns (id, cluster_id, keep 0/1) for every input row.
    *
    * Scale shape: pair generation never leaves LSH buckets (the paper
    * uses k-means cells for the same purpose — both bound the candidate
    * set; banding additionally guarantees recall at a chosen threshold),
    * and the closure is one GraphX CC over |pairs| edges. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double,
      precomputedPairs: Option[DataFrame] = None): DataFrame = {
    // GraphX materializes its edge RDD more than once while building and
    // iterating the graph — pin the LSH+re-score pipeline's result so
    // those passes replay a tiny pair table, not the whole pair search.
    // A caller that already ran the pair search (the d05 gate and this
    // operator share it) can pass the pinned (id1, id2) frame instead.
    val pairs = precomputedPairs.getOrElse(
      cosineNearDupPairs(df, idCol, vecCol, dim, threshold)
        .select(col("id1"), col("id2"))
        .localCheckpoint())
    DedupOps.dupClusters(pairs, df.select(col(idCol)), idCol)
      .withColumn("keep", (col(idCol) === col("cluster_id")).cast("long"))
  }

  /** Maximal Marginal Relevance diversified top-k (Carbonell &
    * Goldstein 1998): greedily select k results maximizing
    * λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s) — the standard
    * redundancy-removal step for retrieved training/RAG context, where
    * plain top-k returns k copies of the same passage.
    *
    * Determinism: rel and pairwise sims are the 6dp-rounded exact
    * cosines (the s01 recipe — bit-identical across engines); the
    * greedy objective is pure ×/− on those, ties broken by minimum id,
    * so the whole selection is reproducible in SQL (the s10 oracle
    * unrolls the k steps).
    *
    * Scale shape: the corpus-sized work is the exact shortlist
    * (broadcast query × one corpus scan, TakeOrdered top-`shortlist`);
    * the greedy phase is k DISTRIBUTED argmax jobs over a running
    * per-candidate max_sim column — each iteration folds ONLY the
    * newest pick's vector (inlined as a literal, no join) into
    * max_sim via `greatest`, then collects exactly ONE winner row:
    * O(k·shortlist) total sim evals, never shortlist² and never
    * k²·shortlist. The driver holds only the k selected (id, score)
    * pairs plus one winner vector at a time, so the operator scales
    * to arbitrary shortlists — the full pairwise sim matrix is never
    * materialized anywhere. NOTE: the per-iteration collects make
    * this operator EAGER — the scan and the bounded per-iteration
    * jobs execute at call time and the returned frame is a
    * LocalRelation, so plan sweeps see only the final result; the
    * scale-safety argument lives here, mirroring the ScaleSpec
    * allowlist. Returns (rank, neighbor_id, mmr_score). */
  def mmrDiversifiedTopK(corpus: DataFrame, query: DataFrame,
      idCol: String, vecCol: String, shortlist: Int = 20, k: Int = 5,
      lambda: Double = 0.5): DataFrame = {
    val spark = corpus.sparkSession
    // DISTINCT candidate ids (a multi-query shortlist repeats
    // neighbor ids — the loop bound and termination depend on the
    // deduped count); rel dedup by max is deterministic
    val cand = cosineTopK(corpus, query, idCol, vecCol, shortlist)
      .groupBy(col("neighbor_id").as("id"))
      .agg(max(col("score")).as("rel"))
    // (id, rel, v): the shortlist with its vectors, materialized once
    // (bounded: `shortlist` rows)
    val short = corpus.join(broadcast(cand), corpus(idCol) === cand("id"))
      .select(cand("id"), col("rel"), asDouble(col(vecCol)).as("v"))
      .localCheckpoint()
    val nCand = short.count()
    var selected = Vector.empty[(Long, Double)] // (id, mmr score)
    // Running-penalty state: (id, rel, v, max_sim) where max_sim is the
    // 6dp-rounded max cosine against the picks SO FAR (null before the
    // first pick). Max over rounded sims is associative, so updating
    // against ONLY the newest pick each iteration — `greatest` skips the
    // initial null and propagates NaN exactly like the old `max`
    // aggregate — selects the identical sequence as recomputing
    // candidate-vs-all-selected, at O(k·shortlist) total sim evals
    // instead of O(k²·shortlist), with no joins in the loop (the
    // newest vector is inlined as a literal array). localCheckpoint
    // keeps each argmax reading materialized state, not a growing
    // projection chain.
    var state = short.withColumn("max_sim", lit(null).cast("double"))
      .localCheckpoint()
    while (selected.size < k && selected.size < nCand) {
      val selectedIds = selected.map(_._1)
      val remaining =
        if (selectedIds.isEmpty) state
        else state.filter(!col("id").isInCollection(selectedIds))
      val scored = remaining.select(col("id"), col("v"),
        when(col("max_sim").isNull, lit(lambda) * col("rel"))
          .otherwise(lit(lambda) * col("rel")
            - lit(1 - lambda) * col("max_sim")).as("ms"))
      // argmax by (score desc, id asc) — the oracle's ORDER BY. Spark
      // sorts NaN as LARGEST, which would make a degenerate candidate
      // (zero-norm vector → NaN cosine) win; rank NaN below every
      // finite score instead (the old driver-side minBy behavior),
      // while still recording the raw ms of whatever is chosen.
      val w = scored
        .orderBy(nanvl(col("ms"), lit(Double.NegativeInfinity)).desc,
          col("id"))
        .limit(1).collect()(0)
      selected :+= (w.getLong(0) -> w.getDouble(2))
      if (selected.size < k && selected.size < nCand) {
        val winVec = array(w.getSeq[Double](1).map(lit): _*)
        val next = state.withColumn("max_sim",
          greatest(col("max_sim"), round(cosine(col("v"), winVec), 6)))
          .localCheckpoint()
        // release the superseded iteration's blocks eagerly — without
        // this, up to k shortlist-sized checkpoints coexist until GC
        org.apache.spark.sql.graft.shims.releaseLocalCheckpoint(state)
        state = next
      }
    }
    import spark.implicits._
    selected.zipWithIndex
      .map { case ((id, ms), i) => (i + 1L, id, ms) }
      .toDF("rank", "neighbor_id", "mmr_score")
  }

  /** Exact top-k EUCLIDEAN (L2) neighbors — the metric surface beyond
    * cosine (k-NN feature lookup, dedup in un-normalized embedding
    * spaces). Same plan shape as cosineTopK: queries broadcast, corpus
    * scanned once, per-query top-k without a global sort. The distance
    * is evaluated as sqrt(‖a‖² + ‖b‖² − 2a·b) — three native codegen'd
    * dots — in the SAME algebraic form the oracle states, so both
    * engines derive the rounded distance from identical double bits. */
  def l2TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, excludeSelf: Boolean = true): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cvec"))
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qvec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(if (excludeSelf) col("neighbor_id") =!= col("query_id")
        else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        // greatest(…, 0): near-duplicate vectors can round the exact
        // quantity a fraction of an ulp NEGATIVE — sqrt would then be
        // NaN here (ranking the true nearest neighbor LAST) and a hard
        // error in the DuckDB oracle; both sides clamp identically
        round(sqrt(greatest(dot(col("cvec"), col("cvec")) +
            dot(col("qvec"), col("qvec")) -
            lit(2) * dot(col("cvec"), col("qvec")), lit(0.0))), 6)
          .as("dist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** BINARY (1-bit) quantized retrieval: each vector is sketched to
    * `words`×64 hyperplane sign bits (default 256 bits = 32 bytes vs 64
    * floats' 256 bytes — an 8× scan cut, the binary-quantization
    * serving shape), candidates are shortlisted by Hamming distance on
    * the codes (`words` native XOR+popcounts per pair instead of a
    * 64-dim float dot), and exact cosine re-ranks the shortlist only.
    * The full-precision corpus column is touched only for shortlist
    * rows — at production scale the code column lives in the index file
    * and the vector column is fetched per-shortlist, exactly like
    * pqTopKRerank's layout. Recall@5 at sf0.01 (5k vectors): 0.52 with
    * 64-bit codes, 0.94 with the default 256-bit codes (Scratch-
    * measured; the s12 gate certifies ≥ 0.6 in-result). */
  def binaryQuantizedTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int,
      shortlist: Int = 60, words: Int = 4): DataFrame = {
    import graft.functions.HammingDistance.hamming64
    val code = (v: Column) =>
      hyperplaneBandValues(v, dim, planesPerBand = 64, bands = words)
    val c = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cvec"),
      code(col(vecCol)).as("ccode"))
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qvec"),
      code(col(vecCol)).as("qcode"))
    // total Hamming over `words`×64 bits: a fixed sum of native
    // XOR+popcounts (the loop unrolls at plan build, staying codegen'd)
    val ham = (0 until words)
      .map(i => hamming64(col("ccode").getItem(i), col("qcode").getItem(i)))
      .reduce(_ + _)
    val wH = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    val short = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("hamming", ham)
      .withColumn("hrank", row_number().over(wH))
      .filter(col("hrank") <= shortlist)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    short
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("cvec"), col("qvec")), 6).as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** FILTERED vector search: exact top-k cosine neighbors per query
    * restricted to corpus rows sharing the query's `attrCol` value
    * (tenant / shard / label / language scoping — the standard
    * "metadata-filtered ANN" ask). PRE-filtering semantics: the
    * attribute constraint is an equi-join condition, so candidate
    * generation itself only ever sees same-attribute pairs and each
    * query gets a full k from its stratum. (Post-filtering an
    * unfiltered shortlist — the naive composition — silently
    * under-fills k whenever the stratum is a small fraction of the
    * corpus.)
    *
    * Scale shape: the attribute turns the brute-force cross join into
    * a broadcast HASH join keyed on the attribute — each corpus row is
    * scored only against the queries of its own stratum, one corpus
    * scan, no shuffle before the per-query top-k window (which
    * WindowGroupLimit bounds per partition). For selective filters at
    * 100 TB the same call composes with partition pruning: store the
    * corpus partitioned by the attribute and the scan itself shrinks
    * to the touched strata.
    *
    * Output: (query_id, neighbor_id, score, rank) — s01's deterministic
    * recipe (6dp-rounded cosine, neighbor-id tie-break). */
  def filteredCosineTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, attrCol: String, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(attrCol).as("c_attr"), asDouble(col(vecCol)).as("cvec"))
    val q = queries.select(col(idCol).as("query_id"),
      col(attrCol).as("q_attr"), asDouble(col(vecCol)).as("qvec"))
    val scored = c.join(broadcast(q), col("c_attr") === col("q_attr"))
      .filter(if (excludeSelf) col("neighbor_id") =!= col("query_id")
        else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("cvec"), col("qvec")), 6).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Quantized second-moment (Gram) matrix of an embedding column —
    * the distributed core of PCA / covariance estimation, in EXACT
    * integer arithmetic: each component is first quantized to
    * q = round(x·scale) (a BIGINT), then G[i,j] = Σ_rows q_i·q_j is
    * summed for i ≤ j. Pure integers → bit-identical under any
    * partitioning/aggregation order (the same Det discipline every
    * double-aggregate gate uses; float doubles would make the
    * cross-row sum order-dependent).
    *
    * Scale shape: the two chained generators expand each row to d²/2
    * products INSIDE one codegen stage (nothing is shuffled at row
    * granularity); partial aggregation combines map-side, so the only
    * exchange carries ≤ d²/2 rows per partition. Θ(N·d²) multiply-adds
    * are intrinsic to a covariance; at 2⁶³-risk scale widen the sum to
    * DECIMAL(38,0) (documented, not needed at gate SF).
    *
    * Output: (i, j, n, g) for 0 ≤ i ≤ j < d. */
  def quantizedGram(df: DataFrame, vecCol: String,
      scale: Int = 1000): DataFrame = {
    val q = transform(asDouble(col(vecCol)),
      x => round(x * scale, 0).cast("long"))
    df.select(q.as("q"))
      .select(posexplode(col("q")).as(Seq("i", "qi")), col("q"))
      .select(col("i"), col("qi"),
        posexplode(col("q")).as(Seq("j", "qj")))
      .filter(col("i") <= col("j"))
      .groupBy(col("i").cast("long").as("i"), col("j").cast("long").as("j"))
      .agg(count(lit(1)).as("n"), sum(col("qi") * col("qj")).as("g"))
  }

  /** PCA whitening of an embedding column: project each vector onto the
    * top-`r` principal components of the corpus and rescale each
    * component to unit variance — the standard preprocessing before
    * SemDeDup-style semantic clustering and low-dimensional ANN.
    *
    * Distributed part: mean and second moments are single-pass partial
    * aggregations (the [[quantizedGram]] shape, on doubles here — the
    * eigenbasis is a numeric estimate, not a gate artifact). Driver
    * part: eigendecomposition of the d×d covariance (breeze eigSym —
    * BOUNDED at d², independent of corpus size). The r projection
    * vectors are then inlined as literal arrays, so the projection
    * itself is r native codegen'd dot products per row — no UDF, no
    * broadcast join.
    *
    * Output: original columns + `whitened` (array<double>, length r),
    * components ordered by descending eigenvalue; each output component
    * has (sample) variance ≈ 1 and cross-component covariance ≈ 0. */
  def pcaWhiten(df: DataFrame, idCol: String, vecCol: String, r: Int,
      eps: Double = 1e-9): DataFrame = {
    val v = asDouble(col(vecCol))
    val moments = df
      .select(v.as("v"))
      .select(posexplode(col("v")).as(Seq("i", "xi")), col("v"))
      .select(col("i"), col("xi"),
        posexplode(col("v")).as(Seq("j", "xj")))
      .filter(col("i") <= col("j"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"), sum(col("xi") * col("xj")).as("sxx"),
        sum(col("xi")).as("sx"), sum(col("xj")).as("sy"))
      .collect() // bounded: d(d+1)/2 rows, independent of corpus size
    require(moments.nonEmpty, "pcaWhiten: empty corpus")
    val d = moments.map(_.getInt(0)).max + 1
    val n = moments(0).getLong(2).toDouble
    val cov = breeze.linalg.DenseMatrix.zeros[Double](d, d)
    moments.foreach { row =>
      val (i, j) = (row.getInt(0), row.getInt(1))
      val c = row.getDouble(3) / n -
        (row.getDouble(4) / n) * (row.getDouble(5) / n)
      cov(i, j) = c; cov(j, i) = c
    }
    val es = breeze.linalg.eigSym(cov)
    // eigSym returns ascending eigenvalues; take the top r, descending
    val order = (0 until d).sortBy(i => -es.eigenvalues(i)).take(r)
    val comps = order.map { k =>
      val lam = math.max(es.eigenvalues(k), eps)
      val pc = (0 until d).map(i => es.eigenvectors(i, k))
      // sign convention: first nonzero coordinate positive, so the
      // basis is reproducible across LAPACK builds
      val sgn =
        pc.find(math.abs(_) > 1e-12).map(x => math.signum(x)).getOrElse(1.0)
      (pc.map(_ * sgn), 1.0 / math.sqrt(lam))
    }
    val proj = comps.map { case (pc, inv) =>
      dot(v, array(pc.map(lit): _*)) * inv
    }
    df.withColumn("whitened", array(proj: _*))
  }
}
