package graft.llm

import graft.store.Generations
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * - [[bruteForceTopK]] — exact cosine top-k: broadcast the (small)
  *   query set against the corpus; one scan, no corpus shuffle. The
  *   100 TB baseline: the corpus is only ever read, never joined to
  *   itself.
  * - [[lshTopK]] — random-hyperplane LSH: corpus is bucketed by sign
  *   bits once (write-time amortizable), queries probe their bucket plus
  *   Hamming-1 neighbors; candidate set per query is a small fraction of
  *   the corpus.
  * - [[embeddingNearDups]] — near-duplicate pairs by cosine within LSH
  *   buckets (no all-pairs).
  *
  * Dot products run as ONE native codegen'd expression
  * ([[graft.plans.DotProductExpression]], bit-identical to the
  * `zip_with` + `aggregate` fold) — no UDF, no per-element interpreted
  * lambda eval in the hot path.
  */
object Similarity {

  /** Cast float vectors to double before arithmetic so accumulation is
    * double-precision end to end. */
  def asDouble(c: Column): Column = c.cast("array<double>")

  /** L2 normalization to a unit vector (after which cosine reduces to
    * a plain dot product). Map-only; the norm is let-bound so the
    * per-element division computes it once per row, not once per
    * element (CollapseProject inlines through projections — see
    * `Dedup.letBound`). Zero vectors pass through unchanged. */
  def l2Normalize(vec: Column): Column =
    Dedup.letBound(sqrt(dot(asDouble(vec), asDouble(vec)))) { n =>
      when(n === 0d, asDouble(vec))
        .otherwise(transform(asDouble(vec), x => x / n))
    }

  /** Element-wise mean pooling of embedding groups — the chunk→document
    * embedding step. posexplode to (group, position, value), one
    * partial/final avg per (group, position), reassembled in position
    * order. Two shuffles on bounded keys (groups × dim, then groups);
    * no vector ever rides a shuffle. */
  def meanPool(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol).as("group_id"),
        posexplode(asDouble(col(vecCol))).as(Seq("__p", "__v")))
      .groupBy(col("group_id"), col("__p"))
      .agg(avg(col("__v")).as("__m"), count(lit(1)).as("__n"))
      .groupBy(col("group_id"))
      .agg(array_sort(collect_list(struct(col("__p"), col("__m")))).as("__s"),
        max(col("__n")).as("n_vecs"))
      .select(col("group_id"),
        transform(col("__s"), e => e.getField("__m")).as("embedding"),
        col("n_vecs"))

  /** Sequential left-fold dot product — deterministic evaluation
    * order. Pure-builtin form for ad-hoc use; the operators below use
    * the bit-identical native expression
    * ([[graft.plans.DotProductExpression]]) — interpreted
    * higher-order-function eval degrades over long multi-query JVM
    * sessions (megamorphic call sites), and similarity passes compute
    * O(nBits + k) dots per row. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Native codegen'd forms — bit-identical results to the folds above
    * (same sequential accumulation order). Requires
    * `GraftExtensions.register` (every operator in this object
    * registers on entry). */
  private[llm] def nDot(a: Column, b: Column): Column = call_function("graft_dot", a, b)
  private[llm] def nNorm(a: Column): Column = sqrt(nDot(a, a))
  private[llm] def nCosine(a: Column, b: Column): Column =
    nDot(a, b) / (nNorm(a) * nNorm(b))
  /** Squared L2 via three dots — the IVF probe ranks clusters with the
    * SAME metric the KMeans assignment used (min squared L2), never by
    * dot product (which diverges for non-unit-norm embeddings). */
  private def nSqDist(a: Column, b: Column): Column =
    nDot(a, a) - lit(2.0) * nDot(a, b) + nDot(b, b)
  private[llm] def registered(df: DataFrame): DataFrame = {
    graft.plans.GraftExtensions.register(df.sparkSession)
    df
  }

  /** Exact top-k neighbors for each query vector.
    * `queries(qIdCol, vecCol)` is broadcast (must be driver-small);
    * `corpus(cIdCol, vecCol)` is scanned once. Returns
    * (query_id, rank, neighbor_id, cosine). */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     qIdCol: String = "vec_id", cIdCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    registered(corpus)
    // norms are precomputed PER ROW on each side before the pair scan:
    // nCosine inside the join would recompute sqrt(dot(v,v)) per PAIR
    // — 3x the flops of the dot itself. Same bitwise values (pure CSE).
    val q = queries.select(col(qIdCol).as("query_id"),
      asDouble(col(vecCol)).as("__qv"))
      .withColumn("__qn", nNorm(col("__qv")))
    val c = corpus.select(col(cIdCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("__cv"))
      .withColumn("__cn", nNorm(col("__cv")))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        nDot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** One recall@k AUDIT row for an ANN result against ground truth —
    * the index-quality measurement the planted twins can't give
    * (twins prove each index finds engineered ε-neighbors; this
    * measures recall on the REAL distribution, where codebook/centroid
    * drift after appends actually shows): fraction of
    * [[bruteForceTopK]]'s (query, neighbor) pairs the index retrieved.
    * Both inputs are tiny (queries × k rows) — the joins are
    * driver-cheap regardless of corpus size; the corpus cost lives in
    * producing `result`/`truth`, not here.
    *
    * Degenerate-input semantics: duplicate (query, neighbor) pairs in
    * `result` (a caller passing un-ranked candidates) are collapsed
    * before the join — otherwise the left join fans out and inflates
    * BOTH hits and n_truth; an empty `truth` yields recall NULL (not a
    * null-division artifact — recall@k over zero truth pairs is
    * undefined, and NULL is the honest answer).
    * Returns (family, k, n_queries, n_truth, hits, recall). */
  def recallRow(result: DataFrame, truth: DataFrame,
                family: String, k: Int): DataFrame =
    truth.select(col("query_id"), col("neighbor_id"))
      .join(result.select(col("query_id"), col("neighbor_id")).distinct()
          .withColumn("__hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_truth"),
        coalesce(sum(col("__hit")), lit(0L)).as("hits"))
      .select(lit(family).as("family"), lit(k.toLong).as("k"),
        col("n_queries"), col("n_truth"), col("hits"),
        when(col("n_truth") > 0,
          col("hits").cast("double") / col("n_truth")).as("recall"))

  /** Deterministic pseudo-random unit-free hyperplanes, seeded. */
  private[llm] def hyperplanes(nBits: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nBits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Actual embedding length, read from one row — used when the caller
    * does not pass `dim` explicitly, so hyperplanes always match the
    * data. */
  private def deriveDim(df: DataFrame, vecCol: String): Int =
    // null vectors are skipped: size(null) would read back as a null
    // Int and surface as a bare NPE instead of this message
    df.where(col(vecCol).isNotNull)
      .select(size(col(vecCol)).as("__d")).limit(1).collect() match {
      case Array(r) => r.getInt(0)
      case _ => sys.error(
        s"deriveDim: no non-null '$vecCol' rows — cannot infer vector length")
    }

  /** Pack the sign bits of `vec · h_i` into one int bucket key. Fails
    * fast on a vector whose length differs from the hyperplane dim:
    * `zip_with` would otherwise pad with nulls, `dot` evaluates to
    * null, and every row would silently hash to bucket 0. */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column = {
    val dim = planes.head.size
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(lit): _*)
      when(nDot(vec, planeLit) > 0d, lit(1L << i)).otherwise(lit(0L))
    }
    when(size(vec) === dim, bits.reduce(_ + _))
      .otherwise(raise_error(concat(
        lit(s"lshBucket: expected dim $dim, got "), size(vec).cast("string")))
        .cast("long"))
  }

  /** ANN top-k via random-hyperplane LSH with Hamming-`probeBits`
    * multiprobe: corpus rows key by their bucket; each query probes
    * its own bucket plus every bucket within `probeBits` bit flips —
    * `probeBits = 1` probes nBits+1 buckets; `probeBits = 2` (the
    * DEFAULT) adds the C(nBits, 2) two-flip buckets. Two-flip probing
    * is the default because the `ann_recall_audit` row measured it:
    * on the corpus without planted structure H1 recalls 0.08 where H2
    * recalls 0.44 (5.5×) — a naive caller should get the measured-good
    * configuration, not the measured-worst one. The cost is candidate
    * volume (probed fraction is fixed, so candidates scale with the
    * corpus — the lsh_h2 probe measured 36× candidates at 100× input,
    * BASELINE.md round 10); recall rises with probed volume while the
    * probe count stays a CLOSED FORM of nBits — at 12 bits, 79 of
    * 4096 buckets (~2% of the corpus) instead of 13 (~0.3%) — and the
    * probe list is still a literal array (map-only explode, no extra
    * shuffle; the bucket join is unchanged). Shuffle is by bucket key;
    * per-bucket candidate lists stay ~corpus/2^nBits. `probeBits = 1`
    * remains the explicit opt-out for corpora with strong near-dup
    * structure, where H1 already recalls well (SimilaritySpec binds a
    * 0.8 floor there) at a fraction of the candidate volume. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nBits: Int = 12, seed: Long = 42L,
              qIdCol: String = "vec_id", cIdCol: String = "vec_id",
              vecCol: String = "embedding", dim: Int = -1,
              probeBits: Int = 2): DataFrame = {
    require(probeBits == 1 || probeBits == 2,
      s"lshTopK: probeBits must be 1 or 2, got $probeBits")
    registered(corpus)
    // dim <= 0 (the default): derive from the data so a mismatch between
    // a hardcoded default and the actual embedding length is impossible
    val d = if (dim > 0) dim else deriveDim(corpus, vecCol)
    val planes = hyperplanes(nBits, d, seed)
    val c = corpus.select(col(cIdCol).as("neighbor_id"),
        asDouble(col(vecCol)).as("__cv"))
      .withColumn("__bucket", lshBucket(col("__cv"), planes))
    val qBase = queries.select(col(qIdCol).as("query_id"),
        asDouble(col(vecCol)).as("__qv"))
      .withColumn("__b0", lshBucket(col("__qv"), planes))
    // probe own bucket + each Hamming-1 neighbor (+ Hamming-2 when asked)
    val flips1 = (0 until nBits).map(i => col("__b0").bitwiseXOR(lit(1L << i)))
    val flips2 =
      if (probeBits < 2) Nil
      else for { i <- 0 until nBits; j <- i + 1 until nBits }
        yield col("__b0").bitwiseXOR(lit((1L << i) | (1L << j)))
    val probes = qBase.select(col("query_id"), col("__qv"),
      explode(array(col("__b0") +: (flips1 ++ flips2): _*)).as("__bucket"))
    // no pair dedup needed — and the shuffle it cost is the expensive
    // one (the full candidate set): the probe list's xor masks are
    // pairwise distinct, so the probe BUCKETS are distinct, and each
    // corpus row lives in exactly ONE bucket — a (query, neighbor)
    // pair can arise through at most one probe. (The removed
    // dropDuplicates also chose an arbitrary row for duplicate corpus
    // ids — nondeterministic — where brute force scores every row;
    // without it the two paths agree on that edge too.)
    val cands = probes.join(c, Seq("__bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", nCosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cands.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** IVF (inverted-file) ANN: coarse-quantize the corpus with KMeans
    * (seeded — deterministic), assign each vector to its centroid
    * bucket, and search only the `nProbe` nearest buckets per query.
    * The scale path when the corpus is re-searched many times: the
    * clustered assignment amortizes like an index (persist it), each
    * query touches ~nProbe/nCentroids of the corpus, shuffled by
    * cluster id. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4, seed: Long = 42L,
              qIdCol: String = "vec_id", cIdCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    registered(corpus)
    val qz = kmeansAssign(corpus, nCentroids, seed, cIdCol, vecCol)
    ivfQueryPhase(queries, qz.centroidsDf, qz.assigned, k, nProbe, qIdCol,
      vecCol, qz.probe)
  }

  /** [[ivfTopK]] at several probe depths over ONE quantizer fit — the
    * probe-depth tuning sweep (`ann_probe_sweep`) pays the seeded
    * k-means once instead of once per depth; each returned frame is
    * BIT-IDENTICAL to the equivalent `ivfTopK(nProbe = d)` call
    * (same seed → same fit — spec-bound), which is also the
    * amortization story of the persisted IVF index: fit once, search
    * many times. */
  def ivfTopKSweep(queries: DataFrame, corpus: DataFrame, k: Int,
                   nProbes: Seq[Int], nCentroids: Int = 16,
                   seed: Long = 42L,
                   qIdCol: String = "vec_id", cIdCol: String = "vec_id",
                   vecCol: String = "embedding"): Seq[(Int, DataFrame)] = {
    registered(corpus)
    val qz = kmeansAssign(corpus, nCentroids, seed, cIdCol, vecCol)
    // one assignment frame feeds every depth; localCheckpoint so the
    // fit+assign subtree does not re-execute per probe depth
    val assigned = qz.assigned.localCheckpoint()
    nProbes.map(np => np -> ivfQueryPhase(queries, qz.centroidsDf, assigned,
      k, np, qIdCol, vecCol, qz.probe))
  }

  /** Coarse k-means fit + assignment shared by the IVF paths and
    * [[semDedup]]: returns the corpus as (neighbor_id, __cv, cluster)
    * plus the (cluster, __ctr) centroid frame. A coarse quantizer
    * doesn't need fully-converged Lloyd iterations: 10 iters / 1e-3
    * tol halves fit time; quality is bounded below by the
    * SimilaritySpec recall floor and the planted oracles.
    *
    * `fitFraction` < 1 fits the quantizer on a DETERMINISTIC
    * hash-sampled subset and only ASSIGNS (map-only model transform)
    * the full corpus — the 100 TB shape: Lloyd cost is
    * O(rows × centroids) per iteration, so when cluster count scales
    * with the corpus (to keep cluster sizes bounded) a full-corpus fit
    * would go quadratic while a sampled fit stays constant. */
  /** A fitted coarse quantizer: the assigned corpus, the flat
    * (cluster, __ctr) centroid frame, and — on the hierarchical path —
    * a probe function mapping (query vector, nProbe) to the array of
    * candidate cluster ids under the SAME two-level rule the
    * assignment used (a global-distance probe over hierarchically-
    * assigned clusters can miss the cluster an exact twin was
    * assigned to). */
  private case class Quantizer(assigned: DataFrame, centroidsDf: DataFrame,
                               probe: Option[(Column, Int) => Column],
                               hier: Option[(Array[Array[Double]], Int)] = None)

  /** The two-level probe closure, shared by the inline fit and the
    * persisted-index load path (`subs` reconstructs from the flat
    * centroid list via cluster = cell * kf + j). */
  private def twoLevelProbe(coarse: Array[Array[Double]],
                            subs: Array[Array[Array[Double]]],
                            kf: Int): (Column, Int) => Column =
    (vec: Column, nProbe: Int) => {
      val f = udf { (v: Seq[Double]) =>
        val a = v.toArray
        val own = { val cell = nearest(a, coarse)
          cell * kf + nearest(a, subs(cell)) }
        val cells = coarse.indices
          .map(i => (dist2(a, coarse(i)), i)).sorted.take(2).map(_._2)
        val more = cells.flatMap { ce =>
          subs(ce).indices.map(j => (dist2(a, subs(ce)(j)), ce * kf + j)) }
          .sorted.map(_._2).filter(_ != own)
          .take(math.max(0, nProbe - 1))
        (own +: more).toArray
      }
      f(vec)
    }

  private def kmeansAssign(corpus: DataFrame, nCentroids: Int, seed: Long,
                           cIdCol: String, vecCol: String,
                           fitFraction: Double = 1.0): Quantizer = {
    if (nCentroids > hierarchicalThreshold)
      return hierarchicalAssign(corpus, nCentroids, seed, cIdCol, vecCol,
        fitFraction)
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val c = corpus.select(col(cIdCol).as("neighbor_id"), asDouble(col(vecCol)).as("__cv"))
      .withColumn("features", array_to_vector(col("__cv")))
    val fitOn = if (fitFraction >= 1.0) c
      else c.where(pmod(xxhash64(col("neighbor_id")), lit(1000000L)) <
        lit(math.max(1L, (fitFraction * 1000000L).toLong)))
    val model = new KMeans().setK(nCentroids).setSeed(seed)
      .setMaxIter(10).setTol(1e-3)
      .setFeaturesCol("features").setPredictionCol("cluster").fit(fitOn)
    val assigned = model.transform(c).select(col("neighbor_id"), col("__cv"), col("cluster"))
    import c.sparkSession.implicits._
    val centroidsDf = model.clusterCenters.toIndexedSeq.zipWithIndex
      .map { case (ctr, i) => (i, ctr.toArray.toSeq) }
      .toDF("cluster", "__ctr")
    Quantizer(assigned, centroidsDf, None)
  }

  /** Above this cluster count the quantizer switches to the two-level
    * path: flat assignment is O(rows × K × dim) and goes QUADRATIC
    * once K scales with the corpus to keep cluster sizes bounded (the
    * 100× probe measured the knee: 6.4 s → 230 s for 10× data at
    * K = 16×corpus-multiple). Below it the single-level ML fit is kept
    * bit-for-bit (the planted oracles pin that path). */
  private val hierarchicalThreshold = 64

  /** Two-level coarse quantizer for LARGE cluster counts: fit kc ≈ √K
    * coarse cells and ≈ K/kc sub-centroids per cell on the
    * hash-sampled subset — entirely DRIVER-LOCAL (the sample is
    * bounded by construction, the repo's BPE bounded-merge pattern;
    * Lloyd on it costs sample × √K × dim flops, far below one corpus
    * scan) — then assign the corpus MAP-ONLY at
    * O(rows × 2√K × dim): nearest coarse cell, then nearest
    * sub-centroid within it. Fully deterministic: hash-chosen sample
    * and seeds, fixed iteration order, no partitioning dependence
    * (unlike the ML path, whose kmeans|| init samples by partition).
    *
    * At 100 TB with K ~ corpus/10³ this is the difference between a
    * linear and a quadratic assignment pass; the centroid tensor
    * (K × dim doubles) stays a broadcast-sized task closure. */
  private def hierarchicalAssign(corpus: DataFrame, nCentroids: Int,
                                 seed: Long, cIdCol: String, vecCol: String,
                                 fitFraction: Double): Quantizer = {
    val c = corpus.select(col(cIdCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("__cv"))
    // the fit sample is collected to the driver, so it must be bounded
    // even when the caller leaves fitFraction at 1.0: cap at ~50
    // points per centroid (one count pass derives the fraction)
    val maxFit = math.max(50L * nCentroids, 20000L)
    val frac = if (fitFraction < 1.0) fitFraction
      else { val n = c.count(); if (n <= maxFit) 1.0 else maxFit.toDouble / n }
    val sampleDf = if (frac >= 1.0) c
      else c.where(pmod(xxhash64(col("neighbor_id")), lit(1000000L)) <
        lit(math.max(1L, (frac * 1000000L).toLong)))
    // sort by id on the driver: collect order follows partition layout,
    // and the stride init must not — same sample, same centers, always
    val sample: Array[Array[Double]] = sampleDf
      .select(col("neighbor_id").cast("string"), col("__cv"))
      .collect().sortBy(_.getString(0))
      .map(_.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "hierarchicalAssign: empty fit sample")
    val kc = math.max(2, math.ceil(math.sqrt(nCentroids.toDouble)).toInt)
    val kf = math.max(1, math.ceil(nCentroids.toDouble / kc).toInt)
    val coarse = lloyd(sample, math.min(kc, sample.length), iters = 10)
    val byCell = sample.groupBy(v => nearest(v, coarse))
    // empty or tiny cells fall back to the coarse center as their only
    // sub-centroid, so every cell id maps to >= 1 cluster
    val subs: Array[Array[Array[Double]]] = coarse.indices.map { cell =>
      byCell.get(cell) match {
        case Some(vs) if vs.length >= 2 =>
          lloyd(vs, math.min(kf, vs.length), iters = 10)
        case _ => Array(coarse(cell))
      }
    }.toArray
    val assignF = udf { (v: Seq[Double]) =>
      val a = v.toArray
      val cell = nearest(a, coarse)
      cell * kf + nearest(a, subs(cell))
    }
    val assigned = c.withColumn("cluster", assignF(col("__cv")))
    import c.sparkSession.implicits._
    val centroidsDf = subs.zipWithIndex.flatMap { case (ss, cell) =>
      ss.zipWithIndex.map { case (ctr, j) => (cell * kf + j, ctr.toSeq) }
    }.toIndexedSeq.toDF("cluster", "__ctr")
    // probe rule = assignment rule: the query's own two-level cluster
    // first (so an exact corpus twin is always reached), then the
    // nearest other sub-centroids from the top-2 cells
    Quantizer(assigned, centroidsDf, Some(twoLevelProbe(coarse, subs, kf)),
      Some((coarse, kf)))
  }

  /** Squared L2 distance over the common prefix. */
  private def dist2(v: Array[Double], ctr: Array[Double]): Double = {
    var d = 0.0; var j = 0
    val n = math.min(ctr.length, v.length)
    while (j < n) { val t = v(j) - ctr(j); d += t * t; j += 1 }
    d
  }

  /** Index of the closest center by squared L2 (ties -> lowest index,
    * deterministic). */
  private def nearest(v: Array[Double], centers: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var i = 0
    while (i < centers.length) {
      val d = dist2(v, centers(i))
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    best
  }

  /** Driver-local Lloyd k-means: deterministic stride init (every
    * n/k-th point of the input order), fixed iteration count; a
    * cluster that empties keeps its previous center. */
  private def lloyd(points: Array[Array[Double]], k: Int,
                    iters: Int): Array[Array[Double]] = {
    val n = points.length
    val step = math.max(1, n / k)
    var centers: Array[Array[Double]] =
      (0 until k).map(i => points((i * step) % n).clone()).toArray
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](points(0).length))
      val counts = new Array[Int](k)
      var p = 0
      while (p < n) {
        val c = nearest(points(p), centers)
        val s = sums(c); val v = points(p); var j = 0
        while (j < v.length) { s(j) += v(j); j += 1 }
        counts(c) += 1; p += 1
      }
      centers = (0 until k).map { c =>
        if (counts(c) == 0) centers(c)
        else { val s = sums(c); val out = new Array[Double](s.length)
          var j = 0
          while (j < s.length) { out(j) = s(j) / counts(c); j += 1 }
          out }
      }.toArray
      it += 1
    }
    centers
  }

  /** IVF query phase shared by the fit-inline ([[ivfTopK]]) and
    * persisted-index ([[ivfQueryIndex]]) paths: nProbe nearest
    * centroids per query via a BROADCAST centroids frame (nCentroids
    * rows — keeps the expression tree free of nCentroids×dim literal
    * arrays; probe selection is a window top-n over the broadcast
    * product), then exact cosine over the probed clusters only. */
  private def ivfQueryPhase(queries: DataFrame, centroidsDf: DataFrame,
                            assigned: DataFrame, k: Int, nProbe: Int,
                            qIdCol: String, vecCol: String,
                            probe: Option[(Column, Int) => Column] = None)
      : DataFrame = {
    val qBase = queries.select(col(qIdCol).as("query_id"),
      asDouble(col(vecCol)).as("__qv"))
    val q = probe match {
      case Some(p) =>
        // hierarchical quantizer: candidates under the ASSIGNMENT rule
        qBase.withColumn("cluster", explode(p(col("__qv"), nProbe)))
      case None =>
        // probe by squared L2 ASC — the SAME metric KMeans assigned
        // with. Ranking by max dot product diverges from the
        // assignment for non-unit-norm embeddings, so the cluster
        // holding a query's exact twin could fall outside the nProbe
        // probed set (the mismatch the hierarchical path's probe
        // closure was built to avoid).
        val wProbe = Window.partitionBy(col("query_id"))
          .orderBy(col("__cdist").asc, col("cluster").asc)
        qBase.crossJoin(broadcast(centroidsDf))
          .withColumn("__cdist", nSqDist(col("__qv"), col("__ctr")))
          .withColumn("__pr", row_number().over(wProbe))
          .where(col("__pr") <= nProbe)
          .select(col("query_id"), col("__qv"), col("cluster"))
    }
    val cands = q.join(assigned, Seq("cluster"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", nCosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cands.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  // ---- Index generations: drift-triggered reindex, atomic swap ------

  /** The SERVING root of a possibly multi-generation index: the latest
    * committed `gen-NNNN` child (by parsed number, digits-only names —
    * the [[graft.store.Generations]] protocol), else `dir` itself (the
    * flat layout every build writes — full back-compat; an index that
    * was never reindexed has no generation children). Idempotent: a
    * generation directory has no `gen-*` children, so resolving one
    * returns it unchanged. Every index reader/appender resolves
    * through here ONCE per operation (streaming consumers once per
    * MICRO-BATCH — that per-batch re-read is exactly what makes a
    * [[reindexIvf]] swap invisible to a serving stream: the next batch
    * simply resolves the new generation). Goes through the Hadoop
    * FileSystem API so HDFS/S3 indexes resolve the same as local
    * ones. */
  def resolveIndexRoot(spark: org.apache.spark.sql.SparkSession,
                       dir: String): String =
    Generations.VectorIndex.latest(spark, dir).getOrElse(dir)

  /** REINDEX a persisted IVF index — the closing arc of the index
    * lifecycle (build → persist → append → probe → audit → drift →
    * THIS): appends accumulate on frozen centroids until
    * `ann_recall_drift`-style audits show decay; reindex refits the
    * quantizer on the CURRENT corpus — read back from the serving
    * generation's own cluster-partitioned assignments, so appended
    * segments are included by construction — re-assigns every vector,
    * and atomically swaps serving to the new generation (data first,
    * commit marker last; see [[resolveIndexRoot]]).
    *
    * Serving continuity is structural, not scheduled: readers resolve
    * per operation (streams per micro-batch), so an
    * [[graft.streaming.IndexIngest.searchIvfStream]] in flight answers
    * the current batch from the old generation and the next batch from
    * the new one — zero downtime, no stream restart. Old generations
    * remain on disk (rollback = delete the newest marker).
    *
    * Cost scales with the corpus (one read of the assignments, one
    * quantizer fit, one partitioned write), never with serving
    * downtime (the swap is one marker-file create). Returns the new
    * generation's directory. */
  def reindexIvf(spark: org.apache.spark.sql.SparkSession, dir: String,
                 nCentroids: Int = 16, seed: Long = 42L): String = {
    val root = resolveIndexRoot(spark, dir)
    val corpus = spark.read.parquet(s"$root/assignments")
      .select(col("neighbor_id").as("vec_id"), col("__cv").as("embedding"))
    val gen = Generations.VectorIndex.next(spark, dir)
    buildIvfIndex(corpus, gen, nCentroids, seed)
    Generations.VectorIndex.commit(spark, gen)
    gen
  }

  /** The drift arc as ONE maintenance operator — measure → compare →
    * (conditionally) reindex → re-measure: recall@k of the serving IVF
    * generation against brute-force truth on the caller's probe
    * queries; when it falls below `recallFloor`, [[reindexIvf]] refits
    * and swaps, and recall is re-measured through the new generation.
    * This is the scheduled-maintenance entry point a continuously-
    * ingesting deployment runs (the audits measure; THIS acts) — the
    * probe queries are the driver-small audit set, so the truth scan
    * is one corpus pass and both recall joins are queries × k rows.
    * Returns one row: (k, recall_before, reindexed, recall_after,
    * generation) — the maintenance audit-trail record. */
  def reindexIvfIfDrifted(spark: org.apache.spark.sql.SparkSession,
                          dir: String, queries: DataFrame,
                          corpus: DataFrame, k: Int = 5,
                          recallFloor: Double = 0.8, nProbe: Int = 4,
                          nCentroids: Int = 16, seed: Long = 42L,
                          qIdCol: String = "vec_id",
                          cIdCol: String = "vec_id",
                          vecCol: String = "embedding",
                          sharedTruth: Option[DataFrame] = None): DataFrame = {
    require(recallFloor > 0.0,
      s"reindexIvfIfDrifted: recallFloor must be > 0, got $recallFloor")
    // sharedTruth: a caller evaluating SEVERAL maintenance policies
    // over the SAME (queries, corpus, k) audit set passes the one
    // materialized bruteForceTopK frame instead of paying the corpus
    // truth pass per evaluation (guide §1.2) — the truth is a pure
    // function of those inputs, so results are unchanged
    val truth = sharedTruth.getOrElse(
      bruteForceTopK(queries, corpus, k, qIdCol, cIdCol, vecCol)
        .localCheckpoint())
    def measure(): Double = {
      val r = recallRow(ivfQueryIndex(spark, dir, queries, k, nProbe,
        qIdCol, vecCol), truth, "ivf", k).select(col("recall")).head()
      require(!r.isNullAt(0),
        "reindexIvfIfDrifted: empty truth set — no probe queries?")
      r.getDouble(0)
    }
    val before = measure()
    val drifted = before < recallFloor
    if (drifted) reindexIvf(spark, dir, nCentroids, seed)
    val after = if (drifted) measure() else before
    val gen = {
      val r = resolveIndexRoot(spark, dir)
      if (r == dir) "flat" else new org.apache.hadoop.fs.Path(r).getName
    }
    import spark.implicits._
    Seq((k.toLong, before, drifted, after, gen))
      .toDF("k", "recall_before", "reindexed", "recall_after", "generation")
  }

  /** [[reindexIvfIfDrifted]] for the IVF-PQ composite — the actual
    * big-corpus layout gets the same scheduled-maintenance loop:
    * recall@k of the serving generation's FULL query path (coarse
    * probe → stored-code ADC shortlist → exact re-rank) against
    * brute-force truth on the caller's probe queries; below
    * `recallFloor`, [[reindexIvfPq]] refits coarse centroids AND
    * residual codebooks on the caller's corpus (the re-rank frame —
    * PQ codes store no vectors), swaps atomically, and recall is
    * re-measured through the new generation. Shortlist misses are
    * exactly what codebook/centroid drift produces, so the measured
    * recall is the ADC quality signal. Returns the same one-row audit
    * record as the IVF form: (k, recall_before, reindexed,
    * recall_after, generation). */
  def reindexIvfPqIfDrifted(spark: org.apache.spark.sql.SparkSession,
                            dir: String, queries: DataFrame,
                            corpus: DataFrame, k: Int = 5,
                            recallFloor: Double = 0.8, nProbe: Int = 4,
                            shortlist: Int = 50, nCentroids: Int = 16,
                            m: Int = 8, kCodes: Int = 16,
                            seed: Long = 42L,
                            qIdCol: String = "vec_id",
                            cIdCol: String = "vec_id",
                            vecCol: String = "embedding",
                            sharedTruth: Option[DataFrame] = None): DataFrame = {
    require(recallFloor > 0.0,
      s"reindexIvfPqIfDrifted: recallFloor must be > 0, got $recallFloor")
    // sharedTruth contract as in reindexIvfIfDrifted (§1.2)
    val truth = sharedTruth.getOrElse(
      bruteForceTopK(queries, corpus, k, qIdCol, cIdCol, vecCol)
        .localCheckpoint())
    def measure(): Double = {
      val r = recallRow(ivfPqQueryIndex(spark, dir, queries, corpus, k,
        nProbe, shortlist, qIdCol, cIdCol, vecCol), truth, "ivfpq", k)
        .select(col("recall")).head()
      require(!r.isNullAt(0),
        "reindexIvfPqIfDrifted: empty truth set — no probe queries?")
      r.getDouble(0)
    }
    val before = measure()
    val drifted = before < recallFloor
    if (drifted)
      reindexIvfPq(spark, dir, corpus, nCentroids, m, kCodes, seed,
        cIdCol, vecCol)
    val after = if (drifted) measure() else before
    val gen = {
      val r = resolveIndexRoot(spark, dir)
      if (r == dir) "flat" else new org.apache.hadoop.fs.Path(r).getName
    }
    import spark.implicits._
    Seq((k.toLong, before, drifted, after, gen))
      .toDF("k", "recall_before", "reindexed", "recall_after", "generation")
  }

  /** [[reindexIvf]] for a persisted PQ index. PQ codes store no
    * vectors (that IS the compression), so the current corpus comes
    * from the caller — the same frame the exact re-rank of
    * [[pqQueryIndex]] already requires, covering every indexed id
    * including appended batches. Refits the codebooks on it,
    * re-encodes, swaps atomically. */
  def reindexPq(spark: org.apache.spark.sql.SparkSession, dir: String,
                corpus: DataFrame, m: Int = 8, k: Int = 16,
                cIdCol: String = "vec_id",
                vecCol: String = "embedding"): String = {
    val gen = Generations.VectorIndex.next(spark, dir)
    buildPqIndex(corpus, gen, m, k, cIdCol, vecCol)
    Generations.VectorIndex.commit(spark, gen)
    gen
  }

  /** [[reindexIvf]] for the IVF-PQ composite: refit coarse centroids
    * AND residual codebooks on the caller's current corpus (the
    * re-rank frame, as for [[reindexPq]]), re-encode, atomic swap. */
  def reindexIvfPq(spark: org.apache.spark.sql.SparkSession, dir: String,
                   corpus: DataFrame, nCentroids: Int = 16,
                   m: Int = 8, k: Int = 16, seed: Long = 42L,
                   cIdCol: String = "vec_id",
                   vecCol: String = "embedding"): String = {
    val gen = Generations.VectorIndex.next(spark, dir)
    buildIvfPqIndex(corpus, gen, nCentroids, m, k, seed, cIdCol, vecCol)
    Generations.VectorIndex.commit(spark, gen)
    gen
  }

  /** Garbage-collect RETIRED generations: once a reindex has committed,
    * the previous generations (the flat build and any older `gen-*`
    * dirs) are rollback targets only — at 100 TB each one is a full
    * copy of the corpus layout, so a deployment vacuums after the new
    * generation has soaked. Deletes every non-serving generation's
    * data (the flat layout's data subdirs and all non-latest `gen-*`
    * dirs); the serving generation is untouched, and a flat-only index
    * (never reindexed) is a no-op. Returns the deleted roots.
    *
    * After a vacuum, rollback means reindexing again, not marker
    * deletion — the trade a caller opts into explicitly by calling
    * this. Takedown note: [[graft.streaming.IndexIngest.retractFromVectorIndex]]
    * scrubs ALL generations, so vacuum is not needed for compliance —
    * it is purely a disk-cost bound.
    *
    * `graceMs` (default 0 — immediate, the historical audit-query
    * behavior) applies the [[graft.llm.Search.vacuumPostings]]
    * discipline for standing deployments: retired surfaces reclaim
    * only once the SERVING generation's commit is older than the
    * window (lock-free readers that resolved pre-swap finish their
    * scans), and an UNCOMMITTED generation reclaims only once its own
    * newest modification time ages past it — younger ones may be a
    * reindex currently writing. */
  def vacuumIndex(spark: org.apache.spark.sql.SparkSession,
                  dir: String, graceMs: Long = 0L): Seq[String] = {
    require(graceMs >= 0, s"vacuumIndex: graceMs must be >= 0, got $graceMs")
    Generations.VectorIndex.vacuum(spark, dir, graceMs)
  }

  /** COMPACT an appended vector index — fold the accumulated
    * batch-sized segment files into one fresh generation WITHOUT
    * refitting anything (the [[graft.llm.Search.compactPostings]]
    * move, applied to the ANN family): every
    * [[appendIvfIndex]]/[[appendPqIndex]]/[[appendIvfPqIndex]] batch
    * lands as its own parquet files, and a long low-drift append
    * history (recall healthy, so [[reindexIvfIfDrifted]] never fires)
    * accrues per-file open costs into every probe — the classic
    * small-files drift. Compaction reads the serving generation's
    * data ONCE and rewrites it folded: cluster-partitioned layouts
    * (IVF assignments, IVF-PQ codes) re-shuffle on the cluster key —
    * the build's own write shape, one file per cluster, partition
    * pruning preserved; flat PQ codes coalesce (no shuffle). The
    * quantizer state — centroids, coarse level, codebooks — is COPIED
    * verbatim: no refit, so serving before and after is identical row
    * for row (spec + oracle-bound; a refit is [[reindexIvf]]'s job,
    * triggered by measured recall drift, not by file count). The new
    * generation lands marker-last (the [[resolveIndexRoot]] atomic
    * swap); the retired surface is reclaimed by the existing
    * [[vacuumIndex]], never inline. Cost: one read + one write of the
    * index layout — never the corpus. Single-maintainer contract.
    *
    * @return one audit row (kind, generation, segments_before,
    *         segments_after, rows) — segment counts are parquet data
    *         files of the folded table */
  def compactVectorIndex(spark: org.apache.spark.sql.SparkSession,
                         dir: String, shards: Int = 32): DataFrame = {
    require(shards >= 1,
      s"compactVectorIndex: shards must be >= 1, got $shards")
    val root = resolveIndexRoot(spark, dir)
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = Generations.fs(spark, root)
    def has(name: String) =
      fs.exists(new org.apache.hadoop.fs.Path(rp, name))
    def dataFiles(base: String, sub: String): Long = {
      val it = fs.listFiles(
        new org.apache.hadoop.fs.Path(s"$base/$sub"), true)
      var n = 0L
      while (it.hasNext)
        if (it.next().getPath.getName.startsWith("part-")) n += 1
      n
    }
    def copyTable(sub: String, gen: String): Unit =
      spark.read.parquet(s"$root/$sub").coalesce(1)
        .write.mode("overwrite").parquet(s"$gen/$sub")
    val kind =
      if (has("assignments")) "ivf"
      else if (has("codes") && has("centroids")) "ivfpq"
      else if (has("codes")) "pq"
      else throw new IllegalArgumentException(
        s"compactVectorIndex: no index layout under $root " +
          "(expected assignments or codes)")
    val dataSub = if (kind == "ivf") "assignments" else "codes"
    val before = dataFiles(root, dataSub)
    val gen = Generations.VectorIndex.next(spark, dir)
    // the data fold (critical path) and the carried-table copies land
    // in disjoint subdirs of the UNCOMMITTED generation — overlap them
    // (guide §2.6); the marker-last commit below is unchanged
    kind match {
      case "ivf" =>
        graft.util.Par.inParallel(
          () => spark.read.parquet(s"$root/assignments")
            .repartition(col("cluster"))
            .write.partitionBy("cluster").mode("overwrite")
            .parquet(s"$gen/assignments"),
          () => copyTable("centroids", gen),
          () => if (has("coarse")) copyTable("coarse", gen))
      case "ivfpq" =>
        graft.util.Par.inParallel(
          () => spark.read.parquet(s"$root/codes")
            .repartition(col("cluster"))
            .write.partitionBy("cluster").mode("overwrite")
            .parquet(s"$gen/codes"),
          () => copyTable("centroids", gen),
          () => copyTable("codebooks", gen))
      case "pq" =>
        graft.util.Par.inParallel(
          () => spark.read.parquet(s"$root/codes").coalesce(shards)
            .write.mode("overwrite").parquet(s"$gen/codes"),
          () => copyTable("codebooks", gen))
    }
    Generations.VectorIndex.commit(spark, gen)
    val genName = new org.apache.hadoop.fs.Path(gen).getName
    spark.range(1).select(
      lit(kind).as("kind"), lit(genName).as("generation"),
      lit(before).as("segments_before"),
      lit(dataFiles(gen, dataSub)).as("segments_after"),
      lit(spark.read.parquet(s"$gen/$dataSub").count()).as("rows"))
  }

  /** Build a PERSISTENT IVF index — the build-once/query-many shape a
    * 100 TB ANN corpus actually runs (fitting the quantizer per query
    * batch, as [[ivfTopK]] does, re-scans the corpus every time):
    * `dir/centroids` holds the nCentroids coarse centers and
    * `dir/assignments` the corpus vectors Hive-partitioned BY CLUSTER,
    * so a query batch probing nProbe clusters reads ONLY those
    * directories (partition pruning) instead of the whole corpus. */
  def buildIvfIndex(corpus: DataFrame, dir: String, nCentroids: Int = 16,
                    seed: Long = 42L, cIdCol: String = "vec_id",
                    vecCol: String = "embedding"): Unit = {
    registered(corpus)
    val qz = kmeansAssign(corpus, nCentroids, seed, cIdCol, vecCol)
    // the assignments write is the corpus-sized critical path; the
    // centroid/coarse tables are driver-bounded one-file writes into
    // disjoint subdirs — overlap them (guide §2.6), big write first
    graft.util.Par.inParallel(
      () => qz.assigned
        .repartition(col("cluster"))
        .write.partitionBy("cluster").mode("overwrite")
        .parquet(s"$dir/assignments"),
      () => qz.centroidsDf.coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/centroids"),
      // hierarchical builds (nCentroids > 64) also persist the coarse
      // level + kf, so the index query path can reconstruct the
      // two-level probe and stay consistent with the assignment rule
      () => qz.hier.foreach { case (coarse, kf) =>
        import corpus.sparkSession.implicits._
        coarse.toIndexedSeq.zipWithIndex
          .map { case (ctr, cell) => (cell, ctr.toSeq, kf) }
          .toDF("cell", "__ctr", "kf")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/coarse")
      })
  }

  /** Query a persisted IVF index ([[buildIvfIndex]]): same results as
    * the inline path for the same quantizer, but the corpus scan is
    * partition-pruned to the probed clusters. */
  def ivfQueryIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                    queries: DataFrame, k: Int, nProbe: Int = 4,
                    qIdCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    registered(queries)
    val root = resolveIndexRoot(spark, dir)
    val centroidsDf = spark.read.parquet(s"$root/centroids")
    val assigned = spark.read.parquet(s"$root/assignments")
    val probe = loadHier(spark, root, centroidsDf)
      .map { case (coarse, subs, kf) => twoLevelProbe(coarse, subs, kf) }
    ivfQueryPhase(queries, centroidsDf, assigned, k, nProbe, qIdCol, vecCol,
      probe)
  }

  /** Reconstruct a persisted HIERARCHICAL quantizer's two-level
    * structure (coarse cells, per-cell sub-centroids, fan-out) — None
    * for flat builds. A persisted `coarse` level marks a hierarchical
    * build; existence goes through the Hadoop FileSystem API so an
    * index on HDFS/S3 is detected the same as a local one —
    * java.io.File would silently fall back to the flat probe against
    * hierarchically-assigned clusters (probe/assignment mismatch). */
  private def loadHier(spark: org.apache.spark.sql.SparkSession, dir: String,
                       centroidsDf: DataFrame)
      : Option[(Array[Array[Double]], Array[Array[Array[Double]]], Int)] = {
    val coarsePath = new org.apache.hadoop.fs.Path(s"$dir/coarse")
    val coarseExists = coarsePath
      .getFileSystem(spark.sessionState.newHadoopConf())
      .exists(coarsePath)
    if (!coarseExists) None else {
      val rows = spark.read.parquet(s"$dir/coarse")
        .select(col("cell"), col("__ctr"), col("kf"))
        .collect().sortBy(_.getInt(0))
      val coarse = rows.map(_.getSeq[Double](1).toArray)
      val kf = rows.head.getInt(2)
      val byCluster = centroidsDf.select(col("cluster"), col("__ctr"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
        .sortBy(_._1)
      val subs: Array[Array[Array[Double]]] = coarse.indices.map { cell =>
        byCluster.filter { case (cl, _) =>
          cl >= cell * kf && cl < (cell + 1) * kf }.map(_._2)
      }.toArray
      Some((coarse, subs, kf))
    }
  }

  /** INCREMENTAL index append — the continuous-ingestion path: assign
    * new vectors to the EXISTING centroids (no refit, no rebuild) and
    * append them to the cluster-partitioned `assignments` layout. The
    * assignment replays the build's own rule exactly — flat builds:
    * nearest centroid by squared L2 (what the ML KMeans transform
    * computes, ties to the lowest cluster id); hierarchical builds:
    * nearest coarse cell then nearest sub-centroid
    * (`cell·kf + j`) — so an appended vector lands in precisely the
    * cluster a query's probe visits first for it, and planted
    * index+append results match a rebuild-from-union
    * (`ann_ivf_append`'s oracle + IvfAppendSpec's equivalence check).
    *
    * Scale shape: one broadcast of the (bounded) centroid tensor, a
    * map-only assignment pass over the batch, and a partitioned
    * APPEND — existing cluster directories gain new files, nothing is
    * rewritten, and partition pruning over probed clusters keeps
    * working. Centroids drift as appends accumulate (clusters grow
    * off-center); periodic rebuilds re-center — the standard IVF
    * maintenance trade, documented not hidden. */
  def appendIvfIndex(spark: org.apache.spark.sql.SparkSession,
                     newVecs: DataFrame, dir: String,
                     cIdCol: String = "vec_id",
                     vecCol: String = "embedding"): Unit = {
    registered(newVecs)
    // appends land in the SERVING generation — after a reindex, new
    // batches extend the new quantizer's layout, not the retired one
    val root = resolveIndexRoot(spark, dir)
    val centroidsDf = spark.read.parquet(s"$root/centroids")
    val c = newVecs.select(col(cIdCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("__cv"))
    val assignF = loadHier(spark, root, centroidsDf) match {
      case Some((coarse, subs, kf)) =>
        udf { (v: Seq[Double]) =>
          val a = v.toArray
          val cell = nearest(a, coarse)
          cell * kf + nearest(a, subs(cell))
        }
      case None =>
        // the flat build assigned via the ML KMeans transform, whose
        // mllib findClosest uses norm-pruned fastSquaredDistance — a
        // naive sum-of-squares loop can differ on FP near-ties and
        // break append ≡ rebuild for boundary vectors, so replay the
        // EXACT same predictor over the stored centroids
        val centers = centroidsDf.select(col("cluster"), col("__ctr"))
          .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
          .sortBy(_._1).map(_._2)
        val model = new org.apache.spark.mllib.clustering.KMeansModel(
          centers.map(org.apache.spark.mllib.linalg.Vectors.dense))
        udf { (v: Seq[Double]) =>
          model.predict(org.apache.spark.mllib.linalg.Vectors.dense(v.toArray)) }
    }
    c.withColumn("cluster", assignF(col("__cv")))
      .repartition(col("cluster"))
      .write.partitionBy("cluster").mode("append")
      .parquet(s"$root/assignments")
  }

  /** Embedding-cosine near-duplicate pairs: bucket by LSH signature,
    * pair within buckets only, verify cosine ≥ threshold. */
  def embeddingNearDups(df: DataFrame, threshold: Double = 0.95,
                        nBits: Int = 8, seed: Long = 42L,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        maxBucket: Int = 10000, dim: Int = -1): DataFrame = {
    registered(df)
    val d = if (dim > 0) dim else deriveDim(df, vecCol)
    val planes = hyperplanes(nBits, d, seed)
    // buckets carry ids only; vectors join back by id (same pattern as
    // Dedup.minhashCandidates — never drag vectors through collect_list)
    val keyed = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .cache()
    val bucketed = keyed.select(col("id"), lshBucket(col("v"), planes).as("bucket"))
    val buckets = bucketed.groupBy(col("bucket"))
      .agg(sort_array(collect_list(col("id"))).as("ms"))
      .where(size(col("ms")).between(2, maxBucket))
    val pairs = buckets.select(explode(flatten(
        transform(col("ms"), (m, i) =>
          transform(slice(col("ms"), i + 2, size(col("ms"))),
            other => struct(m.as("a"), other.as("b")))))).as("p"))
      .select(col("p.a"), col("p.b"))
      .dropDuplicates("a", "b")
    val verified = pairs
      .join(keyed.select(col("id").as("a"), col("v").as("__va")), Seq("a"))
      .join(keyed.select(col("id").as("b"), col("v").as("__vb")), Seq("b"))
      .select(col("a"), col("b"), nCosine(col("__va"), col("__vb")).as("cosine"))
      .where(col("cosine") >= threshold)
    // materialize eagerly so the vector cache can be released before
    // returning (mirrors Dedup.minhashNearDups) — the verified pairs
    // are orders of magnitude smaller than the corpus
    val out = verified.localCheckpoint(true)
    keyed.unpersist()
    out
  }

  /** SemDeDup candidate pairs (Abbas et al., "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication",
    * arXiv:2303.09540): k-means-cluster the embedding space with the
    * same coarse quantizer as the IVF index, then compute pairwise
    * cosine WITHIN clusters only — the paper's trick for making
    * semantic dedup tractable at web scale (all-pairs over the corpus
    * is quadratic; within-cluster pairs are quadratic only in cluster
    * size). Returns (cluster, a, b, cosine) with a < b and
    * cosine ≥ threshold.
    *
    * Scale shape (100 TB): one k-means fit (sampled/coarse — 10 Lloyd
    * iterations), one shuffle on cluster id carrying IDS ONLY
    * (vectors join back by id, the [[embeddingNearDups]] /
    * minhashCandidates discipline), pair generation bounded by
    * `maxCluster` (pick `nClusters` ≈ corpus/10³ so clusters stay
    * ~10³, exactly the paper's regime), and the verified-pair output
    * localCheckpointed so the vector cache releases before return. */
  def semDedupPairs(df: DataFrame, threshold: Double = 0.95,
                    nClusters: Int = 16, seed: Long = 42L,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    maxCluster: Int = 10000,
                    fitFraction: Double = 1.0): DataFrame = {
    require(nClusters >= 2, // Spark ML KMeans rejects k < 2
      s"semDedupPairs: nClusters must be >= 2, got $nClusters")
    registered(df)
    val (assigned, _) =
      kmeansAssign(df, nClusters, seed, idCol, vecCol, fitFraction)
        match { case q: Quantizer => (q.assigned, q.centroidsDf) }
    val keyed = assigned.select(col("neighbor_id").as("id"),
      col("__cv").as("v"), col("cluster")).cache()
    val clusters = keyed.groupBy(col("cluster"))
      .agg(sort_array(collect_list(col("id"))).as("ms"))
      .where(size(col("ms")).between(2, maxCluster))
    val pairs = clusters.select(col("cluster"), explode(flatten(
        transform(col("ms"), (m, i) =>
          transform(slice(col("ms"), i + 2, size(col("ms"))),
            other => struct(m.as("a"), other.as("b")))))).as("p"))
      .select(col("cluster"), col("p.a"), col("p.b"))
    val verified = pairs
      .join(keyed.select(col("id").as("a"), col("v").as("__va")), Seq("a"))
      .join(keyed.select(col("id").as("b"), col("v").as("__vb")), Seq("b"))
      .select(col("cluster"), col("a"), col("b"),
        nCosine(col("__va"), col("__vb")).as("cosine"))
      .where(col("cosine") >= threshold)
    val out = verified.localCheckpoint(true)
    keyed.unpersist()
    out
  }

  /** D4-style diversity pruning (Tirumala et al. 2023,
    * arXiv:2308.12284 — the published step AFTER SemDeDup): drop the
    * most PROTOTYPICAL vectors — those with the highest cosine to
    * their cluster centroid — keeping the diverse `keepFraction` per
    * cluster (ties at the rounded threshold kept; the paper's "keep
    * examples far from the centroid" diversification). `nClusters = 1`
    * scores against the corpus MEAN — fully engine-replayable, the
    * twin the oracle pins; the clustered path shares [[semDedup]]'s
    * seeded quantizer. Returns the surviving input rows.
    *
    * Scale shape: the quantizer assignment (map-only two-level above
    * 64 clusters), one centroid-keyed cosine projection against the
    * broadcast centroid table, ONE exact-percentile aggregation on the
    * bounded cluster key (percentile_approx at corpus scale, same
    * plan), thresholds broadcast back, and an id semi-join — no
    * pairwise work anywhere (this prunes density, not duplicates). */
  def diversityPrune(df: DataFrame, keepFraction: Double,
                     nClusters: Int = 16, seed: Long = 42L,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     fitFraction: Double = 1.0): DataFrame = {
    require(keepFraction > 0.0 && keepFraction <= 1.0,
      s"diversityPrune: keepFraction must be in (0,1], got $keepFraction")
    require(nClusters >= 1,
      s"diversityPrune: nClusters must be >= 1, got $nClusters")
    registered(df)
    val (assigned, centroids) =
      if (nClusters == 1) {
        val a = df.select(col(idCol).as("neighbor_id"),
          asDouble(col(vecCol)).as("__cv"))
          .withColumn("cluster", lit(0))
        val ctr = a
          .select(posexplode(col("__cv")).as(Seq("__i", "__x")))
          .groupBy(col("__i")).agg(avg(col("__x")).as("__m"))
          .agg(transform(
            array_sort(collect_list(struct(col("__i"), col("__m")))),
            s => s.getField("__m")).as("__ctr"))
          .select(lit(0).as("cluster"), col("__ctr"))
        (a, ctr)
      } else {
        val q = kmeansAssign(df, nClusters, seed, idCol, vecCol,
          fitFraction)
        (q.assigned, q.centroidsDf)
      }
    val scored = assigned
      .join(broadcast(centroids), Seq("cluster"))
      .select(col("cluster"), col("neighbor_id"),
        round(nCosine(col("__cv"), asDouble(col("__ctr"))), 6).as("__cos"))
      .localCheckpoint(true) // percentile + filter both read it
    val thresholds = scored.groupBy(col("cluster"))
      .agg(round(percentile(col("__cos"), lit(keepFraction)), 6)
        .as("__thr"))
    val keep = scored.join(broadcast(thresholds), Seq("cluster"))
      .where(col("__cos") <= col("__thr"))
      .select(col("neighbor_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** SemDeDup keep-set: drop every vector with a LOWER-id semantic
    * twin in its cluster (keep-first, the repo's exact-dedup
    * convention — deterministic where the paper's "keep the example
    * farthest from the centroid" tie-breaks arbitrarily on chained
    * near-dup groups). Returns the input rows that survive. */
  def semDedup(df: DataFrame, threshold: Double = 0.95,
               nClusters: Int = 16, seed: Long = 42L,
               idCol: String = "vec_id", vecCol: String = "embedding",
               maxCluster: Int = 10000,
               fitFraction: Double = 1.0): DataFrame = {
    val bad = semDedupPairs(df, threshold, nClusters, seed, idCol, vecCol,
        maxCluster, fitFraction)
      .select(col("b").as(idCol)).distinct()
    df.join(bad, Seq(idCol), "left_anti")
  }

  /** [[semDedup]] with QUALITY-AWARE survivor selection: instead of
    * keep-first (drop the higher id of each pair), semantic-twin
    * CLUSTERS (connected components over the ≥-threshold pairs) each
    * keep their max-score member, ties to the lowest id — the
    * [[Dedup.nearDupClustersBest]] policy applied to SemDeDup, so the
    * curation pipeline keeps the best-quality copy of each semantic
    * group rather than an id-ordered accident. Vectors in no
    * qualifying pair always survive (no-signal convention). */
  def semDedupBest(df: DataFrame, scores: DataFrame,
                   scoreCol: String = "score",
                   threshold: Double = 0.95, nClusters: Int = 16,
                   seed: Long = 42L, idCol: String = "vec_id",
                   vecCol: String = "embedding", maxCluster: Int = 10000,
                   fitFraction: Double = 1.0): DataFrame = {
    val pairs = semDedupPairs(df, threshold, nClusters, seed, idCol, vecCol,
      maxCluster, fitFraction)
    val dropped = Dedup.nearDupClustersBest(pairs, scores, idCol, scoreCol)
      .where(!col("keep")).select(col("doc_id").as(idCol))
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** Per-vector int8 scalar quantization: `scale = max|v_i| / 127`,
    * `q_i = round(v_i / scale)` — 4× storage cut for float32 embedding
    * columns (the difference between 100 TB of vectors fitting a
    * cluster's disks or not), with reconstruction error bounded by
    * scale/2 per component. Map-only, shuffle-free; zero vectors keep
    * scale 0 and quantize to zeros. Returns (vec_id, scale, q). */
  def quantizeInt8(df: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    df.select(col(idCol).as("vec_id"),
        Dedup.letBound(
          array_max(transform(asDouble(col(vecCol)), x => abs(x))) / 127.0) { s =>
          struct(s.as("scale"),
            when(s === 0d, transform(col(vecCol), _ => lit(0)))
              .otherwise(transform(asDouble(col(vecCol)),
                x => round(x / s).cast("int"))).as("q"))
        }.as("__qs"))
      .select(col("vec_id"), col("__qs.scale").as("scale"),
        col("__qs.q").as("q"))

  /** Inverse of [[quantizeInt8]]: `v_i ≈ q_i * scale`. */
  def dequantizeInt8(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") * scale)

  // ---- Product quantization (Jégou, Douze, Schmid: "Product
  // Quantization for Nearest Neighbor Search", TPAMI 2011) ------------

  /** Trained PQ codebooks: `m` subspaces of `dsub` dims, `k` centroids
    * each. At m=8, k=256 a 64-dim float32 vector compresses 32× (256
    * bytes → 8 code bytes) — the regime where 100 TB of embeddings
    * fits the cluster's MEMORY, not just its disks (int8 scalar
    * quantization stops at 4×). Driver-small by construction
    * (m × k × dsub doubles = one task-closure table, the
    * centroid-tensor convention of [[hierarchicalAssign]]). */
  final case class PqModel(m: Int, dsub: Int,
                           codebooks: Array[Array[Array[Double]]])
      extends Serializable {
    def dim: Int = m * dsub
    def k: Int = codebooks(0).length

    /** The codebook tensor serialized ONCE per model (lazily, cached)
      * and the one `lit` Column wrapping it — every kernel call site
      * ([[Similarity.nPqEncode]], [[Similarity.nAdc]], encode + ADC in
      * the same query) shares this single Literal instead of each
      * re-serializing and carrying its own copy of a potentially
      * multi-MB m × k × dsub literal. Transient: recomputed per JVM,
      * never shipped in closures (the kernels ride the codegen
      * references array, not this). */
    @transient lazy val serialized: String =
      graft.plans.PqKernel.serialize(m, dsub, k, codebooks)
    @transient lazy val serializedLit: Column = lit(serialized)
  }

  /** Fit PQ codebooks on a BOUNDED deterministic sample (hash-chosen,
    * id-sorted — the [[hierarchicalAssign]] sampling convention, so
    * the fit is identical under any partitioning): slice each sample
    * vector into `m` subvectors and run driver-local Lloyd per
    * subspace. Fit cost: sample × k × dim flops, far below one corpus
    * scan; the corpus itself is never collected. */
  def fitPq(corpus: DataFrame, m: Int = 8, k: Int = 16,
            idCol: String = "vec_id", vecCol: String = "embedding",
            maxSample: Int = 20000): PqModel = {
    val c = corpus.select(col(idCol).as("__id"), asDouble(col(vecCol)).as("__cv"))
    val n = c.count()
    val frac = if (n <= maxSample) 1.0 else maxSample.toDouble / n
    val sampleDf = if (frac >= 1.0) c
      else c.where(pmod(xxhash64(col("__id")), lit(1000000L)) <
        lit(math.max(1L, (frac * 1000000L).toLong)))
    val sample: Array[Array[Double]] = sampleDf
      .select(col("__id").cast("string"), col("__cv"))
      .collect().sortBy(_.getString(0))
      .map(_.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "fitPq: empty fit sample")
    val dim = sample(0).length
    require(dim % m == 0, s"fitPq: dim $dim not divisible by m=$m")
    val dsub = dim / m
    val books = (0 until m).map { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      lloyd(sub, math.min(k, sub.length), iters = 10)
    }.toArray
    PqModel(m, dsub, books)
  }

  /** Encode vectors to PQ codes — MAP-ONLY, the corpus-compression
    * pass: per subspace, the nearest codebook centroid's index.
    * Returns (vec_id, codes array<int> of length m). */
  def pqEncode(df: DataFrame, model: PqModel,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    registered(df)
    df.select(col(idCol).as("vec_id"),
      nPqEncode(asDouble(col(vecCol)), model).as("codes"))
  }

  /** The codebook tensor as ONE plan literal (`Double.toString`
    * round-trip exact) feeding the native kernels — parsed once per
    * task via the codegen references array, the `PslRules` pattern.
    * Serialized once per model and shared across every call site in a
    * query ([[PqModel.serializedLit]]) — encode and ADC in the same
    * plan reference the SAME Literal rather than duplicating it. */
  private def modelLit(model: PqModel): Column = model.serializedLit

  /** The ONE per-subspace nearest-centroid encoder — shared by
    * [[pqEncode]] and the IVF-PQ residual encode so a change to the
    * tie rule or walk can never diverge between paths. Native
    * codegen'd expression ([[graft.plans.PqEncodeExpression]]),
    * bit-identical to the former UDF (same walk, same ties-to-lowest
    * rule). */
  private def nPqEncode(vec: Column, model: PqModel): Column =
    call_function("graft_pq_encode", vec, modelLit(model))

  /** Asymmetric distance — the per-(code-row × query) kernel of the
    * ONE corpus-wide scan in the PQ path, as a native codegen'd
    * expression ([[graft.plans.PqAdcExpression]]): the UDF form broke
    * WholeStageCodegen at exactly the operator whose argument is scan
    * rate. Serves BOTH the flat-PQ (full vectors) and IVF-PQ
    * (residuals) paths — same arithmetic, different inputs. */
  private def nAdc(qv: Column, codes: Column, model: PqModel): Column =
    call_function("graft_adc", qv, codes, modelLit(model))

  /** The ONE codebook-table serialization ([[loadPqModel]]'s inverse)
    * — shared by [[buildPqIndex]] and [[buildIvfPqIndex]]. */
  private def writeCodebooks(spark: org.apache.spark.sql.SparkSession,
                             model: PqModel, dir: String): Unit = {
    import spark.implicits._
    model.codebooks.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (ctr, j) => (s, j, ctr.toSeq) }
    }.toIndexedSeq.toDF("subspace", "centroid", "vals")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
  }

  /** ADC top-k with EXACT re-rank: score every code row against each
    * (broadcast-small) query by asymmetric distance — the query's true
    * subvector against the code's reconstructed centroid, summed over
    * subspaces — shortlist the `shortlist` best per query, join those
    * few rows back to their full vectors, and re-rank by exact cosine.
    * The output schema and scores therefore match [[bruteForceTopK]]
    * exactly (the planted oracle binds the whole path to the
    * brute-force answer); ADC only decides WHICH tiny candidate set
    * pays for full-precision distance.
    *
    * Scale shape: the codes frame is the only corpus-wide scan (m
    * bytes of code per row + one broadcast product), the shortlist is
    * `queries × shortlist` rows, and the full-vector join touches only
    * those. At 100 TB the codes frame is the 32×-smaller resident
    * working set. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, model: PqModel,
             k: Int, shortlist: Int = 50,
             qIdCol: String = "vec_id", cIdCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame =
    pqTopKFromCodes(queries,
      pqEncode(corpus, model, cIdCol, vecCol)
        .select(col("vec_id").as("neighbor_id"), col("codes")),
      corpus, model, k, shortlist, qIdCol, cIdCol, vecCol)

  /** The ADC + re-rank phase over an EXISTING codes frame — shared by
    * the fit-inline ([[pqTopK]]) and persisted-index
    * ([[pqQueryIndex]]) paths. `corpus` supplies full vectors for the
    * exact re-rank of the shortlist only (broadcast-probed by id; the
    * corpus is scanned, never shuffled). */
  private def pqTopKFromCodes(queries: DataFrame, codes: DataFrame,
                              corpus: DataFrame, model: PqModel,
                              k: Int, shortlist: Int,
                              qIdCol: String, cIdCol: String,
                              vecCol: String): DataFrame = {
    registered(corpus)
    val q = queries.select(col(qIdCol).as("query_id"),
      asDouble(col(vecCol)).as("__qv"))
    val scored = codes.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("__adc", nAdc(col("__qv"), col("codes"), model))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("__adc").asc, col("neighbor_id").asc)
    val short = scored.withColumn("__r", row_number().over(wAdc))
      .where(col("__r") <= shortlist)
      .select(col("query_id"), col("neighbor_id"), col("__qv"))
    val full = corpus.select(col(cIdCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("__cv"))
    // the shortlist (queries × shortlist rows) is the BROADCAST side:
    // without the hint the optimizer can't size the windowed frame and
    // would sort-merge-join, shuffling the whole corpus for a few
    // hundred lookups
    val reranked = full.join(broadcast(short), Seq("neighbor_id"))
      .withColumn("cosine", nCosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    reranked.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Persist a PQ index: the codebook table (m × k tiny rows) plus the
    * encoded codes frame — the 32×-compressed searchable form of the
    * corpus. Layout: `dir/codebooks` (subspace, centroid, vals),
    * `dir/codes` (vec_id, codes). The original vectors are NOT copied
    * into the index (that would forfeit the compression); the exact
    * re-rank joins the caller's corpus frame at query time. */
  def buildPqIndex(corpus: DataFrame, dir: String,
                   m: Int = 8, k: Int = 16,
                   cIdCol: String = "vec_id",
                   vecCol: String = "embedding"): PqModel = {
    val model = fitPq(corpus, m, k, cIdCol, vecCol)
    // codes write (corpus-sized) ∥ codebook table (driver-bounded) —
    // disjoint subdirs, model already fitted (guide §2.6)
    graft.util.Par.inParallel(
      () => pqEncode(corpus, model, cIdCol, vecCol)
        .write.mode("overwrite").parquet(s"$dir/codes"),
      () => writeCodebooks(corpus.sparkSession, model, dir))
    model
  }

  /** Reload a persisted PQ codebook table into a [[PqModel]]
    * (generation-aware — the serving generation's codebooks). */
  def loadPqModel(spark: org.apache.spark.sql.SparkSession,
                  dir: String): PqModel = {
    val rows = spark.read.parquet(s"${resolveIndexRoot(spark, dir)}/codebooks")
      .select(col("subspace"), col("centroid"), col("vals"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val m = rows.map(_._1).max + 1
    val books = (0 until m).map { s =>
      rows.filter(_._1 == s).sortBy(_._2).map(_._3)
    }.toArray
    PqModel(m, books(0)(0).length, books)
  }

  /** INCREMENTAL PQ index append — encode the new batch with the
    * EXISTING codebooks (no refit: append ≡ encode-the-union with the
    * same model, exactly — spec-bound) and append to the codes frame.
    * Map-only over the batch plus one parquet append; codebooks drift
    * as the distribution shifts (quantization error creeps up, recall
    * degrades gracefully via the exact re-rank) — periodic refits
    * re-center, the same maintenance trade as [[appendIvfIndex]]. */
  def appendPqIndex(spark: org.apache.spark.sql.SparkSession,
                    newVecs: DataFrame, dir: String,
                    cIdCol: String = "vec_id",
                    vecCol: String = "embedding"): Unit = {
    // resolve ONCE so the model and the codes ledger come from the
    // same generation even if a reindex commits mid-call
    val root = resolveIndexRoot(spark, dir)
    val model = loadPqModel(spark, root)
    pqEncode(newVecs, model, cIdCol, vecCol)
      .write.mode("append").parquet(s"$root/codes")
  }

  /** Query a persisted PQ index: ADC over the stored codes, exact
    * re-rank against the caller's `corpus` frame (which must cover
    * every indexed id — the base corpus plus any appended batches). */
  def pqQueryIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                   queries: DataFrame, corpus: DataFrame, k: Int,
                   shortlist: Int = 50,
                   qIdCol: String = "vec_id", cIdCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val root = resolveIndexRoot(spark, dir)
    val model = loadPqModel(spark, root)
    val codes = spark.read.parquet(s"$root/codes")
      .select(col("vec_id").as("neighbor_id"), col("codes"))
    pqTopKFromCodes(queries, codes, corpus, model, k, shortlist,
      qIdCol, cIdCol, vecCol)
  }

  /** IVF-PQ composite index — the canonical big-corpus ANN layout
    * (FAISS's IVFADC): a coarse IVF quantizer partitions the corpus by
    * cluster, and within each cluster the RESIDUAL (vector − its
    * centroid) is PQ-encoded. Queries probe nProbe clusters and run
    * ADC over only those clusters' codes — the scan is BOTH
    * partition-pruned (IVF) and 32×-compressed (PQ), which is the
    * combination a 100 TB vector corpus actually needs: nProbe/K of
    * the data read, at m bytes per vector. Residual encoding (not raw
    * vectors) is what makes coarse+fine quantization compose: the
    * codebooks only have to cover the within-cluster spread.
    *
    * Layout: `dir/centroids` (IVF), `dir/codebooks` (PQ, residual
    * space), `dir/codes` partitioned by cluster. Flat coarse quantizer
    * only (nCentroids ≤ 64 — the hierarchical path's probe rule does
    * not transfer to residual space). */
  def buildIvfPqIndex(corpus: DataFrame, dir: String, nCentroids: Int = 16,
                      m: Int = 8, k: Int = 16, seed: Long = 42L,
                      cIdCol: String = "vec_id",
                      vecCol: String = "embedding"): PqModel = {
    require(nCentroids <= hierarchicalThreshold,
      s"buildIvfPqIndex: flat coarse quantizer only (nCentroids <= $hierarchicalThreshold)")
    registered(corpus)
    val qz = kmeansAssign(corpus, nCentroids, seed, cIdCol, vecCol)
    val resid = qz.assigned
      .join(broadcast(qz.centroidsDf), Seq("cluster"))
      .select(col("neighbor_id"), col("cluster"),
        zip_with(col("__cv"), col("__ctr"), (a, b) => a - b).as("__res"))
      .localCheckpoint(true) // residuals feed BOTH the fit sample and the encode
    val model = fitPq(resid, m, k, idCol = "neighbor_id", vecCol = "__res")
    // codes write (corpus-sized, critical path) ∥ the two
    // driver-bounded table writes — disjoint subdirs (guide §2.6)
    graft.util.Par.inParallel(
      () => resid.select(col("neighbor_id").as("vec_id"), col("cluster"),
          nPqEncode(col("__res"), model).as("codes"))
        .repartition(col("cluster"))
        .write.partitionBy("cluster").mode("overwrite")
        .parquet(s"$dir/codes"),
      () => qz.centroidsDf.coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/centroids"),
      () => writeCodebooks(corpus.sparkSession, model, dir))
    resid.unpersist()
    model
  }

  /** INCREMENTAL IVF-PQ append — completes the index-family symmetry
    * ([[appendPqIndex]] and [[appendIvfIndex]] both append; the
    * composite previously required a rebuild): assign new vectors to
    * the FROZEN coarse centroids by the build's own rule (the MLlib
    * predictor over the stored centroid table — the [[appendIvfIndex]]
    * flat-path convention, so FP near-ties cannot diverge append from
    * rebuild-assignment), PQ-encode each vector's residual with the
    * FROZEN codebooks, and append to the cluster-partitioned codes
    * layout (existing cluster directories gain files; partition
    * pruning keeps working). Append ≡ encode-the-union with the same
    * centroids and model, exactly (spec-bound). Both quantizers drift
    * as the distribution shifts — the `ann_recall_drift` /
    * SimilaritySpec floors are the tripwires, periodic rebuilds
    * re-center (the standing maintenance trade). */
  def appendIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                       newVecs: DataFrame, dir: String,
                       cIdCol: String = "vec_id",
                       vecCol: String = "embedding"): Unit = {
    registered(newVecs)
    val root = resolveIndexRoot(spark, dir)
    val model = loadPqModel(spark, root)
    val centroidsDf = spark.read.parquet(s"$root/centroids")
    val centers = centroidsDf.select(col("cluster"), col("__ctr"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    val km = new org.apache.spark.mllib.clustering.KMeansModel(
      centers.map(org.apache.spark.mllib.linalg.Vectors.dense))
    val assignF = udf { (v: Seq[Double]) =>
      km.predict(org.apache.spark.mllib.linalg.Vectors.dense(v.toArray)) }
    newVecs.select(col(cIdCol).as("vec_id"), asDouble(col(vecCol)).as("__cv"))
      .withColumn("cluster", assignF(col("__cv")))
      .join(broadcast(centroidsDf.select(col("cluster"), col("__ctr"))),
        Seq("cluster"))
      .select(col("vec_id"), col("cluster"),
        nPqEncode(zip_with(col("__cv"), col("__ctr"), (a, b) => a - b), model)
          .as("codes"))
      .repartition(col("cluster"))
      .write.partitionBy("cluster").mode("append").parquet(s"$root/codes")
  }

  /** Query an IVF-PQ index: probe the nProbe nearest coarse centroids
    * per query, ADC the query's RESIDUAL against only those clusters'
    * codes, shortlist, exact re-rank against the caller's corpus
    * frame. Scores equal [[bruteForceTopK]]'s for everything the probe
    * reaches (the planted oracle binds the path end to end). */
  def ivfPqQueryIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                      queries: DataFrame, corpus: DataFrame, k: Int,
                      nProbe: Int = 4, shortlist: Int = 50,
                      qIdCol: String = "vec_id", cIdCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    registered(corpus)
    val root = resolveIndexRoot(spark, dir)
    val model = loadPqModel(spark, root)
    val centroidsDf = spark.read.parquet(s"$root/centroids")
    val codes = spark.read.parquet(s"$root/codes")
    val qBase = queries.select(col(qIdCol).as("query_id"),
      asDouble(col(vecCol)).as("__qv"))
    // probe by squared L2 ASC — the metric the IVF assignment used
    // (see ivfQueryPhase's flat path; dot-product ranking can miss the
    // cluster holding an exact twin for non-unit-norm embeddings)
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("__cdist").asc, col("cluster").asc)
    // per probed cluster the query carries its residual — ADC space
    // matches the encode space
    val probed = qBase.crossJoin(broadcast(centroidsDf))
      .withColumn("__cdist", nSqDist(col("__qv"), col("__ctr")))
      .withColumn("__pr", row_number().over(wProbe))
      .where(col("__pr") <= nProbe)
      .select(col("query_id"), col("__qv"), col("cluster"),
        zip_with(col("__qv"), col("__ctr"), (a, b) => a - b).as("__qres"))
    val scored = probed.join(codes, Seq("cluster"))
      .where(col("query_id") =!= col("vec_id"))
      .withColumn("__adc", nAdc(col("__qres"), col("codes"), model))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("__adc").asc, col("vec_id").asc)
    val short = scored.withColumn("__r", row_number().over(wAdc))
      .where(col("__r") <= shortlist)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("__qv"))
    val full = corpus.select(col(cIdCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("__cv"))
    // the shortlist (queries × shortlist rows) is the BROADCAST side:
    // without the hint the optimizer can't size the windowed frame and
    // would sort-merge-join, shuffling the whole corpus for a few
    // hundred lookups
    val reranked = full.join(broadcast(short), Seq("neighbor_id"))
      .withColumn("cosine", nCosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    reranked.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Cosine-to-centroid outlier scores: the standard corrupt-embedding
    * probe (zeroed rows, wrong-model vectors, encoding bugs score far
    * from the corpus mean). The centroid's per-dimension sums go
    * through DECIMAL so shuffle order cannot change results — and the
    * cosine is taken against the SUM vector directly (the 1/n scale
    * factor cancels in cosine), so no division ever happens in the
    * aggregate. Returns the k lowest-cosine rows.
    *
    * Degenerate rows — null embeddings and zero vectors, the very
    * corruption this probe exists to catch — score the sentinel `-2.0`
    * (below any real cosine) so they rank FIRST: an undefined 0/0
    * cosine would otherwise go NaN (sorts last in Spark — invisible)
    * and a null score would diverge between engines' null orderings.
    *
    * Scale shape: one posexplode aggregation on the (bounded)
    * dimension key, the dim-long centroid broadcast back as a one-row
    * frame, a map-only score pass, and a TakeOrderedAndProject top-k —
    * the corpus is scanned twice and never shuffled. */
  def centroidOutliers(df: DataFrame, k: Int, idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    registered(df)
    val sums = df
      .select(posexplode(asDouble(col(vecCol))).as(Seq("__p", "__v")))
      .groupBy(col("__p"))
      .agg(sum(col("__v").cast("decimal(38,20)")).as("__s"))
    val centroid = sums
      .agg(array_sort(collect_list(struct(col("__p"), col("__s")))).as("__c"))
      .select(transform(col("__c"),
        e => e.getField("__s").cast("double")).as("__cv"))
    val v = asDouble(col(vecCol))
    df.crossJoin(broadcast(centroid))
      .select(col(idCol).as("vec_id"),
        when(col(vecCol).isNull || nDot(v, v) === 0d, lit(-2.0))
          .otherwise(round(nCosine(v, col("__cv")), 6)).as("cos_centroid"))
      .orderBy(col("cos_centroid").asc, col("vec_id").asc)
      .limit(k)
  }

  /** [[mineTriplets]] with INDEX-APPROXIMATE negative candidates — the
    * corpus-scale path: the hard negatives come from a persisted IVF
    * index over the chunks ([[buildIvfIndex]]), partition-pruned, and
    * the document-exclusion re-rank runs on the id-only candidate
    * table. `kCandidates` must exceed `nNeg` by at least the maximum
    * chunks-per-document, or a query's own document could crowd out
    * its true negatives before the exclusion. */
  def mineTripletsIndexed(spark: org.apache.spark.sql.SparkSession,
                          indexDir: String, chunks: DataFrame,
                          nNeg: Int = 2, kCandidates: Int = 8,
                          nProbe: Int = 4, idCol: String = "chunk_id",
                          docCol: String = "doc_id",
                          idxCol: String = "chunk_idx",
                          vecCol: String = "embedding"): DataFrame = {
    registered(chunks)
    val fwd = ivfQueryIndex(spark, indexDir, chunks, kCandidates, nProbe,
      idCol, vecCol)
    tripletTail(fwd.select(col("query_id"), col("neighbor_id"),
      col("cosine")), chunks, nNeg, idCol, docCol, idxCol)
  }

  /** The adjacency-positive + document-exclusion re-rank TAIL over a
    * (query_id, neighbor_id, cosine) candidate frame — ONE definition
    * shared by [[mineTripletsIndexed]] and the streamed twin
    * ([[graft.streaming.IndexIngest.finalizeTripletsLedger]]), so the
    * two cannot drift. Id-only: one (doc, idx) hash join for the
    * positives, one doc-lookup join for the exclusion, one
    * query-partitioned window for the re-rank. */
  private[graft] def tripletTail(cands: DataFrame, chunks: DataFrame,
                                 nNeg: Int, idCol: String, docCol: String,
                                 idxCol: String): DataFrame = {
    val docsOf = chunks.select(col(idCol).as("neg_id"),
      col(docCol).as("__nd"))
    val meta = chunks.select(col(idCol).as("query_id"),
      col(docCol).as("__qd"), col(idxCol).as("__qi"))
    val nxt = chunks.select(col(docCol).as("__qd"),
      (col(idxCol) - 1).as("__qi"), col(idCol).as("pos_id"))
    val withPos = meta.join(nxt, Seq("__qd", "__qi"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neg_id").asc)
    cands.select(col("query_id"), col("neighbor_id").as("neg_id"),
        col("cosine"))
      .join(docsOf, "neg_id").join(withPos, "query_id")
      .where(col("__nd") =!= col("__qd"))
      .withColumn("neg_rank", row_number().over(w))
      .where(col("neg_rank") <= nNeg)
      .select(col("query_id"), col("pos_id"), col("neg_rank"),
        col("neg_id"), col("cosine").as("neg_cosine"))
  }

  /** Contrastive TRIPLET mining for embedding-model training — the
    * E5/GTE data recipe: the positive for each chunk is its NATURAL
    * pair (the next chunk of the same document — adjacency is the
    * free supervision signal the published recipes use), and the hard
    * negatives are the corpus's top-`nNeg` cosine neighbors from
    * OTHER documents (near enough to be hard, guaranteed non-positive
    * by the document exclusion). Chunks without a successor (the last
    * chunk of each doc) mine no triplet.
    *
    * The exact scan here broadcasts the query side (the audit shape);
    * at corpus scale generate the negative candidates with the
    * persisted index probes ([[mineTripletsIndexed]]) and keep the same
    * document-exclusion + re-rank tail. Returns
    * (query_id, pos_id, neg_rank, neg_id, neg_cosine). */
  def mineTriplets(chunks: DataFrame, nNeg: Int = 2,
                   idCol: String = "chunk_id", docCol: String = "doc_id",
                   idxCol: String = "chunk_idx",
                   vecCol: String = "embedding"): DataFrame = {
    registered(chunks)
    val q = chunks.select(col(idCol).as("query_id"), col(docCol).as("__qd"),
      col(idxCol).as("__qi"), asDouble(col(vecCol)).as("__qv"))
      .withColumn("__qn", nNorm(col("__qv")))
    val nxt = chunks.select(col(docCol).as("__qd"),
      (col(idxCol) - 1).as("__qi"), col(idCol).as("pos_id"))
    val withPos = q.join(nxt, Seq("__qd", "__qi"))
    val c = chunks.select(col(idCol).as("neg_id"), col(docCol).as("__cd"),
      asDouble(col(vecCol)).as("__cv"))
      .withColumn("__cn", nNorm(col("__cv")))
    // per-side norms precomputed — see bruteForceTopK; bit-identical
    val scored = c.crossJoin(broadcast(withPos))
      .where(col("__cd") =!= col("__qd"))
      .withColumn("neg_cosine",
        nDot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("neg_cosine").desc, col("neg_id").asc)
    scored.withColumn("neg_rank", row_number().over(w))
      .where(col("neg_rank") <= nNeg)
      .select(col("query_id"), col("pos_id"),
        col("neg_rank"), col("neg_id"), col("neg_cosine"))
  }
}
