package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`Array[Float]`).
 *
 * Baseline: brute-force cosine top-k — a single narrow scan + `zip_with`
 * dot product (codegen'd lambda functions, no UDF), top-k via
 * `orderBy.limit` which Spark executes as per-partition TakeOrdered + merge
 * (no full sort shuffle).
 *
 * Scale path: IVF-style coarse quantization — assign each vector to the
 * nearest of C centroids once (written as a partition key), probe only the
 * nearest `nprobe` cells at query time → scans 1/C-ish of 100 TB instead of
 * all of it. A random-hyperplane LSH bucketing variant is included for
 * pair-mining (cosine near-dup).
 */
object Similarity {

  /**
   * Declarative dot product (zip_with + aggregate). Correct but *interpreted*
   * per row — kept as the cross-check reference for the codegen'd expression;
   * hot paths use [[graft.functions.VectorOps]].
   */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  def cosineHof(a: Column, b: Column): Column = {
    val denom = sqrt(dotHof(a, a)) * sqrt(dotHof(b, b))
    when(denom === 0.0, 0.0).otherwise(dotHof(a, b) / denom)
  }

  /** Fused single-pass cosine — native codegen'd Catalyst expression. */
  def cosine(a: Column, b: Column): Column = graft.functions.VectorOps.cosine(a, b)
  def dot(a: Column, b: Column): Column = graft.functions.VectorOps.dot(a, b)
  def norm(a: Column): Column = sqrt(graft.functions.VectorOps.dot(a, a))

  /** Cast float embedding to double (exact). NOTE: interpreted HOF — the
   * fused [[cosine]]/[[dot]] kernels read float arrays natively, so hot
   * paths pass raw embeddings; this remains for API/debug parity. */
  def asDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /**
   * Brute-force cosine top-k against one query vector (broadcast as a literal
   * array — no join, no shuffle; TakeOrdered for the limit).
   */
  def topK(vectors: DataFrame, queryVec: Seq[Double], k: Int,
           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = array(queryVec.map(lit): _*)
    vectors
      .select(col(idCol), cosine(col(vecCol), q).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /**
   * Batch top-k: nearest k corpus vectors for EACH query in `queries`
   * (broadcast the query side — the 100 TB corpus streams through once).
   */
  def topKBatch(vectors: DataFrame, queries: DataFrame, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding",
                qIdCol: String = "query_id", qVecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = vectors.crossJoin(
      broadcast(queries.select(col(qIdCol).as("_qid"), col(qVecCol).as("_qvec"))))
      .select(col("_qid"), col(idCol),
        cosine(col(vecCol), col("_qvec")).as("cos_sim"))
    val w = Window.partitionBy("_qid").orderBy(col("cos_sim").desc, col(idCol))
    joined.withColumn("_rk", row_number().over(w)).filter(col("_rk") <= k)
      .select(col("_qid").as(qIdCol), col(idCol), col("cos_sim"))
  }

  /**
   * Exact all-pairs cosine ≥ threshold (the correctness baseline the LSH
   * variant is verified against) as a DISTRIBUTED block-nested-loop
   * self-join: hash each vector into one of B blocks, replicate each block
   * to its B-b partner block-pairs, equi-join on the (pi, pj) pair key so
   * every unordered block pair is compared in exactly one task group.
   * Nothing is collected to the driver; data replication is ~B/2× (the
   * standard all-pairs trade — #comparisons is O(n²) regardless, the blocks
   * just spread them over B(B+1)/2 independent tasks).
   *
   * Cosine is the fused [[graft.functions.VectorOps.cosine]] expression
   * (sequential element order → bit-identical to the previous driver-side
   * loop and to DuckDB's list_cosine_similarity); cosine is symmetric under
   * commutative double ops, so emitting (least, greatest) of the ids is safe.
   *
   * O(n²) comparisons — use for modest n or within IVF cells; at 100 TB use
   * [[cosinePairsBanded]] (LSH) or [[ivfAssign]] partitioning to bound the pair
   * space first.
   */
  def cosinePairsExact(vectors: DataFrame, threshold: Double,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       blocks: Int = 0): DataFrame = {
    val spark = vectors.sparkSession
    val b = if (blocks > 0) blocks else math.max(4, spark.sparkContext.defaultParallelism / 2)
    val base = vectors
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        pmod(xxhash64(col(idCol)), lit(b)).cast("int").as("blk"))
    val partners = array((0 until b).map(lit): _*)
    // block i is the LEFT of pairs (i, j≥i) and the RIGHT of pairs (i≤j, j)
    val left = base.select(col("blk").as("pi"), explode(partners).as("pj"),
        col("id").as("id_l"), col("v").as("v_l"))
      .filter(col("pj") >= col("pi"))
    val right = base.select(explode(partners).as("pi"), col("blk").as("pj"),
        col("id").as("id_r"), col("v").as("v_r"))
      .filter(col("pi") <= col("pj"))
    left.join(right, Seq("pi", "pj"))
      // diagonal blocks see each unordered pair twice (and self-pairs once)
      .filter(col("pi") < col("pj") || col("id_l") < col("id_r"))
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"),
        cosine(col("v_l"), col("v_r")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos_sim"), 6).as("cos_sim"))
  }

  /**
   * Deterministic "hyperplane" component signs: h[b][i] in {-1,+1} from a
   * fixed splitmix-style mix of (b,i). Public so independent implementations
   * (e.g. the DuckDB oracle SQL) can reproduce the exact bucketing.
   */
  def hyperplaneSign(b: Int, i: Int): Double = graft.functions.LshOps.hyperplaneSign(b, i)

  /**
   * Random-hyperplane LSH signature: `bits` sign bits of projections onto
   * deterministic pseudo-random hyperplanes. Vectors with high cosine
   * similarity collide with high probability. No miner uses this
   * single-table form (one fixed width → 2^bits buckets TOTAL, so a bucket
   * self-join emits Θ(n²/2^bits) candidates); it is kept as the band-0
   * continuity reference: [[graft.functions.LshOps.HyperplaneBands]] band 0
   * at width w == this signature at bits=w, spec-pinned.
   */
  def lshSignature(vec: Column, dim: Int, bits: Int): Column = {
    // per-element cast (codegen'd) — a whole-array transform() is an
    // interpreted HOF evaluated per row; float→double widening is exact
    val v = (i: Int) => element_at(vec, i + 1).cast("double")
    (0 until bits).map { b =>
      val proj = (0 until dim).map(i => v(i) * lit(hyperplaneSign(b, i))).reduce(_ + _)
      shiftleft(when(proj > 0, 1L).otherwise(0L), b)
    }.reduce((x, y) => x.bitwiseOR(y))
  }

  /** Banded hyperplane signatures (array<long>, one per band) — fused
   * codegen'd pass, fixed 32-hyperplane stride per band (see
   * [[graft.functions.LshOps.HyperplaneBands]]). */
  def lshBandSignatures(vec: Column, dim: Int, bands: Int, bitsPerBand: Int): Column =
    graft.functions.LshOps.hyperplaneBands(vec, dim, bands, bitsPerBand)

  /**
   * Scale-adaptive signature width: the smallest per-band width whose
   * expected bucket occupancy `n / 2^bits` is ≤ `targetBucket` — bucket
   * COUNT grows with the corpus, so per-band candidate pairs stay
   * ~`n × targetBucket / 2` = LINEAR in n (the fixed-width scheme is
   * Θ(n²/2^bits) — quadratic — at any fixed bits). Recall lost to the wider
   * bands is recovered by OR-ing multiple bands ([[cosinePairsBanded]]).
   * `minBits` floors the width so tiny corpora (the sf0.01 oracle scale:
   * n=500 → 6) keep a deterministic, SQL-reproducible bucketing.
   */
  def adaptiveBits(n: Long, targetBucket: Int = 8, minBits: Int = 6, maxBits: Int = 24): Int = {
    require(targetBucket > 0 && minBits >= 1 && maxBits >= minBits)
    var bits = minBits
    while (bits < maxBits && (n >> bits) > targetBucket) bits += 1
    bits
  }

  /**
   * Occupancy-targeted cell count for [[semDedup]]'s coarse assignment —
   * the scale parameterization (the same constant-occupancy rule as
   * [[adaptiveBits]]): k = ⌈n / targetOccupancy⌉ cells holds expected cell
   * size constant as the corpus grows, so the within-cell pair stage costs
   * Θ(n · targetOccupancy) — LINEAR in n — where a fixed k gives Θ(n²/k)
   * and the √n rule gives Θ(n^1.5). SemDeDup itself scales its cluster
   * count with the corpus (50k cells on LAION, arXiv:2303.09540 §3); this
   * makes the rule explicit and automatic. Pair volume linearity at ×10 is
   * spec-pinned (ScaleToolsSpec).
   */
  def adaptiveCellCount(n: Long, targetOccupancy: Int = 32): Long = {
    require(targetOccupancy > 0)
    math.max(1L, (n + targetOccupancy - 1) / targetOccupancy)
  }

  /**
   * Embedding-cosine near-dup pairs ≥ threshold via BANDED hyperplane LSH:
   * `bands` independent signature tables of `bitsPerBand` bits each, a pair
   * is a candidate when it collides in ANY band (OR-construction), distinct
   * candidates verified with one fused exact cosine. With `bitsPerBand` from
   * [[adaptiveBits]] the candidate join is linear in n at fixed expected
   * bucket size — the 100 TB shape — while recall for pairs at angle θ is
   * 1-(1-p^r)^bands, p = 1-θ/π (vs the single table's p^bits).
   *
   * Output contract: the FULL verified pair set of the banded buckets
   * (clique per bucket) — feed CC consumers [[cosineSpanningPairs]] instead,
   * which mines Θ(d) spanning edges per bucket with a CC-identical result.
   */
  def cosinePairsBanded(vectors: DataFrame, threshold: Double, dim: Int,
                        bands: Int = 4, bitsPerBand: Int = 6,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val banded = vectors.select(col(idCol).as("id"), col(vecCol).as("v"),
        posexplode(lshBandSignatures(col(vecCol), dim, bands, bitsPerBand))
          .as(Seq("band", "bsig")))
    val a = banded.select(col("band"), col("bsig"), col("id").as("id_a"), col("v").as("v_a"))
    val b = banded.select(col("band"), col("bsig"), col("id").as("id_b"), col("v").as("v_b"))
    a.join(b, Seq("band", "bsig")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("v_a"), col("v_b"))
      .dropDuplicates("id_a", "id_b") // verify each distinct pair ONCE across bands
      .select(col("id_a"), col("id_b"), cosine(col("v_a"), col("v_b")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos_sim"), 4).as("cos_sim"))
  }

  /**
   * Embedding-cosine near-dup pairs for connected-component consumers: the
   * banded hyperplane buckets of [[cosinePairsBanded]] mined by
   * [[graft.llm.Dedup.bucketSpanningPairs]] (clique or spanning shape,
   * chosen by its occupancy gate). Output: (id_a, id_b, cos_sim), every
   * pair exactly verified ≥ `threshold`, whose connected components equal
   * those of [[cosinePairsBanded]]'s verified clique graph.
   */
  def cosineSpanningPairs(vectors: DataFrame, threshold: Double, dim: Int,
                          bands: Int = 4, bitsPerBand: Int = 6,
                          idCol: String = "vec_id", vecCol: String = "embedding",
                          pruneGate: Long = 4096L,
                          cliqueVolumePerDoc: Long = 16L,
                          cliqueVolumeFloor: Long = 65536L): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val base = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
    // persisted, unlike the MinHash bands: each band signature is `bits`
    // dot products over the vector, too dear to recompute per read
    val banded = base.select(col("id"),
        posexplode(lshBandSignatures(col("v"), dim, bands, bitsPerBand))
          .as(Seq("band", "bucket")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val vecsA = base.select(col("id").as("id_a"), col("v").as("v_a"))
    val vecsB = base.select(col("id").as("id_b"), col("v").as("v_b"))
    val out = Dedup.bucketSpanningPairs(banded, bands,
      _.join(vecsA, "id_a").join(vecsB, "id_b")
        .select(col("id_a"), col("id_b"), cosine(col("v_a"), col("v_b")).as("cos_sim")),
      threshold, "cos_sim", pruneGate, cliqueVolumePerDoc, cliqueVolumeFloor)
    banded.unpersist(false)
    out
  }

  /**
   * Spherical k-means centroid training — DataFrame-only, deterministic,
   * the "train" half of the IVF coarse index ([[ivfAssign]] is the other).
   *
   * Design for 100 TB:
   *  - init = bottom-k by `xxhash64(id)`: a deterministic uniform sample of
   *    the corpus, no RNG (stable under task retries), one TakeOrdered pass;
   *  - each iteration: assign by max cosine via [[ivfAssignLiteral]] — a
   *    ZERO-SHUFFLE narrow map (the corpus streams through untouched), then
   *    recompute each cell's centroid as the element-wise mean via
   *    posexplode → (cell, pos) partial aggregation — the iteration's only
   *    exchange carries k×dim partial sums regardless of corpus size;
   *  - per-round centroids (k×dim doubles) are collected to the driver and
   *    rebroadcast — bounded control-plane data, the same loop shape Spark
   *    ML's KMeans uses; means are L2-normalized so argmax-cosine assignment
   *    is exact spherical k-means.
   *
   * Empty cells keep their previous centroid (no respawn — deterministic).
   */
  def trainCentroids(vectors: DataFrame, k: Int, iters: Int = 5,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     cIdCol: String = "centroid_id", cVecCol: String = "vec"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    trainCentroidsSeq(vectors, k, iters, idCol, vecCol, cIdCol).toDF(cIdCol, cVecCol)
  }

  /** [[trainCentroids]] returning the driver-held centroid list — feed it to
   * [[ivfAssignLiteral]] for shuffle-free assignment of the full corpus. */
  def trainCentroidsSeq(vectors: DataFrame, k: Int, iters: Int = 5,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        cIdCol: String = "centroid_id"): Seq[(Long, Seq[Double])] = {
    require(k > 0 && iters >= 0)
    // corpus stays array<float> — the fused cosine kernel reads it natively;
    // only the k centroids are double (exact math where it matters)
    val base = vectors.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))

    var cents: Seq[(Long, Seq[Double])] = base
      .orderBy(xxhash64(col("id")), col("id")).limit(k)
      .select(col("v")).collect().toSeq
      .zipWithIndex.map { case (r, i) =>
        (i.toLong, normalize(r.getSeq[Number](0).map(_.doubleValue())))
      }

    for (_ <- 1 to iters) {
      // Mean recompute via [[graft.functions.VectorSumAgg]], NOT posexplode +
      // groupBy(pos): the argmax assignment is a greatest() chain of k fused
      // cosines, and an alias in the same Project as a Generate re-evaluates
      // once per exploded element (PLANS rule #1 — measured k·dim cosines
      // per vector, 45 task-CPU-s for a 20k×64 corpus vs ~2 fixed). The
      // typed aggregate evaluates the chain once per row, and map-side
      // partial aggregation means the iteration's ONLY exchange carries
      // k×dim partial sums — no corpus-wide repartition barrier (which
      // would shuffle the full corpus per iteration at 100 TB).
      val partial = ivfAssignLiteral(base, cents, idCol = "id", vecCol = "v",
        cIdCol = cIdCol)
        .groupBy(col(cIdCol))
        .agg(graft.functions.VectorAgg.vectorSum(col("v")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      // k rows of (cid, dim-length sum, count) — bounded control-plane data
      val means = partial.map { r =>
        val n = r.getLong(2).toDouble
        r.getLong(0) -> r.getSeq[Double](1).map(_ / n)
      }.toMap
      cents = cents.map { case (cid, old) =>
        (cid, means.get(cid).map(normalize).getOrElse(old))
      }
    }
    cents
  }

  private def normalize(v: Seq[Double]): Seq[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0.0) v else v.map(_ / n)
  }

  /**
   * IVF top-k query: probe the `nprobe` cells nearest the query vector and
   * brute-force only inside them — the full "train once, probe cells" path
   * ([[trainCentroids]] → [[ivfAssign]] → this).
   */
  def ivfTopK(assigned: DataFrame, centroids: DataFrame, queryVec: Seq[Double],
              k: Int, nprobe: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              cIdCol: String = "centroid_id", cVecCol: String = "vec"): DataFrame = {
    val q = array(queryVec.map(lit): _*)
    val probes = centroids
      .select(col(cIdCol), cosine(col(cVecCol), q).as("_sim"))
      .orderBy(col("_sim").desc, col(cIdCol)).limit(nprobe)
      .select(cIdCol)
    assigned.join(broadcast(probes), cIdCol)
      .select(col(idCol), cosine(col(vecCol), q).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /**
   * Persist an IVF index: centroid table + cell assignments as parquet,
   * with the cells PARTITIONED BY centroid id — the on-disk analog of the
   * in-memory cell probe. A query's nprobe cells become partition-pruned
   * directory reads: the scan for `centroid_id IN (probes)` touches only
   * those directories and never decodes the other ~(C−nprobe)/C of a
   * 100 TB corpus (IvfIndexSpec asserts the pruning on the real plan).
   */
  def writeIvfIndex(vectors: DataFrame, centroids: DataFrame, path: String,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    cIdCol: String = "centroid_id", cVecCol: String = "vec"): Unit = {
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    ivfAssign(vectors, centroids, idCol, vecCol, cIdCol, cVecCol)
      .write.mode("overwrite").partitionBy(cIdCol).parquet(s"$path/cells")
  }

  /** Load a persisted IVF index → (assigned cells, centroids). */
  def readIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String)
      : (DataFrame, DataFrame) =
    (spark.read.parquet(s"$path/cells"), spark.read.parquet(s"$path/centroids"))

  /** Query a persisted index: identical semantics to [[ivfTopK]] over the
   * in-memory frames, but the cell scan partition-prunes to the probed
   * directories. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                     queryVec: Seq[Double], k: Int, nprobe: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     cIdCol: String = "centroid_id", cVecCol: String = "vec"): DataFrame = {
    val (cells, cents) = readIvfIndex(spark, path)
    ivfTopK(cells, cents, queryVec, k, nprobe, idCol, vecCol, cIdCol, cVecCol)
  }

  /**
   * IVF coarse index: centroid assignment against a broadcast centroid table.
   * `centroids`: (centroid_id, vec). Returns vectors tagged with their nearest
   * centroid — at scale, write partitionBy("centroid_id") and probe cells.
   * Exchanges the corpus on `idCol` for the per-vector rank; when the
   * centroids are driver-held, prefer the shuffle-free [[ivfAssignLiteral]].
   */
  def ivfAssign(vectors: DataFrame, centroids: DataFrame,
                idCol: String = "vec_id", vecCol: String = "embedding",
                cIdCol: String = "centroid_id", cVecCol: String = "vec"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = vectors.crossJoin(broadcast(
      centroids.select(col(cIdCol).as("_cid"), col(cVecCol).as("_cvec"))))
      .select(col(idCol), col(vecCol), col("_cid"),
        cosine(col(vecCol), col("_cvec")).as("_sim"))
    val w = Window.partitionBy(idCol).orderBy(col("_sim").desc, col("_cid"))
    joined.withColumn("_rk", row_number().over(w)).filter(col("_rk") === 1)
      .select(col(idCol), col(vecCol), col("_cid").as(cIdCol))
  }

  /**
   * ZERO-SHUFFLE centroid assignment for driver-held centroids: the argmax
   * over k centroids folds into one `greatest()` chain of
   * `struct(cosine, -cid)` literals (struct ordering = sim desc, cid asc on
   * ties — identical to [[ivfAssign]]'s window). The window variant
   * exchanges the WHOLE corpus on `idCol` to rank k rows per vector; this
   * is a narrow map with k fused-cosine evals per row — at 100 TB × several
   * k-means iterations that's the difference between zero and 5 full-corpus
   * shuffles. For coarse-IVF k (≤ a few hundred) the expression tree stays
   * codegen-friendly; larger k → use [[ivfAssign]].
   */
  def ivfAssignLiteral(vectors: DataFrame, centroids: Seq[(Long, Seq[Double])],
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       cIdCol: String = "centroid_id"): DataFrame = {
    require(centroids.nonEmpty, "no centroids")
    val best = centroids.map { case (cid, cv) =>
      struct(cosine(col(vecCol), array(cv.map(lit): _*)).as("sim"),
        lit(-cid).as("negcid"))
    }.reduce((a, b) => greatest(a, b))
    vectors.select(col(idCol), col(vecCol),
      (-best.getField("negcid")).cast("long").as(cIdCol))
  }

  /**
   * K-means-trained product-quantization codebook (the production path
   * behind `ann_pq_adc`'s deterministically-sampled one): per-subspace
   * Lloyd iterations, ALL subspaces trained in ONE aggregation pass per
   * iteration. Each pass: the fused [[graft.functions.PqOps.PqCodes]]
   * kernel assigns every sub-vector (computed BEFORE the explode, with a
   * repartition barrier so projection collapse can't inline the M-argmin
   * kernel into the per-exploded-row projection — PLANS rule #1), then the
   * per-(subspace, code) mean recompute exchanges only m×ksub×dsub partial
   * sums via the typed [[graft.functions.VectorAgg.vectorSum]] aggregate
   * (map-side combine; the corpus never shuffles). Init = the md5-ordered
   * deterministic sample, so training is RNG-free and reproducible.
   *
   * Returns the flattened codebook `cb((mm*ksub + j)*dsub + i)`.
   */
  def trainPqCodebook(vectors: DataFrame, m: Int, ksub: Int, dsub: Int,
                      iters: Int, idCol: String = "vec_id",
                      vecCol: String = "embedding"): Array[Double] = {
    require(iters >= 0)
    val seeds = vectors
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(ksub).select(vecCol).collect() // ksub rows — driver-bounded
      .map(_.getSeq[Number](0).map(_.doubleValue()).toArray)
    require(seeds.length == ksub, s"corpus smaller than ksub=$ksub")
    val cb = Array.ofDim[Double](m * ksub * dsub)
    for (mm <- 0 until m; j <- 0 until ksub; i <- 0 until dsub)
      cb((mm * ksub + j) * dsub + i) = seeds(j)(mm * dsub + i)
    val par = vectors.sparkSession.sparkContext.defaultParallelism
    for (_ <- 1 to iters) {
      val partial = vectors
        .select(graft.functions.PqOps.codes(col(vecCol), cb.clone(), m, ksub, dsub)
          .as("codes"), col(vecCol).as("v"))
        .repartition(par) // materialization barrier: codes evaluate ONCE per row
        .select(posexplode(col("codes")).as(Seq("m", "code")), col("v"))
        .select(col("m"), col("code"),
          slice(col("v"), col("m") * dsub + 1, lit(dsub)).as("sub"))
        .groupBy("m", "code")
        .agg(graft.functions.VectorAgg.vectorSum(col("sub")).as("s"),
          count(lit(1)).as("n"))
        .collect() // ≤ m×ksub rows — bounded control-plane data
      partial.foreach { r =>
        val mm = r.getInt(0); val j = r.getInt(1)
        val s = r.getSeq[Double](2); val n = r.getLong(3).toDouble
        if (n > 0) {
          var i = 0
          while (i < dsub) { cb((mm * ksub + j) * dsub + i) = s(i) / n; i += 1 }
        }
      }
    }
    cb
  }

  /**
   * SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster-scoped
   * semantic deduplication. Vectors are coarse-assigned to centroid cells;
   * within each cell every pair with cosine ≥ `eps` is a semantic
   * duplicate; duplicate groups (connected components of the within-cell
   * dup graph) keep exactly ONE member — per the paper, the most ATYPICAL
   * one (lowest cosine to its cell centroid; ties → lowest id).
   *
   * Output: (id, centroid_id, cos_centroid, group_id, keep) for every
   * vector — singletons form their own group and are kept.
   *
   * Scale shape (100 TB): assignment is one broadcast of the centroid
   * table + a map-side-combined argmax aggregation (max of
   * struct(sim, -cid) — no corpus-wide window sort); the pair stage keys
   * on the cell id — one hash exchange, AQE skew-split for hot cells —
   * and costs Θ(Σ s_c²) over cell sizes s_c, so the CENTROID COUNT is a
   * capacity parameter that must grow with the corpus to hold expected
   * occupancy constant (the paper runs k ≈ 50k cells on LAION; same
   * occupancy argument as the banded-LSH width `adaptiveBits`). The
   * occupancy-targeted rule is [[adaptiveCellCount]] — k = ⌈n/c⌉ cells
   * makes the pair stage linear in the corpus; the bench query keeps the
   * paper-parity √n derivation and documents the trade. Group
   * CC reuses [[Dedup.clusters]] (driver union-find under the small-graph
   * cap, distributed loop above it); the keep rank windows only over dup
   * groups.
   */
  def semDedup(vectors: DataFrame, centroids: DataFrame, eps: Double,
               idCol: String = "vec_id", vecCol: String = "embedding",
               cIdCol: String = "centroid_id", cVecCol: String = "vec"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel
    val joined = vectors.crossJoin(broadcast(
      centroids.select(col(cIdCol).as("_cid"), col(cVecCol).as("_cvec"))))
      .select(col(idCol), col(vecCol), col("_cid"),
        cosine(col(vecCol), col("_cvec")).as("_sim"))
    // argmax via max(struct(sim, -cid)): field-wise struct ordering = sim
    // desc then cid asc on ties — identical to ivfAssign's window rule but
    // with map-side partial aggregation instead of a full-corpus sort
    val assigned = joined
      .groupBy(col(idCol))
      .agg(max(struct(col("_sim").as("sim"), (-col("_cid")).as("negcid"))).as("_b"),
        first(col(vecCol)).as(vecCol))
      .select(col(idCol), col(vecCol),
        (-col("_b.negcid")).cast("long").as(cIdCol), col("_b.sim").as("cos_centroid"))
      .persist(StorageLevel.MEMORY_AND_DISK) // read 3×: both pair sides + final
    val a = assigned.select(col(cIdCol), col(idCol).as("id_a"), col(vecCol).as("_va"))
    val b = assigned.select(col(cIdCol), col(idCol).as("id_b"), col(vecCol).as("_vb"))
    val dupPairs = a.join(b, cIdCol)
      .filter(col("id_a") < col("id_b") && cosine(col("_va"), col("_vb")) >= eps)
      .select("id_a", "id_b")
    val groups = Dedup.clusters(vectors.select(col(idCol)), dupPairs, idCol)
      .withColumnRenamed("cluster_id", "group_id")
    val keepRank = Window.partitionBy("group_id")
      .orderBy(col("cos_centroid").asc, col(idCol).asc)
    val result = assigned.join(groups, idCol)
      .withColumn("keep", row_number().over(keepRank) === 1)
      .select(col(idCol), col(cIdCol), round(col("cos_centroid"), 6).as("cos_centroid"),
        col("group_id"), col("keep"))
      .localCheckpoint(true)
    assigned.unpersist(false)
    result
  }
}
