package graft.vec

import graft.core.{Policy => P, Tables => T}
import graft.ops.OpSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor scale path: coarse quantization.
  *
  * `sim_cosine_topk` (LlmOps) is the brute-force baseline: one pass over
  * all vectors. This variant prunes first: each vector is assigned a
  * 4-bit cell from the SIGNS of its first four components (a fixed,
  * deterministic coarse quantizer — the IVF idea with 16 analytic cells
  * instead of learned centroids), and the search touches only the
  * query's cell, ~1/16 of the data. At 100 TB the cell becomes a
  * partition key: candidates are co-located, non-cell partitions are
  * pruned at the scan.
  *
  * Recall is partial (true neighbors can land in other cells) — that is
  * the ANN trade-off; AnnSpec measures recall vs the brute-force top-k.
  */
object VecOps {
  private def dot(a: String, b: String) =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")

  /** Zero-norm guard for cosine-retrieval preps: the zero vector has
    * no direction, and under ANSI mode (the Spark 4 default) a
    * ‖·‖ = 0 cosine denominator THROWS DIVIDE_BY_ZERO rather than
    * NaN-ing — found by the hostile-corpus sweep (EmptyInputSpec;
    * failed-embedding rows DO occur in production corpora). Zero
    * vectors are EXCLUDED from cosine ops by contract.
    * `exists(x ≠ 0)` ⟺ ‖e‖ > 0 for any float32 input (a squared sum
    * of float32 values cannot underflow to 0 at double precision),
    * evaluated row-locally with short-circuit — fused into the scan. */
  private[graft] def nonZeroVec(eCol: String): org.apache.spark.sql.Column =
    expr(s"exists(${ident(eCol)}, x -> x != 0D)")

  /** Plain-identifier guard before splicing a caller-supplied column
    * name into generated expression text. */
  private def ident(s: String): String = {
    require("[A-Za-z_][A-Za-z0-9_]*".r.matches(s),
      s"not a plain identifier: '$s'")
    s
  }

  /** The ADAPTIVE gate family's signatures (round 18 —
    * [[adaptiveEmbedLshFamily]] of the corpus count: 4×8 at the gate
    * corpora, 4×12/4×14 at the sf3/sf10 stress corpora) — slim
    * (vec_id, band, bucket), one row per (vector, band), deliberately
    * carrying NO embedding: only three int64s per row are pinned when
    * cached, so the payload is O(1) per row regardless of embedding
    * width — the verify side re-reads `e` from parquet via
    * [[vecsWithNorm]] (column-pruned scan) instead of shipping it
    * through the banded shuffle ×nBands. Thin call into
    * [[lshBandsOf]] with the SAME plan shape [[embedLshPairs]]
    * persists, so every gate consumer shares ONE DiskMemo artifact
    * with the graft.api pair/dedup entry points. */
  private def bandedSigAdapt(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val emb = T.embeddings(s, d)
    val (nb, bits) = adaptiveEmbedLshFamily(emb.count())
    lshBandsOf(emb, "vec_id", "embedding", nb, bits)
  }

  /** (vec_id, e double[], nrm) — the verify-side embedding read:
    * recomputed from parquet per use, never cached (see
    * [[bandedSigAdapt]]). */
  private def vecsWithNorm(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    T.embeddings(s, d)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("e"))
      .filter(nonZeroVec("e")) // cosine contract: zero vectors excluded
      .withColumn("nrm", sqrt(dot("e", "e")))

  // ----------------------------------------------------------------
  // Parameterized embedding-LSH API (round 11) — arbitrary (id, vec)
  // columns and band family; the graft.api entry points and the thin
  // bodies behind the gated dedup_embed_* queries.
  // ----------------------------------------------------------------

  /** SLIM banded hyperplane-LSH signatures (vec_id, band, bucket) over
    * ARBITRARY (id, vec) columns — one row per (vector, band), no
    * embedding carried (the [[bandedSig]] discipline). `bands` ×
    * `bitsPerBand` is the scale knob: bucket count per band is
    * 2^bitsPerBand, and bits must grow ~log₂(n/c) to hold per-bucket
    * work constant (the sf1-measured LshPlanes policy). Vectors must
    * be `dim`-dimensional ([[LshPlanes.dim]] unless overridden). */
  def lshBandsOf(vecs: DataFrame, idCol: String, vecCol: String,
                 bands: Int, bitsPerBand: Int,
                 dim: Int = LshPlanes.dim): DataFrame = {
    ident(vecCol) // spliced into the transform(...) text below
    vecs
      .select(col(idCol).as("vec_id"),
        expr(s"transform($vecCol, x -> cast(x as double))").as("e"))
      .select(col("vec_id"),
        posexplode(array((0 until bands)
          .map(b => expr(LshPlanes.bandSparkG(b, bitsPerBand, dim))): _*))
          .as(Seq("band", "bucket")))
  }

  /** AUTO-SIZED hyperplane-LSH band family from corpus cardinality —
    * the round-11 verdict's top item: E[bucket] = n / 2^bits, so
    * within-bucket pair mining is Θ(n²/2^bits) and the fixed 4×8-bit
    * gate family was measured 29× superlinear at 6·10⁴ vectors, with
    * 4×12/4×13 restoring it (160 s → 45.6/34.6 s — BASELINE.md "tenth
    * axis"). Rule: bits = max(8, ⌈log₂(n/16)⌉) — target bucket
    * occupancy c = 16, reproducing both measured operating points
    * (n ≤ 4·10³ → the 8-bit gate family; 6·10⁴ → 12 bits, the
    * measured sf3 fix); each added bit doubles the bucket count, so
    * signature width grows log n. Band count stays at the Scale
    * family's 4 (recall: P(miss) = (1−s^bits)⁴). Capped at 30 bits
    * (the bandSparkG packing bound ≈ 10¹⁰ vectors at c = 16).
    * Monotone in n and never narrower than the gate family (ApiSpec). */
  def autoEmbedLshFamily(n: Long): (Int, Int) = {
    // INTEGER-EXACT spelling (round 18): smallest b with 2^b·16 ≥ n,
    // clamped to [8, 30]. Same values as the old ceil(log₂(n/16))
    // float spelling at every non-degenerate n, but with no float
    // rounding at exact powers of two — it must agree bit-for-bit
    // with the DuckDB oracle's integer-shift twin (bandedSqlAdapt),
    // which gates the adaptive dedup_embed_* family.
    val bits = (1 to 30).find(b => (1L << b) * 16 >= n).getOrElse(30)
    (LshPlanes.Scale.nBands, math.min(30, math.max(LshPlanes.Scale.bitsPerBand, bits)))
  }

  /** The ADAPTIVE gate family (round 18, the scale-true declared
    * construction): [[autoEmbedLshFamily]] capped at
    * [[LshPlanes.adaptCap]] bits — the cap bounds the ORACLE text
    * (16 masked plane literals per band), not the library. The four
    * declared dedup_embed_* queries derive this from `count(*)` of the
    * corpus, and their DuckDB oracles derive the SAME bits from the
    * same count with integer shifts, so the gate is exact at every SF
    * while the family follows the measured bits ≈ log₂(n/16) policy:
    * 4×8 at the 500/2000-vector gate corpora, 4×12 at sf3's 60k,
    * 4×14 at sf10's 200k (the BASELINE knob receipt's operating
    * points — 3.0× time at 3.33× data, at-or-below linear, where the
    * old static 4×8 family saturated its 256 buckets/band and DNF'd). */
  def adaptiveEmbedLshFamily(n: Long): (Int, Int) = {
    val (nb, bits) = autoEmbedLshFamily(n)
    (nb, math.min(LshPlanes.adaptCap, bits))
  }

  /** Hyperplane-LSH near-duplicate PAIRS with exact cosine verification
    * over arbitrary (id, vec) input — the parameterized form of the
    * gated `dedup_embed_lsh`/`_scale` queries (thin calls into this).
    * Returns (a, b, cos_sim), a < b, distinct: every pair sharing ≥ 1
    * band bucket whose exact cosine ≥ `tau`. Candidates dedup BEFORE
    * the embedding fetch; the banded shuffle never carries a vector.
    *
    * `bands`/`bitsPerBand` default to 0 = AUTO: derived from a cheap
    * `vecs.count()` via [[autoEmbedLshFamily]] so dedup "just works"
    * at any corpus size. Pass both explicitly to pin a family (the
    * gated queries pin the 4×8 Scale family so their oracles stay
    * byte-identical; streaming inputs can't count). */
  def embedLshPairs(vecs: DataFrame, idCol: String, vecCol: String,
                    tau: Double,
                    bands: Int = 0,
                    bitsPerBand: Int = 0,
                    dim: Int = LshPlanes.dim): DataFrame = {
    ident(vecCol)
    require((bands == 0 && bitsPerBand == 0) || (bands > 0 && bitsPerBand > 0),
      "pass BOTH bands and bitsPerBand strictly positive, or both 0 (auto) — " +
        s"got ($bands, $bitsPerBand)")
    val (nb, bits) =
      if (bands > 0) (bands, bitsPerBand) else autoEmbedLshFamily(vecs.count())
    // slim: 3 int64s/row; feeds both self-join sides. DISK-memoized
    // (graft.core.DiskMemo): eviction-proof sharing across the gated
    // embed-LSH siblings over the same corpus; streaming passes through.
    val sig = graft.core.DiskMemo.persist(
      lshBandsOf(vecs, idCol, vecCol, nb, bits, dim), "vec_lsh")
    val cand = sig.select(col("vec_id").as("a"), col("band"), col("bucket"))
      .join(sig.select(col("vec_id").as("b"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    val base = vecs
      .select(col(idCol).as("vec_id"),
        expr(s"transform($vecCol, x -> cast(x as double))").as("e"))
      .filter(nonZeroVec("e")) // cosine contract: zero vectors excluded
      .withColumn("nrm", sqrt(dot("e", "e")))
    val va = base.select(col("vec_id").as("a"), col("e").as("ea"), col("nrm").as("na"))
    val vb = base.select(col("vec_id").as("b"), col("e").as("eb"), col("nrm").as("nb"))
    cand.join(va, Seq("a")).join(vb, Seq("b"))
      .select(col("a"), col("b"),
        P.r4(dot("ea", "eb") / (col("na") * col("nb"))).as("cos_sim"))
      .filter(col("cos_sim") >= tau)
  }

  /** Embedding dedup END-TO-END: keep one survivor (min id) per
    * cosine-≥-`tau` LSH cluster plus all singletons — the vector twin
    * of graft.api's dedupMinhash/dedupSimhash (pairs →
    * DedupCluster label propagation → keep-min anti-join). */
  def dedupEmbedLsh(vecs: DataFrame, idCol: String, vecCol: String,
                    tau: Double,
                    bands: Int = 0,
                    bitsPerBand: Int = 0,
                    dim: Int = LshPlanes.dim): DataFrame =
    graft.text.DedupCluster.survivors(
      vecs, idCol,
      embedLshPairs(vecs, idCol, vecCol, tau, bands, bitsPerBand, dim)
        .select("a", "b"),
      iters = 20, minRounds = 1)

  /** Batched k-NN join: the top-`k` corpus rows by exact r4 cosine per
    * query row, as (qid, rk, vec_id, cos_sim) — the parameterized form
    * of the gated `sim_knn_join`/`sim_knn_lsh` queries (thin calls).
    *
    * `blocking`:
    *  - `"broadcast"` — EXACT: broadcast the (small) query set and
    *    score every corpus vector. The verifier / small-query path.
    *  - `"lsh"` — honest ANN: candidates are only corpus vectors
    *    sharing ≥ 1 hyperplane band with the query, so the corpus
    *    stays partitioned by bucket and each query probes its `bands`
    *    buckets — no broadcast-against-everything pass; the 100 TB
    *    path. Narrow bands (the base family defaults) are the
    *    recall-friendly choice for top-k search, unlike dedup.
    * A corpus row whose id equals a query id is excluded (self-match);
    * candidates dedup before the embedding fetch (a candidate
    * colliding in 2 bands must score once). */
  def knnJoin(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, blocking: String = "lsh",
              bands: Int = LshPlanes.nBands,
              bitsPerBand: Int = LshPlanes.bitsPerBand,
              dim: Int = LshPlanes.dim): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    ident(vecCol)
    def norm(vecs: DataFrame, idAs: String, eAs: String, nAs: String) =
      vecs.select(col(idCol).as(idAs),
          expr(s"transform($vecCol, x -> cast(x as double))").as(eAs))
        .filter(nonZeroVec(eAs)) // cosine contract: zero vectors excluded
        .withColumn(nAs, sqrt(expr(
          s"aggregate(zip_with($eAs, $eAs, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")))
    val vq = norm(queries, "qid", "qe", "qn")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(desc("cos_sim"), col("vec_id"))
    val scored = blocking match {
      case "broadcast" =>
        norm(corpus, "vec_id", "e", "nrm")
          .crossJoin(broadcast(vq))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            P.r4(dot("e", "qe") / (col("nrm") * col("qn"))).as("cos_sim"))
      case "lsh" =>
        // no cache: each signature frame feeds exactly ONE join — a
        // cache here stored blocks nothing re-reads (round 14)
        val qSig = lshBandsOf(queries, idCol, vecCol, bands, bitsPerBand, dim)
          .select(col("vec_id").as("qid"), col("band"), col("bucket"))
        val cSig = lshBandsOf(corpus, idCol, vecCol, bands, bitsPerBand, dim)
        val cand = qSig.join(cSig, Seq("band", "bucket"))
          .filter(col("vec_id") =!= col("qid"))
          .select("qid", "vec_id").distinct()
        cand.join(broadcast(vq), Seq("qid"))
          .join(norm(corpus, "vec_id", "e", "nrm"), Seq("vec_id"))
          .select(col("qid"), col("vec_id"),
            P.r4(dot("e", "qe") / (col("nrm") * col("qn"))).as("cos_sim"))
      case other =>
        throw new IllegalArgumentException(
          s"blocking must be lsh|broadcast, got '$other'")
    }
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("rk").cast("bigint").as("rk"),
        col("vec_id"), col("cos_sim"))
  }

  /** Learned-IVF batched ANN search — the full index+search workflow
    * as one call: fit the deterministic k-means coarse quantizer on
    * the corpus ([[KMeans.fit]] — `kCells`×dim doubles on the driver,
    * the only collect; they re-enter the plan as a broadcast centroid
    * table), assign each corpus vector to its nearest cell, rank the
    * cells PER QUERY and exact-score only the occupants of the
    * `nprobe` nearest cells. Top-`k` per query as (qid, rk, vec_id,
    * cos_sim) — same ranking rule as [[knnJoin]], so
    * nprobe = kCells reproduces the exact broadcast result (asserted
    * in ApiSpec). At 100 TB the cell is the partition key; recall vs
    * nprobe is the measured trade (sim_recall_nprobe, AnnSpec). */
  def ivfSearch(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, kCells: Int = 8, nprobe: Int = 3,
                trainIters: Int = 3): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(nprobe >= 1 && nprobe <= kCells,
      s"nprobe must be in [1, kCells=$kCells], got $nprobe")
    ident(vecCol)
    val spark = corpus.sparkSession
    import spark.implicits._
    val (_, cents, _) = KMeans.fit(
      corpus.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")),
      kCells, trainIters)
    val centsDf = cents.toSeq.zipWithIndex
      .map { case (c, i) => (i.toLong, c.map(x => x * x).sum, c.toSeq) }
      .toDF("cid", "csq", "c")
    def asVec(f: DataFrame, idAs: String) =
      f.select(col(idCol).as(idAs),
        expr(s"transform($vecCol, x -> cast(x as double))").as("e"))
        .filter(nonZeroVec("e")) // cosine contract: zero vectors excluded
    val withCell = assignCells(asVec(corpus, "vec_id"), centsDf)
    val q = asVec(queries, "qid")
      .crossJoin(broadcast(centsDf))
      .withColumn("d", centDist)
      .groupBy("qid")
      .agg(min(col("e")).as("qe"),
        expr(s"transform(slice(array_sort(collect_list(struct(d, cid))), 1, $nprobe), x -> x.cid)")
          .as("probe_cells"))
      .withColumn("qn", sqrt(dot("qe", "qe")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(desc("cos_sim"), col("vec_id"))
    withCell
      .join(broadcast(q),
        array_contains(col("probe_cells"), col("cell")) &&
          col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        P.r4(dot("e", "qe") / (sqrt(dot("e", "e")) * col("qn"))).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("rk").cast("bigint").as("rk"),
        col("vec_id"), col("cos_sim"))
  }

  /** DuckDB `sg(vec_id, e, b0..b3)` CTE computing the same banded
    * signature. Lazy: referenced from `ops`, which initializes first. */
  private lazy val bandedSql: String = {
    val bands = (0 until LshPlanes.nBands)
      .map(b => s"${LshPlanes.bandDuck(b)} AS b$b").mkString(",\n  ")
    s"""v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |sg AS (SELECT vec_id, e,
       |  $bands
       |FROM v)""".stripMargin
  }

  /** DuckDB twin of the ADAPTIVE band family: `sgs(vec_id, e,
    * b0..b3)`. ONE static SQL text for every corpus size: `bb` derives
    * bits = min(adaptCap, max(8, smallest b with 2^b·16 ≥ count(*)))
    * with integer shifts — the exact [[adaptiveEmbedLshFamily]] rule —
    * and the band exprs inline all adaptCap plane literals behind
    * `k < bits` CASE masks ([[LshPlanes.bandDuckMasked]]), so the
    * oracle computes the same buckets the Spark side derives
    * numerically, at whatever width the corpus demands. */
  private lazy val bandedSqlAdapt: String = {
    val bands = (0 until LshPlanes.Scale.nBands)
      .map(b => s"${LshPlanes.bandDuckMasked(b)} AS b$b")
      .mkString(",\n  ")
    s"""v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |bb AS (SELECT least(${LshPlanes.adaptCap}, greatest(${LshPlanes.Scale.bitsPerBand},
       |  (SELECT min(b)::INT FROM range(1, 31) t(b)
       |   WHERE (1::BIGINT << b) * 16 >= (SELECT count(*) FROM embeddings)))) AS bits),
       |sgs AS (SELECT vec_id, e,
       |  $bands
       |FROM v CROSS JOIN bb)""".stripMargin
  }

  /** 4-bit sign-quantizer cell id (shared with LlmOps.sim_pairs_threshold
    * as its candidate-blocking key). */
  val cellExpr =
    "cast(" + (1 to 4).map(i =>
      s"(CASE WHEN cast(element_at(embedding, $i) as double) > 0 THEN ${1 << (i - 1)} ELSE 0 END)")
      .mkString(" + ") + " as bigint)"

  /** DuckDB spelling of [[cellExpr]]. */
  val cellSql =
    "cast(" + (1 to 4).map(i =>
      s"(CASE WHEN embedding[$i]::DOUBLE > 0 THEN ${1 << (i - 1)} ELSE 0 END)")
      .mkString(" + ") + " as bigint)"

  // ---- learned-centroid IVF (k-means quantizer) -------------------
  // The coarse quantizer is REAL IVF: k=8 centroids trained offline by
  // deterministic k-means on the fixed sf0.001 corpus (IvfCentroids,
  // reproduced bit-exactly by KMeansSpec), inlined as literals into
  // both engines.
  //
  // SCALE POLICY (nlist): the centroids are a BROADCAST TABLE — data,
  // not generated code — so retargeting a bigger corpus is (1)
  // `runMain graft.vec.TrainIvf <dir> <k>` with k ≈ √N (the standard
  // IVF nlist guidance: √N cells ⇒ ~√N vectors/cell, balancing probe
  // cost against cell scan cost — at 10⁹ vectors, k ≈ 32k), (2) point
  // [[centroidsDf]] at the trained output (here the inlined
  // IvfCentroids constants; at 32k cells, a parquet read). Cell
  // assignment is corpus ⨯ broadcast(k centroids) → per-vector
  // min(struct(d, cid)) — a map-side partial aggregate, so the
  // shuffle carries ONE row per vector no matter what k is, and the
  // codegen'd expression stays k-independent (no K-way argmin CASE
  // forest to JIT). d_i = |c_i|² − 2·e·c_i (the |e|² term is constant
  // across i and dropped — the standard IVF inner-product trick, one
  // dot per centroid); the dot is the proven bit-identical ordered
  // fold, and min(struct(d, cid)) ties to the LOWER cid exactly like
  // the oracle's argmin CASE. The DuckDB oracle keeps the generated
  // CASE spelling (cellCase / qpText below) — same semantics, the
  // per-engine spelling difference the gate proves equivalent.
  private val K = 8
  private val NPROBE = 3
  private def csq(i: Int): Double = {
    val c = IvfCentroids.centroids(i)
    var s = 0.0; var j = 0
    while (j < c.length) { s += c(j) * c(j); j += 1 }
    s
  }
  private def dDuck(i: Int): String = {
    val arr = IvfCentroids.centroids(i).mkString(",")
    s"(${csq(i)} - 2.0 * list_inner_product(e, [$arr]::DOUBLE[]))"
  }

  /** The centroid table: K rows (cid, csq = |c|², c double[]). Ride-along
    * side of a broadcast nested-loop join (K rows ⨯ corpus). */
  private def centroidsDf(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    IvfCentroids.centroids.toSeq.zipWithIndex
      .map { case (c, i) => (i.toLong, csq(i), c.toSeq) }
      .toDF("cid", "csq", "c")
  }

  /** d = |c|² − 2·e·c over (e, csq, c) columns — the SAME ordered-fold
    * dot text as every other bit-identical dot in the tree. */
  private val centDist =
    expr("csq - 2.0D * aggregate(zip_with(e, c, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")

  /** corpus(vec_id, e) → (vec_id, e, cell): nearest-centroid cell via
    * broadcast centroid table + per-vector min(struct(d, cid)) (ties →
    * lower cid). Partial-aggregates map-side: one shuffled row per
    * vector at ANY k. */
  private def assignCells(
      v: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    v.crossJoin(broadcast(cents))
      .withColumn("d", centDist)
      .groupBy("vec_id")
      .agg(min(col("e")).as("e"), // all rows of a group share e; min = e, deterministic
        min(struct(col("d"), col("cid"))).getField("cid").as("cell"))
  /** argmin over d0..dK−1, first match (= lowest cluster id) wins ties. */
  private val cellCase: String =
    "cast(CASE " + (0 until K).map { i =>
      val conds = (0 until K).filter(_ != i).map(j => s"d$i <= d$j").mkString(" AND ")
      s"WHEN $conds THEN $i"
    }.mkString(" ") + " ELSE 0 END as bigint)"
  /** does centroid i rank among the query's NPROBE nearest (ties to
    * the lower id)? Text over qd0..qdK−1, shared verbatim. */
  private def qpText(i: Int): String =
    "(" + (0 until K).filter(_ != i).map { j =>
      if (j < i) s"(CASE WHEN qd$j <= qd$i THEN 1 ELSE 0 END)"
      else s"(CASE WHEN qd$j < qd$i THEN 1 ELSE 0 END)"
    }.mkString(" + ") + s") < $NPROBE"
  private val probePred: String =
    (0 until K).map(i => s"(cell = $i AND qp$i)").mkString(" OR ")

  val ops: Seq[OpSpec] = Seq(
    // IVF with LEARNED centroids (the real thing — the sign-quantizer
    // variants below are the analytic stand-in): assign every vector to
    // its nearest trained centroid, rank the centroids by distance to
    // the query, search only the NPROBE nearest cells (here 3/8 of the
    // corpus). At 100 TB the cell is the partition key and the
    // centroids ride along as plan literals — no side input at all.
    OpSpec(
      "sim_cosine_ivf_kmeans",
      (s, d) => {
        val cents = centroidsDf(s)
        val v = T.embeddings(s, d)
          .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("e"))
          .filter(nonZeroVec("e")) // cosine contract: zero vectors excluded
        val withCell = assignCells(v, cents)
        // query branch: its own one-row scan (vec_id=0 pushed to
        // parquet) ⨯ broadcast centroids → the NPROBE nearest cells by
        // (d, cid) — array_sort on the struct ties to the lower cid,
        // the same rank rule the oracle's qpText CASE spells
        val q = v.filter(col("vec_id") === 0)
          .crossJoin(broadcast(cents))
          .withColumn("d", centDist)
          .groupBy("vec_id")
          .agg(min(col("e")).as("qe"),
            expr(s"transform(slice(array_sort(collect_list(struct(d, cid))), 1, $NPROBE), x -> x.cid)")
              .as("probe_cells"))
          .drop("vec_id")
        withCell.join(broadcast(q), array_contains(col("probe_cells"), col("cell")))
          .filter(col("vec_id") =!= 0)
          .select(col("vec_id"), col("cell"),
            P.r4(dot("e", "qe") /
              (sqrt(dot("e", "e")) * sqrt(dot("qe", "qe")))).as("cos_sim"))
          .orderBy(desc("cos_sim"), col("vec_id"))
          .limit(10)
      },
      Some {
        val dCols = (0 until K).map(i => s"${dDuck(i)} AS d$i").mkString(",\n  ")
        val dNames = (0 until K).map(i => s"d$i").mkString(", ")
        val qdCols = (0 until K).map(i => s"d$i AS qd$i").mkString(", ")
        val qpCols = (0 until K).map(i => s"${qpText(i)} AS qp$i").mkString(",\n  ")
        s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |dd AS (SELECT vec_id, e,
           |  $dCols
           |FROM v),
           |cc AS (SELECT vec_id, e, $cellCase AS cell, $dNames FROM dd),
           |q AS (SELECT e AS qe, $qdCols FROM cc WHERE vec_id = 0),
           |qp AS (SELECT qe,
           |  $qpCols
           |FROM q)
           |SELECT vec_id, cell,
           |  round(list_inner_product(e, qe) /
           |        (sqrt(list_inner_product(e, e)) * sqrt(list_inner_product(qe, qe))), 4) AS cos_sim
           |FROM cc, qp
           |WHERE ($probePred) AND vec_id <> 0
           |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin
      },
    ),
    // nprobe=5 IVF: search the query's cell AND its 4 Hamming-1
    // neighbor cells (sign flips of one quantizer bit) — the standard
    // IVF recall/cost knob. Still prunes 11/16 of the corpus; at scale
    // the 5 cells are 5 partition keys. Recall vs nprobe=1 measured in
    // AnnSpec.
    OpSpec(
      "sim_cosine_ivf_nprobe",
      (s, d) => {
        val v = T.embeddings(s, d)
          .select(col("vec_id"), expr(cellExpr).as("cell"),
            expr("transform(embedding, x -> cast(x as double))").as("e"))
          .filter(nonZeroVec("e")) // cosine contract: zero vectors excluded
        val q = v.filter(col("vec_id") === 0)
          .select(col("cell").as("qcell"), col("e").as("qe"))
        val probed = col("cell") === col("qcell") ||
          (0 until 4).map(b => col("cell") === (col("qcell").bitwiseXOR(1L << b)))
            .reduce(_ || _)
        v.join(broadcast(q), probed)
          .filter(col("vec_id") =!= 0)
          .select(col("vec_id"), col("cell"),
            P.r4(dot("e", "qe") /
              (sqrt(dot("e", "e")) * sqrt(dot("qe", "qe")))).as("cos_sim"))
          .orderBy(desc("cos_sim"), col("vec_id"))
          .limit(10)
      },
      Some(s"""WITH v AS (SELECT vec_id, $cellSql AS cell, embedding::DOUBLE[] AS e FROM embeddings),
              |q AS (SELECT cell AS qcell, e AS qe FROM v WHERE vec_id = 0)
              |SELECT vec_id, cell,
              |  round(list_inner_product(e, qe) /
              |        (sqrt(list_inner_product(e, e)) * sqrt(list_inner_product(qe, qe))), 4) AS cos_sim
              |FROM v, q
              |WHERE (cell = qcell OR cell = xor(qcell, 1) OR cell = xor(qcell, 2)
              |       OR cell = xor(qcell, 4) OR cell = xor(qcell, 8))
              |  AND vec_id <> 0
              |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),
    ),
    // Pair generation blocked by the LEARNED cells — the other half of
    // the learned-IVF story: the k-means quantizer as the candidate-
    // blocking key (dedup/pair mining), not just the search index.
    // Same shape as sim_pairs_threshold (LlmOps) with the analytic
    // sign-cell swapped for the trained centroid cell.
    OpSpec(
      "sim_pairs_threshold_kmeans",
      (s, d) => {
        val v = T.embeddings(s, d).filter(col("label") === 3)
          .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("e"))
          .filter(nonZeroVec("e")) // cosine contract: zero vectors excluded
        val withCell = assignCells(v, centroidsDf(s))
        val a = withCell.select(col("vec_id").as("id_a"), col("cell"), col("e").as("ea"))
        val b = withCell.select(col("vec_id").as("id_b"), col("cell"), col("e").as("eb"))
        a.join(b, Seq("cell"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            P.r4(dot("ea", "eb") /
              (sqrt(dot("ea", "ea")) * sqrt(dot("eb", "eb")))).as("cos_sim"))
          .filter(col("cos_sim") >= 0.25)
          .orderBy("id_a", "id_b")
      },
      Some {
        val dCols = (0 until K).map(i => s"${dDuck(i)} AS d$i").mkString(",\n  ")
        s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE label = 3),
           |dd AS (SELECT vec_id, e,
           |  $dCols
           |FROM v),
           |cc AS (SELECT vec_id, e, $cellCase AS cell FROM dd)
           |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |  round(list_inner_product(a.e, b.e) /
           |        (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))), 4) AS cos_sim
           |FROM cc a JOIN cc b ON a.cell = b.cell AND a.vec_id < b.vec_id
           |WHERE round(list_inner_product(a.e, b.e) /
           |        (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))), 4) >= 0.25
           |ORDER BY id_a, id_b""".stripMargin
      },
    ),
    OpSpec(
      "sim_cosine_ivf",
      (s, d) => {
        val v = T.embeddings(s, d)
          .select(col("vec_id"), expr(cellExpr).as("cell"),
            expr("transform(embedding, x -> cast(x as double))").as("e"))
          .filter(nonZeroVec("e")) // cosine contract: zero vectors excluded
        val q = v.filter(col("vec_id") === 0)
          .select(col("cell").as("qcell"), col("e").as("qe"))
        v.join(broadcast(q), col("cell") === col("qcell"))
          .filter(col("vec_id") =!= 0)
          .select(col("vec_id"), col("cell"),
            P.r4(dot("e", "qe") /
              (sqrt(dot("e", "e")) * sqrt(dot("qe", "qe")))).as("cos_sim"))
          .orderBy(desc("cos_sim"), col("vec_id"))
          .limit(10)
      },
      Some(s"""WITH v AS (SELECT vec_id, $cellSql AS cell, embedding::DOUBLE[] AS e FROM embeddings),
              |q AS (SELECT cell AS qcell, e AS qe FROM v WHERE vec_id = 0)
              |SELECT vec_id, cell,
              |  round(list_inner_product(e, qe) /
              |        (sqrt(list_inner_product(e, e)) * sqrt(list_inner_product(qe, qe))), 4) AS cos_sim
              |FROM v, q WHERE cell = qcell AND vec_id <> 0
              |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),
    ),
    // Hyperplane-LSH near-dup for vectors — the SCALE-CORRECT
    // replacement for dedup_embed_cosine's fixed-16-cell blocking:
    // fixed random-hyperplane sign bits (LshPlanes — literals in both
    // plans, bit-identical dots) → banded bucket EQUI-join (the
    // text/NearDup.scala MinHash banding applied to embeddings) →
    // exact cosine verify ≥ 0.4 on candidates only. Since round 18 the
    // DECLARED query runs the ADAPTIVE family: bits/band = min(16,
    // max(8, ⌈log₂(n/16)⌉)) derived INTEGER-EXACTLY from count(*) in
    // BOTH engines, so the declared construction IS the measured
    // 100 TB policy (bucket count tracks corpus size; the static 4×8
    // family saturated its 256 buckets/band and DNF'd the sf10
    // stress, while the policy-sized family measured 3.0× time at
    // 3.33× data — BASELINE "Embed-LSH knob receipt"). The declared
    // semantic is the banded-LSH candidate rule (any band collides ∧
    // cos ≥ τ) and the oracle computes THE SAME rule with the SAME
    // width all-pairs, so the gate is exact by construction at every
    // SF; recall vs the unblocked all-pairs truth is the honest LSH
    // trade-off, measured in AnnSpec. At 100 TB: one signature pass,
    // bands-per-doc rows shuffled on a bucket key whose cardinality
    // GROWS with the corpus — no all-pairs product ever forms, and no
    // fixed 1/16-of-corpus cell. τ = 0.4 is the strict dedup
    // threshold; dedup_embed_lsh_scale keeps the wider τ = 0.25
    // candidate-mining cut that feeds dedup_threshold_profile.
    OpSpec(
      "dedup_embed_lsh",
      // thin call into the parameterized API at the adaptively-derived
      // width (the count is a parquet-footer statistic — no data
      // scan); the slim-signature-cache / verify-reads-parquet
      // discipline lives in embedLshPairs
      (s, d) => {
        val emb = T.embeddings(s, d)
        val (nb, bits) = adaptiveEmbedLshFamily(emb.count())
        embedLshPairs(emb, "vec_id", "embedding", tau = 0.4, nb, bits)
          .select(col("a").as("keep_id"), col("b").as("dup_id"), col("cos_sim"))
          .orderBy("keep_id", "dup_id")
      },
      Some {
        val anyBand = (0 until LshPlanes.Scale.nBands)
          .map(b => s"a.b$b = b.b$b").mkString(" OR ")
        s"""WITH $bandedSqlAdapt
           |SELECT a.vec_id AS keep_id, b.vec_id AS dup_id,
           |  round(list_inner_product(a.e, b.e) /
           |        (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))), 4) AS cos_sim
           |FROM sgs a JOIN sgs b ON a.vec_id < b.vec_id AND ($anyBand)
           |WHERE round(list_inner_product(a.e, b.e) /
           |        (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))), 4) >= 0.4
           |ORDER BY keep_id, dup_id""".stripMargin
      },
    ),
    // The candidate-MINING form of dedup_embed_lsh: same adaptive
    // band family, wider τ = 0.25 cut — the feed for
    // dedup_threshold_profile's histogram. History: this key was born
    // (round 11) as the "scale twin" when dedup_embed_lsh was still
    // pinned at 16-bucket bands (measured 46× at 10× data); since
    // round 18 BOTH keys run the adaptive policy family, and this one
    // keeps its distinct role as the τ-mining cut. The bits ≈
    // log₂(n/c) knob doubles bucket count per added bit, keeping
    // bucket size (hence per-bucket work) CONSTANT as n grows.
    OpSpec(
      "dedup_embed_lsh_scale",
      // thin call into the parameterized API — τ=0.25 candidate-mining
      // twin of dedup_embed_lsh, same adaptively-derived bands
      (s, d) => {
        val emb = T.embeddings(s, d)
        val (nb, bits) = adaptiveEmbedLshFamily(emb.count())
        embedLshPairs(emb, "vec_id", "embedding", tau = 0.25, nb, bits)
          .select(col("a").as("keep_id"), col("b").as("dup_id"), col("cos_sim"))
          .orderBy("keep_id", "dup_id")
      },
      Some {
        val anyBand = (0 until LshPlanes.Scale.nBands)
          .map(b => s"a.b$b = b.b$b").mkString(" OR ")
        s"""WITH $bandedSqlAdapt
           |SELECT a.vec_id AS keep_id, b.vec_id AS dup_id,
           |  round(list_inner_product(a.e, b.e) /
           |        (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))), 4) AS cos_sim
           |FROM sgs a JOIN sgs b ON a.vec_id < b.vec_id AND ($anyBand)
           |WHERE round(list_inner_product(a.e, b.e) /
           |        (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))), 4) >= 0.25
           |ORDER BY keep_id, dup_id""".stripMargin
      },
    ),
    // Threshold-tuning profile: the candidate-pair cosine HISTOGRAM a
    // team reads before choosing a dedup τ — counts per 0.1-wide
    // bucket over ALL scale-band LSH candidates (no τ filter). Bucket
    // = floor(10·cos_r4) on identical r4'd doubles, deterministic in
    // both engines. Same candidate plan as dedup_embed_lsh_scale, one
    // extra tiny hash agg — the report is free once the candidates
    // exist.
    OpSpec(
      "dedup_threshold_profile",
      (s, d) => {
        val sig = graft.core.DiskMemo.persist(bandedSigAdapt(s, d), "vec_lsh")
        val cand = sig.select(col("vec_id").as("keep_id"), col("band"), col("bucket"))
          .join(sig.select(col("vec_id").as("dup_id"), col("band"), col("bucket")),
            Seq("band", "bucket"))
          .filter(col("keep_id") < col("dup_id"))
          .select("keep_id", "dup_id").distinct()
        val va = vecsWithNorm(s, d)
          .select(col("vec_id").as("keep_id"), col("e").as("ea"), col("nrm").as("na"))
        val vb = vecsWithNorm(s, d)
          .select(col("vec_id").as("dup_id"), col("e").as("eb"), col("nrm").as("nb"))
        cand.join(va, Seq("keep_id")).join(vb, Seq("dup_id"))
          .select(P.r4(dot("ea", "eb") / (col("na") * col("nb"))).as("cos_sim"))
          .select(floor(col("cos_sim") * 10).cast("bigint").as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
          .orderBy("bucket")
      },
      Some {
        val anyBand = (0 until LshPlanes.Scale.nBands)
          .map(b => s"a.b$b = b.b$b").mkString(" OR ")
        s"""WITH $bandedSqlAdapt
           |SELECT cast(floor(10 * round(list_inner_product(a.e, b.e) /
           |        (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))), 4)) as bigint) AS bucket,
           |  count(*) AS n_pairs
           |FROM sgs a JOIN sgs b ON a.vec_id < b.vec_id AND ($anyBand)
           |GROUP BY 1 ORDER BY bucket""".stripMargin
      },
    ),
    // k-NN JOIN — the batched form of sim_cosine_topk: top-3 neighbors
    // for EACH of a query set, not one vector. The query side (5 rows)
    // broadcasts; per-(query, candidate) scores reduce through a
    // row_number window partitioned by query — per-partition top-k, no
    // global sort of the product. At 100 TB the corpus side stays
    // partitioned in place and each partition streams the broadcast
    // queries; the window shuffles only (query, cand, score) triples.
    OpSpec(
      "sim_knn_join",
      // thin call into the parameterized API (knnJoin, exact broadcast
      // blocking) — the gate proves the API form
      (s, d) => {
        val emb = T.embeddings(s, d)
        knnJoin(
          corpus = emb.filter(col("vec_id") % 10 === 0),
          queries = emb.filter(col("vec_id") < 5),
          idCol = "vec_id", vecCol = "embedding", k = 3,
          blocking = "broadcast")
          .orderBy("qid", "rk")
      },
      Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 5),
             |scored AS (
             |  SELECT qid, vec_id,
             |    round(list_inner_product(e, qe) /
             |          (sqrt(list_inner_product(e, e)) * sqrt(list_inner_product(qe, qe))), 4) AS cos_sim
             |  FROM v, q WHERE vec_id % 10 = 0 AND vec_id <> qid)
             |SELECT qid, rk, vec_id, cos_sim FROM (
             |  SELECT qid, vec_id, cos_sim,
             |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rk
             |  FROM scored)
             |WHERE rk <= 3 ORDER BY qid, rk""".stripMargin),
    ),
    // LSH-BLOCKED k-NN join — the scale path for the batched search
    // (sim_knn_join above is the broadcast-and-score-everything
    // verifier): candidates are only corpus vectors sharing ≥ 1
    // hyperplane band with the query, so at 100 TB the corpus stays
    // partitioned by bucket and each query probes its nBands buckets —
    // no broadcast-against-everything scoring pass. Declared semantic =
    // top-3 among band-colliding candidates (the honest ANN result);
    // oracle computes the identical rule all-pairs. Same
    // distinct-then-rank discipline as the pair queries (a candidate
    // colliding in 2 bands must rank once).
    OpSpec(
      "sim_knn_lsh",
      // thin call into the parameterized API (knnJoin, LSH blocking at
      // the recall-friendly base band family)
      (s, d) => {
        val emb = T.embeddings(s, d)
        knnJoin(
          corpus = emb.filter(col("vec_id") % 10 === 0),
          queries = emb.filter(col("vec_id") < 5),
          idCol = "vec_id", vecCol = "embedding", k = 3,
          blocking = "lsh")
          .orderBy("qid", "rk")
      },
      Some {
        val anyBand = (0 until LshPlanes.nBands)
          .map(b => s"c.b$b = q.b$b").mkString(" OR ")
        s"""WITH $bandedSql,
           |q AS (SELECT vec_id AS qid, e AS qe, ${(0 until LshPlanes.nBands).map(b => s"b$b").mkString(", ")}
           |      FROM sg WHERE vec_id < 5),
           |scored AS (
           |  SELECT DISTINCT qid, c.vec_id AS vec_id,
           |    round(list_inner_product(c.e, q.qe) /
           |          (sqrt(list_inner_product(c.e, c.e)) * sqrt(list_inner_product(q.qe, q.qe))), 4) AS cos_sim
           |  FROM sg c JOIN q ON ($anyBand)
           |  WHERE c.vec_id % 10 = 0 AND c.vec_id <> q.qid)
           |SELECT qid, rk, vec_id, cos_sim FROM (
           |  SELECT qid, vec_id, cos_sim,
           |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rk
           |  FROM scored)
           |WHERE rk <= 3 ORDER BY qid, rk""".stripMargin
      },
    ),
    // The EMBEDDING-side dedup pipeline end-to-end, the vector analog
    // of text/NearDup's dedup_survivors: hyperplane-LSH banded
    // candidate pairs (the dedup_embed_lsh plan) → connected
    // components (DedupCluster label propagation, shuffle-side only)
    // → keep-min survivors → surviving-corpus counts per label. At
    // 100 TB every stage is the already-graded scale shape: banded
    // bucket equi-join (no all-pairs), per-round edge join + groupBy
    // min, left_anti join-back. Oracle replays the SAME candidate rule
    // + a RECURSIVE-CTE closure — tractable at test size, and proving
    // the distributed component resolution exact.
    OpSpec(
      "dedup_embed_survivors",
      (s, d) => {
        // thin call into the parameterized API: embedLshPairs
        // (adaptive bands, τ=0.4 — the dedup_embed_lsh rule) →
        // DedupCluster survivors, composed by dedupEmbedLsh.
        // minRounds=1 inside: the sum-fingerprint convergence test
        // (DedupCluster round-11) makes an early failed check nearly
        // free, while a lazy round past the fixpoint wastes a real
        // propagation shuffle.
        val emb = T.embeddings(s, d)
        val (nb, bits) = adaptiveEmbedLshFamily(emb.count())
        dedupEmbedLsh(emb, "vec_id", "embedding", tau = 0.4,
          bands = nb, bitsPerBand = bits)
          .groupBy("label")
          .agg(count(lit(1)).as("n_survivors"))
          .orderBy("label")
      },
      Some {
        val anyBand = (0 until LshPlanes.Scale.nBands)
          .map(b => s"a.b$b = b.b$b").mkString(" OR ")
        s"""WITH RECURSIVE $bandedSqlAdapt,
           |prs AS (
           |  SELECT a.vec_id AS a, b.vec_id AS b
           |  FROM sgs a JOIN sgs b ON a.vec_id < b.vec_id AND ($anyBand)
           |  WHERE round(list_inner_product(a.e, b.e) /
           |        (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))), 4) >= 0.4),
           |edges AS (SELECT a AS u, b AS v FROM prs UNION SELECT b, a FROM prs),
           |reach AS (
           |  SELECT u AS id, v AS nb FROM edges
           |  UNION
           |  SELECT r.id, e.v FROM reach r JOIN edges e ON e.u = r.nb),
           |losers AS (
           |  SELECT id FROM (SELECT id, least(id, min(nb)) AS cluster
           |                  FROM reach GROUP BY id)
           |  WHERE id <> cluster)
           |SELECT label, count(*) AS n_survivors
           |FROM embeddings
           |WHERE vec_id NOT IN (SELECT id FROM losers)
           |GROUP BY label ORDER BY label""".stripMargin
      },
    ),
    // int8 scalar quantization + reconstruction error — the vector-
    // compression step every large ANN index applies before storage
    // (4× smaller than float32). q = round(x·127/amax) per component
    // (amax = per-vector max |x|, one HOF fold); the report is the
    // mean absolute reconstruction error per label bucket. ROW-LOCAL
    // transform — fuses into the scan; only the tiny error agg
    // shuffles. The per-doc error sum is an ordered HOF fold
    // (component order is the array order — already deterministic),
    // and the cross-row mean uses exact-decimal rounding of per-row
    // r4 errors to dodge double-sum association.
    OpSpec(
      "vec_quantize_int8",
      (s, d) =>
        T.embeddings(s, d)
          .select(col("vec_id"), col("label"),
            expr("transform(embedding, x -> cast(x as double))").as("e"))
          .withColumn("amax",
            expr("aggregate(e, 0D, (acc, x) -> greatest(acc, abs(x)))"))
          // if(amax = 0): the zero vector quantizes to ITSELF exactly
          // (all-zero codes), err 0 — and under ANSI the unguarded
          // x/amax would throw, not NaN (hostile-corpus sweep)
          .withColumn("err", P.r4(
            expr("""aggregate(
                   |  zip_with(e, if(amax = 0D, e,
                   |               transform(e, x -> round(x * 127.0 / amax) * amax / 127.0)),
                   |           (x, y) -> abs(x - y)),
                   |  0D, (acc, x) -> acc + x)""".stripMargin) /
            size(col("e")).cast("double")))
          .groupBy("label")
          .agg(count(lit(1)).as("n_vecs"),
            (sum(col("err").cast("decimal(18,4)")).cast("double") /
              count(lit(1)).cast("double")).as("mean_abs_err"))
          .orderBy("label"),
      Some("""SELECT label, count(*) AS n_vecs,
             |  cast(sum(cast(err as decimal(18,4))) as double)
             |    / cast(count(*) as double) AS mean_abs_err
             |FROM (
             |  SELECT label,
             |    round(list_reduce(list_prepend(0.0,
             |      list_transform(list_zip(e,
             |        list_transform(e, x -> round(x * 127.0 / amax) * amax / 127.0)),
             |        p -> abs(p[1] - p[2]))),
             |      (acc, x) -> acc + x) / len(e), 4) AS err
             |  FROM (
             |    SELECT label, e,
             |      list_reduce(list_prepend(0.0, list_transform(e, x -> abs(x))),
             |        (acc, x) -> greatest(acc, x)) AS amax
             |    FROM (SELECT label, embedding::DOUBLE[] AS e FROM embeddings)))
             |GROUP BY label ORDER BY label""".stripMargin),
    ),
    // ANN QUALITY measured IN the engine: recall@10 of the nprobe=1
    // sign-IVF search vs the brute-force ground truth, per query, as a
    // declared query — the evaluation harness a production vector
    // pipeline runs next to its index. One scored frame feeds BOTH
    // rankings (exact = all rows, approx = the query's cell only), so
    // the ANN side can never disagree with the truth side on a score;
    // ranking uses the ROUNDED score + vec_id tie-break (the
    // sim_cosine_topk cutoff device). 5 query vectors broadcast; at
    // 100 TB the exact side is the expensive one BY DESIGN — that is
    // what recall evaluation costs, and it runs on a sample of
    // queries, not the corpus.
    OpSpec(
      "sim_recall_report",
      (s, d) => {
        val v = T.embeddings(s, d)
          .select(col("vec_id"), expr(cellExpr).as("cell"),
            expr("transform(embedding, x -> cast(x as double))").as("e"))
          .filter(nonZeroVec("e")) // cosine contract: zero vectors excluded
        val q = v.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("cell").as("qcell"), col("e").as("qe"))
        val scored = v.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("qcell"), col("cell"), col("vec_id"),
            P.r4(dot("e", "qe") /
              (sqrt(dot("e", "e")) * sqrt(dot("qe", "qe")))).as("cos_sim"))
        val byQ = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(desc("cos_sim"), col("vec_id"))
        val exact = scored
          .withColumn("rk", row_number().over(byQ)).filter(col("rk") <= 10)
          .select(col("qid"), col("vec_id"))
        val approx = scored.filter(col("cell") === col("qcell"))
          .withColumn("rk", row_number().over(byQ)).filter(col("rk") <= 10)
          .select(col("qid"), col("vec_id"), lit(1L).as("hit"))
        exact.join(approx, Seq("qid", "vec_id"), "left")
          .groupBy("qid")
          .agg(count(lit(1)).as("k"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hit"),
            P.r4(sum(coalesce(col("hit"), lit(0L))).cast("double") /
              count(lit(1)).cast("double")).as("recall"))
          .orderBy("qid")
      },
      Some(s"""WITH v AS (SELECT vec_id, $cellSql AS cell, embedding::DOUBLE[] AS e FROM embeddings),
              |q AS (SELECT vec_id AS qid, cell AS qcell, e AS qe FROM v WHERE vec_id < 5),
              |scored AS (
              |  SELECT q.qid, q.qcell, v.cell, v.vec_id,
              |    round(list_inner_product(e, qe) /
              |          (sqrt(list_inner_product(e, e)) * sqrt(list_inner_product(qe, qe))), 4) AS cos_sim
              |  FROM v, q WHERE v.vec_id <> q.qid),
              |exact AS (SELECT qid, vec_id FROM (
              |    SELECT qid, vec_id,
              |      row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rk
              |    FROM scored) WHERE rk <= 10),
              |approx AS (SELECT qid, vec_id FROM (
              |    SELECT qid, vec_id,
              |      row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rk
              |    FROM scored WHERE cell = qcell) WHERE rk <= 10)
              |SELECT e.qid AS qid, count(*) AS k,
              |  cast(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) as bigint) AS n_hit,
              |  round(cast(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) as double)
              |        / cast(count(*) as double), 4) AS recall
              |FROM exact e LEFT JOIN approx a ON a.qid = e.qid AND a.vec_id = e.vec_id
              |GROUP BY e.qid ORDER BY qid""".stripMargin),
    ),
    // The recall/cost KNOB measured: recall@10 at nprobe=1 vs
    // nprobe=5 (query cell + its 4 Hamming-1 neighbors) side by side
    // per query — the number an operator reads before turning the
    // dial. Same one-scored-frame construction as sim_recall_report;
    // by construction recall5 ≥ recall1 (the probed set is a
    // superset), which AnnSpec asserts as the knob's monotonicity.
    OpSpec(
      "sim_recall_nprobe",
      (s, d) => {
        val v = T.embeddings(s, d)
          .select(col("vec_id"), expr(cellExpr).as("cell"),
            expr("transform(embedding, x -> cast(x as double))").as("e"))
          .filter(nonZeroVec("e")) // cosine contract: zero vectors excluded
        val q = v.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("cell").as("qcell"), col("e").as("qe"))
        val scored = v.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("qcell"), col("cell"), col("vec_id"),
            P.r4(dot("e", "qe") /
              (sqrt(dot("e", "e")) * sqrt(dot("qe", "qe")))).as("cos_sim"))
        val byQ = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(desc("cos_sim"), col("vec_id"))
        def topk(df: org.apache.spark.sql.DataFrame, hitCol: String) = df
          .withColumn("rk", row_number().over(byQ)).filter(col("rk") <= 10)
          .select(col("qid"), col("vec_id"), lit(1L).as(hitCol))
        val exact = scored
          .withColumn("rk", row_number().over(byQ)).filter(col("rk") <= 10)
          .select(col("qid"), col("vec_id"))
        val probed5 = col("cell") === col("qcell") ||
          (0 until 4).map(b => col("cell") === (col("qcell").bitwiseXOR(1L << b)))
            .reduce(_ || _)
        val a1 = topk(scored.filter(col("cell") === col("qcell")), "h1")
        val a5 = topk(scored.filter(probed5), "h5")
        exact
          .join(a1, Seq("qid", "vec_id"), "left")
          .join(a5, Seq("qid", "vec_id"), "left")
          .groupBy("qid")
          .agg(
            P.r4(sum(coalesce(col("h1"), lit(0L))).cast("double") /
              count(lit(1)).cast("double")).as("recall_np1"),
            P.r4(sum(coalesce(col("h5"), lit(0L))).cast("double") /
              count(lit(1)).cast("double")).as("recall_np5"))
          .orderBy("qid")
      },
      Some(s"""WITH v AS (SELECT vec_id, $cellSql AS cell, embedding::DOUBLE[] AS e FROM embeddings),
              |q AS (SELECT vec_id AS qid, cell AS qcell, e AS qe FROM v WHERE vec_id < 5),
              |scored AS (
              |  SELECT q.qid, q.qcell, v.cell, v.vec_id,
              |    round(list_inner_product(e, qe) /
              |          (sqrt(list_inner_product(e, e)) * sqrt(list_inner_product(qe, qe))), 4) AS cos_sim
              |  FROM v, q WHERE v.vec_id <> q.qid),
              |exact AS (SELECT qid, vec_id FROM (
              |    SELECT qid, vec_id,
              |      row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rk
              |    FROM scored) WHERE rk <= 10),
              |a1 AS (SELECT qid, vec_id FROM (
              |    SELECT qid, vec_id,
              |      row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rk
              |    FROM scored WHERE cell = qcell) WHERE rk <= 10),
              |a5 AS (SELECT qid, vec_id FROM (
              |    SELECT qid, vec_id,
              |      row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rk
              |    FROM scored WHERE cell = qcell OR cell = xor(qcell, 1) OR cell = xor(qcell, 2)
              |          OR cell = xor(qcell, 4) OR cell = xor(qcell, 8)) WHERE rk <= 10)
              |SELECT e.qid AS qid,
              |  round(cast(sum(CASE WHEN a1.vec_id IS NOT NULL THEN 1 ELSE 0 END) as double)
              |        / cast(count(*) as double), 4) AS recall_np1,
              |  round(cast(sum(CASE WHEN a5.vec_id IS NOT NULL THEN 1 ELSE 0 END) as double)
              |        / cast(count(*) as double), 4) AS recall_np5
              |FROM exact e
              |LEFT JOIN a1 ON a1.qid = e.qid AND a1.vec_id = e.vec_id
              |LEFT JOIN a5 ON a5.qid = e.qid AND a5.vec_id = e.vec_id
              |GROUP BY e.qid ORDER BY qid""".stripMargin),
    ),
    // Prefix-TRUNCATION quality (the Matryoshka / MRL serving trade:
    // store 64 dims, search the first 16): per label, how much of each
    // vector's norm the 16-dim prefix retains — sqrt(||e[1:16]||² /
    // ||e||²), the exact energy fraction the truncated index keeps.
    // Row-local per vector (zero shuffles before the label agg); the
    // per-label mean is the vec_pq_mse ordered fold (bit-identical
    // across partitionings). Oracle dots are EXPLICIT list_zip folds
    // mirroring Spark's aggregate(zip_with(…)) term order — not
    // list_inner_product, whose FMA drifts an ulp (the Pq.scala
    // lesson), so the r4'd per-vector values are bit-identical.
    OpSpec(
      "vec_truncate_renorm",
      (s, d) => truncateRenormOf(T.embeddings(s, d), "vec_id", "label",
        "embedding", dims = 16),
      Some(s"""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
              |t AS (SELECT vec_id, label,
              |  round(sqrt(
              |    ${dotDuck("e[1:16]", "e[1:16]")} / ${dotDuck("e", "e")}), 4) AS kept
              |FROM v)
              |SELECT cast(label as int) AS label, cast(count(*) as bigint) AS n,
              |  round(list_reduce(list_prepend(0.0, list(kept ORDER BY vec_id)),
              |    (acc, x) -> acc + x) / count(*), 4) AS mean_kept,
              |  min(kept) AS min_kept
              |FROM t GROUP BY label ORDER BY label""".stripMargin),
    ),
    // The truncation dial MEASURED the way the IVF dial is
    // (sim_recall_report's device): recall@10 of the 16-dim-prefix
    // cosine ranking vs the full 64-dim ground truth, per query. ONE
    // scored frame carries both cosines so the truncated side can
    // never disagree with the truth side on an input row; both
    // rankings use the rounded score + vec_id tie-break. At 100 TB
    // the truncated index is the one you can afford to scan — this
    // query is the evidence for how much recall that costs.
    OpSpec(
      "sim_recall_truncated",
      (s, d) => truncatedRecallOf(T.embeddings(s, d), "vec_id", "embedding",
        dims = 16),
      Some(s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
              |q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 5),
              |scored AS (
              |  SELECT q.qid, v.vec_id,
              |    round(${dotDuck("e", "qe")} /
              |      (sqrt(${dotDuck("e", "e")}) * sqrt(${dotDuck("qe", "qe")})), 4) AS cos_full,
              |    round(${dotDuck("e[1:16]", "qe[1:16]")} /
              |      (sqrt(${dotDuck("e[1:16]", "e[1:16]")}) *
              |       sqrt(${dotDuck("qe[1:16]", "qe[1:16]")})), 4) AS cos_t
              |  FROM v, q WHERE v.vec_id <> q.qid),
              |exact AS (SELECT qid, vec_id FROM (
              |    SELECT qid, vec_id,
              |      row_number() OVER (PARTITION BY qid ORDER BY cos_full DESC, vec_id) AS rk
              |    FROM scored) WHERE rk <= 10),
              |approx AS (SELECT qid, vec_id FROM (
              |    SELECT qid, vec_id,
              |      row_number() OVER (PARTITION BY qid ORDER BY cos_t DESC, vec_id) AS rk
              |    FROM scored) WHERE rk <= 10)
              |SELECT e.qid AS qid, count(*) AS k,
              |  cast(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) as bigint) AS n_hit,
              |  round(cast(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) as double)
              |        / cast(count(*) as double), 4) AS recall
              |FROM exact e LEFT JOIN approx a ON a.qid = e.qid AND a.vec_id = e.vec_id
              |GROUP BY e.qid ORDER BY qid""".stripMargin),
    ),
    // The int8 dial measured the same way (completing the set: IVF,
    // PQ, truncation, int8 — every compression knob ships with its
    // recall report): recall@10 of the ASYMMETRIC search shape —
    // corpus stored int8-dequantized (vec_quantize_int8's exact
    // round-trip), query kept full-precision — vs the full-precision
    // ground truth. One scored frame carries both cosines.
    OpSpec(
      "sim_recall_int8",
      (s, d) => {
        val v = T.embeddings(s, d)
          .select(col("vec_id"),
            expr("transform(embedding, x -> cast(x as double))").as("e"))
          .filter(nonZeroVec("e")) // cosine contract + amax=0 guard
          .withColumn("amax",
            expr("aggregate(e, 0D, (acc, x) -> greatest(acc, abs(x)))"))
          .withColumn("eq",
            expr("transform(e, x -> round(x * 127.0 / amax) * amax / 127.0)"))
        val q = v.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("e").as("qe"))
        val scored = v.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            P.r4(dot("e", "qe") /
              (sqrt(dot("e", "e")) * sqrt(dot("qe", "qe")))).as("cos_full"),
            P.r4(dot("eq", "qe") /
              (sqrt(dot("eq", "eq")) * sqrt(dot("qe", "qe")))).as("cos_q"))
        recallTail(scored, "cos_q")
      },
      Some(s"""WITH v0 AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
              |v AS (SELECT vec_id, e,
              |    list_transform(e, x -> round(x * 127.0 / amax) * amax / 127.0) AS eq
              |  FROM (SELECT vec_id, e,
              |    list_reduce(list_prepend(0.0, list_transform(e, x -> abs(x))),
              |      (acc, x) -> greatest(acc, x)) AS amax FROM v0)),
              |q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 5),
              |scored AS (
              |  SELECT q.qid, v.vec_id,
              |    round(${dotDuck("e", "qe")} /
              |      (sqrt(${dotDuck("e", "e")}) * sqrt(${dotDuck("qe", "qe")})), 4) AS cos_full,
              |    round(${dotDuck("eq", "qe")} /
              |      (sqrt(${dotDuck("eq", "eq")}) * sqrt(${dotDuck("qe", "qe")})), 4) AS cos_q
              |  FROM v, q WHERE v.vec_id <> q.qid),
              |exact AS (SELECT qid, vec_id FROM (
              |    SELECT qid, vec_id,
              |      row_number() OVER (PARTITION BY qid ORDER BY cos_full DESC, vec_id) AS rk
              |    FROM scored) WHERE rk <= 10),
              |approx AS (SELECT qid, vec_id FROM (
              |    SELECT qid, vec_id,
              |      row_number() OVER (PARTITION BY qid ORDER BY cos_q DESC, vec_id) AS rk
              |    FROM scored) WHERE rk <= 10)
              |SELECT e.qid AS qid, count(*) AS k,
              |  cast(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) as bigint) AS n_hit,
              |  round(cast(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) as double)
              |        / cast(count(*) as double), 4) AS recall
              |FROM exact e LEFT JOIN approx a ON a.qid = e.qid AND a.vec_id = e.vec_id
              |GROUP BY e.qid ORDER BY qid""".stripMargin),
    ),
    // IVF INDEX HEALTH: per-cell occupancy of the sign-quantizer index
    // — the balance histogram an ANN operator reads before trusting
    // nprobe math (a skewed cell means one probe scans half the
    // corpus). One tiny agg + broadcast total; share via the half-up
    // integer device.
    OpSpec(
      "vec_ivf_cell_stats",
      (s, d) => {
        val v = T.embeddings(s, d).select(expr(cellExpr).as("cell"))
        val tot = v.agg(count(lit(1)).as("n_total"))
        v.groupBy("cell").agg(count(lit(1)).as("n"))
          .crossJoin(broadcast(tot))
          .select(col("cell"), col("n"), col("n_total"),
            (expr("cast((n * 20000 + n_total) div (2 * n_total) as double)")
              / 10000.0).as("share"))
          .orderBy("cell")
      },
      Some(s"""WITH v AS (SELECT $cellSql AS cell FROM embeddings),
              |t AS (SELECT count(*) AS n_total FROM v)
              |SELECT cell, count(*) AS n, t.n_total AS n_total,
              |  cast((count(*) * 20000 + t.n_total) // (2 * t.n_total) as double)
              |    / 10000.0 AS share
              |FROM v CROSS JOIN t GROUP BY cell, t.n_total ORDER BY cell""".stripMargin),
    ),
    // Embedding DRIFT monitor: per label, cosine between the centroids
    // of two deterministic cohorts (even vs odd vec_id — the A/B split
    // that exists at any scale). The number a production embedding
    // pipeline watches across re-embeds/model bumps: centroid_cos near
    // 1 = stable geometry, drops = drift. Centroid sums via the
    // ordered vector fold (element-wise zip_with add in vec_id order —
    // bit-deterministic; at 100 TB: shard the fold by vec_id range,
    // fold shard sums in a second ordered pass, the vec_pq_mse
    // policy); the label⨯cohort table is tiny, the join trivial.
    OpSpec(
      "vec_centroid_drift",
      (s, d) => centroidDriftOf(T.embeddings(s, d), "vec_id", "label",
        "embedding", dims = 64),
      Some(s"""WITH v AS (
              |  SELECT vec_id, label, embedding::DOUBLE[] AS e, vec_id % 2 AS grp
              |  FROM embeddings),
              |cent AS (
              |  SELECT label, grp, cast(count(*) as double) AS nd,
              |    list_reduce(
              |      list_prepend(list_transform(range(64), i -> CAST(0.0 AS DOUBLE)),
              |                   list(e ORDER BY vec_id)),
              |      (acc, x) -> list_transform(list_zip(acc, x), p -> p[1] + p[2])) AS sarr
              |  FROM v GROUP BY label, grp),
              |c2 AS (SELECT label, grp, nd, list_transform(sarr, x -> x / nd) AS c FROM cent)
              |SELECT cast(a.label as int) AS label,
              |  cast(a.nd as bigint) AS n_even, cast(b.nd as bigint) AS n_odd,
              |  round(${dotDuck("a.c", "b.c")} /
              |    (sqrt(${dotDuck("a.c", "a.c")}) * sqrt(${dotDuck("b.c", "b.c")})), 4)
              |    AS centroid_cos
              |FROM c2 a JOIN c2 b ON b.label = a.label AND a.grp = 0 AND b.grp = 1
              |ORDER BY label""".stripMargin),
    ),
    // k-NN LABEL VOTE — the classifier-eval the labeled embedding
    // table exists for: leave-self-out 10-NN majority vote over a
    // 50-query panel, per-true-label accuracy. Ties break to the
    // smaller label (deterministic); ranking is the r4-score + vec_id
    // tie-break. At 100 TB the panel is the point: the corpus side
    // streams once past broadcast queries; nothing is all-pairs.
    OpSpec(
      "sim_knn_classify",
      (s, d) => {
        val v = T.embeddings(s, d)
          .select(col("vec_id"), col("label"),
            expr("transform(embedding, x -> cast(x as double))").as("e"))
          .filter(nonZeroVec("e")) // cosine contract: zero vectors excluded
        val q = v.filter(col("vec_id") < 50)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"),
            col("e").as("qe"))
        val scored = v.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
            P.r4(dot("e", "qe") /
              (sqrt(dot("e", "e")) * sqrt(dot("qe", "qe")))).as("cos_sim"))
        val byQ = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(desc("cos_sim"), col("vec_id"))
        val byVote = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(desc("n_votes"), col("label"))
        val pred = scored
          .withColumn("rk", row_number().over(byQ)).filter(col("rk") <= 10)
          .groupBy("qid", "qlabel", "label")
          .agg(count(lit(1)).as("n_votes"))
          .withColumn("vr", row_number().over(byVote)).filter(col("vr") === 1)
        pred.groupBy("qlabel")
          .agg(count(lit(1)).as("n_q"),
            sum(when(col("label") === col("qlabel"), 1L).otherwise(0L))
              .as("n_correct"))
          .select(col("qlabel").cast("int").as("label"), col("n_q"),
            col("n_correct"),
            P.r4(col("n_correct").cast("double") / col("n_q").cast("double"))
              .as("acc"))
          .orderBy("label")
      },
      Some(s"""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
              |  WHERE len(list_filter(embedding::DOUBLE[], x -> x <> 0)) > 0),
              |q AS (SELECT vec_id AS qid, label AS qlabel, e AS qe FROM v WHERE vec_id < 50),
              |scored AS (
              |  SELECT q.qid, q.qlabel, v.vec_id, v.label,
              |    round(${dotDuck("e", "qe")} /
              |      (sqrt(${dotDuck("e", "e")}) * sqrt(${dotDuck("qe", "qe")})), 4) AS cos_sim
              |  FROM v, q WHERE v.vec_id <> q.qid),
              |nn AS (SELECT qid, qlabel, label FROM (
              |    SELECT qid, qlabel, label,
              |      row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rk
              |    FROM scored) WHERE rk <= 10),
              |votes AS (SELECT qid, qlabel, label, count(*) AS n_votes
              |          FROM nn GROUP BY qid, qlabel, label),
              |pred AS (SELECT qid, qlabel, label AS pred_label FROM (
              |    SELECT qid, qlabel, label,
              |      row_number() OVER (PARTITION BY qid ORDER BY n_votes DESC, label) AS vr
              |    FROM votes) WHERE vr = 1)
              |SELECT cast(qlabel as int) AS label, count(*) AS n_q,
              |  cast(sum(CASE WHEN pred_label = qlabel THEN 1 ELSE 0 END) as bigint) AS n_correct,
              |  round(cast(sum(CASE WHEN pred_label = qlabel THEN 1 ELSE 0 END) as double)
              |        / cast(count(*) as double), 4) AS acc
              |FROM pred GROUP BY qlabel ORDER BY label""".stripMargin),
    ),
    // The SCALE PATH for the k-NN eval (round-14 verdict item 4 —
    // sim_knn_classify was the one ANN family member without a pruned
    // twin): the SAME leave-self-out 10-NN vote, but candidates come
    // only from the query's IVF cell plus its 4 Hamming-1 neighbor
    // cells (the sim_cosine_ivf_nprobe knob, nprobe=5/16) — the corpus
    // side is cell-pruned BEFORE any scoring, so the eval reads
    // ~5/16 of corpus×panel instead of all of it, and at 100 TB the
    // probed cells are partition keys. Vote/rank determinism rules
    // identical to sim_knn_classify; AnnSpec measures accuracy
    // against the full eval side by side.
    OpSpec(
      "sim_knn_classify_ivf",
      (s, d) => {
        val v = T.embeddings(s, d)
          .select(col("vec_id"), col("label"), expr(cellExpr).as("cell"),
            expr("transform(embedding, x -> cast(x as double))").as("e"))
          .filter(nonZeroVec("e")) // cosine contract: zero vectors excluded
        // probe rows EXPLODED (qid × 5 cells) so the candidate join is
        // a broadcast HASH join on the cell key — not the OR-predicate
        // nested loop a disjunction compiles to. At 100 TB the cell is
        // the corpus partition key and the 250-row probe table hashes
        // against it; PlanShapeSpec pins the equi-join.
        val qprobes = v.filter(col("vec_id") < 50)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"),
            col("e").as("qe"), col("cell").as("qcell"))
          .select(col("qid"), col("qlabel"), col("qe"), col("qcell"),
            explode(array(
              (lit(0L) +: (0 until 4).map(b => lit(1L << b))): _*)).as("flip"))
          .select(col("qid"), col("qlabel"), col("qe"),
            col("qcell").bitwiseXOR(col("flip")).as("cell"))
        val scored = v.join(broadcast(qprobes), Seq("cell"))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
            P.r4(dot("e", "qe") /
              (sqrt(dot("e", "e")) * sqrt(dot("qe", "qe")))).as("cos_sim"))
        val byQ = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(desc("cos_sim"), col("vec_id"))
        val byVote = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(desc("n_votes"), col("label"))
        val pred = scored
          .withColumn("rk", row_number().over(byQ)).filter(col("rk") <= 10)
          .groupBy("qid", "qlabel", "label")
          .agg(count(lit(1)).as("n_votes"))
          .withColumn("vr", row_number().over(byVote)).filter(col("vr") === 1)
        pred.groupBy("qlabel")
          .agg(count(lit(1)).as("n_q"),
            sum(when(col("label") === col("qlabel"), 1L).otherwise(0L))
              .as("n_correct"))
          .select(col("qlabel").cast("int").as("label"), col("n_q"),
            col("n_correct"),
            P.r4(col("n_correct").cast("double") / col("n_q").cast("double"))
              .as("acc"))
          .orderBy("label")
      },
      Some(s"""WITH v AS (SELECT vec_id, label, $cellSql AS cell,
              |  embedding::DOUBLE[] AS e FROM embeddings
              |  WHERE len(list_filter(embedding::DOUBLE[], x -> x <> 0)) > 0),
              |q AS (SELECT vec_id AS qid, label AS qlabel, cell AS qcell, e AS qe
              |      FROM v WHERE vec_id < 50),
              |scored AS (
              |  SELECT q.qid, q.qlabel, v.vec_id, v.label,
              |    round(${dotDuck("e", "qe")} /
              |      (sqrt(${dotDuck("e", "e")}) * sqrt(${dotDuck("qe", "qe")})), 4) AS cos_sim
              |  FROM v, q
              |  WHERE v.vec_id <> q.qid
              |    AND (v.cell = q.qcell OR v.cell = xor(q.qcell, 1)
              |         OR v.cell = xor(q.qcell, 2) OR v.cell = xor(q.qcell, 4)
              |         OR v.cell = xor(q.qcell, 8))),
              |nn AS (SELECT qid, qlabel, label FROM (
              |    SELECT qid, qlabel, label,
              |      row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rk
              |    FROM scored) WHERE rk <= 10),
              |votes AS (SELECT qid, qlabel, label, count(*) AS n_votes
              |          FROM nn GROUP BY qid, qlabel, label),
              |pred AS (SELECT qid, qlabel, label AS pred_label FROM (
              |    SELECT qid, qlabel, label,
              |      row_number() OVER (PARTITION BY qid ORDER BY n_votes DESC, label) AS vr
              |    FROM votes) WHERE vr = 1)
              |SELECT cast(qlabel as int) AS label, count(*) AS n_q,
              |  cast(sum(CASE WHEN pred_label = qlabel THEN 1 ELSE 0 END) as bigint) AS n_correct,
              |  round(cast(sum(CASE WHEN pred_label = qlabel THEN 1 ELSE 0 END) as double)
              |        / cast(count(*) as double), 4) AS acc
              |FROM pred GROUP BY qlabel ORDER BY label""".stripMargin),
    ),
  ) ++ mmrOps

  /** Maximal Marginal Relevance (Carbonell & Goldstein 1998) top-k:
    * greedy diverse-exemplar selection — round r picks the surviving
    * candidate maximizing λ·rel − (1−λ)·max-cos-to-selected. The
    * curation read: "give me the k most relevant AND mutually
    * dissimilar neighbors" (dedup's prevention twin — don't put five
    * near-copies in the context or training batch). Candidate panel =
    * brute-force top-`panelSize` cosine (bounded), DISK-memoized since
    * every greedy round re-reads it; all cosines are explicit
    * zip-folds (bit-identical cross-engine); ties → smallest vec_id.
    * k rounds unroll the ESD chained-stage device. */
  def mmrTopkOf(vecs: DataFrame, idCol: String, vecCol: String,
                queryId: Long, panelSize: Int, k: Int,
                lambda: Double, omLambda: Double): DataFrame = {
    require(k >= 1 && k <= panelSize && panelSize <= 64, s"bad (k=$k, panel=$panelSize)")
    // omLambda is passed EXPLICITLY, not derived: 1.0 − 0.7 is
    // 0.30000000000000004 in IEEE while the oracle's literal 0.3 is a
    // different double — both engines must parse the SAME literal
    val (ls, ols) = (s"${lambda}", s"${omLambda}")
    val v = vecs.select(col(idCol).as("vec_id"),
      expr(s"transform(${ident(vecCol)}, x -> cast(x as double))").as("e"))
      .filter(nonZeroVec("e")) // cosine contract: zero vectors excluded
    val q = v.filter(col("vec_id") === queryId)
      .select(col("e").as("qe"))
    val panel = v.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("e"),
        sqrt(dot("e", "e")).as("nrm"),
        (dot("e", "qe") / (sqrt(dot("e", "e")) * sqrt(dot("qe", "qe")))).as("rel"))
      .orderBy(desc("rel"), col("vec_id")).limit(panelSize)
    // The greedy loop runs as ONE row-local fold over the packed
    // panel (the ESD pack-and-fold device, round 14): the r13
    // spelling unrolled k chained stages of crossJoin + agg +
    // sort-limit + anti-join whose plans NESTED round over round —
    // 2.6 s steady-state for a 12-row panel (dozens of tiny jobs +
    // driver analysis); this is one job after the panel sort-limit,
    // and the panel no longer needs DiskMemo (it is read once).
    // Arithmetic is unchanged: the same zip_with dot fold, msim as a
    // null-skipping max (greatest skips nulls like the old max agg),
    // argmax ties -> smallest vec_id (vec_id-sorted scan, strict >),
    // round 1 ≡ empty-selection branch. Intermediates bind through
    // the transform(array(x), v -> body) LET-device.
    val dotL = "aggregate(zip_with(p.e, s.se, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    val mmrText =
      s"""if(size(acc.sel) = 0, $ls * p.rel,
         |  $ls * p.rel - $ols * aggregate(acc.sel, cast('-Infinity' as double),
         |    (m, s) -> greatest(m, $dotL / (p.nrm * s.snrm))))""".stripMargin
    val bestText =
      s"""aggregate(acc.rem,
         |  cast(null as struct<mmr: double, vec_id: bigint, e: array<double>,
         |                      nrm: double, rel: double>),
         |  (b, p) -> if(b.vec_id is null or ($mmrText) > b.mmr,
         |    named_struct('mmr', $mmrText, 'vec_id', p.vec_id,
         |      'e', p.e, 'nrm', p.nrm, 'rel', p.rel), b))""".stripMargin
    val foldText =
      s"""(aggregate(sequence(1, $k),
         |  named_struct('rem', _p0,
         |    'sel', slice(array(named_struct('se', cast(null as array<double>),
         |      'snrm', cast(0.0 as double))), 1, 0),
         |    'out', slice(array(named_struct('iteration', 0, 'vec_id', 0L,
         |      'rel', cast(0.0 as double), 'mmr_score', cast(0.0 as double))), 1, 0)),
         |  (acc, it) -> element_at(transform(array($bestText), best -> named_struct(
         |    'rem', filter(acc.rem, p -> p.vec_id != best.vec_id),
         |    'sel', if(best.vec_id is not null,
         |      array_append(acc.sel, named_struct('se', best.e, 'snrm', best.nrm)),
         |      acc.sel),
         |    'out', if(best.vec_id is not null,
         |      array_append(acc.out, named_struct(
         |        'iteration', cast(it as int), 'vec_id', best.vec_id,
         |        'rel', round(best.rel, 4), 'mmr_score', round(best.mmr, 4))),
         |      acc.out))), 1))).out""".stripMargin
    panel.agg(sort_array(collect_list(struct(
        col("vec_id").cast("bigint").as("vec_id"), col("e"),
        col("nrm"), col("rel")))).as("_p0"))
      .select(explode(expr(foldText)).as("_r"))
      .select(col("_r.iteration").as("iteration"), col("_r.vec_id").as("vec_id"),
        col("_r.rel").as("rel"), col("_r.mmr_score").as("mmr_score"))
      .orderBy("iteration")
  }

  private lazy val mmrOps: Seq[OpSpec] = Seq(
    // MMR TOP-5 for query vector 0 over the top-12 cosine panel,
    // λ = 0.7 — the diversity-aware serving/curation pick. The greedy
    // recursion unrolls into 5 chained stages in BOTH engines; every
    // cosine is an explicit fold; argmax ties break to the smallest
    // vec_id; the bounded panel is disk-memoized so the corpus scan
    // runs once, not once per round.
    OpSpec(
      "sim_mmr_topk",
      (s, d) => mmrTopkOf(graft.core.Tables.embeddings(s, d),
        "vec_id", "embedding", 0L, 12, 5, 0.7, 0.3),
      Some {
        def dd(a: String, b: String) = dotDuck(a, b)
        val stages = (1 to 5).map { it =>
          val prev = if (it == 1) "panel" else s"surv${it - 1}"
          val scored =
            if (it == 1)
              s"""sc$it AS (SELECT vec_id, e, nrm, rel, 0.7 * rel AS mmr FROM $prev)"""
            else
              s"""sc$it AS (
                 |  SELECT c.vec_id, c.e, c.nrm, c.rel,
                 |    0.7 * c.rel - 0.3 * max(${dd("c.e", "s.se")} / (c.nrm * s.snrm)) AS mmr
                 |  FROM $prev c CROSS JOIN sel${it - 1} s
                 |  GROUP BY c.vec_id, c.e, c.nrm, c.rel)""".stripMargin
          val sel =
            if (it == 1) s"sel$it AS (SELECT e AS se, nrm AS snrm FROM x$it)"
            else s"""sel$it AS (SELECT se, snrm FROM sel${it - 1}
                    |  UNION ALL SELECT e, nrm FROM x$it)""".stripMargin
          s"""$scored,
             |x$it AS (SELECT * FROM sc$it ORDER BY mmr DESC, vec_id LIMIT 1),
             |$sel,
             |surv$it AS (SELECT vec_id, e, nrm, rel FROM sc$it
             |  WHERE vec_id <> (SELECT vec_id FROM x$it))""".stripMargin
        }.mkString(",\n")
        val outs = (1 to 5).map(it =>
          s"SELECT $it AS iteration, vec_id, round(rel, 4) AS rel, round(mmr, 4) AS mmr_score FROM x$it")
          .mkString("\n  UNION ALL\n  ")
        s"""WITH q AS (
           |  SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
           |v AS (
           |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id <> 0),
           |panel AS (
           |  SELECT vec_id, e, sqrt(${dd("e", "e")}) AS nrm,
           |    ${dd("e", "qe")} / (sqrt(${dd("e", "e")}) * sqrt(${dd("qe", "qe")})) AS rel
           |  FROM v CROSS JOIN q
           |  ORDER BY rel DESC, vec_id LIMIT 12),
           |$stages
           |SELECT * FROM (
           |  $outs)
           |ORDER BY iteration""".stripMargin
      },
    ),
  )

  /** DuckDB dot product as an EXPLICIT list_zip fold — the exact
    * term-order mirror of the Spark-side [[dot]] (aggregate over
    * zip_with), avoiding list_inner_product's FMA ulp drift. */
  private def dotDuck(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), " +
      "p -> p[1] * p[2])), (acc, x) -> acc + x)"

  /** Per-`byCol` cosine between even- and odd-id cohort centroids —
    * see vec_centroid_drift. Ordered vector fold (zip_with add in id
    * order) keeps the sums bit-deterministic. A group whose ids are
    * all one parity has no counterpart cohort and drops out of the
    * inner join (by design — no drift is measurable for it). */
  def centroidDriftOf(df: DataFrame, idCol: String, byCol: String,
                      vecCol: String, dims: Int): DataFrame = {
    require(dims >= 1, s"dims must be positive, got $dims")
    ident(idCol); ident(byCol); ident(vecCol)
    val v = df
      .select(col(idCol).as("vec_id"), col(byCol).as("_by"),
        expr(s"transform($vecCol, x -> cast(x as double))").as("e"),
        (col(idCol) % 2).as("grp"))
    val cent = v.groupBy("_by", "grp")
      .agg(count(lit(1)).cast("double").as("nd"),
        expr(s"""aggregate(transform(array_sort(collect_list(struct(vec_id, e))), x -> x.e),
               |  transform(sequence(1, $dims), i -> CAST(0.0 AS DOUBLE)),
               |  (acc, x) -> zip_with(acc, x, (a, b) -> a + b))""".stripMargin)
          .as("sarr"))
      .withColumn("c", expr("transform(sarr, x -> x / nd)"))
    val a = cent.filter(col("grp") === 0)
      .select(col("_by"), col("nd").as("na"), col("c").as("ca"))
    val b = cent.filter(col("grp") === 1)
      .select(col("_by"), col("nd").as("nb"), col("c").as("cb"))
    a.join(b, "_by")
      .select(col("_by").cast("int").as(byCol),
        col("na").cast("bigint").as("n_even"),
        col("nb").cast("bigint").as("n_odd"),
        P.r4(dot("ca", "cb") /
          (sqrt(dot("ca", "ca")) * sqrt(dot("cb", "cb")))).as("centroid_cos"))
      .orderBy(byCol)
  }

  /** Per-label norm retention of the first-`dims` prefix:
    * kept = sqrt(||e[1:dims]||² / ||e||²), r4'd per vector; mean via
    * the vec_pq_mse ordered fold, plus the min. `dims` = the vector
    * width makes kept exactly 1.0 for every row (AnnSpec's boundary
    * assertion on the machinery). */
  def truncateRenormOf(df: DataFrame, idCol: String, byCol: String,
                       vecCol: String, dims: Int): DataFrame = {
    require(dims >= 1, s"dims must be positive, got $dims")
    ident(idCol); ident(byCol); ident(vecCol)
    val t = df
      .select(col(idCol), col(byCol),
        expr(s"transform($vecCol, x -> cast(x as double))").as("e"))
      .withColumn("ep", expr(s"slice(e, 1, $dims)"))
      .select(col(idCol), col(byCol),
        P.r4(sqrt(dot("ep", "ep") / dot("e", "e"))).as("kept"))
    t.groupBy(byCol)
      .agg(count(lit(1)).as("n"),
        expr(s"""aggregate(transform(array_sort(collect_list(named_struct('i', $idCol, 'q', kept))),
          |  x -> x.q), 0D, (acc, x) -> acc + x)""".stripMargin).as("sum_kept"),
        min(col("kept")).as("min_kept"))
      .select(col(byCol).cast("int").as(byCol), col("n"),
        P.r4(col("sum_kept") / col("n")).as("mean_kept"), col("min_kept"))
      .orderBy(byCol)
  }

  /** Recall@10 of the first-`dims`-prefix cosine ranking vs the
    * full-width ground truth over the qid < 5 query panel — ONE scored
    * frame carries both cosines (the sim_recall_report device).
    * `dims` = the vector width makes the two rankings identical, so
    * recall is exactly 1.0 per query (AnnSpec's boundary assertion). */
  def truncatedRecallOf(df: DataFrame, idCol: String, vecCol: String,
                        dims: Int): DataFrame = {
    require(dims >= 1, s"dims must be positive, got $dims")
    ident(idCol); ident(vecCol)
    val v = df
      .select(col(idCol).as("vec_id"),
        expr(s"transform($vecCol, x -> cast(x as double))").as("e"))
      .withColumn("ep", expr(s"slice(e, 1, $dims)"))
      // cosine contract: zero vectors excluded — INCLUDING a zero
      // truncation prefix (nonzero tail, zero head would still divide
      // by the truncated norm)
      .filter(nonZeroVec("e") && nonZeroVec("ep"))
    val q = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("ep").as("qep"))
    val scored = v.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        P.r4(dot("e", "qe") /
          (sqrt(dot("e", "e")) * sqrt(dot("qe", "qe")))).as("cos_full"),
        P.r4(dot("ep", "qep") /
          (sqrt(dot("ep", "ep")) * sqrt(dot("qep", "qep")))).as("cos_t"))
    recallTail(scored, "cos_t")
  }

  /** The standard recall@10 tail over a scored panel frame (qid,
    * vec_id, cos_full, `approxCol`): rank both columns with the
    * r4-score + vec_id tie-break, count the overlap. */
  private def recallTail(scored: DataFrame, approxCol: String): DataFrame = {
    val byFull = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(desc("cos_full"), col("vec_id"))
    val byA = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(desc(approxCol), col("vec_id"))
    val exact = scored
      .withColumn("rk", row_number().over(byFull)).filter(col("rk") <= 10)
      .select(col("qid"), col("vec_id"))
    val approx = scored
      .withColumn("rk", row_number().over(byA)).filter(col("rk") <= 10)
      .select(col("qid"), col("vec_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("qid", "vec_id"), "left")
      .groupBy("qid")
      .agg(count(lit(1)).as("k"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"),
        P.r4(sum(coalesce(col("hit"), lit(0L))).cast("double") /
          count(lit(1)).cast("double")).as("recall"))
      .orderBy("qid")
  }
}
