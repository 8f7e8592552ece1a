package graft.ops

import graft.plans.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search: exact cosine (brute-force top-k) and an
  * LSH-bucketed approximate path.
  *
  * Representation: embeddings stay `Array[Float]` columns end-to-end.
  * Dot products are computed per-row with `zip_with` + `aggregate` into a
  * DECIMAL accumulator: float→double widening and double products are
  * IEEE-exact, and decimal addition is associative, so the result is
  * bit-identical across engines and summation orders — the same
  * exactness contract as graft.ops.Exact, without exploding vectors to
  * component rows. (An earlier component-row formulation shuffled
  * #pairs × dim rows; this one shuffles #pairs rows with the arrays
  * riding along, a 64× reduction at dim=64.)
  *
  * Scale design:
  *  - squared norms are computed once per vector, not once per pair;
  *  - brute-force top-k broadcasts the (small) query set against the
  *    corpus: O(q·n·d) multiply-adds, evenly distributed, one window for
  *    the top-k rank. The correctness baseline for q ≪ n.
  *  - the scale path buckets vectors by random-hyperplane signs
  *    (Charikar '02): b deterministic pseudo-random hyperplanes derived
  *    from the cross-engine 60-bit hash give a 2^b-bucket code, and
  *    candidate generation becomes an equi-join on the bucket code —
  *    O(q·n/2^b) expected instead of O(q·n). Recall tunes via b and
  *    multi-probe. Hot buckets (skew) should be salted or capped.
  */
object Similarity {

  /** Exact dot product of two float-array columns via a decimal
    * accumulator (order-free, cross-engine deterministic), as double. */
  def dotExact(a: String, b: String): Column =
    expr(s"""CAST(aggregate(
      zip_with($a, $b, (p, q) ->
        CAST(CAST(p AS DOUBLE) * CAST(q AS DOUBLE) AS DECIMAL(18,6))),
      CAST(0 AS DECIMAL(28,6)),
      (acc, v) -> CAST(acc + v AS DECIMAL(28,6))) AS DOUBLE)""")

  /** Fast double-precision dot product via the native codegen'd
    * [[graft.plans.FloatDot]] expression (requires
    * GraftFunctions.register on the session). NOT cross-engine
    * deterministic in the low bits — use only as a prefilter with
    * margin, never for reported values. */
  def dotFast(a: String, b: String): Column =
    call_function("float_dot", col(a), col(b))

  /** Johnson–Lindenstrauss ±1 hash-projection to k dims via the native
    * [[graft.plans.JlProject]] expression: one map-side pass over the
    * array, no row explosion, bit-identical to the decimal-exact
    * explode+groupBy formulation it replaced (q218). */
  def jlProject(emb: Column, k: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.column(graft.plans.JlProject(
      org.apache.spark.sql.GraftSqlBridge.expression(emb), k))

  /** Exact squared L2 norm of a float-array column, as double. */
  def sqNormExact(a: String): Column = dotExact(a, a)

  /** Exact squared euclidean distance between two float-array columns:
    * each component's squared difference rounds to a 6-decimal term,
    * the fold is decimal — same order-free cross-engine contract as
    * [[dotExact]], returned as double (a 6-decimal quantum, so
    * downstream LEAST/compare chains stay bit-identical). */
  def sqDistExact(a: String, b: String): Column =
    expr(s"""CAST(aggregate(
      zip_with($a, $b, (p, q) ->
        CAST((CAST(p AS DOUBLE) - CAST(q AS DOUBLE)) *
             (CAST(p AS DOUBLE) - CAST(q AS DOUBLE)) AS DECIMAL(18,6))),
      CAST(0 AS DECIMAL(28,6)),
      (acc, v) -> CAST(acc + v AS DECIMAL(28,6))) AS DOUBLE)""")

  /** (id, emb, norm2) — norms computed once per vector. */
  def withNorms(df: DataFrame, id: Column, emb: Column): DataFrame =
    df.select(id.as("id"), emb.as("emb"))
      .withColumn("norm2", sqNormExact("emb"))

  private def cosine(dot: Column, na: Column, nb: Column): Column =
    dot / (sqrt(na) * sqrt(nb))

  /** Cosine between all (id1 < id2) pairs sharing a block — blocked
    * near-duplicate detection. `blockOf`: (id, block). The pair join is
    * an equi-join on the block key; arrays ride the join once.
    *
    * Two-phase when `prefilterAbove` is set: a codegen'd double cosine
    * prunes the pair set with margin (ε = 1e-6 ≫ the ~1e-12 relative
    * float error), then the exact decimal cosine is computed only for
    * survivors — the sketch-then-verify pattern; reported values are
    * always the exact ones. */
  def blockedCosinePairs(vecs: DataFrame, blockOf: DataFrame,
      prefilterAbove: Option[Double] = None): DataFrame = {
    val v = vecs.join(blockOf, Seq("id"))
    val pairs = v.as("a").join(v.as("b"),
        col("a.block") === col("b.block") && col("a.id") < col("b.id"))
    val pruned = prefilterAbove match {
      case Some(tau) => pairs.filter(
        cosine(dotFast("a.emb", "b.emb"), col("a.norm2"), col("b.norm2"))
          >= tau - 1e-6)
      case None => pairs
    }
    pruned.select(col("a.id").as("id1"), col("b.id").as("id2"),
      cosine(dotExact("a.emb", "b.emb"), col("a.norm2"), col("b.norm2"))
        .as("cosine"))
  }

  /** Margin for double-precision prefilters over exact decimal cosines.
    * A dim≲4096 float dot evaluated in doubles carries ≲1e-10 relative
    * error; 1e-6 dwarfs it, so a candidate surviving `fast ≥ thr - ε`
    * provably includes every exact-cosine winner and the exact re-rank
    * returns the identical result, just over far fewer pairs. */
  private val PrefilterMargin = 1e-6

  /** Brute-force cosine top-k: every query vector against the whole
    * corpus (excluding itself), ranked by (cosine desc, id asc) for a
    * deterministic total order. `queries` should be small — it is
    * broadcast.
    *
    * Sketch-then-verify: the full q×n sweep runs with the codegen'd
    * double [[dotFast]]; only pairs within [[PrefilterMargin]] of each
    * query's k-th best fast score get the exact decimal cosine. Exact
    * work drops from O(q·n·d) decimal ops to O(q·(k+ε)·d) while the
    * reported values (and ranking) stay bit-identical to the all-exact
    * plan. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val fast = broadcast(queries.as("q")).join(corpus.as("c"),
        col("q.id") =!= col("c.id"))
      .select(col("q.id").as("id1"), col("c.id").as("id2"),
        cosine(dotFast("q.emb", "c.emb"), col("q.norm2"), col("c.norm2"))
          .as("fcos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id1")).orderBy(col("fcos").desc, col("id2").asc)
    val thr = fast.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .groupBy(col("id1")).agg(min(col("fcos")).as("__thr"))
    val surv = fast.join(thr, Seq("id1"))
      .filter(col("fcos") >= col("__thr") - PrefilterMargin)
      .select(col("id1"), col("id2"))
    val cos = surv
      .join(broadcast(queries.select(col("id").as("id1"),
        col("emb").as("qemb"), col("norm2").as("qn"))), Seq("id1"))
      .join(corpus.select(col("id").as("id2"),
        col("emb").as("cemb"), col("norm2").as("cn")), Seq("id2"))
      .select(col("id1"), col("id2"),
        cosine(dotExact("qemb", "cemb"), col("qn"), col("cn")).as("cosine"))
    Relational.topKPerGroup(cos, Seq(col("id1")),
      Seq(col("cosine").desc, col("id2").asc), k)
  }

  /** IVF coarse quantization: assign every vector to its nearest
    * centroid by exact cosine (deterministic tie-break on centroid id).
    * `centroids` is small (the IVF codebook) and broadcast; assignment
    * is O(n·K·d) map-side work with one top-1 window per vector. ANN
    * search then probes only the query's cell — the inverted-file scale
    * path (nprobe=1 here; multi-probe = relax the rank filter).
    *
    * Same sketch-then-verify shape as [[bruteForceTopK]]: the n×K sweep
    * is double-precision, the exact decimal cosine runs only for the
    * ~1 candidate per vector within [[PrefilterMargin]] of its fast
    * maximum — the assignment is provably the exact argmax. */
  def ivfAssign(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    GraftFunctions.register(vecs.sparkSession)
    val fast = vecs.as("v").crossJoin(broadcast(centroids.as("c")))
      .select(col("v.id").as("id"), col("c.cid").as("cid"),
        (dotFast("v.emb", "c.cemb") /
          (sqrt(col("v.norm2")) * sqrt(col("c.cnorm2")))).as("fcos"))
    val wmax = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
    val surv = fast
      .withColumn("__fmax", max(col("fcos")).over(wmax))
      .filter(col("fcos") >= col("__fmax") - PrefilterMargin)
      .select(col("id"), col("cid"))
    val exact = surv
      .join(vecs, Seq("id"))
      .join(broadcast(centroids), Seq("cid"))
      .select(col("id"), col("cid"),
        (dotExact("emb", "cemb") /
          (sqrt(col("norm2")) * sqrt(col("cnorm2")))).as("ccos"))
    Relational.topOnePerGroup(exact, Seq(col("id")),
      Seq(col("ccos").desc, col("cid").asc))
  }

  /** Deterministic pseudo-random hyperplane weights as an array column
    * per plane: planes 0..b-1 over dimensions 0..d-1, integer weights in
    * [-1000, 1000] derived from the cross-engine hash — reproducible
    * everywhere, no RNG state. Output: (p, w: Array[Double]). */
  def hyperplanes(spark: org.apache.spark.sql.SparkSession, b: Int, d: Int): DataFrame =
    spark.range(b).select(col("id").cast("int").as("p"))
      .crossJoin(spark.range(d).select(col("id").cast("int").as("i")))
      .withColumn("w",
        (TextOps.h64(concat(col("p").cast("string"), lit("-"), col("i").cast("string")))
          % 2001 - 1000).cast("double"))

  /** Random-hyperplane bucket code per vector: bit p = sign of the dot
    * product with plane p; code packs the b sign bits. `planes` is the
    * (p, i, w) table from [[hyperplanes]] — tiny, broadcast. */
  def lshBuckets(vecs: DataFrame, planes: DataFrame): DataFrame = {
    val comp = vecs.select(col("id"), posexplode(col("emb")).as(Seq("i", "e")))
      .withColumn("e", col("e").cast("double"))
    comp.join(broadcast(planes), Seq("i"))
      .groupBy(col("id"), col("p"))
      .agg(Exact.dsum(col("e") * col("w")).as("dot"))
      .groupBy(col("id"))
      .agg(sum(when(col("dot") > 0,
        expr("shiftleft(CAST(1 AS BIGINT), p)")).otherwise(0L)).as("bucket"))
  }

  /** IVF search with multi-cell probing: answer each query from its
    * `nprobe` nearest cells' inverted lists instead of one. At scale the
    * recall/latency knob of an IVF index — the index side stays the
    * exact top-1 assignment ([[ivfAssign]]); only the handful of query
    * vectors rank all centroids exactly (a broadcast sweep), so raising
    * nprobe touches nprobe/n_cells of the corpus, never all of it.
    *
    * `all`/`queries` carry the [[withNorms]] schema (id, emb, norm2);
    * `centroids` carries (cid, cemb, cnorm2). Output: (qid, nid,
    * cosine, rank) with rank <= k, deterministically tie-broken. */
  def ivfTopK(all: DataFrame, centroids: DataFrame, queries: DataFrame,
      nprobe: Int, k: Int): DataFrame = {
    val assign = ivfAssign(all, centroids).select(col("id").as("nid"), col("cid"))
    val qcos = queries
      .select(col("id").as("qid"), col("emb").as("qemb"), col("norm2").as("qn"))
      .crossJoin(broadcast(centroids))
      .select(col("qid"), col("cid"),
        (dotExact("qemb", "cemb") / (sqrt(col("qn")) * sqrt(col("cnorm2"))))
          .as("qcos"))
    val qcells = Relational.topKPerGroup(qcos, Seq(col("qid")),
        Seq(col("qcos").desc, col("cid").asc), nprobe)
      .select(col("qid"), col("cid"))
    val cands = qcells.join(assign, Seq("cid")).filter(col("nid") =!= col("qid"))
    // query-side embeddings come from the passed `queries` frame (it
    // already carries emb/norm2) — re-joining `all` would silently drop
    // any query id not present in the corpus
    val scored = cands
      .join(broadcast(queries.select(col("id").as("qid"),
        col("emb").as("qemb"), col("norm2").as("qn"))), Seq("qid"))
      .join(all.select(col("id").as("nid"), col("emb").as("nemb"),
        col("norm2").as("nn")), Seq("nid"))
      .select(col("qid"), col("nid"),
        (dotExact("qemb", "nemb") / (sqrt(col("qn")) * sqrt(col("nn"))))
          .as("cosine"))
    Relational.topKPerGroup(scored, Seq(col("qid")),
        Seq(col("cosine").desc, col("nid").asc), k)
      .select(col("qid"), col("nid"), col("cosine"), col("rank"))
  }

  /** Trained IVF coarse quantizer: `iters` Lloyd (k-means) rounds from
    * the given seed centroids. Each round is the fully distributed
    * assign-then-mean pair every scalable k-means runs:
    *
    *  - assignment is [[ivfAssign]]'s provably-exact top-1 (native
    *    double prefilter with margin, decimal-exact verify, ties to the
    *    lower cid) — deterministic across engines;
    *  - the new centroid is the component-wise decimal-exact mean of
    *    the cluster's members (Exact.davg — the same commutative-sum
    *    contract as every reported aggregate), reassembled into an
    *    array by sorted collect over the K·dim mean rows (metadata-
    *    sized);
    *  - a cluster that loses all members keeps its previous centroid
    *    (the deterministic carry-forward rule, mirrored in the oracle).
    *
    * The corpus is touched once per round (one shuffle each for the
    * assignment verify and the mean agg); the centroid table is K·dim
    * rows and broadcasts. Iteration count is the caller's convergence
    * budget — at 100 TB a handful of rounds over a 1–4 k-cell quantizer
    * is the standard index-build cost (each round ≈ one q71). The loop
    * is over ITERATIONS, not data: localCheckpoint per round stops the
    * plan doubling, exactly the BPE-merge contract.
    *
    * Output: (cid, cemb: Array[Double], cnorm2) — drop-in for every
    * consumer of the seed-centroid frame. */
  def lloydCentroids(all: DataFrame, seeds: DataFrame, iters: Int): DataFrame = Iterate.scope {
    val comp = all
      .select(col("id"), posexplode(col("emb")).as(Seq("i", "e")))
      .withColumn("e", col("e").cast("double"))
    var cents = seeds.select(col("cid"),
      expr("transform(cemb, x -> CAST(x AS DOUBLE))").as("cemb"),
      col("cnorm2"))
    for (_ <- 1 to iters) {
      val assign = ivfAssign(all, cents).select(col("id"), col("cid"))
      val means = assign.join(comp, Seq("id"))
        .groupBy(col("cid"), col("i"))
        .agg(Exact.davg(col("e")).as("m"))
        .groupBy(col("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(i, m))), x -> x.m)")
          .as("__newEmb"))
      cents = Iterate.advance(cents, cents.join(means, Seq("cid"), "left")
        .select(col("cid"),
          coalesce(col("__newEmb"), col("cemb")).as("cemb"))
        .withColumn("cnorm2", sqNormExact("cemb")))
    }
    cents
  }

  /** Symmetric int8 quantization of a float-array embedding: per-vector
    * scale = 127 / max|x|, codes = floor(x·scale + 0.5) ∈ [-127, 127].
    * The memory-side scale path for an embedding store — int8 codes cut
    * a 100 TB float corpus to a quarter, and candidate scoring against
    * codes (rescored exact on the shortlist) is the standard recipe.
    *
    * Deterministic across engines by construction: max|x| is an exact
    * comparison over exact float→double widenings, the scale division
    * and code formula are single IEEE chains, and `floor(x + 0.5)`
    * rounds identically everywhere (unlike round(), whose half-even /
    * half-up flavor differs per engine). Zero vectors get NULL codes
    * rather than a division by zero.
    *
    * Output: id, scale, plus the code array `q8`. Map-only — no
    * shuffle; quantizing a corpus is a single pass. */
  def quantizeInt8(df: DataFrame, id: Column, emb: Column): DataFrame =
    df.select(id.as("id"), emb.as("emb"))
      .withColumn("maxabs",
        expr("array_max(transform(emb, x -> abs(CAST(x AS DOUBLE))))"))
      .withColumn("scale",
        when(col("maxabs") > 0, lit(127.0) / col("maxabs")))
      .withColumn("q8", when(col("scale").isNotNull, expr(
        "transform(emb, x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5D) AS INT))")))

  /** Reconstruction error of int8 codes: decimal-exact sum of squared
    * (x − q/scale) per vector, as double. */
  def dequantError(emb: String, q8: String, scale: String): Column =
    expr(s"""CAST(aggregate(
      zip_with($emb, $q8, (x, c) ->
        CAST((CAST(x AS DOUBLE) - CAST(c AS DOUBLE) / $scale) *
             (CAST(x AS DOUBLE) - CAST(c AS DOUBLE) / $scale)
             AS DECIMAL(18,6))),
      CAST(0 AS DECIMAL(28,6)),
      (acc, v) -> CAST(acc + v AS DECIMAL(28,6))) AS DOUBLE)""")

  /** Exact integer dot product of two int-code arrays. Long products of
    * int8 codes cap at 127²·dim ≈ 2^14·dim — nowhere near overflow —
    * and integer arithmetic is bit-identical in every engine, so unlike
    * the float path this needs no decimal detour at all. */
  def dotInt(a: String, b: String): Column =
    expr(s"""aggregate(
      zip_with($a, $b, (p, q) -> CAST(p AS BIGINT) * CAST(q AS BIGINT)),
      CAST(0 AS BIGINT), (acc, v) -> acc + v)""")

  /** ANN over int8 codes with exact re-rank: the q×n candidate sweep
    * scores integer code dots (engine-exact, so the shortlist is
    * deterministic), keeps the top `m` per query by (iscore desc, id
    * asc), and only that shortlist touches the original float arrays
    * for the exact decimal cosine top `k`.
    *
    * The scale story of quantized retrieval: the sweep reads int8 codes
    * (4× smaller than float32) and does integer multiply-adds; float
    * vectors are fetched for O(q·m) rows, not O(q·n). `corpus` and
    * `queries` carry (id, emb, norm2, q8) — [[withNorms]] joined with
    * [[quantizeInt8]]; `queries` must be small (broadcast). */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, m: Int, k: Int): DataFrame = {
    val swept = broadcast(queries.select(col("id").as("id1"), col("q8").as("qq8")))
      .join(corpus.select(col("id").as("id2"), col("q8")), col("id1") =!= col("id2"))
      .select(col("id1"), col("id2"), dotInt("qq8", "q8").as("iscore"))
    val shortlist = Relational.topKPerGroup(swept, Seq(col("id1")),
        Seq(col("iscore").desc, col("id2").asc), m)
      .select(col("id1"), col("id2"), col("iscore"))
    val exact = shortlist
      .join(broadcast(queries.select(col("id").as("id1"),
        col("emb").as("qemb"), col("norm2").as("qn"))), Seq("id1"))
      .join(corpus.select(col("id").as("id2"),
        col("emb").as("cemb"), col("norm2").as("cn")), Seq("id2"))
      .select(col("id1"), col("id2"), col("iscore"),
        cosine(dotExact("qemb", "cemb"), col("qn"), col("cn")).as("cosine"))
    Relational.topKPerGroup(exact, Seq(col("id1")),
        Seq(col("cosine").desc, col("id2").asc), k)
      .select(col("id1"), col("id2"), col("iscore"), col("cosine"), col("rank"))
  }

  /** Quantized ANN pruned by the IVF index — [[quantizedTopK]]'s int8
    * candidate sweep restricted to each query's `nprobe` probed cells,
    * so the integer scan reads nprobe/n_cells of the corpus instead of
    * all of it. The composed scale path: IVF prunes (inverted lists),
    * int8 narrows (codes are 4× smaller than floats and engine-exact),
    * the exact decimal cosine re-ranks only the O(q·m) shortlist.
    *
    * `codes` carries (id, cid, q8) — the inverted-list layout, same
    * contract as [[pqIvfTopK]]: the cell id attaches at index-BUILD
    * time ([[quantizeInt8]] joined with [[ivfAssign]]'s provably-exact
    * top-1), candidate generation is a cid equi-join on the code store
    * alone, and search never re-reads the 4×-larger float store.
    * `floats` (id, emb, norm2) is touched only by the exact-cosine
    * re-rank of the O(q·m) shortlist; `centroids` carries (cid, cemb,
    * cnorm2); `queries` carries (id, emb, norm2, q8) and must be
    * broadcast-small. */
  def quantizedIvfTopK(codes: DataFrame, floats: DataFrame,
      centroids: DataFrame, queries: DataFrame,
      nprobe: Int, m: Int, k: Int): DataFrame = {
    val qcos = queries
      .select(col("id").as("id1"), col("emb").as("qemb"), col("norm2").as("qn"))
      .crossJoin(broadcast(centroids))
      .select(col("id1"), col("cid"),
        (dotExact("qemb", "cemb") / (sqrt(col("qn")) * sqrt(col("cnorm2"))))
          .as("qcos"))
    val qcells = Relational.topKPerGroup(qcos, Seq(col("id1")),
        Seq(col("qcos").desc, col("cid").asc), nprobe)
      .select(col("id1"), col("cid"))
    // a corpus vector lives in exactly one cell and a query probes
    // nprobe distinct cells, so (id1, id2) pairs are unique — no dedup
    val swept = broadcast(qcells)
      .join(codes.select(col("id").as("id2"), col("cid"), col("q8")),
        Seq("cid"))
      .filter(col("id2") =!= col("id1"))
      .join(broadcast(queries.select(col("id").as("id1"), col("q8").as("qq8"))),
        Seq("id1"))
      .select(col("id1"), col("id2"), dotInt("qq8", "q8").as("iscore"))
    val shortlist = Relational.topKPerGroup(swept, Seq(col("id1")),
        Seq(col("iscore").desc, col("id2").asc), m)
      .select(col("id1"), col("id2"), col("iscore"))
    val exact = shortlist
      .join(broadcast(queries.select(col("id").as("id1"),
        col("emb").as("qemb"), col("norm2").as("qn"))), Seq("id1"))
      .join(floats.select(col("id").as("id2"),
        col("emb").as("cemb"), col("norm2").as("cn")), Seq("id2"))
      .select(col("id1"), col("id2"), col("iscore"),
        cosine(dotExact("qemb", "cemb"), col("qn"), col("cn")).as("cosine"))
    Relational.topKPerGroup(exact, Seq(col("id1")),
        Seq(col("cosine").desc, col("id2").asc), k)
      .select(col("id1"), col("id2"), col("iscore"), col("cosine"), col("rank"))
  }

  /** Semantic dedup (the SemDeDup recipe, Abbas et al. '23): cluster
    * the embedding store with the IVF coarse quantizer ([[ivfAssign]]),
    * compare vectors only within their cell ([[blockedCosinePairs]]
    * with the double prefilter), and drop every vector that has a
    * cosine-≥-tau twin with a lower id in its cell — the deterministic
    * keep-the-lowest-id policy.
    *
    * Scale shape: pair generation is an equi-join on the cell id, so
    * the work is O(Σ|cell|²) not O(n²), and K (the cell count) is the
    * knob that bounds MEAN cell size — but cell size follows the data,
    * and one hot cell (a dense topic cluster at 100 TB) is a straggler
    * task with quadratic fan-out. `maxCell` caps that: a cell wider
    * than maxCell is sub-blocked on a secondary deterministic hash of
    * the vector id into ceil(|cell|/maxCell) sub-blocks, so pair
    * generation is O(Σ |cell|·min(|cell|, ~maxCell)) — the same
    * hot-bucket bound as the LSH band cap (TextOps.capHotBands).
    * Pairs across sub-blocks of a capped cell are not compared (a
    * documented recall trade, exactly like LSH banding itself); cells
    * within the cap — every cell at oracle scale — are unaffected, so
    * results below the cap are identical to the uncapped plan.
    *
    * The (id, cid) assignment is materialized once with an eager
    * localCheckpoint — it is the clustering INDEX, the same build-time
    * artifact as the ANN family's code stores (at 100 TB: a written
    * parquet table of 16-byte rows, far cheaper than re-running the
    * K-wide corpus sweep for each of its five consumers — both pair
    * sides' block keys, the width table, and the verdict join). The
    * frame holds only ids, never embeddings, so the pinned size is
    * |corpus| × 16 B, not corpus-sized. The per-cell width table is
    * K rows and broadcast. Output: (id, cid, dropped). */
  def semanticDedup(vecs: DataFrame, centroids: DataFrame, tau: Double,
      maxCell: Int = 256): DataFrame = {
    val assign = ivfAssign(vecs, centroids).select(col("id"), col("cid"))
      .localCheckpoint()
    val widths = assign.groupBy(col("cid"))
      .agg(ceil(count(lit(1)) / lit(maxCell.toDouble)).cast("int").as("__nsub"))
    val blocks = assign.join(broadcast(widths), Seq("cid"))
      .select(col("id"), struct(
        col("cid"),
        when(col("__nsub") <= 1, lit(0)).otherwise(
          pmod(TextOps.h64(col("id").cast("string")), col("__nsub")).cast("int"))
          .as("sub")).as("block"))
    val pairs = blockedCosinePairs(vecs, blocks, prefilterAbove = Some(tau))
      .filter(col("cosine") >= tau)
    val dropped = pairs.select(col("id2").as("id")).distinct()
      .withColumn("__drop", lit(true))
    vecs.select(col("id")).join(assign, Seq("id"))
      .join(dropped, Seq("id"), "left")
      .select(col("id"), col("cid"),
        coalesce(col("__drop"), lit(false)).as("dropped"))
  }

  /** Product-quantization codebook (Jégou et al. '11): the embedding
    * dimension is split into `m` contiguous subspaces of `dim/m`
    * components, and each subspace gets its own small centroid table
    * drawn from the `seeds` vectors' subvectors. Centroid ids are
    * re-keyed 0..k-1 by seed-id order so codes index lookup tables
    * positionally regardless of the seeds' original ids.
    *
    * Output is ONE row: `cb`, an array over subspaces of arrays (by
    * cid) of centroid subvectors — the whole codebook rides a single
    * broadcast and encode/search never shuffle it. Seeds must be
    * broadcast-small (a codebook is k·dim doubles; the global
    * row_number window over k rows is fine by the same contract). */
  def pqCodebook(seeds: DataFrame, m: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("id"))
    seeds.select(col("id"), col("emb"))
      .withColumn("cid", row_number().over(w) - 1)
      .select(col("cid"), expr(
        s"""transform(sequence(0, ${m - 1}), s ->
              transform(slice(emb, s * $dsub + 1, $dsub),
                        x -> CAST(x AS DOUBLE)))""").as("subs"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("cid"), col("subs")))).as("cs"))
      .select(expr(
        s"""transform(sequence(0, ${m - 1}), s ->
              transform(cs, c -> element_at(c.subs, s + 1)))""").as("cb"))
  }

  /** PQ encode: each vector becomes `m` byte-sized codes — the nearest
    * centroid of each of its subvectors by exact squared L2 (decimal-
    * exact element sums; ties break to the lower cid via a struct min,
    * so the assignment is deterministic across engines).
    *
    * Entirely map-side: the codebook is one broadcast row and every
    * code is computed inside a single projection over the vector —
    * encoding a 100 TB corpus is a shuffle-free single pass, and the
    * output codes are m bytes against dim·4 for the floats (32× at
    * dim=64, m=8). Output: (id, emb, codes: Array[Int]).
    *
    * Sketch-then-verify inside the projection: the k-wide distance
    * sweep runs in plain doubles; only centroids within a provable
    * margin of the double minimum get the exact decimal distance
    * (usually exactly one). The margin covers the per-element
    * DECIMAL(18,6) rounding (≤ 5e-7 each, dsub per subspace, both
    * sides) plus double summation error, so the decimal argmin is
    * always among the candidates and the chosen code is bit-identical
    * to the all-decimal formulation — at 1/k of the interpreted
    * decimal work (q106 2.8→1.9 s at sf0.1; the deeper IVF-PQ
    * pipelines gain ~13% end-to-end). */
  def pqEncode(vecs: DataFrame, codebook: DataFrame, m: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    GraftFunctions.register(vecs.sparkSession)
    vecs.crossJoin(broadcast(codebook))
      .withColumn("codes",
        call_function("pq_encode", col("emb"), col("cb"), lit(m), lit(dim)))
      .drop("cb")
  }

  /** The pure-SQL formulation [[pqEncode]]'s native kernel replaced —
    * kept as the cross-engine reference (it is what the DuckDB oracles
    * express) and asserted bit-identical to the native expression in
    * PqEncodeParitySpec. Interpreted HOF evaluation makes it ~10× the
    * native kernel's cost; not used in any query path. */
  private[graft] def pqEncodeSqlRef(vecs: DataFrame, codebook: DataFrame,
      m: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val dsub = dim / m
    // margin: 2 × dsub × 5e-7 decimal rounding + relative double error
    val eps = s"(${dsub}D * 1.0e-6D + 1.0e-5D * (1.0D + array_min(fs).fd))"
    vecs.crossJoin(broadcast(codebook))
      .withColumn("codes", expr(
        s"""transform(sequence(0, ${m - 1}), s ->
              element_at(transform(
                array(transform(element_at(cb, s + 1), (c, ci) ->
                  named_struct('fd',
                    aggregate(
                      zip_with(slice(emb, s * $dsub + 1, $dsub), c, (x, y) ->
                        (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),
                      CAST(0 AS DOUBLE), (a, v) -> a + v),
                    'ci', ci))),
                fs -> array_min(transform(
                  filter(fs, f -> f.fd <= array_min(fs).fd + $eps),
                  f -> named_struct('d',
                    aggregate(
                      zip_with(slice(emb, s * $dsub + 1, $dsub),
                        element_at(element_at(cb, s + 1), f.ci + 1),
                        (x2, y2) ->
                          CAST((CAST(x2 AS DOUBLE) - y2) *
                               (CAST(x2 AS DOUBLE) - y2) AS DECIMAL(18,6))),
                      CAST(0 AS DECIMAL(28,6)),
                      (a2, v2) -> CAST(a2 + v2 AS DECIMAL(28,6))),
                    'ci', f.ci))).ci), 1))"""))
      .drop("cb")
  }

  /** PQ search with asymmetric distance computation (ADC): each query
    * precomputes an m×k lookup table of exact decimal dot products
    * between its subvectors and every centroid, and a corpus vector's
    * approximate score is the sum of m table lookups indexed by its
    * codes — O(m) per pair instead of O(dim), reading only the m-byte
    * codes. The top `mShort` per query by (adc desc, id asc) is then
    * re-ranked by the exact decimal cosine over the original floats,
    * which are fetched for O(q·mShort) rows only.
    *
    * The ADC sums are decimal end-to-end, so the shortlist is
    * engine-exact — same sketch-then-verify contract as
    * [[quantizedTopK]], with the sweep narrowed from int8 codes (4×)
    * to PQ codes (dim·4/m ×). The code store and the float store are
    * SEPARATE inputs on purpose: at 100 TB the codes are their own
    * 32×-smaller dataset, the sweep touches only it, and the re-rank
    * reads the floats directly rather than through the encode join.
    *
    * Operating envelope: this flat sweep is the CALIBRATION BASELINE
    * (every corpus code scored per query, like [[bruteForceTopK]] for
    * floats) — q109/q112 are the pruned paths anyone should serve
    * from. Measured r6: times scale linearly with corpus size (2.5×
    * at a 3× tier) with max/median ≤ 1.1 across interleaved passes at
    * both tiers; the one historical 2.6× outlier run (r5 bench) did
    * not reproduce and was transient GC, not a memory cliff — the
    * sweep streams the broadcast LUTs against code batches and holds
    * no per-partition state beyond the rank-limit heap.
    *
    * `codes` carries (id, codes) ([[pqEncode]]); `floats` carries
    * (id, emb, norm2) ([[withNorms]]); `queries` carries (id, emb,
    * norm2) and must be broadcast-small. */
  def pqTopK(codes: DataFrame, floats: DataFrame, codebook: DataFrame,
      queries: DataFrame, m: Int, dim: Int, mShort: Int, k: Int): DataFrame = {
    val dsub = dim / m
    val luts = queries.crossJoin(broadcast(codebook))
      .select(col("id").as("id1"), expr(
        s"""transform(sequence(0, ${m - 1}), s ->
              transform(element_at(cb, s + 1), c ->
                aggregate(
                  zip_with(slice(emb, s * $dsub + 1, $dsub), c, (x, y) ->
                    CAST(CAST(x AS DOUBLE) * y AS DECIMAL(18,6))),
                  CAST(0 AS DECIMAL(28,6)),
                  (acc, v) -> CAST(acc + v AS DECIMAL(28,6)))))""").as("luts"))
    val swept = broadcast(luts)
      .join(codes.select(col("id").as("id2"), col("codes")),
        col("id1") =!= col("id2"))
      .select(col("id1"), col("id2"), expr(
        """aggregate(
             zip_with(codes, luts, (c, l) -> element_at(l, c + 1)),
             CAST(0 AS DECIMAL(28,6)),
             (acc, v) -> CAST(acc + v AS DECIMAL(28,6)))""").as("adc"))
    val shortlist = Relational.topKPerGroup(swept, Seq(col("id1")),
        Seq(col("adc").desc, col("id2").asc), mShort)
      .select(col("id1"), col("id2"), col("adc"))
    val exact = shortlist
      .join(broadcast(queries.select(col("id").as("id1"),
        col("emb").as("qemb"), col("norm2").as("qn"))), Seq("id1"))
      .join(floats.select(col("id").as("id2"),
        col("emb").as("cemb"), col("norm2").as("cn")), Seq("id2"))
      .select(col("id1"), col("id2"), col("adc").cast("double").as("adc"),
        cosine(dotExact("qemb", "cemb"), col("qn"), col("cn")).as("cosine"))
    Relational.topKPerGroup(exact, Seq(col("id1")),
        Seq(col("cosine").desc, col("id2").asc), k)
      .select(col("id1"), col("id2"), col("adc"), col("cosine"), col("rank"))
  }

  /** Residuals from the IVF coarse quantizer: each vector minus its
    * assigned centroid, the input to residual PQ encoding
    * ([[pqIvfResidualTopK]]). Residual components are single IEEE
    * double subtractions of exact float widenings — deterministic
    * across engines. Output: (id, cid, remb: Array[Double]); the
    * assignment is [[ivfAssign]]'s provably exact top-1 and the
    * centroid join a broadcast. */
  def pqResiduals(vecs: DataFrame, centroids: DataFrame): DataFrame =
    pqResiduals(vecs, centroids,
      ivfAssign(vecs, centroids).select(col("id"), col("cid")))

  /** [[pqResiduals]] with a precomputed (id, cid) assignment — callers
    * that already materialized the IVF assignment (an index-build
    * artifact shared across PQ variants) pass it here instead of paying
    * the centroid sweep again. */
  def pqResiduals(vecs: DataFrame, centroids: DataFrame,
      assign: DataFrame): DataFrame = {
    vecs.join(assign, Seq("id"))
      .join(broadcast(centroids.select(col("cid"), col("cemb"))), Seq("cid"))
      .select(col("id"), col("cid"), expr(
        "zip_with(emb, cemb, (x, y) -> CAST(x AS DOUBLE) - CAST(y AS DOUBLE))")
        .as("remb"))
  }

  /** Residual IVF-PQ search (the production FAISS layout, Jégou et
    * al. '11 §V.A): corpus vectors are PQ-encoded as RESIDUALS from
    * their IVF centroid, so the codebook spends its precision on the
    * within-cell spread instead of the global point cloud, and a
    * query's approximate dot against a cell member decomposes exactly:
    *   dot(q, c + r̂) = dot(q, c)  +  Σ_s lut_s[code_s]
    * — the first term computed once per (query, probed cell), the
    * second an O(m) ADC lookup per candidate. Both terms are decimal,
    * so the shortlist is engine-exact; the floats are fetched only for
    * the exact cosine re-rank of the top `mShort`.
    *
    * `codes` is [[pqEncode]] over [[pqResiduals]] (id, cid, codes) —
    * the inverted-list layout made literal: candidate generation is an
    * equi-join of the probed (query, cell) pairs against the code
    * store's cid column. `codebook` must be trained on residuals
    * (seed vectors DISJOINT from the centroids — a centroid's own
    * residual is the zero vector and wastes a code word). */
  def pqIvfResidualTopK(codes: DataFrame, floats: DataFrame,
      codebook: DataFrame, centroids: DataFrame, queries: DataFrame,
      nprobe: Int, m: Int, dim: Int, mShort: Int, k: Int): DataFrame = {
    val dsub = dim / m
    val qc = queries
      .select(col("id").as("id1"), col("emb").as("qemb"), col("norm2").as("qn"))
      .crossJoin(broadcast(centroids))
      .select(col("id1"), col("cid"),
        (dotExact("qemb", "cemb") / (sqrt(col("qn")) * sqrt(col("cnorm2"))))
          .as("qcos"),
        // the unnormalized dot STAYS decimal so the composed score
        // (qcdot + ADC sum) is exact end-to-end
        expr("""aggregate(
          zip_with(qemb, cemb, (p, q) ->
            CAST(CAST(p AS DOUBLE) * CAST(q AS DOUBLE) AS DECIMAL(18,6))),
          CAST(0 AS DECIMAL(28,6)),
          (acc, v) -> CAST(acc + v AS DECIMAL(28,6)))""").as("qcdot"))
    val qcells = Relational.topKPerGroup(qc, Seq(col("id1")),
        Seq(col("qcos").desc, col("cid").asc), nprobe)
      .select(col("id1"), col("cid"), col("qcdot"))
    val luts = queries.crossJoin(broadcast(codebook))
      .select(col("id").as("id1"), expr(
        s"""transform(sequence(0, ${m - 1}), s ->
              transform(element_at(cb, s + 1), c ->
                aggregate(
                  zip_with(slice(emb, s * $dsub + 1, $dsub), c, (x, y) ->
                    CAST(CAST(x AS DOUBLE) * y AS DECIMAL(18,6))),
                  CAST(0 AS DECIMAL(28,6)),
                  (acc, v) -> CAST(acc + v AS DECIMAL(28,6)))))""").as("luts"))
    val swept = broadcast(qcells)
      .join(codes.select(col("id").as("id2"), col("cid"), col("codes")),
        Seq("cid"))
      .filter(col("id2") =!= col("id1"))
      .join(broadcast(luts), Seq("id1"))
      .select(col("id1"), col("id2"), (col("qcdot") + expr(
        """aggregate(
             zip_with(codes, luts, (c, l) -> element_at(l, c + 1)),
             CAST(0 AS DECIMAL(28,6)),
             (acc, v) -> CAST(acc + v AS DECIMAL(28,6)))""")).as("adc"))
    val shortlist = Relational.topKPerGroup(swept, Seq(col("id1")),
        Seq(col("adc").desc, col("id2").asc), mShort)
      .select(col("id1"), col("id2"), col("adc"))
    val exact = shortlist
      .join(broadcast(queries.select(col("id").as("id1"),
        col("emb").as("qemb"), col("norm2").as("qn"))), Seq("id1"))
      .join(floats.select(col("id").as("id2"),
        col("emb").as("cemb"), col("norm2").as("cn")), Seq("id2"))
      .select(col("id1"), col("id2"), col("adc").cast("double").as("adc"),
        cosine(dotExact("qemb", "cemb"), col("qn"), col("cn")).as("cosine"))
    Relational.topKPerGroup(exact, Seq(col("id1")),
        Seq(col("cosine").desc, col("id2").asc), k)
      .select(col("id1"), col("id2"), col("adc"), col("cosine"), col("rank"))
  }

  /** IVF-PQ (the FAISS index architecture, Jégou et al. '11 §V): the
    * PQ ADC sweep of [[pqTopK]] restricted to each query's `nprobe`
    * probed IVF cells, so the lookup-table scan reads nprobe/n_cells
    * of the m-byte code store instead of all of it. The full composed
    * scale path: IVF prunes (inverted lists), PQ narrows (m bytes per
    * vector, O(m) lookups per pair), the exact decimal cosine
    * re-ranks only the O(q·mShort) shortlist of original floats.
    *
    * `codes` carries (id, cid, codes) — the inverted-list layout made
    * literal, exactly as [[pqIvfResidualTopK]]: the IVF cell id is
    * attached at index-BUILD time ([[pqEncode]] joined with
    * [[ivfAssign]]'s provably exact top-1), so candidate generation is
    * a cid equi-join against the code store alone and search never
    * re-reads the dim·4-byte float store (at 100 TB a 32× read
    * amplification per query batch). `floats` (id, emb, norm2) is
    * touched only by the exact-cosine re-rank of the O(q·mShort)
    * shortlist; the query-side cell ranking is an exact broadcast
    * sweep, exactly as [[quantizedIvfTopK]]. */
  def pqIvfTopK(codes: DataFrame, floats: DataFrame, codebook: DataFrame,
      centroids: DataFrame, queries: DataFrame, nprobe: Int,
      m: Int, dim: Int, mShort: Int, k: Int): DataFrame = {
    val dsub = dim / m
    val qcos = queries
      .select(col("id").as("id1"), col("emb").as("qemb"), col("norm2").as("qn"))
      .crossJoin(broadcast(centroids))
      .select(col("id1"), col("cid"),
        (dotExact("qemb", "cemb") / (sqrt(col("qn")) * sqrt(col("cnorm2"))))
          .as("qcos"))
    val qcells = Relational.topKPerGroup(qcos, Seq(col("id1")),
        Seq(col("qcos").desc, col("cid").asc), nprobe)
      .select(col("id1"), col("cid"))
    val luts = queries.crossJoin(broadcast(codebook))
      .select(col("id").as("id1"), expr(
        s"""transform(sequence(0, ${m - 1}), s ->
              transform(element_at(cb, s + 1), c ->
                aggregate(
                  zip_with(slice(emb, s * $dsub + 1, $dsub), c, (x, y) ->
                    CAST(CAST(x AS DOUBLE) * y AS DECIMAL(18,6))),
                  CAST(0 AS DECIMAL(28,6)),
                  (acc, v) -> CAST(acc + v AS DECIMAL(28,6)))))""").as("luts"))
    val swept = broadcast(qcells)
      .join(codes.select(col("id").as("id2"), col("cid"), col("codes")),
        Seq("cid"))
      .filter(col("id2") =!= col("id1"))
      .join(broadcast(luts), Seq("id1"))
      .select(col("id1"), col("id2"), expr(
        """aggregate(
             zip_with(codes, luts, (c, l) -> element_at(l, c + 1)),
             CAST(0 AS DECIMAL(28,6)),
             (acc, v) -> CAST(acc + v AS DECIMAL(28,6)))""").as("adc"))
    val shortlist = Relational.topKPerGroup(swept, Seq(col("id1")),
        Seq(col("adc").desc, col("id2").asc), mShort)
      .select(col("id1"), col("id2"), col("adc"))
    val exact = shortlist
      .join(broadcast(queries.select(col("id").as("id1"),
        col("emb").as("qemb"), col("norm2").as("qn"))), Seq("id1"))
      .join(floats.select(col("id").as("id2"),
        col("emb").as("cemb"), col("norm2").as("cn")), Seq("id2"))
      .select(col("id1"), col("id2"), col("adc").cast("double").as("adc"),
        cosine(dotExact("qemb", "cemb"), col("qn"), col("cn")).as("cosine"))
    Relational.topKPerGroup(exact, Seq(col("id1")),
        Seq(col("cosine").desc, col("id2").asc), k)
      .select(col("id1"), col("id2"), col("adc"), col("cosine"), col("rank"))
  }

  /** Multi-probe LSH top-k (Lv et al., VLDB '07): each query probes its
    * own hyperplane bucket PLUS every Hamming-1 neighbor (the b
    * single-bit flips) — the recall knob that widens a single hash
    * table instead of building more tables. Candidates are the probed
    * buckets' members, re-ranked by exact cosine.
    *
    * Scale shape: the probe set is (b+1) codes per query (map-side
    * explode); candidate generation is an equi-join on the bucket code,
    * so cost follows probed-bucket occupancy, never the corpus; the
    * re-rank touches the float store only for the candidate rows.
    * `all`/`queries` carry the [[withNorms]] schema; `buckets` is the
    * (id, bucket) frame from [[lshBuckets]]. */
  def multiProbeTopK(all: DataFrame, buckets: DataFrame, queries: DataFrame,
      b: Int, k: Int): DataFrame = {
    val flips = col("bucket") +:
      (0 until b).map(j => col("bucket").bitwiseXOR(lit(1L << j)))
    val probes = buckets
      .join(broadcast(queries.select(col("id"))), Seq("id"))
      .select(col("id").as("qid"), explode(array(flips: _*)).as("probe"))
    val cands = probes
      .join(buckets.select(col("id").as("nid"), col("bucket").as("probe")),
        Seq("probe"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid")).distinct()
    val cos = cands
      .join(broadcast(queries.select(col("id").as("qid"),
        col("emb").as("qemb"), col("norm2").as("qn"))), Seq("qid"))
      .join(all.select(col("id").as("nid"),
        col("emb").as("nemb"), col("norm2").as("nn")), Seq("nid"))
      .select(col("qid"), col("nid"),
        cosine(dotExact("qemb", "nemb"), col("qn"), col("nn")).as("cosine"))
    Relational.topKPerGroup(cos, Seq(col("qid")),
      Seq(col("cosine").desc, col("nid").asc), k)
  }
}
