package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic distinct-count sketch: KMV (k minimum values).
  *
  * At 100 TB, `COUNT(DISTINCT token)` per group is a full shuffle of
  * every distinct (group, token) pair; a sketch answers the same
  * question from k values per group. KMV keeps the k smallest hashes of
  * the distinct values ("k-minimum-values" / bottom-k, the classic
  * distinct-value estimator of Bar-Yossef et al. 2002): if the k-th
  * smallest of n uniform hashes in [0, H) sits at height h, then
  * n ≈ (k−1)·H/h.
  *
  * Two properties make this the right sketch here rather than HLL:
  *
  *  - **Deterministic & cross-engine checkable.** The hash is
  *    [[TextOps.h64]] (md5-derived, H = 2^60) — no RNG, no
  *    implementation-defined HLL register layout, so a DuckDB oracle
  *    computes the bit-identical estimate ([[kmvSql]] is the twin; q74
  *    verifies it end-to-end) and reruns at any partition count agree.
  *  - **Mergeable.** The union of two value sets' bottom-k is the
  *    bottom-k of the merged multiset: partial sketches combine by
  *    "concat, sort, take k", so partition-local sketches reduce
  *    tree-wise without ever moving raw values. The formulation below
  *    (distinct → per-group rank ≤ k) lets Spark's WindowGroupLimit
  *    keep only k candidates per group per partition — the map-side
  *    combine of that merge.
  *
  * Exactness guard: a group with fewer than k distinct hashes reports
  * its exact count (the sketch degrades to exact below its resolution).
  */
object Sketch {
  /** Hash space of [[TextOps.h64]]: 2^60, as the double it rounds to. */
  private[graft] val HashSpace = 1.152921504606846976e18

  /** The KMV estimator on a materialized bottom-k: exact below k,
    * (k−1)·H/kth at k. Shared by the batch Column path and the
    * streaming state path so the two agree bit-for-bit. */
  private[graft] def estimateFromBottomK(n: Int, kth: Long, k: Int): Double =
    if (n < k) n.toDouble else (k - 1).toDouble * HashSpace / kth.toDouble

  /** Per-`key` estimated distinct count of `value` with a bottom-`k`
    * sketch. Output: (key, est_distinct: double). */
  def kmvDistinct(df: DataFrame, key: Column, value: Column, k: Int): DataFrame = {
    val hashes = df.select(key.as("key"), TextOps.h64(value).as("h")).distinct()
    Relational.topKPerGroup(hashes, Seq(col("key")), Seq(col("h").asc), k)
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_h"), max(col("h")).as("kth"))
      .select(col("key"),
        when(col("n_h") < k, col("n_h").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(HashSpace) / col("kth").cast("double"))
          .as("est_distinct"))
  }

  /** DuckDB twin of [[kmvDistinct]]: SQL producing (key, est_distinct)
    * from `table`, distinct-hashing `valueExpr` per `keyExpr`. */
  def kmvSql(fromClause: String, keyExpr: String, valueExpr: String, k: Int): String = s"""
    WITH hv AS (
      SELECT DISTINCT $keyExpr AS key, ${TextOps.h64Sql(valueExpr)} AS h
      FROM $fromClause),
    ranked AS (
      SELECT key, h, ROW_NUMBER() OVER (PARTITION BY key ORDER BY h) AS rn
      FROM hv),
    bk AS (
      SELECT key, CAST(COUNT(*) AS BIGINT) AS n_h, MAX(h) AS kth
      FROM ranked WHERE rn <= $k GROUP BY key)
    SELECT key,
      CASE WHEN n_h < $k THEN CAST(n_h AS DOUBLE)
           ELSE ${(k - 1).toDouble}e0 * 1.152921504606846976e18 / CAST(kth AS DOUBLE)
      END AS est_distinct
    FROM bk"""

  /** Count-Min sketch (Cormode & Muthukrishnan '05): `d` hash rows ×
    * `w` counters; occurrence counts of `value` fold into counter
    * (j, g_j(value) mod w) for each row j, and a point estimate is the
    * minimum of a value's d counters — an overestimate by at most the
    * collision mass, never an underestimate. The g_j family is
    * Kirsch-Mitzenmacher over the same md5 digest as minhash
    * (g_j = h1 + j·(h2 mod p)), so the sketch is deterministic,
    * cross-engine checkable, and MERGEABLE (counters add) — the same
    * properties that picked KMV over HLL. The sketch itself is at most
    * d·w rows regardless of input size: one narrow groupBy shuffle to
    * build, a broadcast to query. */
  val CmsP = 1000000007L

  /** Build: (j, c, cnt) counter table, at most d·w rows. */
  def cmsBuild(df: DataFrame, value: Column, d: Int, w: Int): DataFrame = {
    val hashed = df.select(TextOps.h64(value).as("h1"),
      (TextOps.h64b(value) % CmsP).as("h2"))
    hashed
      .select(explode(expr(s"transform(sequence(0, ${d - 1}), j ->" +
        s" named_struct('j', j, 'c', CAST((h1 + j * h2) % $w AS INT)))"))
        .as("jc"))
      .groupBy(col("jc.j").as("j"), col("jc.c").as("c"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point estimates for `probes` (any frame with the value column):
    * min over the d counters. The counter table is ≤ d·w rows and
    * broadcast; probes never shuffle. Missing counters mean zero
    * occurrences. Output: probes' columns + est: long.
    *
    * Row multiplicity is preserved — duplicate probe rows each get
    * their estimate (a per-row id rides the explode/groupBy, then
    * drops). Internals are `__cms_`-prefixed and the counter table's
    * columns are renamed before the join, so probe frames may freely
    * carry columns named j, c or cnt; only `est` (the output column)
    * and the `__cms_` prefix are reserved. */
  def cmsEstimate(cms: DataFrame, probes: DataFrame, value: Column,
      d: Int, w: Int): DataFrame = {
    val p = probes
      .withColumn("__cms_rid", monotonically_increasing_id())
      .withColumn("__cms_h1", TextOps.h64(value))
      .withColumn("__cms_h2", TextOps.h64b(value) % CmsP)
      .withColumn("__cms_j", explode(expr(s"sequence(0, ${d - 1})")))
      .withColumn("__cms_c",
        expr(s"CAST((__cms_h1 + __cms_j * __cms_h2) % $w AS INT)"))
    val counters = cms.select(col("j").as("__cms_j"),
      col("c").as("__cms_c"), col("cnt").as("__cms_cnt"))
    p.join(broadcast(counters), Seq("__cms_j", "__cms_c"), "left")
      .groupBy((col("__cms_rid") +: probes.columns.toIndexedSeq.map(col)): _*)
      .agg(min(coalesce(col("__cms_cnt"), lit(0L))).as("est"))
      .drop("__cms_rid")
  }

  /** HyperLogLog (Flajolet et al. '07) with a PINNED register layout —
    * the fixed-size sibling of KMV. Built-in HLL implementations have
    * implementation-defined register layouts (why KMV was chosen for
    * q74); pinning the layout ourselves restores every property KMV
    * has — deterministic, cross-engine checkable, partition-invariant —
    * while adding the one KMV lacks: CONSTANT state (m registers,
    * byte-sized) whose merge is an elementwise MAX, so sketches built
    * per group/shard/day union into coarser rollups without re-touching
    * data (the q177 '__all__' row is exactly that register merge).
    *
    * Layout (m = 64): h = [[TextOps.h64]] (60 bits); register index
    * b = h mod 64 (low 6 bits); w = h div 64 (the remaining 54 bits);
    * rho = 55 − ⌊log2 w⌋ − 1 ... computed exactly as
    * `55 − length(bin(w))` (w = 0 → 55: all-zeros suffix). Registers
    * are MAX(rho) per (key, b) — order-free, mergeable.
    *
    * Estimator: alpha_64·m²/Σ2^−M_j with alpha_64 = 0.709; the sum is
    * EXACT — Σ2^(55−M_j) as a 64-bit integer (≤ 64·2^54 < 2^61),
    * scaled back by 2^55 in one double division. Small-range (raw ≤
    * 2.5m, empty registers present) switches to linear counting
    * m·ln(m/V) — the only transcendental, reported under the repo's
    * 6-decimal convention. */
  def hllRegisters(df: DataFrame, key: Column, value: Column): DataFrame =
    df.select(key.as("key"), TextOps.h64(value).as("h")).distinct()
      .select(col("key"), (col("h") % 64).as("b"), expr("h div 64").as("w"))
      .select(col("key"), col("b"),
        when(col("w") === 0, lit(55))
          .otherwise(lit(55) - length(bin(col("w")))).as("rho"))
      .groupBy(col("key"), col("b")).agg(max(col("rho")).as("mreg"))

  /** Register index and rho for one h64 hash — the layout contract
    * shared by the batch Column path and the streaming state path. */
  private[graft] def hllBucketRho(h: Long): (Int, Int) = {
    val w = h / 64
    ((h % 64).toInt,
      if (w == 0) 55 else 55 - java.lang.Long.toBinaryString(w).length)
  }

  /** The estimator on a dense m=64 register array — the batch SQL
    * arithmetic replayed op-for-op (same literals, same left-assoc
    * order, same HALF_UP 6-round as Spark's `round`) so the streaming
    * twin ([[graft.streaming.StreamHll]]) is bit-parity with
    * [[hllEstimate]]. */
  private[graft] def estimateFromHllRegisters(regs: Seq[Int]): Double = {
    val s = regs.iterator.map(m => 1L << (55 - m)).sum
    val v = regs.count(_ == 0)
    val raw = 0.709 * 4096.0 * 3.6028797018963968e16 / s.toDouble
    val e =
      if (raw <= 160.0 && v > 0) 64.0 * math.log(64.0 / v.toDouble) else raw
    BigDecimal(java.math.BigDecimal.valueOf(e))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Estimate from a (key, b, mreg) register table (sparse — absent
    * registers are zero). Output: (key, est_distinct: double). */
  def hllEstimate(regs: DataFrame): DataFrame = {
    val spine = regs.select(col("key")).distinct()
      .select(col("key"), explode(expr("sequence(0, 63)")).as("b"))
    val raw = lit(0.709) * lit(4096.0) * lit(3.6028797018963968e16) /
      col("s").cast("double")
    spine.join(regs, Seq("key", "b"), "left")
      .select(col("key"), coalesce(col("mreg"), lit(0)).as("mreg"))
      .groupBy(col("key"))
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 55 - mreg)")).as("s"),
        sum(when(col("mreg") === 0, 1L).otherwise(0L)).as("v"))
      .select(col("key"),
        round(when(raw <= 160.0 && col("v") > 0,
            lit(64.0) * log(lit(64.0) / col("v").cast("double")))
          .otherwise(raw), 6).as("est_distinct"))
  }

  /** DuckDB twin of [[hllRegisters]] ∘ [[hllEstimate]] plus the
    * '__all__' register-merge rollup: SQL CTE block (no trailing
    * SELECT) defining `hll_est(key, est_distinct)` from `fromClause`
    * rows hashing `valueExpr` per `keyExpr`. */
  def hllSql(fromClause: String, keyExpr: String, valueExpr: String): String = s"""
    hll_hv AS (
      SELECT DISTINCT $keyExpr AS key, ${TextOps.h64Sql(valueExpr)} AS h
      FROM $fromClause),
    hll_reg AS (
      SELECT key, h % 64 AS b,
        MAX(CASE WHEN h // 64 = 0 THEN 55
                 ELSE 55 - length(bin(h // 64)) END) AS mreg
      FROM hll_hv GROUP BY key, h % 64),
    hll_regs AS (
      SELECT * FROM hll_reg
      UNION ALL
      SELECT '__all__' AS key, b, MAX(mreg) FROM hll_reg GROUP BY b),
    hll_spine AS (
      SELECT k.key, gs.b
      FROM (SELECT DISTINCT key FROM hll_regs) k
      CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) gs),
    hll_full AS (
      SELECT s.key, COALESCE(r.mreg, 0) AS mreg
      FROM hll_spine s LEFT JOIN hll_regs r
        ON s.key = r.key AND s.b = r.b),
    hll_sums AS (
      SELECT key, SUM(CAST(1 AS BIGINT) << (55 - mreg)) AS s,
        SUM(CASE WHEN mreg = 0 THEN 1 ELSE 0 END) AS v
      FROM hll_full GROUP BY key),
    hll_est AS (
      SELECT key,
        CASE WHEN CAST(0.709 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
               * CAST(36028797018963968.0 AS DOUBLE) / CAST(s AS DOUBLE)
               <= 160.0 AND v > 0
             THEN round(CAST(64.0 AS DOUBLE)
               * ln(CAST(64.0 AS DOUBLE) / CAST(v AS DOUBLE)), 6)
             ELSE round(CAST(0.709 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
               * CAST(36028797018963968.0 AS DOUBLE) / CAST(s AS DOUBLE), 6)
        END AS est_distinct
      FROM hll_sums)"""

  /** Mergeable RANK-ERROR quantile sketch (the GK'01 / mergeable-
    * summaries shape, deterministic formulation): per (key, shard) an
    * equi-depth k-point rank summary, where the shard is a FIXED
    * logical hash of the row id — h64(id) mod `shards` — not the
    * physical partitioning, so the sketch is bit-identical at any
    * partition count and cross-engine reproducible (the property that
    * picked KMV over HLL, applied to quantiles).
    *
    * Why this instead of q207's equi-width histogram: the histogram's
    * error bound is the BUCKET WIDTH — vacuous on heavy-tailed
    * token/length distributions where one outlier stretches the global
    * range (r15 verdict #3). This sketch's bound is a RANK: the
    * estimate's rank is within Σ_s (⌈m_s/k⌉ − 1) ≤ n/k of the target,
    * independent of the value distribution.
    *
    * Construction (one window per shard — each shard sorts
    * independently, the distributed-quantile classic; `shards` is the
    * parallelism/size lever at scale: each (key, shard) cell is one
    * window sort, so pick shards ≈ rows-per-key / comfortable-task-
    * size — the sketch size P·k and the bound n/k are unaffected by P
    * beyond the +P slack, so raising P for a 100 TB key costs only
    * sketch rows, never accuracy class):
    *   rn = row_number within (key, shard) by (value, id);
    *   keep rn where ⌊rn·k/m⌋ > ⌊(rn−1)·k/m⌋  — exactly the ranks
    *   {⌈i·m/k⌉ : i = 1..k}, so consecutive kept ranks differ by at
    *   most ⌈m/k⌉ and the LAST row (rn = m) is always kept;
    *   delta = r − previous kept r in the shard (telescoping weight).
    * A shard with m ≤ k keeps every row — the sketch degrades to exact
    * below its resolution, like KMV.
    *
    * PROOF of the rank bound (asserted in RankSketchSpec): within a
    * shard, elements ≤ kept value v_i number ≥ r_i (rmin), and
    * elements < x number ≤ r_j − 1 for the smallest kept v_j ≥ x
    * (rmax); summing over shards, any value's global rank is bracketed
    * within Σ_s (⌈m_s/k⌉ − 1). [[rankQuantiles]] returns the smallest
    * candidate whose summed rmin clears the target rank t, so the
    * estimate's true rank sits in [t, t + bound].
    *
    * MERGE is row-union: the sketch of a corpus is the union of the
    * sketches of any disjoint shard split (each (key, shard) summary
    * depends only on that shard's rows), so shard/day/batch sketches
    * combine without re-touching data and the estimates are identical
    * (RankSketchSpec pins both). State: ≤ shards·k rows per key,
    * independent of n.
    *
    * Output: (key, shard, x, r, delta). The unit-weight call of
    * [[rankSketchWeighted]]: with every w = 1 the running weight sum
    * IS row_number, so its kept-rank rule is the one above. */
  def rankSketch(df: DataFrame, key: Column, value: Column, id: Column,
      shards: Int, k: Int): DataFrame =
    rankSketchWeighted(df, key, value, weight = lit(1L), id, shards, k)

  /** WEIGHTED [[rankSketch]]: rank mass is a per-row weight (tokens,
    * bytes, sample multiplicity) instead of 1 — the batch half of the
    * one logical operator whose streaming half is
    * `StreamRankQuantiles.compress` (its kept-rank rule generalized to
    * weighted points, StreamRankQuantiles.scala:49-75; r16 verdict
    * #3). The selection rule is the identical floor-crossing
    * criterion over CUMULATIVE WEIGHT: with cw the running weight sum
    * within (key, shard) ordered by (value, id) and W the shard
    * total, keep a row iff ⌊cw·k/W⌋ > ⌊(cw−w)·k/W⌋ — i.e. its mass
    * interval (cw−w, cw] contains a target ⌈i·W/k⌉, the first-
    * crossing set of the stream compressor (for integer cum c,
    * c < ⌈z⌉ ⟺ c < z, so floor-crossing ≡ first-crossing), and for
    * unit weights cw = row_number, so [[rankSketch]] is the w ≡ 1
    * call of this kernel (its row-for-row equality is pinned in
    * RankSketchSpec). The last row (cw = W) is always
    * kept; a shard whose every row crosses a target keeps everything
    * — exact below resolution, like the unit sketch. Weights must be
    * ≥ 1: a zero-weight row crosses nothing and silently drops.
    *
    * Output (key, shard, x, r = cw, delta) feeds [[rankQuantiles]]
    * UNCHANGED: there n = Σ W_s becomes total mass, t = ⌈q·n⌉ a mass
    * rank, and err_bound = Σ_s (⌈W_s/k⌉ − 1). The bound's WEIGHTED
    * reading (asserted in RankSketchSpec against exact weighted
    * ranks): the estimate is an actual data value whose mass interval
    * [G(est)+1, F(est)] (G/F = exact weight strictly-below /
    * up-to-and-including) satisfies F(est) ≥ t and G(est) < t +
    * bound — kept cum values are exact prefix masses, consecutive
    * kept targets are ≤ ⌈W_s/k⌉ apart, and the mass dropped between
    * two kept rows is < the target spacing, a heavy row being kept
    * once with its FULL weight rather than split (the same accounting
    * the stream compressor states). Merge is row-union, state ≤
    * shards·k rows per key, both exactly as the unit sketch; cw·k
    * stays in BIGINT up to W_s ≈ 1.4e17/k — petabyte-scale token
    * masses before overflow. */
  def rankSketchWeighted(df: DataFrame, key: Column, value: Column,
      weight: Column, id: Column, shards: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(key.as("key"), value.as("x"),
      weight.cast("long").as("w"), id.as("__id"),
      (TextOps.h64(id.cast("string")) % shards).as("shard"))
    // ROWS frame: cw must be strictly increasing per row even across
    // equal values (the default RANGE frame would merge value ties)
    val wCum = Window.partitionBy(col("key"), col("shard"))
      .orderBy(col("x").asc, col("__id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("key"), col("shard"))
    val kept = base
      .withColumn("cw", sum(col("w")).over(wCum))
      // NOT named "W": SQL resolution is case-insensitive and would
      // collapse it onto the per-row weight column "w"
      .withColumn("wtot", sum(col("w")).over(wAll))
      .filter(expr(s"(cw * $k) div wtot > ((cw - w) * $k) div wtot"))
    val wKept = Window.partitionBy(col("key"), col("shard"))
      .orderBy(col("cw").asc)
    kept.select(col("key"), col("shard"), col("x"), col("cw").as("r"),
      (col("cw") - coalesce(lag(col("cw"), 1).over(wKept), lit(0L)))
        .as("delta"))
  }

  /** Quantile estimates from a [[rankSketch]] (or a union of merged
    * ones): for target rank t = max(1, ⌈q·n⌉) per key, the smallest
    * sketch value whose summed per-shard rmin (the range-frame
    * cumulative of delta — ties collapse into one frame, so equal
    * values across shards agree) reaches t. n and the rank-error bound
    * are derived from the sketch itself (Σ m_s = Σ delta; bound =
    * Σ_s (⌈m_s/k⌉ − 1)). Everything is sketch-sized: the windows and
    * joins below touch ≤ shards·k rows per key.
    * Output: (key, q, t_rank, n, est, err_bound). */
  def rankQuantiles(sketch: DataFrame, k: Int, qs: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.partitionBy(col("key")).orderBy(col("x").asc)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = sketch.withColumn("grank", sum(col("delta")).over(wCum))
    val tot = sketch.groupBy(col("key"), col("shard"))
      .agg(max(col("r")).as("m"))
      .groupBy(col("key"))
      .agg(sum(col("m")).as("n"),
        sum(expr(s"(m + ${k - 1}) div $k - 1")).as("err_bound"))
    val cand = cum.join(broadcast(tot), Seq("key"))
      .withColumn("q", explode(array(qs.map(lit): _*)))
      .withColumn("t_rank", greatest(lit(1L), ceil(col("q") * col("n"))))
      .filter(col("grank") >= col("t_rank"))
    Relational.topOnePerGroup(cand, Seq(col("key"), col("q")),
        Seq(col("x").asc))
      .select(col("key"), col("q"), col("t_rank"), col("n"),
        col("x").as("est"), col("err_bound"))
  }

  /** Pinned-layout Bloom filter BUILD over (h1, h2) hash rows: k = 3
    * Kirsch–Mitzenmacher probes p_j = (h1 + j·(2·h2+1)) mod m, packed
    * as m/32 32-bit words in BIGINTs via bit_or (bit 63 would overflow
    * DuckDB's checked shift — the oracle twin runs the identical
    * arithmetic). The stride is forced ODD (2·h2+1): m is a power of
    * two, so a raw h2 with a large gcd against m — worst case
    * h2 % m = 0 — would collapse all three probes onto one bit and
    * inflate that key's false-positive rate; an odd stride is coprime
    * with any power-of-two m, so the three probes are always distinct
    * bits. The word table is the filter's PINNED serialization:
    * merge across shards/batches is elementwise bit_or, exactly like
    * the HLL register-MAX, so the sketch is partitioning- and
    * delivery-order-independent. Output: (word, bits), ≤ m/32 rows —
    * broadcastable at any corpus size.
    *
    * FORMAT v2 — layout break (round 10): the probe family changed
    * from h1 + j·h2 (v1) to the odd stride above, which moves bit
    * positions. A v1 word table merged or probed with v2 arithmetic
    * produces SILENT FALSE NEGATIVES — the one failure the Bloom
    * contract forbids. Persisted filters carry no version marker in
    * the word rows themselves, so deployments that stored v1 tables
    * must rebuild them (or tag storage paths with the format version)
    * before mixing with post-change probes; never bit_or across the
    * v1/v2 boundary. */
  def bloomWords(hashes: DataFrame, m: Long): DataFrame =
    hashes.select(explode(expr("sequence(0, 2)")).as("j"),
        col("h1"), col("h2"))
      .select(pmod(col("h1") + col("j") * (col("h2") * 2L + 1L), lit(m)).as("p"))
      .select(expr("p div 32").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").as("mask"))
      .groupBy(col("word")).agg(expr("bit_or(mask)").as("bits"))

  /** Pinned-layout Bloom PROBE: adds `bloom_hit` to rows carrying
    * (h1, h2) — true iff all three probe bits are set. Three broadcast
    * joins against the word table, NO aggregation — a pure row-grain
    * map, so the same function probes static frames and append-mode
    * streams (the q197 batch gate and StreamBloom are the same code).
    * No false negatives by construction; false positives are the
    * audited fpp. */
  def bloomProbe(df: DataFrame, bloom: DataFrame, m: Long): DataFrame =
    (0 to 2).foldLeft(df) { (acc, j) =>
      val b = bloom.select(col("word").as(s"__w$j"), col("bits").as(s"__b$j"))
      acc
        .withColumn(s"__p$j",
          pmod(col("h1") + lit(j.toLong) * (col("h2") * 2L + 1L), lit(m)))
        .withColumn(s"__w$j", expr(s"__p$j div 32"))
        .withColumn(s"__m$j",
          expr(s"shiftleft(CAST(1 AS BIGINT), CAST(__p$j % 32 AS INT))"))
        .join(broadcast(b), Seq(s"__w$j"), "left")
        .withColumn(s"__ok$j",
          col(s"__b$j").isNotNull &&
            (col(s"__b$j").bitwiseAND(col(s"__m$j")) =!= 0L))
        .drop(s"__p$j", s"__w$j", s"__m$j", s"__b$j")
    }
      .withColumn("bloom_hit", col("__ok0") && col("__ok1") && col("__ok2"))
      .drop("__ok0", "__ok1", "__ok2")
}
