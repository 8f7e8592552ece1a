package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed principal-component analysis over an embedding corpus:
  * one-pass covariance accumulation plus a fixed-iteration power method
  * — the dimensionality-reduction half of an embedding store (PCA
  * projection before indexing, variance auditing, whitening), built the
  * way a 100 TB deployment has to build it: the DATA is touched once
  * (to accumulate d² second moments and d means, all map-side-combined
  * groupBys), and every later step runs on d- or d²-sized frames, where
  * d is the embedding width, not the corpus.
  *
  * Determinism contract: every data-order-dependent reduction (second
  * moments, mat-vec products, squared norms, projections) is an exact
  * fine-quantized sum ([[Exact.dsumFine]]: IEEE-space rounding at
  * ~9.3e-16, then exact integer accumulation — covariance-sized values
  * would lose all precision at the default scale 6); the IEEE
  * divisions/sqrts that follow are single deterministic chains over
  * identical inputs, so the component, eigenvalue, and scores are
  * bit-identical across engines and reruns. The power iteration runs a
  * FIXED iteration count (the caller's convergence budget, mirrored by
  * the unrolled oracle) rather than a data-dependent stopping rule.
  *
  * Scale shape: the d²-row covariance frame is KB-sized for any real
  * embedding width (64²..4096²) and broadcasts; each iteration is a
  * broadcast join + d-group aggregation, localCheckpointed so the loop
  * does not double the plan (the Lloyd/BPE contract). The corpus-side
  * cost is the pair explode: d rows in, d² out per vector, all combined
  * map-side — no shuffle ever carries more than d² rows.
  */
object Pca {

  /** (id, emb: Array[Double]) → (id, i, e) component rows. */
  def compOf(vecs: DataFrame): DataFrame =
    vecs.select(col("id"), posexplode(col("emb")).as(Seq("i", "e")))

  /** Per-dimension means of (id, i, e) component rows: (i, mu). */
  def means(comp: DataFrame): DataFrame =
    comp.groupBy(col("i")).agg(Exact.davgFine(col("e")).as("mu"))

  /** Covariance matrix (i, j, cov) from raw second moments:
    * cov_ij = Σ e_i·e_j / n − mu_i·mu_j — no centering pass over the
    * data, the mean correction is applied on the d²-sized moment frame.
    * Input: (id, emb: Array[Double]) vector rows.
    *
    * The second moments accumulate through [[GramianAgg]]: one
    * Array[Long] vector-add per (vector, dim) row, so the shuffle
    * carries d partial-Gramian rows of d longs — NOT n·d² exploded
    * rows through a boxed wide-decimal sum (measured 4× on the sf0.1
    * bench; values bit-identical, the oracle keeps the exploded
    * formulation). */
  def covariance(vecs: DataFrame): DataFrame = {
    val rows = vecs.select(posexplode(col("emb")).as(Seq("i", "ei")), col("emb"))
    // ONE corpus aggregation carries both moments: the Gramian row and
    // the first-moment sum (for mu) ride the same groupBy
    val gram = rows.groupBy(col("i"))
      .agg(GramianAgg.gramRow(col("ei"), col("emb")).as("srow"),
        Exact.dsumFine(col("ei")).as("se"),
        count(lit(1)).as("cnt"))
    val mu = gram.select(col("i"), (col("se") / col("cnt")).as("mu"))
    val m2 = gram
      .select(col("i"), col("cnt"), posexplode(col("srow")).as(Seq("j", "q")))
      .select(col("i"), col("j"), col("cnt"),
        (col("q").cast("double") / lit(Exact.FineUnit)).as("s"))
    m2.join(broadcast(mu.select(col("i"), col("mu").as("mu_i"))), Seq("i"))
      .join(broadcast(mu.select(col("i").as("j"), col("mu").as("mu_j"))),
        Seq("j"))
      .select(col("i"), col("j"),
        (col("s") / col("cnt") - col("mu_i") * col("mu_j")).as("cov"))
  }

  /** Top principal component by `iters` power-method rounds from the
    * deterministic uniform start v0 = 1/√d: returns (i, v, lambda)
    * with v the unit component and lambda the last iterate's ‖Σv‖ —
    * the standard eigenvalue estimate at convergence. */
  def powerComponent(cov: DataFrame, iters: Int): DataFrame = Iterate.scope {
    require(iters >= 1, s"iters=$iters")
    // cut the corpus lineage once: every iteration's checkpoint would
    // otherwise re-run the covariance job (measured 4-5 corpus passes
    // per call at sf0.1); the d²-row frame itself is KB-sized
    val covC = cov.localCheckpoint()
    val dims = covC.select(col("i").as("j")).distinct()
    val dcnt = dims.agg(count(lit(1)).as("d"))
    var v = dims.crossJoin(broadcast(dcnt))
      .select(col("j"), (lit(1.0) / sqrt(col("d"))).as("v"))
    var lam: DataFrame = null
    // lambda must checkpoint per round too: the final `lam` read AFTER
    // the loop would otherwise re-derive from the PREVIOUS round's v —
    // whose blocks advance has already released.
    for (_ <- 1 to iters) {
      val u = covC.join(broadcast(v), Seq("j"))
        .groupBy(col("i"))
        .agg(Exact.dsumFine(col("cov") * col("v")).as("u"))
      lam = Iterate.advance(lam,
        u.agg(sqrt(Exact.dsumFine(col("u") * col("u"))).as("lambda")))
      v = Iterate.advance(v, u.crossJoin(broadcast(lam))
        .select(col("i").as("j"), (col("u") / col("lambda")).as("v")))
    }
    v.crossJoin(broadcast(lam))
      .select(col("j").as("i"), col("v"), col("lambda"))
  }

  /** Projection of every vector onto the component: score_id =
    * Σ_i (e_i − mu_i)·v_i — the 1-D PCA embedding. The mean and
    * component frames are d rows and broadcast; one corpus pass. */
  def project(comp: DataFrame, mu: DataFrame, component: DataFrame): DataFrame =
    comp.join(broadcast(mu), Seq("i"))
      .join(broadcast(component.select(col("i"), col("v"))), Seq("i"))
      .groupBy(col("id"))
      .agg(Exact.dsumFine((col("e") - col("mu")) * col("v")).as("score"))

  /** Deflation: cov′ = cov − λ·v·vᵀ removes the found component's
    * variance, so the power method's next run converges to the
    * second component — the classical Hotelling deflation. The
    * component frame is d rows and broadcasts; the update is a
    * map-side column chain over the d²-row covariance. */
  def deflate(cov: DataFrame, component: DataFrame): DataFrame =
    cov
      .join(broadcast(component.select(col("i"), col("v").as("vi"))), Seq("i"))
      .join(broadcast(component.select(col("i").as("j"), col("v").as("vj"),
        col("lambda"))), Seq("j"))
      .select(col("i"), col("j"),
        (col("cov") - col("lambda") * col("vi") * col("vj")).as("cov"))

  // ---------------------------------------------------------------
  // Oracle SQL twins (DuckDB). Callers provide a `comp` CTE with
  // (id, i, e) and splice these after it.
  // ---------------------------------------------------------------

  /** CTEs mu(i,mu), cov(i,j,cov) mirroring [[covariance]]. */
  def covSql: String = s"""
      mu AS MATERIALIZED (SELECT i, ${Exact.sqlAvgFine("e")} AS mu
            FROM comp GROUP BY i),
      m2 AS MATERIALIZED (
        SELECT a.i AS i, b.i AS j, ${Exact.sqlSumFine("a.e * b.e")} AS s,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM comp a JOIN comp b ON a.id = b.id
        GROUP BY a.i, b.i),
      cov AS MATERIALIZED (
        SELECT m2.i, m2.j, m2.s / m2.cnt - mi.mu * mj.mu AS cov
        FROM m2 JOIN mu mi ON m2.i = mi.i
                JOIN mu mj ON m2.j = mj.i)"""

  /** CTE chain ${tag}v0..${tag}v$iters + ${tag}lam$iters mirroring
    * [[powerComponent]] over the covariance CTE named `covName`; the
    * final frames are ${tag}v$iters(j, v) and ${tag}lam$iters(lambda). */
  def powerSql(iters: Int, covName: String = "cov", tag: String = ""): String = {
    val v0 = s"""
      ${tag}dims AS (SELECT DISTINCT i AS j FROM $covName),
      ${tag}dcnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS d FROM ${tag}dims),
      ${tag}v0 AS (SELECT j, 1.0e0 / sqrt(d) AS v FROM ${tag}dims, ${tag}dcnt)"""
    val steps = (1 to iters).map { k =>
      s"""
      ${tag}u$k AS MATERIALIZED (
        SELECT $covName.i, ${Exact.sqlSumFine(s"$covName.cov * ${tag}v${k - 1}.v")} AS u
        FROM $covName JOIN ${tag}v${k - 1} ON $covName.j = ${tag}v${k - 1}.j
        GROUP BY $covName.i),
      ${tag}lam$k AS MATERIALIZED (SELECT sqrt(${Exact.sqlSumFine("u * u")}) AS lambda FROM ${tag}u$k),
      ${tag}v$k AS MATERIALIZED (SELECT i AS j, u / lambda AS v FROM ${tag}u$k, ${tag}lam$k)"""
    }
    v0 + steps.mkString(",", ",", "")
  }

  /** CTE mirroring [[deflate]]: $outName(i, j, cov) = covName −
    * λ·v·vᵀ read from the ${tag}v$iters / ${tag}lam$iters frames. */
  def deflateSql(iters: Int, covName: String, outName: String,
      tag: String = ""): String = s"""
      $outName AS MATERIALIZED (
        SELECT c.i, c.j,
          c.cov - ${tag}lam$iters.lambda * vi.v * vj.v AS cov
        FROM $covName c
        JOIN ${tag}v$iters vi ON c.i = vi.j
        JOIN ${tag}v$iters vj ON c.j = vj.j, ${tag}lam$iters)"""
}
