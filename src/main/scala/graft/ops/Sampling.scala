package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines.
  *
  * Random sampling (`rand()`, `TABLESAMPLE`) is rerun- and
  * partitioning-dependent: re-running the pipeline, or the same pipeline
  * at a different parallelism, yields a different sample — poison for
  * reproducible dataset builds and for cross-engine verification. Both
  * operators here key the randomness on a content hash instead
  * ("salted hashing" / universe sampling, the technique behind BigQuery's
  * FARM_FINGERPRINT sampling idiom and join-consistent samplers), so the
  * sample is a pure function of the data:
  *
  *  - [[hashRateSample]]: keep rows whose 60-bit hash lands in the first
  *    `rate` fraction of hash space. A pure map-side filter — it pushes
  *    into the scan, costs zero shuffle at any scale, and two tables
  *    sampled on the same key stay join-consistent.
  *  - [[hashTopKPerStratum]]: exactly k rows per stratum, the smallest k
  *    hashes — a deterministic reservoir sample. One shuffle on the
  *    stratum key; Spark ≥3.5 pushes the rank-≤-k limit into the sort
  *    (WindowGroupLimit), so each partition keeps only k candidates.
  */
object Sampling {

  /** Keep rows with h64(key) mod `den` < `num` (a num/den sampling
    * rate). The hash is the cross-engine TextOps.h64, so an oracle
    * engine draws the identical sample. */
  def hashRateSample(df: DataFrame, key: Column, num: Int, den: Int): DataFrame =
    df.filter(TextOps.h64(key) % den < num)

  /** SQL twin of the [[hashRateSample]] predicate. */
  def hashRateSampleSql(keyExpr: String, num: Int, den: Int): String =
    s"${TextOps.h64Sql(keyExpr)} % $den < $num"

  /** Exactly k rows per stratum: rank by (h64(key), tieBreak) ascending
    * and keep rank <= k. Output keeps all input columns plus `rank`. */
  def hashTopKPerStratum(df: DataFrame, stratum: Column, key: Column,
      tieBreak: Column, k: Int): DataFrame =
    Relational.topKPerGroup(
      df.withColumn("__hkey", TextOps.h64(key)),
      Seq(stratum), Seq(col("__hkey").asc, tieBreak.asc), k)
      .drop("__hkey")

  /** Deterministic train/val/test assignment: the hash-range split of
    * dataset builds. Row → slot h64(key) mod den; the first `train`
    * slots are "train", the next `valSlots` "val", the rest "test".
    * A pure map-side projection (no shuffle, pushes nothing around),
    * rerun/parallelism-stable, and join-consistent: any table keyed on
    * the same id lands in the same split, so features and labels never
    * leak across the boundary. */
  /** Purged-temporal-split partition flag (López de Prado embargo),
    * shared by the batch split (q214) and the streaming gate
    * (StreamEmbargo): 'train' strictly before cutoff−gap, 'test' at or
    * after the cutoff, 'purged' in the embargo band between. Pure
    * microsecond-integer comparisons — engine- and delivery-order-
    * independent. */
  def embargoPart(ts: Column, cutoff: Column, gapDays: Int): Column =
    when(ts < cutoff - expr(s"INTERVAL $gapDays DAY"), "train")
      .when(ts >= cutoff, "test")
      .otherwise("purged")

  def hashSplit(key: Column, den: Int, train: Int,
      valSlots: Int): Column = {
    require(train + valSlots < den, s"train+val slots must leave test room")
    val slot = TextOps.h64(key) % den
    when(slot < train, "train")
      .when(slot < train + valSlots, "val")
      .otherwise("test")
  }

  /** SQL twin of [[hashSplit]]. */
  def hashSplitSql(keyExpr: String, den: Int, train: Int,
      valSlots: Int): String =
    s"""CASE WHEN ${TextOps.h64Sql(keyExpr)} % $den < $train THEN 'train'
             WHEN ${TextOps.h64Sql(keyExpr)} % $den < ${train + valSlots}
               THEN 'val'
             ELSE 'test' END"""

  // h64 spans [0, 2^60); +1 / (2^60 + 1) maps it into (0, 1] — the
  // deterministic stand-in for A-ES's uniform draw
  private val HashSpace = "1152921504606846977.0e0" // 2^60 + 1

  /** Weighted sample without replacement, k rows ∝ `weight`
    * (Efraimidis–Spirakis A-ES, Inf. Proc. Letters 2006): each row
    * draws u = uniform(0,1] keyed on its content hash and ranks by
    * u^(1/w) — computed as skey = ln(u)/w, the monotone form that
    * avoids pow()'s cross-engine wobble — and the k largest keys win.
    * Hash-derived u makes the sample rerun/parallelism-stable and
    * engine-reproducible like every sampler here; skey is rounded to
    * 6 decimals (the q59 transcendental convention) with the row key
    * as tie-break, so the cut is a total order. orderBy+limit compiles
    * to TakeOrderedAndProject — per-partition top-k plus one k-row
    * merge, never a global sort. Weights must be > 0. */
  def weightedHashSample(df: DataFrame, key: Column, weight: Column,
      k: Int): DataFrame = {
    val u = (TextOps.h64(key) + 1).cast("double") / expr(HashSpace)
    df.withColumn("skey", round(log(u) / weight.cast("double"), 6))
      .orderBy(col("skey").desc, key.asc)
      .limit(k)
  }

  /** SQL twin of [[weightedHashSample]]'s sampling key. */
  def weightedHashSampleSql(keyExpr: String, weightExpr: String): String =
    s"ROUND(LN(CAST(${TextOps.h64Sql(keyExpr)} + 1 AS DOUBLE) / $HashSpace)" +
      s" / CAST($weightExpr AS DOUBLE), 6)"

  /** Per-row replica count that realizes a fractional epoch factor
    * deterministically: `epochs` = how many times this row's source
    * should appear per natural pass (a mixing target ÷ natural share).
    * Every row gets floor(epochs) replicas, and the fractional
    * remainder is realized by the rows whose content hash lands in the
    * first frac·den slots of hash space — so a source at epochs = 2.3
    * emits each doc 2×, plus a deterministic, rerun-stable 30% of docs
    * a 3rd time, and a source at epochs = 0.7 keeps a 70% subsample
    * (the operator up- AND down-samples toward the target mix). The
    * fraction is quantized to 1/den (round-half-up on both engines) so
    * the threshold is integer-exact. Pure per-row arithmetic: the
    * materialization step is a map-side explode, no shuffle. */
  def epochReps(epochs: Column, key: Column, den: Int = 1000000): Column = {
    val whole = floor(epochs).cast("long")
    val fracSlots = round((epochs - floor(epochs)) * den).cast("long")
    whole + when(pmod(TextOps.h64(key), lit(den.toLong)) < fracSlots, 1L)
      .otherwise(0L)
  }

  /** SQL twin of [[epochReps]] (DuckDB syntax). */
  def epochRepsSql(epochsExpr: String, keyExpr: String,
      den: Int = 1000000): String =
    s"""CAST(floor($epochsExpr) AS BIGINT)
       + CASE WHEN ${TextOps.h64Sql(keyExpr)} % $den <
           CAST(round(($epochsExpr - floor($epochsExpr)) * $den) AS BIGINT)
         THEN 1 ELSE 0 END"""

  /** Greedy best-first corpus selection under a token budget ("fill
    * num/den of the corpus' tokens with the highest-quality docs")
    * WITHOUT a global sort — the counting-sort trick of ops/Shard
    * applied to budgeted selection. Docs histogram-bucket by quality
    * (bin = floor(quality · granularity)); per-bin token totals and a
    * descending prefix sum (a bins-sized window) locate the cutoff:
    * bins strictly above it fit the budget whole and are taken with a
    * map-side filter against a broadcast scalar; only the single
    * boundary bin pays an ordered prefix-sum window (partitioned by
    * the bin, so no global single-partition sort), filling the
    * remaining budget greedily by (quality desc, doc). At 100 TB the
    * expensive total order is confined to one histogram bin — a
    * bounded corpus fraction when the granularity matches the score's
    * spread. Input: (doc, quality, n_tokens); output: the selected
    * subset, same columns. Budget = Σ n_tokens · num div den
    * (integer-exact both engines).
    */
  def tokenBudgetSelect(docs: DataFrame, num: Int, den: Int,
      granularity: Double = 10.0): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val b = docs.withColumn("__bin",
      floor(col("quality") * lit(granularity)).cast("long"))
    val binsum = b.groupBy(col("__bin")).agg(sum(col("n_tokens")).as("__bt"))
    val cum = binsum.withColumn("__cum",
      sum(col("__bt")).over(w.orderBy(col("__bin").desc)))
    val budget = docs.agg(
      expr("sum(n_tokens) * " + num + " div " + den).as("__budget"))
    val cut = cum.crossJoin(broadcast(budget))
      .agg(min(when(col("__cum") <= col("__budget"), col("__bin")))
          .as("__cutbin"),
        max(when(col("__cum") > col("__budget"), col("__bin"))).as("__pbin"))
    val selFull = b.crossJoin(broadcast(cut))
      .filter(col("__bin") >= col("__cutbin"))
    val spent = selFull.agg(
      coalesce(sum(col("n_tokens")), lit(0L)).as("__spent"))
    val part = b.crossJoin(broadcast(cut))
      .filter(col("__bin") === col("__pbin"))
      .withColumn("__run", sum(col("n_tokens")).over(
        w.partitionBy(col("__bin"))
          .orderBy(col("quality").desc, col("doc").asc)))
      .crossJoin(broadcast(spent))
      .crossJoin(broadcast(budget))
      .filter(col("__run") <= col("__budget") - col("__spent"))
    selFull.select(col("doc"), col("quality"), col("n_tokens"))
      .union(part.select(col("doc"), col("quality"), col("n_tokens")))
  }

  /** One DoReMi exponentiated-gradient step (Xie et al. NeurIPS '23,
    * "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    * Pretraining"): domains whose proxy loss exceeds the best domain's
    * are up-weighted multiplicatively, then the mixture is smoothed
    * toward uniform —
    *   excess_d = mean_loss_d − min_d mean_loss
    *   w_d ∝ exp(η · excess_d),  final_d = (1−c)·w_d + c/|D|.
    * The full algorithm re-trains a proxy model between steps; the
    * engine's job is the data-side step, which is ONE corpus pass
    * (the per-domain loss mean) followed by arithmetic on the
    * domain-count-sized frame — every cross-domain reduction rides a
    * broadcast, so the op costs a single map-side-combined groupBy at
    * any corpus size. FP chain pinned: exact decimal loss means,
    * round-6 exp, fine-decimal normalizer — bit-identical across
    * engines.
    *
    * Input: per-document rows with a domain column and a loss column
    * (any per-doc loss proxy). Output:
    * (domain, n_docs, mean_loss, excess, weight), Σ weight = 1. The
    * per-document-mean call of [[doremiReweightWeighted]]: num = loss
    * and den = 1 on every non-null loss, so Σ den is count(loss) and a
    * null loss counts toward n_docs but not toward the mean. */
  def doremiReweight(losses: DataFrame, domain: Column, loss: Column,
      eta: Double, smooth: Double): DataFrame =
    doremiReweightWeighted(losses, domain, num = loss,
      den = when(loss.isNotNull, lit(1L)), eta, smooth)

  /** [[doremiReweight]] with a RATIO loss — the domain loss is
    * Σ num / Σ den instead of a mean of per-document divisions. With
    * (num, den) = (exact log-prob sum, bigram count) this is DoReMi's
    * actual per-TOKEN domain loss, and it is also the numerically
    * robust form: a per-doc `nll` is a division result whose low bits
    * can land on a decimal-cast half-ulp where Spark (exact-expansion
    * HALF_UP) and DuckDB (scaled-double) disagree — one hit among
    * thousands of docs shifts the domain mean by ~1e-6/n (observed at
    * sf0.1). Here `num` must be a 6-decimal quantum (e.g. a rounded-
    * term decimal sum), so its decimal cast is boundary-free and the
    * single final division runs on bit-identical inputs. */
  def doremiReweightWeighted(losses: DataFrame, domain: Column,
      num: Column, den: Column, eta: Double, smooth: Double): DataFrame = {
    val perDom = losses.groupBy(domain.as("domain"))
      .agg(count(lit(1)).as("n_docs"),
        (Exact.dsum(num) / sum(den).cast("double")).as("mean_loss"))
    val base = perDom.agg(min(col("mean_loss")).as("__base"))
    val scored = perDom.crossJoin(broadcast(base))
      .withColumn("excess", round(col("mean_loss") - col("__base"), 6))
      .withColumn("__e", round(exp(lit(eta) * col("excess")), 6))
    val tot = scored.agg(Exact.dsumFine(col("__e")).as("__tot"),
      count(lit(1)).cast("double").as("__nd"))
    scored.crossJoin(broadcast(tot))
      .withColumn("weight",
        round(lit(1.0 - smooth) * (col("__e") / col("__tot")) +
          lit(smooth) / col("__nd"), 6))
      .select(col("domain"), col("n_docs"), col("mean_loss"),
        col("excess"), col("weight"))
  }

  /** DuckDB twin of [[doremiReweightWeighted]] over a CTE
    * `dl(domain, num, den)` — same terminal `doremi` shape. */
  def doremiWeightedSql(eta: Double, smooth: Double): String = s"""
    ddom AS (
      SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
        ${Exact.sqlSum("num")} / CAST(SUM(den) AS DOUBLE) AS mean_loss
      FROM dl GROUP BY domain),
    dex AS (
      SELECT domain, n_docs, mean_loss,
        round(mean_loss - (SELECT MIN(mean_loss) FROM ddom), 6) AS excess
      FROM ddom),
    des AS (
      SELECT *, round(exp(${eta}e0 * excess), 6) AS e FROM dex),
    dtot AS (
      SELECT ${Exact.sqlSumFine("e")} AS tot,
        CAST(COUNT(*) AS DOUBLE) AS nd FROM des),
    doremi AS (
      SELECT domain, n_docs, mean_loss, excess,
        round(${1.0 - smooth}e0 * (e / (SELECT tot FROM dtot)) +
          ${smooth}e0 / (SELECT nd FROM dtot), 6) AS weight
      FROM des)"""
}
