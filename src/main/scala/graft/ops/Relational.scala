package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational building blocks shared by the catalog layer and queries.
  *
  * These mirror the reference's catalog-matching patterns (SURVEY.md §2.3):
  * precedence-ranked fallback matching (mopdb_utils.py get_cmorname /
  * parse_vars) and relational division (potential_vars — "mapping rows whose
  * every input is available").
  */
object Relational {

  /** Keep the single best row per group: rank by `order` within
    * `partition`, take rank 1. The reference uses this shape for
    * frequency-nearest variant selection (mop_setup.py find_nearest) and
    * mapping precedence (exact → no-version → no-frequency). */
  def topOnePerGroup(df: DataFrame, partition: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partition: _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** [[topOnePerGroup]] as a HASH AGGREGATION — the row per group that
    * minimizes `ord`, a struct column encoding the desired total order
    * with DESC terms negated (numerics/decimals negate exactly).
    * Row-for-row equivalent to the `row_number() = 1` window whenever
    * `ord` is a total order within each group — but the physical plan
    * is a partial+final `min_by` aggregate instead of
    * sort-by-full-order + WindowGroupLimit. The struct buffer keeps it
    * a SortAggregate (not hash), BUT the sort is by the GROUP KEY
    * alone — each row then folds into its group's running minimum in
    * O(1) — and the map-side partial shrinks the shuffle to one
    * candidate row per (partition, group) (guide §2.3 "aggregate
    * before you shuffle"). Measured 1.25× over the window on the
    * louvainMove `cand` shape (OPTIMIZATION_r18.md, interleaved A/B,
    * diff rows = 0); the window form had been ~35% of q235's executor
    * CPU (11/31 jstack samples inside GroupedLimitIterator + its
    * feeding sort). Use the window form when the order key cannot be
    * negated (strings in DESC terms). */
  def argMinPerGroup(df: DataFrame, keys: Seq[Column], ord: Column): DataFrame = {
    val payload = struct(df.columns.map(col): _*)
    df.groupBy(keys: _*)
      .agg(min_by(payload, ord).as("__arg"))
      .select(df.columns.map(c => col(s"__arg.$c").as(c)): _*)
  }

  /** Top-k rows per group under a deterministic total order — the
    * windowed generalization of [[topOnePerGroup]]. `order` must be a
    * total order (append a unique id as tie-break) or results are
    * engine-dependent. */
  def topKPerGroup(df: DataFrame, partition: Seq[Column], order: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(partition: _*).orderBy(order: _*)
    df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Relational division: groups of `df` (keyed by `key`) whose distinct
    * `attr` set covers the whole distinct `attr` universe of `universe`.
    * Mirrors mopdb_utils.py potential_vars ("every input_vars token is
    * present"). Fact attrs are first semi-joined against the universe so
    * attrs outside it cannot inflate a group's count into a false
    * positive; the universe (a dimension) is broadcast on both uses, so
    * the only shuffle is the distinct + group on the fact side. */
  def divide(df: DataFrame, key: Column, attr: Column, universe: DataFrame, universeAttr: Column): DataFrame = {
    val uattrs = universe.select(universeAttr.as("__attr")).distinct()
    val total = uattrs.agg(count(lit(1)).as("__total"))
    df.select(key.as("__key"), attr.as("__attr")).distinct()
      .join(broadcast(uattrs), Seq("__attr"), "left_semi")
      .groupBy(col("__key")).agg(count(lit(1)).as("__n"))
      .join(broadcast(total))
      .filter(col("__n") === col("__total"))
      .select(col("__key"), col("__n"))
  }
}
