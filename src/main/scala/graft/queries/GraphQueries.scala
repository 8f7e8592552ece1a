package graft.queries

import graft.Tables
import graft.ops.{Graph, Shard, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Link-graph and ordered-neighborhood operators: PageRank over the
  * order-derived supplier↔customer affiliation graph, and classic
  * sorted-neighborhood record linkage over the documents table. Both
  * follow the iterative-exactness conventions (6-decimal terms,
  * decimal-exact sums, integer thresholds) so the DuckDB oracle walks
  * the identical arithmetic.
  */
object GraphQueries extends QueryGroup {

  /** PageRank over the bipartite supplier↔customer graph (an edge per
    * distinct supplier→customer delivery, symmetrized). The corpus
    * analog: rank hosts by link authority before sampling — the
    * OpenWebText/CCNet-style popularity gate. 3 damped iterations;
    * every iteration is one shuffle join (ranks into edges on src) and
    * one map-side-combined groupBy (contributions by dst) — the
    * canonical data-sized-edges / node-sized-ranks split that scales
    * to a 1000-executor crawl graph. Top-100 by (rank desc, node) via
    * TakeOrderedAndProject. */
  private val q210 = Q(
    "q210_pagerank",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
      val ord = Tables(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val eo = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .select($"l_suppkey".as("sk"), $"o_custkey".as("ck")).distinct()
      val fwd = eo.select(
        concat(lit("s"), $"sk".cast("string")).as("src"),
        concat(lit("c"), $"ck".cast("string")).as("dst"))
      val edges = fwd.unionByName(
        fwd.select($"dst".as("src"), $"src".as("dst")))
      Graph.pageRank(edges, iters = 3)
        .orderBy($"pagerank".desc, $"node".asc)
        .limit(100)
    },
    Some(s"""
      WITH eo AS (
        SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      ed AS (
        SELECT 's' || CAST(sk AS VARCHAR) AS src,
               'c' || CAST(ck AS VARCHAR) AS dst FROM eo
        UNION ALL
        SELECT 'c' || CAST(ck AS VARCHAR), 's' || CAST(sk AS VARCHAR)
        FROM eo),
      ${Graph.pageRankSql(3)}
      SELECT node, pagerank FROM prout
      ORDER BY pagerank DESC, node LIMIT 100"""))

  /** Directed PageRank with dangling-mass redistribution
    * (Graph.pageRankDirected) over a crawl-shaped 3-layer DAG:
    * customer → supplier (a delivery is a one-way "citation") and
    * supplier → nation. Nations are true SINKS — they absorb rank and
    * return it only through the uniform dangling term, which is the
    * exact structure of a web crawl frontier (pages whose out-links
    * were never fetched). q210's symmetric contract cannot express
    * this graph; here the redistribution is one broadcast 1-row
    * aggregate per round. Top-100 by (rank desc, node). */
  private val q222 = Q(
    "q222_pagerank_directed",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
      val ord = Tables(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val cs = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .select(concat(lit("c"), $"o_custkey".cast("string")).as("src"),
          concat(lit("s"), $"l_suppkey".cast("string")).as("dst"))
        .distinct()
      val sn = Tables(s, dir, "supplier")
        .select(concat(lit("s"), $"s_suppkey".cast("string")).as("src"),
          concat(lit("n"), $"s_nationkey".cast("string")).as("dst"))
        .distinct()
      Graph.pageRankDirected(cs.unionByName(sn), iters = 3)
        .orderBy($"pagerank".desc, $"node".asc)
        .limit(100)
    },
    Some(s"""
      WITH ed AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
               's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        UNION
        SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR),
               'n' || CAST(s_nationkey AS VARCHAR)
        FROM supplier),
      ${Graph.pageRankDirectedSql(3)}
      SELECT node, pagerank FROM dprout
      ORDER BY pagerank DESC, node LIMIT 100"""))

  /** Sorted-neighborhood dedup (Hernández & Stolfo, SIGMOD '95): sort
    * the corpus by a normalized key, compare only records within a
    * sliding window of w=4 ranks, verify candidates with the exact
    * integer token-Jaccard test (J ≥ 0.8 ⟺ 9i ≥ 4(za+zb)). The global
    * rank comes from Shard.histogramRank — a counting sort bucketed on
    * the key's 4-char prefix, so no whole-frame single-partition
    * window ever runs (the offsets frame is distinct-prefix-sized and
    * broadcasts). Window pairs come from a rank-block equi-join
    * (block b joins b and b+1), bounding the candidate fan-out at
    * 2(w−1) per record — the complement to hash blocking: it catches
    * near-dups whose edit lands IN the blocking key, as long as the
    * sort key's prefix survives. */
  private val q211 = Q(
    "q211_sorted_neighborhood",
    (s, dir) => {
      import s.implicits._
      val d = Tables(s, dir, "documents")
      val keyed = d.select($"doc_id", $"source",
        substring(TextOps.normalizeText($"text"), 1, 24).as("k24"))
      val ranked = Shard.histogramRank(
        keyed, substring($"k24", 1, 4), bucketAsc = true,
        Seq($"k24".asc, $"doc_id".asc), "rnk")
      val blk = floor(($"rnk" - 1) / lit(4)).cast("long")
      val left = ranked.select($"doc_id".as("d1"), $"source",
          $"rnk".as("r1"), explode(array(blk, blk + 1)).as("jb"))
      val right = ranked.select($"doc_id".as("d2"), $"rnk".as("r2"),
        blk.as("jb"))
      val cands = left.join(right, Seq("jb"))
        .filter($"r2" - $"r1" >= 1 && $"r2" - $"r1" <= 3)
        .select($"d1", $"d2", $"source")
      // exact verify: candidate fan-out is ≤ 2(w-1) per doc, so the
      // token rows blow up by a bounded constant through the pair join
      val tok = d.select($"doc_id",
          explode(TextOps.tokens($"text")).as("token")).distinct()
      val sz = tok.groupBy($"doc_id").agg(count(lit(1)).as("z"))
      val i2 = cands
        .join(tok.select($"doc_id".as("d1"), $"token"), Seq("d1"))
        .join(tok.select($"doc_id".as("d2"), $"token"), Seq("d2", "token"))
        .groupBy($"d1", $"d2").agg(count(lit(1)).as("i"))
      cands
        .join(i2, Seq("d1", "d2"), "left")
        .join(sz.select($"doc_id".as("d1"), $"z".as("za")), Seq("d1"))
        .join(sz.select($"doc_id".as("d2"), $"z".as("zb")), Seq("d2"))
        .withColumn("dup",
          when(lit(9) * coalesce($"i", lit(0L)) >=
            lit(4) * ($"za" + $"zb"), 1L).otherwise(0L))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_cands"), sum($"dup").as("n_dups"))
        .orderBy($"source")
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id, source,
          substr(${TextOps.normalizeTextSql("text")}, 1, 24) AS k24
        FROM documents),
      r AS (
        SELECT doc_id, source, k24,
          CAST(ROW_NUMBER() OVER (ORDER BY k24, doc_id) AS BIGINT) AS rnk
        FROM t),
      c AS (
        SELECT a.doc_id AS d1, a.source, b.doc_id AS d2
        FROM r a JOIN r b ON b.rnk - a.rnk BETWEEN 1 AND 3),
      tok AS (
        SELECT DISTINCT doc_id,
          unnest(string_split_regex(trim(text), '\\s+')) AS token
        FROM documents),
      sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS z
             FROM tok GROUP BY doc_id),
      i2 AS (
        SELECT c.d1, c.d2, CAST(COUNT(*) AS BIGINT) AS i
        FROM c
        JOIN tok t1 ON c.d1 = t1.doc_id
        JOIN tok t2 ON c.d2 = t2.doc_id AND t1.token = t2.token
        GROUP BY c.d1, c.d2)
      SELECT c.source, CAST(COUNT(*) AS BIGINT) AS n_cands,
        CAST(SUM(CASE WHEN 9 * COALESCE(i2.i, 0) >= 4 * (sa.z + sb.z)
          THEN 1 ELSE 0 END) AS BIGINT) AS n_dups
      FROM c
      LEFT JOIN i2 ON c.d1 = i2.d1 AND c.d2 = i2.d2
      JOIN sz sa ON c.d1 = sa.doc_id
      JOIN sz sb ON c.d2 = sb.doc_id
      GROUP BY c.source
      ORDER BY c.source"""))

  /** Personalized PageRank from a trusted seed set — the seed-expanded
    * curation score (rank everything by link-proximity to nation-0's
    * suppliers; the corpus analog ranks hosts by proximity to a
    * hand-curated allowlist before sampling). Ranks stay SPARSE (the
    * 3-hop frontier of the seeds), the teleport mass lands only on
    * seeds via a node-keyed full-outer join — no dense rank vector
    * ever materializes. Top-50 via TakeOrderedAndProject. */
  private val q215 = Q(
    "q215_personalized_pagerank",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
      val ord = Tables(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val eo = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .select($"l_suppkey".as("sk"), $"o_custkey".as("ck")).distinct()
      val fwd = eo.select(
        concat(lit("s"), $"sk".cast("string")).as("src"),
        concat(lit("c"), $"ck".cast("string")).as("dst"))
      val edges = fwd.unionByName(
        fwd.select($"dst".as("src"), $"src".as("dst")))
      val sup = Tables(s, dir, "supplier")
        .filter($"s_nationkey" === 0)
        .select(concat(lit("s"), $"s_suppkey".cast("string")).as("node"))
      // seeds must live in the graph: semi-join onto the supplier side
      // of the pair frame (s-nodes appear in edges iff they appear in
      // eo — cheaper than re-deriving the symmetrized union)
      val seeds = sup.join(
        eo.select(concat(lit("s"), $"sk".cast("string")).as("node"))
          .distinct(),
        Seq("node"), "left_semi")
      Graph.pageRankPersonalized(edges, seeds, iters = 3)
        .orderBy($"ppr".desc, $"node".asc)
        .limit(50)
    },
    Some(s"""
      WITH eo AS (
        SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      ed AS (
        SELECT 's' || CAST(sk AS VARCHAR) AS src,
               'c' || CAST(ck AS VARCHAR) AS dst FROM eo
        UNION ALL
        SELECT 'c' || CAST(ck AS VARCHAR), 's' || CAST(sk AS VARCHAR)
        FROM eo),
      seeds AS (
        SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR) AS node
        FROM supplier
        WHERE s_nationkey = 0
          AND 's' || CAST(s_suppkey AS VARCHAR) IN (SELECT src FROM ed)),
      ${Graph.pageRankPersonalizedSql(3)}
      SELECT node, ppr FROM pprout
      ORDER BY ppr DESC, node LIMIT 50"""))

  /** Bounded 30-core peel of the affiliation graph: the per-round
    * shrink curve as low-degree customers (and then under-connected
    * suppliers) peel away — the dense-backbone extraction a dup-graph
    * run uses to isolate boilerplate cliques before keeper selection.
    * Three rounds, each one degree-count + two semi-joins. */
  private val q216 = Q(
    "q216_kcore_peel",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
      val ord = Tables(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val eo = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .select($"l_suppkey".as("sk"), $"o_custkey".as("ck")).distinct()
      val fwd = eo.select(
        concat(lit("s"), $"sk".cast("string")).as("src"),
        concat(lit("c"), $"ck".cast("string")).as("dst"))
      val edges = fwd.unionByName(
        fwd.select($"dst".as("src"), $"src".as("dst")))
      Graph.kCorePeel(edges, k = 30, rounds = 3)
    },
    Some(s"""
      WITH eo AS (
        SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      ed AS (
        SELECT 's' || CAST(sk AS VARCHAR) AS src,
               'c' || CAST(ck AS VARCHAR) AS dst FROM eo
        UNION ALL
        SELECT 'c' || CAST(ck AS VARCHAR), 's' || CAST(sk AS VARCHAR)
        FROM eo),
      ${Graph.kCorePeelSql(30, 3)}
      SELECT round, n_nodes, n_edges FROM kcout ORDER BY round"""))

  /** Capped bipartite projection: supplier–supplier affinity through
    * shared customers — the co-occurrence candidate generator
    * (collaborative filtering's item-item step; in corpus terms,
    * source–source affinity through shared near-dup clusters). The
    * projection is THE quadratic graph risk: a hub customer of degree
    * d mints C(d,2) pairs, so customers above the cap (40) are dropped
    * BEFORE pairing — the same hot-key discipline as capHotBands /
    * the semantic-dedup cell cap, bounding any one join key's fan-out
    * at C(40,2). Degrees are recomputed on the capped graph so the
    * Jaccard denominator is consistent on both engines. Top-20 by
    * (shared desc, pair) via TakeOrderedAndProject. */
  private val q220 = Q(
    "q220_bipartite_projection",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
      val ord = Tables(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val eo = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .select($"l_suppkey".as("sk"), $"o_custkey".as("ck")).distinct()
        .transform(graft.ops.Iterate.cut)
      val keptCust = eo.groupBy($"ck").agg(count(lit(1)).as("cd"))
        .filter($"cd" <= 40).select($"ck")
      val kept = eo.join(keptCust, Seq("ck"), "left_semi")
        .transform(graft.ops.Iterate.cut)
      val sdeg = kept.groupBy($"sk").agg(count(lit(1)).as("d"))
      val pairs = kept.select($"ck", $"sk".as("s1"))
        .join(kept.select($"ck", $"sk".as("s2")), Seq("ck"))
        .filter($"s1" < $"s2")
        .groupBy($"s1", $"s2").agg(count(lit(1)).as("shared"))
      pairs
        .join(sdeg.select($"sk".as("s1"), $"d".as("d1")), Seq("s1"))
        .join(sdeg.select($"sk".as("s2"), $"d".as("d2")), Seq("s2"))
        .select($"s1", $"s2", $"shared", $"d1", $"d2",
          round($"shared".cast("double") /
            ($"d1" + $"d2" - $"shared").cast("double"), 6).as("jaccard"))
        .orderBy($"shared".desc, $"s1".asc, $"s2".asc)
        .limit(20)
    },
    Some(s"""
      WITH eo AS (
        SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      keptc AS (
        SELECT ck FROM eo GROUP BY ck HAVING COUNT(*) <= 40),
      kept AS (
        SELECT e.sk, e.ck FROM eo e JOIN keptc k ON e.ck = k.ck),
      sdeg AS (SELECT sk, CAST(COUNT(*) AS BIGINT) AS d
               FROM kept GROUP BY sk),
      pairs AS (
        SELECT a.sk AS s1, b.sk AS s2, CAST(COUNT(*) AS BIGINT) AS shared
        FROM kept a JOIN kept b ON a.ck = b.ck AND a.sk < b.sk
        GROUP BY a.sk, b.sk)
      SELECT p.s1, p.s2, p.shared, da.d AS d1, db.d AS d2,
        round(CAST(p.shared AS DOUBLE) /
          CAST(da.d + db.d - p.shared AS DOUBLE), 6) AS jaccard
      FROM pairs p
      JOIN sdeg da ON p.s1 = da.sk
      JOIN sdeg db ON p.s2 = db.sk
      ORDER BY p.shared DESC, p.s1, p.s2 LIMIT 20"""))

  /** HITS hubs & authorities (Graph.hits) over the directed
    * customer → supplier → nation DAG: the two-role decomposition a
    * crawl frontier needs — hub scores rank the aggregator side
    * (customers/suppliers pointing at good targets), authority scores
    * the canonical side (suppliers/nations pointed at by good hubs).
    * Three alternating L1-normalized iterations, each half one
    * edges ⋈ scores join + one map-side-combined sum + a 1-row
    * normalizer broadcast. Top-25 by (authority desc, hub desc,
    * node) — a total order. */
  private val q224 = Q(
    "q224_hits",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
      val ord = Tables(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val cs = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .select(concat(lit("c"), $"o_custkey".cast("string")).as("src"),
          concat(lit("s"), $"l_suppkey".cast("string")).as("dst"))
        .distinct()
      val sn = Tables(s, dir, "supplier")
        .select(concat(lit("s"), $"s_suppkey".cast("string")).as("src"),
          concat(lit("n"), $"s_nationkey".cast("string")).as("dst"))
        .distinct()
      Graph.hits(cs.unionByName(sn), iters = 3)
        .orderBy($"authority".desc, $"hub".desc, $"node".asc)
        .limit(25)
    },
    Some(s"""
      WITH ed AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
               's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        UNION
        SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR),
               'n' || CAST(s_nationkey AS VARCHAR)
        FROM supplier),
      ${Graph.hitsSql(3)}
      SELECT node, authority, hub FROM hitsout
      ORDER BY authority DESC, hub DESC, node LIMIT 25"""))

  /** Per-node triangle counts + local clustering coefficient
    * (Graph.triangleStats) over the NEAR-DUP document graph (q62's
    * blocked-Jaccard ≥ 0.9 edges): triangles in a dedup graph ARE its
    * template cliques — three pairwise-near-identical docs — and the
    * clustering coefficient separates "stamped template" (cc → 1)
    * from "chain of incremental edits" (cc → 0), which is the policy
    * split between collapse-to-one and keep-the-endpoints. The
    * affiliation projection was deliberately REJECTED as the
    * substrate: at every tested threshold it is near-complete
    * (497k/499.5k possible edges at sf0.1 — everything co-occurs with
    * everything through some customer), so its triangle count is
    * C(n,3)-shaped noise. Degree-ordered orientation bounds the wedge
    * volume by the arboricity (out-degree ≤ O(√m)), never a hub's
    * C(d,2). Top-20 by (n_tri desc, node). */
  private val q225 = Q(
    "q225_triangle_stats",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val tr = docs.select($"doc_id".as("doc"),
        concat($"source", lit("#"),
          ($"n_chars" / 100).cast("int").cast("string")).as("block"),
        explode(array_distinct(TextOps.tokens($"text"))).as("token"))
      val pairs = TextOps.blockedJaccard(tr)
        .filter($"jaccard" >= 0.9)
        .select($"d1", $"d2")
      Graph.triangleStats(pairs)
        .orderBy($"n_tri".desc, $"node".asc)
        .limit(20)
    },
    Some(s"""
      WITH tr AS (
        SELECT doc_id AS doc,
          source || '#' || CAST(CAST(n_chars // 100 AS INT) AS VARCHAR) AS block,
          unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS token
        FROM documents),
      tsz AS (SELECT doc, CAST(COUNT(*) AS BIGINT) AS n FROM tr GROUP BY doc),
      tint AS (
        SELECT a.doc AS d1, b.doc AS d2, CAST(COUNT(*) AS BIGINT) AS i
        FROM tr a JOIN tr b ON a.block = b.block AND a.token = b.token
          AND a.doc < b.doc
        GROUP BY 1, 2),
      pr AS (
        SELECT d1, d2
        FROM tint JOIN tsz sa ON d1 = sa.doc JOIN tsz sb ON d2 = sb.doc
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.9),
      ${Graph.triangleStatsSql}
      SELECT node, degree, n_tri, clustering FROM triout
      ORDER BY n_tri DESC, node LIMIT 20"""))

  /** Semi-supervised label propagation (Graph.labelPropagate): the
    * suppliers carry curated nation labels (the audited seed set),
    * and three clamped-majority rounds diffuse them over the
    * symmetric supplier↔customer affiliation graph — every customer
    * adopts its majority supplier nation. Integer masses + a total
    * adoption order make the whole trajectory float-free. Output:
    * node counts per (label, side) — the label-coverage census a
    * seed-propagation run gates on (how much of the corpus did the
    * curated labels reach, and where). */
  private val q226 = Q(
    "q226_label_propagation",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
      val ord = Tables(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val eo = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .select($"l_suppkey".as("sk"), $"o_custkey".as("ck")).distinct()
      val fwd = eo.select(
        concat(lit("s"), $"sk".cast("string")).as("src"),
        concat(lit("c"), $"ck".cast("string")).as("dst"))
      val edges = fwd.unionByName(
        fwd.select($"dst".as("src"), $"src".as("dst")))
      val seeds = Tables(s, dir, "supplier")
        .select(concat(lit("s"), $"s_suppkey".cast("string")).as("node"),
          concat(lit("n"), $"s_nationkey".cast("string")).as("label"))
        .join(eo.select(concat(lit("s"), $"sk".cast("string")).as("node"))
          .distinct(), Seq("node"), "left_semi")
      Graph.labelPropagate(edges, seeds, rounds = 3)
        .groupBy(coalesce($"label", lit("unlabeled")).as("label"),
          substring($"node", 1, 1).as("side"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy($"label", $"side")
    },
    Some(s"""
      WITH eo AS (
        SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      ed AS (
        SELECT 's' || CAST(sk AS VARCHAR) AS src,
               'c' || CAST(ck AS VARCHAR) AS dst FROM eo
        UNION ALL
        SELECT 'c' || CAST(ck AS VARCHAR), 's' || CAST(sk AS VARCHAR)
        FROM eo),
      seeds AS (
        SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR) AS node,
               'n' || CAST(s_nationkey AS VARCHAR) AS label
        FROM supplier
        WHERE 's' || CAST(s_suppkey AS VARCHAR) IN
          (SELECT 's' || CAST(sk AS VARCHAR) FROM eo)),
      ${Graph.labelPropagateSql(3)}
      SELECT COALESCE(label, 'unlabeled') AS label,
        substr(node, 1, 1) AS side,
        CAST(COUNT(*) AS BIGINT) AS n_nodes
      FROM lpout GROUP BY 1, 2 ORDER BY label, side"""))

  /** k-hop BFS frontier census (Graph.bfsFrontier) from the trusted
    * seed set q215 personalizes on (nation-0's suppliers), over the
    * symmetric affiliation graph: per hop the newly reached nodes and
    * the cumulative reach — the crawl-budget curve ("3 hops from the
    * allowlist covers how much?") beside PPR's mass-weighted view.
    * All-integer, three semi/anti-join hops. */
  private val q227 = Q(
    "q227_bfs_frontier",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
      val ord = Tables(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val eo = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .select($"l_suppkey".as("sk"), $"o_custkey".as("ck")).distinct()
      val fwd = eo.select(
        concat(lit("s"), $"sk".cast("string")).as("src"),
        concat(lit("c"), $"ck".cast("string")).as("dst"))
      val edges = fwd.unionByName(
        fwd.select($"dst".as("src"), $"src".as("dst")))
      val seeds = Tables(s, dir, "supplier")
        .filter($"s_nationkey" === 0)
        .select(concat(lit("s"), $"s_suppkey".cast("string")).as("node"))
        .join(eo.select(concat(lit("s"), $"sk".cast("string")).as("node"))
          .distinct(), Seq("node"), "left_semi")
      Graph.bfsFrontier(edges, seeds, hops = 3)
    },
    Some(s"""
      WITH eo AS (
        SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      ed AS (
        SELECT 's' || CAST(sk AS VARCHAR) AS src,
               'c' || CAST(ck AS VARCHAR) AS dst FROM eo
        UNION ALL
        SELECT 'c' || CAST(ck AS VARCHAR), 's' || CAST(sk AS VARCHAR)
        FROM eo),
      seeds AS (
        SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR) AS node
        FROM supplier
        WHERE s_nationkey = 0
          AND 's' || CAST(s_suppkey AS VARCHAR) IN (SELECT src FROM ed)),
      ${Graph.bfsFrontierSql(3)}
      SELECT hop, n_frontier, n_visited FROM bfsout ORDER BY hop"""))

  /** Adamic–Adar candidate scoring (Graph.adamicAdar) over the same
    * capped supplier-through-customer substrate as q220, which it
    * deliberately sits beside: Jaccard treats every shared customer
    * equally, Adamic–Adar up-weights a shared customer with few
    * suppliers (a rare co-occurrence is strong linkage evidence —
    * Liben-Nowell & Kleinberg '07's best simple predictor). Same
    * hot-group cap (≤ 40) bounds the pair fan-out at C(40,2) per
    * customer before pairing. Top-20 by (aa desc, s1, s2). */
  private val q228 = Q(
    "q228_adamic_adar",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
      val ord = Tables(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val eo = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .select($"l_suppkey".as("sk"), $"o_custkey".as("ck")).distinct()
        .transform(graft.ops.Iterate.cut)
      val keptCust = eo.groupBy($"ck").agg(count(lit(1)).as("cd"))
        .filter($"cd" <= 40).select($"ck")
      val memb = eo.join(keptCust, Seq("ck"), "left_semi")
        .select($"sk".as("item"), $"ck".as("grp"))
      Graph.adamicAdar(memb)
        .select($"i1".as("s1"), $"i2".as("s2"), $"shared", $"aa")
        .orderBy($"aa".desc, $"s1".asc, $"s2".asc)
        .limit(20)
    },
    Some(s"""
      WITH eo AS (
        SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      keptc AS (
        SELECT ck FROM eo GROUP BY ck HAVING COUNT(*) <= 40),
      memb AS (
        SELECT e.sk AS item, e.ck AS grp
        FROM eo e JOIN keptc k ON e.ck = k.ck),
      ${Graph.adamicAdarSql}
      SELECT i1 AS s1, i2 AS s2, shared, aa FROM aaout
      ORDER BY aa DESC, i1, i2 LIMIT 20"""))

  /** Bounded weighted shortest paths (Graph.sssp) from the nation-0
    * supplier seeds over the affiliation graph, with edge cost
    * INVERSE to interaction strength (4 − min(n_orders, 3) ∈ {1,2,3}
    * — a well-trodden supplier↔customer link is cheap to trust, a
    * one-order link expensive): the trust-radius curve beside q227's
    * unweighted reach — at the same 4-round horizon, hops across
    * strong edges reach farther than weak ones. All-integer min-plus;
    * output is the distance histogram (dist, n_nodes). */
  private val q229 = Q(
    "q229_sssp_trust",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem")
        .select($"l_orderkey", $"l_suppkey").distinct()
      val ord = Tables(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val eo = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_suppkey".as("sk"), $"o_custkey".as("ck"))
        .agg(count(lit(1)).as("n_ord"))
      val fwd = eo.select(
        concat(lit("s"), $"sk".cast("string")).as("src"),
        concat(lit("c"), $"ck".cast("string")).as("dst"),
        (lit(4L) - least($"n_ord", lit(3L))).as("w"))
      val edges = fwd.unionByName(
        fwd.select($"dst".as("src"), $"src".as("dst"), $"w"))
      val seeds = Tables(s, dir, "supplier")
        .filter($"s_nationkey" === 0)
        .select(concat(lit("s"), $"s_suppkey".cast("string")).as("node"))
      Graph.sssp(edges, seeds, rounds = 4)
        .groupBy($"dist").agg(count(lit(1)).as("n_nodes"))
        .orderBy($"dist")
    },
    Some(s"""
      WITH eo AS (
        SELECT l_suppkey AS sk, o_custkey AS ck,
               CAST(COUNT(*) AS BIGINT) AS n_ord
        FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) li
        JOIN orders ON li.l_orderkey = orders.o_orderkey
        GROUP BY 1, 2),
      ed AS (
        SELECT 's' || CAST(sk AS VARCHAR) AS src,
               'c' || CAST(ck AS VARCHAR) AS dst,
               4 - LEAST(n_ord, 3) AS w FROM eo
        UNION ALL
        SELECT 'c' || CAST(ck AS VARCHAR), 's' || CAST(sk AS VARCHAR),
               4 - LEAST(n_ord, 3) FROM eo),
      seeds AS (
        SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR) AS node
        FROM supplier WHERE s_nationkey = 0),
      ${Graph.ssspSql(4)}
      SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_nodes
      FROM spout GROUP BY 1 ORDER BY dist"""))

  /** Log2-bucketed degree distribution per side of the bipartite
    * affiliation graph — the first diagnostic run on any crawl/link
    * graph (is it power-law? where do the hubs start?) and the input
    * to every hub-cap decision (q220's ≤ 40, triangleStats'
    * orientation). Bucket = binary length of the degree (= ⌊log2⌋+1),
    * computed by string length of bin(deg) on BOTH engines — no
    * float log whose last ulp could flip a bucket at exact powers of
    * two. One map-side-combined degree count + one bucket-sized
    * groupBy; all-integer. */
  private val q230 = Q(
    "q230_degree_profile",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
      val ord = Tables(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val eo = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .select($"l_suppkey".as("sk"), $"o_custkey".as("ck")).distinct()
      val deg = eo.select(concat(lit("s"), $"sk".cast("string")).as("node"),
          $"ck".as("peer"))
        .unionByName(eo.select(
          concat(lit("c"), $"ck".cast("string")).as("node"),
          $"sk".as("peer")))
        .groupBy($"node").agg(count(lit(1)).as("deg"))
      deg.select(substring($"node", 1, 1).as("side"), $"deg",
          length(bin($"deg")).cast("long").as("bucket"))
        .groupBy($"side", $"bucket")
        .agg(count(lit(1)).as("n_nodes"), min($"deg").as("min_deg"),
          max($"deg").as("max_deg"), sum($"deg").as("sum_deg"))
        .orderBy($"side", $"bucket")
    },
    Some("""
      WITH eo AS (
        SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      dg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
          SELECT 's' || CAST(sk AS VARCHAR) AS node FROM eo
          UNION ALL
          SELECT 'c' || CAST(ck AS VARCHAR) FROM eo) u
        GROUP BY node)
      SELECT substr(node, 1, 1) AS side,
        CAST(length(bin(deg)) AS BIGINT) AS bucket,
        CAST(COUNT(*) AS BIGINT) AS n_nodes,
        MIN(deg) AS min_deg, MAX(deg) AS max_deg,
        CAST(SUM(deg) AS BIGINT) AS sum_deg
      FROM dg GROUP BY 1, 2 ORDER BY side, bucket"""))

  /** Degree assortativity (Newman '02 "Assortative mixing in
    * networks", eq. 4) of the affiliation graph: the Pearson
    * correlation of end-degrees over edges — do hubs link to hubs
    * (r > 0, social-graph shape) or to leaves (r < 0, bipartite /
    * crawl shape)? Decides whether hub-capping even helps: a
    * disassortative graph concentrates ALL pair fan-out in its hubs.
    * Everything is integer until one exact→double division:
    * r = (M·Σjk − Σj·Σk) / (M·Σj² − (Σj)²) on the symmetric frame
    * (where Σj = Σk). The SUMS fit a long at any realistic scale,
    * but their PRODUCTS do not — (Σ deg²)² passes 2^63 once
    * Σ deg² > ~3·10⁹ — so [[Graph.assortativityR]] computes them in
    * decimal(38,0) and the oracle in HUGEINT (both exact), then one
    * deterministic IEEE division. */
  private val q231 = Q(
    "q231_assortativity",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
      val ord = Tables(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val eo = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .select($"l_suppkey".as("sk"), $"o_custkey".as("ck")).distinct()
      val fwd = eo.select(
        concat(lit("s"), $"sk".cast("string")).as("src"),
        concat(lit("c"), $"ck".cast("string")).as("dst"))
      val edges = fwd.unionByName(
        fwd.select($"dst".as("src"), $"src".as("dst")))
        .transform(graft.ops.Iterate.cut)
      val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
      val sums = edges
        .join(deg.select($"src", $"deg".as("j")), Seq("src"))
        .join(deg.select($"src".as("dst"), $"deg".as("k")), Seq("dst"))
        .agg(count(lit(1)).as("m_edges"), sum($"j").as("s_j"),
          sum($"j" * $"k").as("s_jk"), sum($"j" * $"j").as("s_j2"))
      Graph.assortativityR(sums)
    },
    Some("""
      WITH eo AS (
        SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      ed AS (
        SELECT 's' || CAST(sk AS VARCHAR) AS src,
               'c' || CAST(ck AS VARCHAR) AS dst FROM eo
        UNION ALL
        SELECT 'c' || CAST(ck AS VARCHAR), 's' || CAST(sk AS VARCHAR)
        FROM eo),
      dg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
             FROM ed GROUP BY src),
      sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m_edges,
               CAST(SUM(dj.deg) AS BIGINT) AS s_j,
               CAST(SUM(dj.deg * dk.deg) AS BIGINT) AS s_jk,
               CAST(SUM(dj.deg * dj.deg) AS BIGINT) AS s_j2
        FROM ed e
        JOIN dg dj ON e.src = dj.src
        JOIN dg dk ON e.dst = dk.src)
      SELECT m_edges, s_j, s_jk, s_j2,
        round(CAST(CAST(m_edges AS HUGEINT) * s_jk
                   - CAST(s_j AS HUGEINT) * s_j AS DOUBLE) /
              CAST(CAST(m_edges AS HUGEINT) * s_j2
                   - CAST(s_j AS HUGEINT) * s_j AS DOUBLE), 6)
          AS r_assort
      FROM sums"""))

  /** Hash-seeded random-walk visit counts (Graph.randomWalk) from
    * every supplier node, 4 steps over the affiliation graph — the
    * DeepWalk/Pixie sampling primitive: aggregate visit frequency is
    * the Monte-Carlo PageRank estimate, per-walker trajectories are
    * the skip-gram pair source for graph embeddings. Deterministic
    * h64 steps, so the oracle replays identical walks. Top-25
    * visited (steps ≥ 1) by (n_visits desc, n_walkers desc, node). */
  private val q232 = Q(
    "q232_random_walk",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
      val ord = Tables(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val eo = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .select($"l_suppkey".as("sk"), $"o_custkey".as("ck")).distinct()
      val fwd = eo.select(
        concat(lit("s"), $"sk".cast("string")).as("src"),
        concat(lit("c"), $"ck".cast("string")).as("dst"))
      val edges = fwd.unionByName(
        fwd.select($"dst".as("src"), $"src".as("dst")))
      val seeds = eo.select(
        concat(lit("s"), $"sk".cast("string")).as("node")).distinct()
      Graph.randomWalk(edges, seeds, steps = 4)
        .filter($"step" >= 1)
        .groupBy($"node")
        .agg(count(lit(1)).as("n_visits"),
          countDistinct($"walker").as("n_walkers"))
        .orderBy($"n_visits".desc, $"n_walkers".desc, $"node".asc)
        .limit(25)
    },
    Some(s"""
      WITH eo AS (
        SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      ed AS (
        SELECT 's' || CAST(sk AS VARCHAR) AS src,
               'c' || CAST(ck AS VARCHAR) AS dst FROM eo
        UNION ALL
        SELECT 'c' || CAST(ck AS VARCHAR), 's' || CAST(sk AS VARCHAR)
        FROM eo),
      seeds AS (
        SELECT DISTINCT 's' || CAST(sk AS VARCHAR) AS node FROM eo),
      ${Graph.randomWalkSql(4)}
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_visits,
             CAST(COUNT(DISTINCT walker) AS BIGINT) AS n_walkers
      FROM rwout WHERE step >= 1
      GROUP BY node
      ORDER BY n_visits DESC, n_walkers DESC, node LIMIT 25"""))

  /** Modularity (Graph.modularity) of the NATION partition over the
    * affiliation graph — scores a candidate community structure the
    * way q226's label propagation proposes one: is trade
    * nation-assortative (Q > 0) or does the order graph ignore
    * geography (Q ≈ 0)? Per-nation rows expose each community's
    * (n_nodes, d_c, e_in, q_term); the '__all__' row is Q from
    * integer totals. One label-attach join per edge end + a
    * 25-community groupBy. */
  private val q233 = Q(
    "q233_modularity",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
      val ord = Tables(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val eo = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .select($"l_suppkey".as("sk"), $"o_custkey".as("ck")).distinct()
      val fwd = eo.select(
        concat(lit("s"), $"sk".cast("string")).as("src"),
        concat(lit("c"), $"ck".cast("string")).as("dst"))
      val edges = fwd.unionByName(
        fwd.select($"dst".as("src"), $"src".as("dst")))
      val comm = Tables(s, dir, "supplier")
        .select(concat(lit("s"), $"s_suppkey".cast("string")).as("node"),
          concat(lit("n"), $"s_nationkey".cast("string")).as("label"))
        .unionByName(Tables(s, dir, "customer")
          .select(concat(lit("c"), $"c_custkey".cast("string")).as("node"),
            concat(lit("n"), $"c_nationkey".cast("string")).as("label")))
      Graph.modularity(edges, comm).orderBy($"label")
    },
    Some(s"""
      WITH eo AS (
        SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      ed AS (
        SELECT 's' || CAST(sk AS VARCHAR) AS src,
               'c' || CAST(ck AS VARCHAR) AS dst FROM eo
        UNION ALL
        SELECT 'c' || CAST(ck AS VARCHAR), 's' || CAST(sk AS VARCHAR)
        FROM eo),
      comm AS (
        SELECT 's' || CAST(s_suppkey AS VARCHAR) AS node,
               'n' || CAST(s_nationkey AS VARCHAR) AS label FROM supplier
        UNION ALL
        SELECT 'c' || CAST(c_custkey AS VARCHAR),
               'n' || CAST(c_nationkey AS VARCHAR) FROM customer),
      ${Graph.modularitySql}
      SELECT label, n_nodes, d_c, e_in, q_term FROM modout
      ORDER BY label"""))

  /** One greedy modularity-improving sweep (Graph.louvainMove —
    * Louvain level-1 phase-1, Blondel '08) over the partition q226's
    * label propagation proposes, scored before and after with
    * Graph.modularity: the engine's community-detection halves —
    * PROPOSE (diffusion), IMPROVE (greedy ΔQ), SCORE (Q) — composed
    * into an actual community-detection loop: TWO chained sweeps,
    * each scored. Unlabeled nodes enter as singletons (their own id),
    * the standard Louvain init. Output: rows (sweep, n_comms,
    * n_moved, q) for sweeps 0/1/2 — q strictly monotone in sweep is
    * the empirical done-criterion (guaranteed by the conflict-free
    * acceptance rule whenever n_moved > 0; see Graph.louvainMove). */
  private val q235 = Q(
    "q235_louvain_sweep",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
      val ord = Tables(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      // eo is read THREE times (both edge directions + the seed
      // semi-join): cut it once — the seed path previously re-derived
      // the whole lineitem⋈orders distinct from parquet (r18)
      val eo = graft.ops.Iterate.cut(
        li.join(ord, $"l_orderkey" === $"o_orderkey")
          .select($"l_suppkey".as("sk"), $"o_custkey".as("ck")).distinct())
      val fwd = eo.select(
        concat(lit("s"), $"sk".cast("string")).as("src"),
        concat(lit("c"), $"ck".cast("string")).as("dst"))
      val edges = fwd.unionByName(
        fwd.select($"dst".as("src"), $"src".as("dst")))
        .transform(graft.ops.Iterate.cut)
      val seeds = Tables(s, dir, "supplier")
        .select(concat(lit("s"), $"s_suppkey".cast("string")).as("node"),
          concat(lit("n"), $"s_nationkey".cast("string")).as("label"))
        .join(eo.select(concat(lit("s"), $"sk".cast("string")).as("node"))
          .distinct(), Seq("node"), "left_semi")
      val before = Graph.labelPropagate(edges, seeds, rounds = 3)
        .select($"node", coalesce($"label", $"node").as("label"))
        .transform(graft.ops.Iterate.cut)
      // degree frame shared by BOTH sweeps (r18 deg hoist — the
      // single-arg louvainMove re-aggregated the edge frame per sweep)
      val deg = graft.ops.Iterate.cut(
        edges.groupBy($"src".as("node")).agg(count(lit(1)).as("k")))
      val s1 = graft.ops.Iterate.cut(Graph.louvainMove(edges, deg, before))
      val s2 = Graph.louvainMove(edges, deg, s1)
      // ONE tagged label frame scores the whole trajectory (r11
      // verdict #4): n_comms, n_moved, and all three Q rows come off
      // one checkpoint + one tagged modularity pass instead of three
      // separate edges⋈comm⋈comm joins with their own barriers
      val lab = before.withColumn("sweep", lit(0L))
        .unionByName(s1.withColumn("sweep", lit(1L)))
        .unionByName(s2.withColumn("sweep", lit(2L)))
        .transform(graft.ops.Iterate.cut)
      val nc = lab.groupBy($"sweep")
        .agg(countDistinct($"label").as("n_comms"))
      val mv = lab.join(
          lab.select(($"sweep" + 1).as("sweep"), $"node",
            $"label".as("prev")), Seq("sweep", "node"))
        .groupBy($"sweep")
        .agg(sum(when($"label" =!= $"prev", 1L).otherwise(0L)).as("n_moved"))
      val qs = Graph.modularityAllTagged(edges,
        lab.select($"sweep".as("tag"), $"node", $"label"))
      nc.join(mv, Seq("sweep"), "left")
        .join(qs.select($"tag".as("sweep"), $"q"), Seq("sweep"))
        .select($"sweep", $"n_comms",
          coalesce($"n_moved", lit(0L)).as("n_moved"), $"q")
        .orderBy($"sweep")
    },
    Some(s"""
      WITH eo AS (
        SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      ed AS MATERIALIZED (
        SELECT 's' || CAST(sk AS VARCHAR) AS src,
               'c' || CAST(ck AS VARCHAR) AS dst FROM eo
        UNION ALL
        SELECT 'c' || CAST(ck AS VARCHAR), 's' || CAST(sk AS VARCHAR)
        FROM eo),
      seeds AS (
        SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR) AS node,
               'n' || CAST(s_nationkey AS VARCHAR) AS label
        FROM supplier
        WHERE 's' || CAST(s_suppkey AS VARCHAR) IN
          (SELECT 's' || CAST(sk AS VARCHAR) FROM eo)),
      ${Graph.labelPropagateSql(3)},
      comm0 AS MATERIALIZED (
        SELECT node, COALESCE(label, node) AS label FROM lpout),
      ${Graph.louvainMoveSql("comm0", "_1")},
      comm1 AS MATERIALIZED (SELECT node, label FROM lvout_1),
      ${Graph.louvainMoveSql("comm1", "_2")},
      comm2 AS MATERIALIZED (SELECT node, label FROM lvout_2),
      ${Graph.modularitySqlFor("comm0", "_m0")},
      ${Graph.modularitySqlFor("comm1", "_m1")},
      ${Graph.modularitySqlFor("comm2", "_m2")},
      mv1 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_moved
        FROM comm0 b JOIN comm1 a
          ON b.node = a.node AND b.label <> a.label),
      mv2 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_moved
        FROM comm1 b JOIN comm2 a
          ON b.node = a.node AND b.label <> a.label)
      SELECT CAST(0 AS BIGINT) AS sweep,
        (SELECT CAST(COUNT(DISTINCT label) AS BIGINT) FROM comm0)
          AS n_comms,
        CAST(0 AS BIGINT) AS n_moved,
        (SELECT q_term FROM modout_m0 WHERE label = '__all__') AS q
      UNION ALL
      SELECT CAST(1 AS BIGINT),
        (SELECT CAST(COUNT(DISTINCT label) AS BIGINT) FROM comm1),
        (SELECT n_moved FROM mv1),
        (SELECT q_term FROM modout_m1 WHERE label = '__all__')
      UNION ALL
      SELECT CAST(2 AS BIGINT),
        (SELECT CAST(COUNT(DISTINCT label) AS BIGINT) FROM comm2),
        (SELECT n_moved FROM mv2),
        (SELECT q_term FROM modout_m2 WHERE label = '__all__')
      ORDER BY sweep"""))

  /** Bounded 4-truss peel (Graph.kTrussPeel) of the near-dup document
    * graph (q225's blocked-Jaccard ≥ 0.9 edges): every surviving edge
    * must sit in ≥ 2 triangles among survivors — the stamped-template
    * clique mass, with near-dup CHAINS (incremental edits, each edge
    * in ≤ 1 triangle) peeled away. The truss/core contrast is the
    * dedup policy split q225's clustering coefficient only hints at:
    * k-core keeps well-connected chains, k-truss demands closed
    * triples. Three peel rounds report the shrink curve. */
  private val q236 = Q(
    "q236_ktruss_peel",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val tr = docs.select($"doc_id".as("doc"),
        concat($"source", lit("#"),
          ($"n_chars" / 100).cast("int").cast("string")).as("block"),
        explode(array_distinct(TextOps.tokens($"text"))).as("token"))
      val pairs = TextOps.blockedJaccard(tr)
        .filter($"jaccard" >= 0.9)
        .select($"d1", $"d2")
      Graph.kTrussPeel(pairs, k = 4, rounds = 3)
    },
    Some(s"""
      WITH tr AS (
        SELECT doc_id AS doc,
          source || '#' || CAST(CAST(n_chars // 100 AS INT) AS VARCHAR) AS block,
          unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS token
        FROM documents),
      tsz AS (SELECT doc, CAST(COUNT(*) AS BIGINT) AS n FROM tr GROUP BY doc),
      tint AS (
        SELECT a.doc AS d1, b.doc AS d2, CAST(COUNT(*) AS BIGINT) AS i
        FROM tr a JOIN tr b ON a.block = b.block AND a.token = b.token
          AND a.doc < b.doc
        GROUP BY 1, 2),
      tp0 AS MATERIALIZED (
        SELECT d1, d2
        FROM tint JOIN tsz sa ON d1 = sa.doc JOIN tsz sb ON d2 = sb.doc
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.9),
      ${Graph.kTrussPeelSql(4, 3)}
      SELECT round, n_nodes, n_edges FROM ktout ORDER BY round"""))

  /** Weighted PageRank (Graph.pageRankWeighted) over the affiliation
    * MULTIGRAPH: the edge weight is the lineitem delivery count per
    * (supplier, customer) — fifty deliveries are not one distinct
    * link, exactly as fifty hyperlinks between two hosts are not one.
    * q210 is the w ≡ 1 collapse of this graph; the weighted ranks
    * re-order wherever heavy repeat-trade edges concentrate. Same
    * 3-iteration, one-join-one-aggregate round shape. Top-100 by
    * (rank desc, node). */
  private val q237 = Q(
    "q237_pagerank_weighted",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
      val ord = Tables(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val ew = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .groupBy(concat(lit("s"), $"l_suppkey".cast("string")).as("src"),
          concat(lit("c"), $"o_custkey".cast("string")).as("dst"))
        .agg(count(lit(1)).as("w"))
      val edges = ew.unionByName(
        ew.select($"dst".as("src"), $"src".as("dst"), $"w"))
      Graph.pageRankWeighted(edges, iters = 3)
        .orderBy($"pagerank".desc, $"node".asc)
        .limit(100)
    },
    Some(s"""
      WITH ew AS (
        SELECT 's' || CAST(l_suppkey AS VARCHAR) AS src,
               'c' || CAST(o_custkey AS VARCHAR) AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2),
      edw AS (
        SELECT src, dst, w FROM ew
        UNION ALL
        SELECT dst, src, w FROM ew),
      ${Graph.pageRankWeightedSql(3)}
      SELECT node, pagerank FROM wprout
      ORDER BY pagerank DESC, node LIMIT 100"""))

  /** Node-pair PPMI over random-walk co-visits — the DeepWalk
    * statistic (Perozzi '14 walks + the Levy & Goldberg '14 result
    * that skip-gram factorizes the walk-window PMI matrix): q232's
    * deterministic walks are the corpus, a ±2-step window inside each
    * walker's trajectory mints the skip-gram pairs, and
    * PPMI = max(0, ln(4·Z·n_ab / (c_a·c_b))) scores them — exactly
    * q234's arithmetic with walk steps in place of token positions.
    * High-PPMI node pairs co-visit far above their traffic share:
    * the structural-equivalence candidates an embedding would place
    * together. Pair fan-out ≤ 2 per step per walker, never node×node;
    * self-pairs (the bipartite 2-cycle oscillation) are excluded.
    * n_ab ≥ 2 floor (one walker per supplier — the pair table is
    * sparse by design; the floor only drops the singletons a PMI
    * estimate is meaningless for); top-25 by (ppmi desc, w1, w2). */
  private val q238 = Q(
    "q238_walk_ppmi",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
      val ord = Tables(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val eo = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .select($"l_suppkey".as("sk"), $"o_custkey".as("ck")).distinct()
      val fwd = eo.select(
        concat(lit("s"), $"sk".cast("string")).as("src"),
        concat(lit("c"), $"ck".cast("string")).as("dst"))
      val edges = fwd.unionByName(
        fwd.select($"dst".as("src"), $"src".as("dst")))
      val seeds = eo.select(
        concat(lit("s"), $"sk".cast("string")).as("node")).distinct()
      val walks = Graph.randomWalk(edges, seeds, steps = 4)
        .transform(graft.ops.Iterate.cut)
      val pairs = walks.as("a").join(walks.as("b"),
          col("a.walker") === col("b.walker") &&
            (col("b.step") - col("a.step")).between(1, 2) &&
            col("a.node") =!= col("b.node"))
        .select(least(col("a.node"), col("b.node")).as("w1"),
          greatest(col("a.node"), col("b.node")).as("w2"))
        .groupBy($"w1", $"w2").agg(count(lit(1)).as("n_ab"))
        .transform(graft.ops.Iterate.cut)
      val z = pairs.agg(sum($"n_ab").as("z"))
      val marg = pairs.select($"w1".as("w"), $"n_ab")
        .unionByName(pairs.select($"w2".as("w"), $"n_ab"))
        .groupBy($"w").agg(sum($"n_ab").as("c"))
      pairs.filter($"n_ab" >= 2)
        .join(marg.select($"w".as("w1"), $"c".as("c_a")), Seq("w1"))
        .join(marg.select($"w".as("w2"), $"c".as("c_b")), Seq("w2"))
        .crossJoin(broadcast(z))
        .select($"w1", $"w2", $"n_ab",
          (greatest(lit(0.0), round(
            log((lit(4L) * $"z" * $"n_ab").cast("double") /
              ($"c_a" * $"c_b").cast("double")), 6)) + lit(0.0)).as("ppmi"))
        .orderBy($"ppmi".desc, $"w1".asc, $"w2".asc)
        .limit(25)
    },
    Some(s"""
      WITH eo AS (
        SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      ed AS (
        SELECT 's' || CAST(sk AS VARCHAR) AS src,
               'c' || CAST(ck AS VARCHAR) AS dst FROM eo
        UNION ALL
        SELECT 'c' || CAST(ck AS VARCHAR), 's' || CAST(sk AS VARCHAR)
        FROM eo),
      seeds AS (
        SELECT DISTINCT 's' || CAST(sk AS VARCHAR) AS node FROM eo),
      ${Graph.randomWalkSql(4)},
      wpr AS (
        SELECT least(a.node, b.node) AS w1,
               greatest(a.node, b.node) AS w2,
               CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM rwout a JOIN rwout b
          ON a.walker = b.walker AND b.step - a.step BETWEEN 1 AND 2
          AND a.node <> b.node
        GROUP BY 1, 2),
      wz AS (SELECT SUM(n_ab) AS z FROM wpr),
      wmarg AS (
        SELECT w, SUM(n_ab) AS c FROM (
          SELECT w1 AS w, n_ab FROM wpr
          UNION ALL SELECT w2, n_ab FROM wpr) u GROUP BY w)
      SELECT p.w1, p.w2, p.n_ab,
        greatest(0.0, round(ln(CAST(4 * wz.z * p.n_ab AS DOUBLE) /
          CAST(ma.c * mb.c AS DOUBLE)), 6)) + 0.0 AS ppmi
      FROM wpr p
      JOIN wmarg ma ON p.w1 = ma.w
      JOIN wmarg mb ON p.w2 = mb.w
      CROSS JOIN wz
      WHERE p.n_ab >= 2
      ORDER BY ppmi DESC, p.w1, p.w2 LIMIT 25"""))

  /** Weighted label propagation (Graph.labelPropagateWeighted) over
    * the affiliation MULTIGRAPH — q226 with delivery counts as vote
    * weights: a customer's nation is decided by WHERE ITS VOLUME
    * flows, not by how many distinct suppliers it ever touched. Same
    * float-free integer-mass trajectory (sums of exact weights),
    * same clamped seeds; output the (label, side) census beside
    * q226's so the two vote semantics are directly comparable. */
  private val q240 = Q(
    "q240_weighted_label_propagation",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
      val ord = Tables(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val ew = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .groupBy(concat(lit("s"), $"l_suppkey".cast("string")).as("src"),
          concat(lit("c"), $"o_custkey".cast("string")).as("dst"))
        .agg(count(lit(1)).as("w"))
      val edges = ew.unionByName(
        ew.select($"dst".as("src"), $"src".as("dst"), $"w"))
      val seeds = Tables(s, dir, "supplier")
        .select(concat(lit("s"), $"s_suppkey".cast("string")).as("node"),
          concat(lit("n"), $"s_nationkey".cast("string")).as("label"))
        .join(ew.select($"src".as("node")).distinct(),
          Seq("node"), "left_semi")
      Graph.labelPropagateWeighted(edges, seeds, rounds = 3)
        .groupBy(coalesce($"label", lit("unlabeled")).as("label"),
          substring($"node", 1, 1).as("side"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy($"label", $"side")
    },
    Some(s"""
      WITH ew AS (
        SELECT 's' || CAST(l_suppkey AS VARCHAR) AS src,
               'c' || CAST(o_custkey AS VARCHAR) AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2),
      edw AS (
        SELECT src, dst, w FROM ew
        UNION ALL
        SELECT dst, src, w FROM ew),
      seeds AS (
        SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR) AS node,
               'n' || CAST(s_nationkey AS VARCHAR) AS label
        FROM supplier
        WHERE 's' || CAST(s_suppkey AS VARCHAR) IN
          (SELECT src FROM ew)),
      ${Graph.labelPropagateWeightedSql(3)}
      SELECT COALESCE(label, 'unlabeled') AS label,
        substr(node, 1, 1) AS side,
        CAST(COUNT(*) AS BIGINT) AS n_nodes
      FROM wlpout GROUP BY 1, 2 ORDER BY label, side"""))

  /** Community conductance (Graph.conductance) of the nation
    * partition over the affiliation graph — the boundary-porosity
    * metric beside q233's modularity: q233 says how much better than
    * random the partition's internal mass is, this says how leaky
    * each community's cut is (φ → 0 tight, φ → 1 all boundary). The
    * pair is the standard community-quality dashboard (Leskovec '09
    * NCP). Same one-join-per-end + community-sized groupBy shape;
    * all-integer until one rounded division. */
  private val q241 = Q(
    "q241_conductance",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
      val ord = Tables(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val eo = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .select($"l_suppkey".as("sk"), $"o_custkey".as("ck")).distinct()
      val fwd = eo.select(
        concat(lit("s"), $"sk".cast("string")).as("src"),
        concat(lit("c"), $"ck".cast("string")).as("dst"))
      val edges = fwd.unionByName(
        fwd.select($"dst".as("src"), $"src".as("dst")))
      val comm = Tables(s, dir, "supplier")
        .select(concat(lit("s"), $"s_suppkey".cast("string")).as("node"),
          concat(lit("n"), $"s_nationkey".cast("string")).as("label"))
        .unionByName(Tables(s, dir, "customer")
          .select(concat(lit("c"), $"c_custkey".cast("string")).as("node"),
            concat(lit("n"), $"c_nationkey".cast("string")).as("label")))
      Graph.conductance(edges, comm).orderBy($"label")
    },
    Some(s"""
      WITH eo AS (
        SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      ed AS (
        SELECT 's' || CAST(sk AS VARCHAR) AS src,
               'c' || CAST(ck AS VARCHAR) AS dst FROM eo
        UNION ALL
        SELECT 'c' || CAST(ck AS VARCHAR), 's' || CAST(sk AS VARCHAR)
        FROM eo),
      comm AS (
        SELECT 's' || CAST(s_suppkey AS VARCHAR) AS node,
               'n' || CAST(s_nationkey AS VARCHAR) AS label FROM supplier
        UNION ALL
        SELECT 'c' || CAST(c_custkey AS VARCHAR),
               'n' || CAST(c_nationkey AS VARCHAR) FROM customer),
      ${Graph.conductanceSql}
      SELECT label, vol, cut, phi FROM condout ORDER BY label"""))

  /** The full Louvain LEVEL loop (Blondel '08, both phases): start
    * from singletons, one conflict-free level-1 sweep
    * (Graph.louvainMove), CONTRACT communities to a weighted
    * super-graph (Graph.contract), one level-2 sweep on the
    * contracted graph (Graph.louvainMoveWeighted) — with weighted
    * modularity scored at every stage. The contract row is the
    * INVARIANCE proof: Q of the contracted graph under the identity
    * partition must equal Q of the original under the level-1 labels
    * (contraction preserves every community's (d_c, e_in) by
    * construction), which is exactly why improving the contracted
    * partition improves the original. Output (step, stage, n_comms,
    * q): q is monotone non-decreasing down the rows, equal across
    * the invariance pair, strictly rising wherever a sweep moved. */
  private val q242 = Q(
    "q242_louvain_levels",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
      val ord = Tables(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val eo = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .select($"l_suppkey".as("sk"), $"o_custkey".as("ck")).distinct()
      val fwd = eo.select(
        concat(lit("s"), $"sk".cast("string")).as("src"),
        concat(lit("c"), $"ck".cast("string")).as("dst"))
      val edges = fwd.unionByName(
        fwd.select($"dst".as("src"), $"src".as("dst")))
        .transform(graft.ops.Iterate.cut)
      val ew1 = edges.withColumn("w", lit(1L))
      // per-level degree frames cut once (r18): the singleton inits
      // become node-sized scans of them instead of edge-sized
      // distincts, and the sweeps reuse them instead of re-aggregating
      val deg1 = graft.ops.Iterate.cut(
        edges.groupBy($"src".as("node")).agg(count(lit(1)).as("k")))
      val comm0 = deg1.select($"node", $"node".as("label"))
        .transform(graft.ops.Iterate.cut)
      val p1 = graft.ops.Iterate.cut(Graph.louvainMove(edges, deg1, comm0))
      val g1 = graft.ops.Iterate.cut(Graph.contract(edges, p1))
      val deg2 = graft.ops.Iterate.cut(
        g1.groupBy($"src".as("node")).agg(sum($"w").as("k")))
      val id1 = deg2.select($"node", $"node".as("label"))
        .transform(graft.ops.Iterate.cut)
      val p2 = Graph.louvainMoveWeighted(g1, deg2, id1)
      // two tagged label frames — one per edge frame — score all four
      // stages in two passes instead of four join pairs + barriers
      // (r11 verdict #4); p2's only reader is lab2, whose checkpoint
      // is the level-2 lineage cut
      val lab1 = comm0.withColumn("step", lit(0L))
        .unionByName(p1.withColumn("step", lit(1L)))
      val lab2 = id1.withColumn("step", lit(2L))
        .unionByName(p2.withColumn("step", lit(3L)))
        .transform(graft.ops.Iterate.cut)
      val nc = lab1.unionByName(lab2).groupBy($"step")
        .agg(countDistinct($"label").as("n_comms"))
      val qs = Graph.modularityWeightedAllTagged(ew1,
          lab1.select($"step".as("tag"), $"node", $"label"))
        .unionByName(Graph.modularityWeightedAllTagged(g1,
          lab2.select($"step".as("tag"), $"node", $"label")))
      val stages = s.createDataFrame(Seq(
        (0L, "singletons"), (1L, "level1_sweep"),
        (2L, "contract_invariance"), (3L, "level2_sweep")))
        .toDF("step", "stage")
      broadcast(stages).join(nc, Seq("step"))
        .join(qs.select($"tag".as("step"), $"q"), Seq("step"))
        .select($"step", $"stage", $"n_comms", $"q")
        .orderBy($"step")
    },
    Some(s"""
      WITH eo AS (
        SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      ed AS MATERIALIZED (
        SELECT 's' || CAST(sk AS VARCHAR) AS src,
               'c' || CAST(ck AS VARCHAR) AS dst FROM eo
        UNION ALL
        SELECT 'c' || CAST(ck AS VARCHAR), 's' || CAST(sk AS VARCHAR)
        FROM eo),
      edw1 AS (SELECT src, dst, CAST(1 AS BIGINT) AS w FROM ed),
      comm0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, src AS label FROM ed),
      ${Graph.louvainMoveSql("comm0", "_1")},
      comm1 AS MATERIALIZED (SELECT node, label FROM lvout_1),
      ${Graph.contractSql("comm1")},
      g1 AS MATERIALIZED (SELECT src, dst, w FROM ctout),
      id1 AS MATERIALIZED (
        SELECT DISTINCT src AS node, src AS label FROM g1),
      ${Graph.louvainMoveWeightedSql("g1", "id1", "_2")},
      comm2 AS MATERIALIZED (SELECT node, label FROM wlvout_2),
      ${Graph.modularityWeightedSqlFor("edw1", "comm0", "_m0")},
      ${Graph.modularityWeightedSqlFor("edw1", "comm1", "_m1")},
      ${Graph.modularityWeightedSqlFor("g1", "id1", "_m2")},
      ${Graph.modularityWeightedSqlFor("g1", "comm2", "_m3")}
      SELECT CAST(0 AS BIGINT) AS step, 'singletons' AS stage,
        (SELECT CAST(COUNT(DISTINCT label) AS BIGINT) FROM comm0)
          AS n_comms,
        (SELECT q_term FROM wmodout_m0 WHERE label = '__all__') AS q
      UNION ALL
      SELECT CAST(1 AS BIGINT), 'level1_sweep',
        (SELECT CAST(COUNT(DISTINCT label) AS BIGINT) FROM comm1),
        (SELECT q_term FROM wmodout_m1 WHERE label = '__all__')
      UNION ALL
      SELECT CAST(2 AS BIGINT), 'contract_invariance',
        (SELECT CAST(COUNT(DISTINCT label) AS BIGINT) FROM id1),
        (SELECT q_term FROM wmodout_m2 WHERE label = '__all__')
      UNION ALL
      SELECT CAST(3 AS BIGINT), 'level2_sweep',
        (SELECT CAST(COUNT(DISTINCT label) AS BIGINT) FROM comm2),
        (SELECT q_term FROM wmodout_m3 WHERE label = '__all__')
      ORDER BY step"""))

  /** Bounded onion decomposition (Graph.onionPeel) of the affiliation
    * graph — the centre-to-surface layer census that refines q216's
    * fixed-k core shrink: per round the minimum-degree fringe peels
    * (layer 1 = the one-delivery leaves, deeper layers the
    * heavily-connected trade heart), and the spectrum (peel_deg,
    * n_peeled) per layer is the topology fingerprint two graphs with
    * identical core numbers can still disagree on. Four rounds; one
    * degree count + a 1-row min broadcast + two semi-joins each. */
  private val q243 = Q(
    "q243_onion_layers",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
      val ord = Tables(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val eo = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .select($"l_suppkey".as("sk"), $"o_custkey".as("ck")).distinct()
      val fwd = eo.select(
        concat(lit("s"), $"sk".cast("string")).as("src"),
        concat(lit("c"), $"ck".cast("string")).as("dst"))
      val edges = fwd.unionByName(
        fwd.select($"dst".as("src"), $"src".as("dst")))
      Graph.onionPeel(edges, rounds = 4)
    },
    Some(s"""
      WITH eo AS (
        SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      op0 AS MATERIALIZED (
        SELECT 's' || CAST(sk AS VARCHAR) AS src,
               'c' || CAST(ck AS VARCHAR) AS dst FROM eo
        UNION ALL
        SELECT 'c' || CAST(ck AS VARCHAR), 's' || CAST(sk AS VARCHAR)
        FROM eo),
      ${Graph.onionPeelSql(4)}
      SELECT round, peel_deg, n_peeled, n_nodes_left, n_edges_left
      FROM onout ORDER BY round"""))

  /** Sweep cap per level / level cap for q244: the batch-acceptance
    * sweep converges from singletons in 20 sweeps at sf0.01 and 28 at
    * sf0.1 on the affiliation graph (r13 probe, threshold below), and
    * the level loop reaches its all-quiet witness by level 3 (sf0.01)
    * / level 4 (sf0.1) — the caps are safety bounds just past the
    * measured horizon. They exist because the oracle must be a STATIC
    * chain (DuckDB cannot loop) and the Spark loop must stop at
    * exactly the same horizon if a future dataset converges slower —
    * and since r14 a cap hit with moves still accepted RAISES inside
    * Graph.louvainConverge instead of silently emitting a frame
    * without its n_moved = 0 witness (r13 verdict #2).
    *
    * SIZING THE SWEEP CAP (r14 advice — the bump procedure): q244's
    * own rows carry the horizon — the largest `sweep` per `level` is
    * the executed sweep count (level 1: 28 at 1× and 3× as of r16 —
    * scale-invariant). Keep S ≥ ~1.4× the measured horizon; the only
    * cost of a raise is the static DuckDB oracle chain, which is
    * per-sweep-linear (measured 83 s at S=32·L=4 at sf0.01, so ~0.65
    * s/sweep/level). S=40 buys 43% headroom for ~21 s of extra oracle
    * wall. If telemetry ever shows the horizon within 1.2× of S, raise
    * S here — BOTH engines change together; the emitted rows are
    * movement-gated, so the output frame is invariant to S above the
    * horizon. */
  private val LouvainS = 40
  private val LouvainL = 4

  /** Scale-free convergence threshold for q244: a move must be worth
    * more than half of one edge's modularity share (g·2 > m2, exact
    * integers — ΔQ > 1/m2). Cuts the microscopic tail where
    * strict convergence spends 15+ extra sweeps shuffling members
    * between settled communities, at EVERY scale — a fixed ΔQ cutoff
    * rejects all moves once m2 grows past 2/ΔQ_min (see
    * Graph.louvainMoveBatch). */
  private val LouvainMinGainDen = 2L

  /** The full Louvain loop TO CONVERGENCE (Blondel '08, iterated):
    * per level, batch-acceptance sweeps (Graph.louvainMoveBatch) from
    * singletons until a sweep accepts no move, then CONTRACT
    * (Graph.contractWeighted) and repeat, until a level's first sweep
    * moves nothing or the L cap. q242 runs one sweep per level; this
    * is the production loop — and it is only feasible because the
    * batch sweep exists: the conflict-free matching rule accepts ≤ 1
    * move per community pair (measured ~15/sweep over 1,585 singleton
    * communities — O(hub size) sweeps to converge), while the
    * prefix-bounded batch rule lets a hub absorb its whole queue in
    * one sweep (12,810 accepted moves in sweep 1 at sf0.1), reaching
    * the thresholded local optimum in 20–28 sweeps (see
    * Graph.louvainMoveBatch's derivation).
    *
    * Output: (level, sweep, n_comms, n_moved, q) — one row per
    * EXECUTED sweep plus each level's sweep-0 singleton row. Q is
    * scored for every sweep in ONE tagged pass per level
    * (Graph.modularityWeightedAllTagged); contract invariance makes q
    * continuous across the level boundary (level l+1's sweep-0 q
    * equals level l's final q), so q is monotone non-decreasing down
    * the whole frame and each level's last row has n_moved = 0 — the
    * convergence witness. The oracle replays the loop as a static
    * S×L sweep chain: a post-convergence sweep is the identity (no
    * strictly-improving proposal ⟹ no proposal accepted), so gating
    * each row on "the previous sweep moved" reproduces the dynamic
    * loop's row set exactly, and level l+1 is active iff level l's
    * FIRST sweep moved (zero first-sweep moves ⟹ identity level). */
  private val q244 = Q(
    "q244_louvain_converge",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
      val ord = Tables(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val eo = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .select($"l_suppkey".as("sk"), $"o_custkey".as("ck")).distinct()
      val fwd = eo.select(
        concat(lit("s"), $"sk".cast("string")).as("src"),
        concat(lit("c"), $"ck".cast("string")).as("dst"))
      val ew = graft.ops.Iterate.cut(fwd.unionByName(
          fwd.select($"dst".as("src"), $"src".as("dst")))
        .withColumn("w", lit(1L)))
      // the loop itself lives in Graph.louvainConverge (r13 verdict
      // #2): it RAISES if either cap is hit with moves still accepted,
      // so the emitted frame always carries its n_moved=0 witness
      Graph.louvainConverge(ew, LouvainS, LouvainL, LouvainMinGainDen)
    },
    Some(q244Sql(LouvainS, LouvainL)))

  /** The q244 oracle: a static S×L chain of Graph.louvainMoveBatchSql
    * sweeps with per-sweep move counts and modularity scores, row
    * -gated on the previous sweep having moved (post-convergence
    * sweeps are the identity, so the static chain agrees with the
    * dynamic loop wherever rows are emitted) and level-gated on the
    * previous level's first sweep having moved. */
  private def q244Sql(s: Int, l: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""
      WITH eo AS (
        SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      e1 AS MATERIALIZED (
        SELECT 's' || CAST(sk AS VARCHAR) AS src,
               'c' || CAST(ck AS VARCHAR) AS dst,
               CAST(1 AS BIGINT) AS w FROM eo
        UNION ALL
        SELECT 'c' || CAST(ck AS VARCHAR), 's' || CAST(sk AS VARCHAR),
               CAST(1 AS BIGINT)
        FROM eo),
      lv1_0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, src AS label FROM e1),"""
    for (lv <- 1 to l) {
      for (k <- 1 to s) {
        sb ++= Graph.louvainMoveBatchSql(s"e$lv", s"lv${lv}_${k - 1}",
          s"_${lv}_$k", LouvainMinGainDen) + ","
        sb ++= s"""
      lv${lv}_$k AS MATERIALIZED (
        SELECT node, label FROM blvout_${lv}_$k),
      mv${lv}_$k AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM lv${lv}_${k - 1} b JOIN lv${lv}_$k a
          ON b.node = a.node AND b.label <> a.label),"""
      }
      for (k <- 0 to s)
        sb ++= Graph.modularityWeightedSqlFor(s"e$lv", s"lv${lv}_$k",
          s"_q${lv}_$k") + ","
      if (lv < l) {
        sb ++= Graph.contractWeightedSql(s"e$lv", s"lv${lv}_$s",
          s"_g${lv + 1}") + ","
        sb ++= s"""
      e${lv + 1} AS MATERIALIZED (
        SELECT src, dst, w FROM wctout_g${lv + 1}),
      lv${lv + 1}_0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, src AS label FROM e${lv + 1}),"""
      }
    }
    sb ++= "\n      act1 AS (SELECT TRUE AS a)"
    for (lv <- 2 to l)
      sb ++= s""",
      act$lv AS (SELECT (SELECT a FROM act${lv - 1})
                    AND (SELECT n FROM mv${lv - 1}_1) > 0 AS a)"""
    val rows = for (lv <- 1 to l; k <- 0 to s) yield {
      val gate =
        if (k == 0) s"(SELECT a FROM act$lv)"
        else if (k == 1) s"(SELECT a FROM act$lv)"
        else s"(SELECT a FROM act$lv) AND (SELECT n FROM mv${lv}_${k - 1}) > 0"
      val nm = if (k == 0) "CAST(0 AS BIGINT)"
        else s"(SELECT n FROM mv${lv}_$k)"
      s"""
      SELECT CAST($lv AS BIGINT) AS level, CAST($k AS BIGINT) AS sweep,
        (SELECT CAST(COUNT(DISTINCT label) AS BIGINT) FROM lv${lv}_$k)
          AS n_comms,
        $nm AS n_moved,
        (SELECT q_term FROM wmodout_q${lv}_$k WHERE label = '__all__')
          AS q
      WHERE $gate"""
    }
    sb ++= rows.mkString("", "\n      UNION ALL", "")
    sb ++= "\n      ORDER BY level, sweep"
    sb.result()
  }

  /** Resolution parameter for q246: γ = 3/2 (Reichardt & Bornholdt
    * '06) — strictly inside the classic-modularity γ = 1 and far from
    * degenerate, so the sweep trajectory visibly diverges from q244's
    * level-1 rows (more, smaller communities) while every score stays
    * all-integer (the γ factors multiply through the common
    * denominator — Graph.louvainMoveBatch's doc). */
  private val LouvainGammaNum = 3L
  private val LouvainGammaDen = 2L
  private val GammaSweeps = 4

  /** Resolution-parameter Louvain (γ = 3/2): a STATIC chain of
    * [[Graph.louvainMoveBatch]] sweeps from singletons on the same
    * supplier–customer affiliation graph as q244 — the γ ≠ 1 member of
    * the community layer's public API (r13 verdict #7). Static, not
    * convergence-gated: both engines run exactly `GammaSweeps` sweeps
    * (a post-convergence sweep is the identity, so no gating is needed
    * for the row sets to agree), which also keeps the whole query free
    * of driver-side actions beyond the per-sweep lineage cuts. The
    * γ = 1 collapse (identical plan and identical oracle text to the
    * unparameterized sweep) is pinned in GraphSpec. Output: one row
    * per sweep (sweep, n_comms, n_moved) — the trajectory fingerprint;
    * at γ = 3/2 the partition stays strictly finer than q244's level-1
    * result because the doubled degree-product penalty rejects the
    * coarsest merges. */
  private val q246 = Q(
    "q246_louvain_resolution",
    (s, dir) => graft.ops.Iterate.scope {
      import s.implicits._
      val li = Tables(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
      val ord = Tables(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val eo = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .select($"l_suppkey".as("sk"), $"o_custkey".as("ck")).distinct()
      val fwd = eo.select(
        concat(lit("s"), $"sk".cast("string")).as("src"),
        concat(lit("c"), $"ck".cast("string")).as("dst"))
      val ew = graft.ops.Iterate.cut(fwd.unionByName(
          fwd.select($"dst".as("src"), $"src".as("dst")))
        .withColumn("w", lit(1L)))
      var comm = graft.ops.Iterate.cut(
        ew.select($"src".as("node")).distinct()
          .select($"node", $"node".as("label")))
      var lab = comm.withColumn("sweep", lit(0L))
      for (k <- 1 to GammaSweeps) {
        val next = graft.ops.Iterate.cut(Graph.louvainMoveBatch(
          ew, comm, LouvainMinGainDen, LouvainGammaNum, LouvainGammaDen))
        lab = lab.unionByName(next.withColumn("sweep", lit(k.toLong)))
        comm = next
      }
      val labT = graft.ops.Iterate.cut(lab)
      val nc = labT.groupBy($"sweep")
        .agg(countDistinct($"label").as("n_comms"))
      val mv = labT.join(
          labT.select(($"sweep" + 1).as("sweep"), $"node",
            $"label".as("prev")), Seq("sweep", "node"))
        .groupBy($"sweep")
        .agg(sum(when($"label" =!= $"prev", 1L).otherwise(0L))
          .as("n_moved"))
      nc.join(mv, Seq("sweep"), "left")
        .select($"sweep", $"n_comms",
          coalesce($"n_moved", lit(0L)).as("n_moved"))
        .orderBy($"sweep")
    },
    Some(q246Sql(GammaSweeps)))

  /** The q246 oracle: the identical static sweep chain in DuckDB —
    * Graph.louvainMoveBatchSql with the same γ, no gating (both sides
    * run every sweep). */
  private def q246Sql(s: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""
      WITH eo AS (
        SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      e1 AS MATERIALIZED (
        SELECT 's' || CAST(sk AS VARCHAR) AS src,
               'c' || CAST(ck AS VARCHAR) AS dst,
               CAST(1 AS BIGINT) AS w FROM eo
        UNION ALL
        SELECT 'c' || CAST(ck AS VARCHAR), 's' || CAST(sk AS VARCHAR),
               CAST(1 AS BIGINT)
        FROM eo),
      lv1_0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, src AS label FROM e1),"""
    for (k <- 1 to s) {
      sb ++= Graph.louvainMoveBatchSql("e1", s"lv1_${k - 1}",
        s"_1_$k", LouvainMinGainDen, LouvainGammaNum, LouvainGammaDen) + ","
      sb ++= s"""
      lv1_$k AS MATERIALIZED (
        SELECT node, label FROM blvout_1_$k),
      mv1_$k AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM lv1_${k - 1} b JOIN lv1_$k a
          ON b.node = a.node AND b.label <> a.label)${
        if (k < s) "," else ""}"""
    }
    val rows = for (k <- 0 to s) yield {
      val nm = if (k == 0) "CAST(0 AS BIGINT)"
        else s"(SELECT n FROM mv1_$k)"
      s"""
      SELECT CAST($k AS BIGINT) AS sweep,
        (SELECT CAST(COUNT(DISTINCT label) AS BIGINT) FROM lv1_$k)
          AS n_comms,
        $nm AS n_moved"""
    }
    sb ++= rows.mkString("", "\n      UNION ALL", "")
    sb ++= "\n      ORDER BY sweep"
    sb.result()
  }

  /** Community-STABILITY audit (r14 verdict #7 — the one gap in the
    * community layer's public API): how much do the partitions at two
    * resolutions agree, as integer pair-counting statistics (the Rand
    * -index decomposition; Rand '71, Hubert–Arabie '85 use exactly
    * these four cells). Both sides run the SAME deterministic
    * fixed-horizon contract as q246 — `GammaSweeps` static
    * [[Graph.louvainMoveBatch]] sweeps from singletons on the
    * supplier–customer affiliation graph — once at γ = 1 (classic
    * modularity) and once at γ = 3/2 (the q246 resolution), and the
    * final label frames join on node. Output is ONE all-integer row:
    *   n_nodes, pairs_total = C(n,2),
    *   same_both           (co-clustered under BOTH γ),
    *   same_gamma1_only, same_gamma32_only (split by exactly one side),
    *   same_neither        (separated under both);
    * Rand = (same_both + same_neither) / pairs_total, and γ = 3/2
    * strictly refining γ = 1 would show same_gamma32_only = 0. The
    * pair counts come from the contingency sufficient statistics
    * (Σ C(n_ij,2) over the |A|×|B| cell frame and Σ C(n_i,2) over each
    * side's community sizes) — never from materializing node pairs, so
    * the cost at 100 TB is the sweeps themselves plus community-count
    * -sized aggregates. Integer-only (`div 2` on even products keeps
    * every value exact BIGINT), so the cross-engine hash is exact. */
  /** Shared core of q247/q248: both γ chains (γ = 1 and γ = 3/2, the
    * same `GammaSweeps`-sweep static contract as q246 over one shared
    * edge frame), then the pair-counting SUFFICIENT STATISTICS as one
    * all-integer row: n_nodes, same_both = Σ_ij C(n_ij,2) over the
    * |A|×|B| contingency cells, sa/sb = Σ C(size,2) over each side's
    * community sizes. Node pairs are never materialized; every scalar
    * rides a 1-row broadcast crossJoin. */
  /** The (node, la, lb) label-pair frame both γ chains produce —
    * the input to every partition-comparison statistic (q247 Rand,
    * q248 ARI, q252 NMI). The two final label frames are
    * checkpointed (`Iterate.cut`), so consuming this frame several
    * times re-runs only the one node-keyed join, never the sweeps. */
  private def stabilityPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = graft.ops.Iterate.scope {
    import s.implicits._
    val li = Tables(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
    val ord = Tables(s, dir, "orders").select($"o_orderkey", $"o_custkey")
    val eo = li.join(ord, $"l_orderkey" === $"o_orderkey")
      .select($"l_suppkey".as("sk"), $"o_custkey".as("ck")).distinct()
    val fwd = eo.select(
      concat(lit("s"), $"sk".cast("string")).as("src"),
      concat(lit("c"), $"ck".cast("string")).as("dst"))
    val ew = graft.ops.Iterate.cut(fwd.unionByName(
        fwd.select($"dst".as("src"), $"src".as("dst")))
      .withColumn("w", lit(1L)))
    def finalLabels(gn: Long, gd: Long): DataFrame = {
      var comm = graft.ops.Iterate.cut(
        ew.select($"src".as("node")).distinct()
          .select($"node", $"node".as("label")))
      for (_ <- 1 to GammaSweeps)
        comm = graft.ops.Iterate.advance(comm,
          Graph.louvainMoveBatch(ew, comm, LouvainMinGainDen, gn, gd))
      comm
    }
    val la = finalLabels(1L, 1L)
    val lb = finalLabels(LouvainGammaNum, LouvainGammaDen)
    la.select($"node", $"label".as("la"))
      .join(lb.select($"node", $"label".as("lb")), Seq("node"))
  }

  private def stabilityStats(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    val pairs = stabilityPairs(s, dir)
    // Σ C(n,2) over a count frame — all-integer, exact
    def choose2Sum: org.apache.spark.sql.Column =
      coalesce(sum(expr("(n * (n - 1)) div 2")), lit(0L))
    val sBoth = pairs.groupBy($"la", $"lb").agg(count(lit(1)).as("n"))
      .agg(choose2Sum.as("same_both"))
    val sA = pairs.groupBy($"la").agg(count(lit(1)).as("n"))
      .agg(choose2Sum.as("sa"))
    val sB = pairs.groupBy($"lb").agg(count(lit(1)).as("n"))
      .agg(choose2Sum.as("sb"))
    pairs.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(broadcast(sBoth))
      .crossJoin(broadcast(sA))
      .crossJoin(broadcast(sB))
  }

  private val q247 = Q(
    "q247_community_stability",
    (s, dir) => {
      import s.implicits._
      stabilityStats(s, dir)
        .select($"n_nodes",
          expr("(n_nodes * (n_nodes - 1)) div 2").as("pairs_total"),
          $"same_both",
          ($"sa" - $"same_both").as("same_gamma1_only"),
          ($"sb" - $"same_both").as("same_gamma32_only"),
          (expr("(n_nodes * (n_nodes - 1)) div 2") - $"sa" - $"sb" +
            $"same_both").as("same_neither"))
    },
    Some(q247Sql(GammaSweeps)))

  /** ADJUSTED Rand index over the same two partitions as q247
    * (Hubert–Arabie '85): the Rand agreement corrected for the
    * agreement two random partitions with these community-size
    * profiles would reach by chance —
    *   ARI = (I − a·b/T) / ((a+b)/2 − a·b/T)
    * with I = Σ_ij C(n_ij,2), a = Σ_i C(a_i,2), b = Σ_j C(b_j,2),
    * T = C(n,2) — exactly the contingency sufficient statistics q247
    * already computes, one extra all-integer term (r15 verdict #7).
    * Scaled to an integer ratio so the cross-engine hash is exact:
    *   ari_num = 2·(T·I − a·b),  ari_den = T·(a+b) − 2·a·b,
    * ARI = ari_num / ari_den. Products are formed in DECIMAL(38,0)
    * (Spark) / HUGEINT (DuckDB) and cast back — at the bench scales
    * T ≤ ~1.3e8 so num/den ≤ ~2e16 fit BIGINT with 100× headroom,
    * and the cast is GUARDED (ADVICE r16): past that headroom Spark's
    * non-ANSI decimal→BIGINT cast would yield NULL silently while
    * DuckDB errors on the out-of-range HUGEINT cast — breaking
    * cross-engine parity exactly when the numbers get big — so the
    * Spark side raise_errors on |value| > 2^63−1 and both engines
    * now fail the same way; ari_den = 0 (both sides one community)
    * reports NULL ari.
    * The rounded double divides the two exactly-representable-after-
    * cast integers identically in both engines. Base-tier skipped like
    * q247 (same two sweep chains); its scaling story IS q247's tier
    * row plus community-count-sized aggregates. */
  private val q248 = Q(
    "q248_adjusted_rand",
    (s, dir) => {
      import s.implicits._
      // CASE is lazily evaluated per row, so raise_error fires only on
      // an actual overflow — the loud twin of DuckDB's checked cast
      def checkedBigint(dec: String, name: String) = expr(
        s"""CAST(CASE WHEN abs($dec) > CAST(9223372036854775807 AS
            DECIMAL(38,0)) THEN CAST(raise_error(CONCAT(
            'q248: $name overflows BIGINT: ', CAST($dec AS STRING)))
            AS DECIMAL(38,0)) ELSE $dec END AS BIGINT)""")
      stabilityStats(s, dir)
        .select($"n_nodes", $"same_both", $"sa", $"sb",
          expr("(n_nodes * (n_nodes - 1)) div 2").as("t"))
        .withColumn("__num_dec",
          expr("""2 * (CAST(t AS DECIMAL(38,0)) * same_both
                  - CAST(sa AS DECIMAL(38,0)) * sb)"""))
        .withColumn("__den_dec",
          expr("""CAST(t AS DECIMAL(38,0)) * (sa + sb)
                  - 2 * (CAST(sa AS DECIMAL(38,0)) * sb)"""))
        .select($"n_nodes",
          $"t".as("pairs_total"),
          $"same_both",
          $"sa".as("sum_pairs_g1"),
          $"sb".as("sum_pairs_g32"),
          checkedBigint("__num_dec", "ari_num").as("ari_num"),
          checkedBigint("__den_dec", "ari_den").as("ari_den"))
        .withColumn("ari",
          round($"ari_num".cast("double") /
            nullif($"ari_den", lit(0L)).cast("double"), 6))
    },
    Some(q248Sql(GammaSweeps)))

  /** NORMALIZED MUTUAL INFORMATION over the same two partitions as
    * q247/q248 (r16 verdict #4): the information-theoretic member of
    * the partition-agreement family, from the SAME contingency cell
    * frame the Rand/ARI sufficient statistics aggregate —
    *   I(A;B) = Σ_ij (n_ij/n)·ln(n·n_ij/(a_i·b_j)),
    *   H(A)   = Σ_i (a_i/n)·ln(n/a_i)      (H(B) likewise),
    *   NMI    = 2·I / (H(A)+H(B))          (arithmetic-mean norm).
    * Every input to every log is an exactly-representable BIGINT
    * count (cells, marginals, n), both engines evaluate the identical
    * ratio expressions, and each per-cell/per-community term goes
    * through the repo's decimal-exact sum (round to 1e-6, sum exactly
    * in DECIMAL(18,6), cast back) so the float sums are order-
    * independent and the cross-engine hash is exact; the final NMI is
    * one deterministic IEEE division rounded to 6 (NULL when both
    * partitions are single-community: H(A)+H(B) = 0). Output also
    * carries the integer sufficient statistics (n_nodes, n_cells,
    * n_comm per side). Scale shape: identical to q247 — the sweeps
    * dominate; the NMI itself is community-count-sized aggregates
    * over the checkpointed label frames, node pairs never
    * materialized. Base-tier evicted with q247/q248 (same two sweep
    * chains). */
  private val q252 = Q(
    "q252_partition_nmi",
    (s, dir) => {
      import s.implicits._
      import graft.ops.Exact
      val pairs = stabilityPairs(s, dir)
      val cells = pairs.groupBy($"la", $"lb").agg(count(lit(1)).as("nij"))
      val ma = pairs.groupBy($"la").agg(count(lit(1)).as("ai"))
      val mb = pairs.groupBy($"lb").agg(count(lit(1)).as("bj"))
      val nn = pairs.agg(count(lit(1)).as("n_nodes"))
      val mi = cells.join(broadcast(ma), Seq("la"))
        .join(broadcast(mb), Seq("lb"))
        .crossJoin(broadcast(nn))
        .agg(count(lit(1)).as("n_cells"),
          Exact.dsum(($"nij".cast("double") / $"n_nodes") *
            log(($"nij".cast("double") * $"n_nodes") /
              ($"ai".cast("double") * $"bj"))).as("mi"))
      def entropy(m: DataFrame, cnt: String, outN: String, outH: String) =
        m.crossJoin(broadcast(nn))
          .agg(count(lit(1)).as(outN),
            Exact.dsum((col(cnt).cast("double") / $"n_nodes") *
              log($"n_nodes".cast("double") / col(cnt))).as(outH))
      val ha = entropy(ma, "ai", "n_comm_g1", "h_g1")
      val hb = entropy(mb, "bj", "n_comm_g32", "h_g32")
      nn.crossJoin(broadcast(mi))
        .crossJoin(broadcast(ha))
        .crossJoin(broadcast(hb))
        .select($"n_nodes", $"n_cells", $"n_comm_g1", $"n_comm_g32",
          $"mi", $"h_g1", $"h_g32",
          round(lit(2.0) * $"mi" /
            nullif($"h_g1" + $"h_g32", lit(0.0)), 6).as("nmi"))
    },
    Some(q252Sql(GammaSweeps)))

  /** The q247 oracle: both static sweep chains (γ = 1 byte-identical
    * to the unparameterized twin; γ = 3/2 via the same SQL generator
    * as q246), then the identical contingency / size sufficient
    * statistics in HUGEINT, cast back to BIGINT. */
  private def q247Sql(s: Int): String =
    stabilitySqlPrefix(s) + s"""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
        CAST((COUNT(*) * (COUNT(*) - 1)) // 2 AS BIGINT) AS pairs_total,
        (SELECT v FROM sboth) AS same_both,
        (SELECT v FROM ssa) - (SELECT v FROM sboth) AS same_gamma1_only,
        (SELECT v FROM ssb) - (SELECT v FROM sboth) AS same_gamma32_only,
        CAST((COUNT(*) * (COUNT(*) - 1)) // 2 AS BIGINT)
          - (SELECT v FROM ssa) - (SELECT v FROM ssb)
          + (SELECT v FROM sboth) AS same_neither
      FROM prs"""

  /** The q248 oracle: the same chains and sufficient statistics, then
    * the Hubert–Arabie numerator/denominator in HUGEINT cast back to
    * BIGINT, and the rounded double ratio (NULL when the denominator
    * is zero). */
  private def q248Sql(s: Int): String =
    stabilitySqlPrefix(s) + s"""
      , st AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
          CAST((COUNT(*) * (COUNT(*) - 1)) // 2 AS BIGINT) AS t,
          (SELECT v FROM sboth) AS same_both,
          (SELECT v FROM ssa) AS sa,
          (SELECT v FROM ssb) AS sb
        FROM prs)
      SELECT n_nodes, t AS pairs_total, same_both,
        sa AS sum_pairs_g1, sb AS sum_pairs_g32,
        CAST(2 * (CAST(t AS HUGEINT) * same_both
          - CAST(sa AS HUGEINT) * sb) AS BIGINT) AS ari_num,
        CAST(CAST(t AS HUGEINT) * (sa + sb)
          - 2 * (CAST(sa AS HUGEINT) * sb) AS BIGINT) AS ari_den,
        round(CAST(CAST(2 * (CAST(t AS HUGEINT) * same_both
            - CAST(sa AS HUGEINT) * sb) AS BIGINT) AS DOUBLE)
          / CAST(NULLIF(CAST(CAST(t AS HUGEINT) * (sa + sb)
            - 2 * (CAST(sa AS HUGEINT) * sb) AS BIGINT), 0) AS DOUBLE), 6)
          AS ari
      FROM st"""

  /** The q252 oracle: the same two chains and `prs` frame, then the
    * contingency cells / marginals in BIGINT and the identical
    * mi/entropy term expressions through the decimal-exact sum
    * fragment (the sboth/ssa/ssb CTEs of the shared prefix are
    * non-materialized and unused here, so DuckDB never evaluates
    * them). */
  private def q252Sql(s: Int): String =
    stabilitySqlPrefix(s) + s"""
      , cells AS (SELECT la, lb, CAST(COUNT(*) AS BIGINT) AS nij
                  FROM prs GROUP BY la, lb),
      ma AS (SELECT la, CAST(COUNT(*) AS BIGINT) AS ai
             FROM prs GROUP BY la),
      mb AS (SELECT lb, CAST(COUNT(*) AS BIGINT) AS bj
             FROM prs GROUP BY lb),
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM prs),
      mi AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
               ${graft.ops.Exact.sqlSum(
                 "(CAST(nij AS DOUBLE) / n_nodes) * " +
                 "ln((CAST(nij AS DOUBLE) * n_nodes) / " +
                 "(CAST(ai AS DOUBLE) * bj))")} AS mi
             FROM cells JOIN ma USING (la) JOIN mb USING (lb)
             CROSS JOIN nn),
      ha AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_comm_g1,
               ${graft.ops.Exact.sqlSum(
                 "(CAST(ai AS DOUBLE) / n_nodes) * " +
                 "ln(CAST(n_nodes AS DOUBLE) / ai)")} AS h_g1
             FROM ma CROSS JOIN nn),
      hb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_comm_g32,
               ${graft.ops.Exact.sqlSum(
                 "(CAST(bj AS DOUBLE) / n_nodes) * " +
                 "ln(CAST(n_nodes AS DOUBLE) / bj)")} AS h_g32
             FROM mb CROSS JOIN nn)
      SELECT nn.n_nodes, mi.n_cells, ha.n_comm_g1, hb.n_comm_g32,
        mi.mi, ha.h_g1, hb.h_g32,
        round(2.0 * mi.mi / NULLIF(ha.h_g1 + hb.h_g32, 0.0), 6) AS nmi
      FROM nn CROSS JOIN mi CROSS JOIN ha CROSS JOIN hb"""

  /** Shared WITH-chain of the q247/q248 oracles: the two sweep chains
    * and the sboth/ssa/ssb sufficient-statistic CTEs (no trailing
    * SELECT). */
  private def stabilitySqlPrefix(s: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""
      WITH eo AS (
        SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      e1 AS MATERIALIZED (
        SELECT 's' || CAST(sk AS VARCHAR) AS src,
               'c' || CAST(ck AS VARCHAR) AS dst,
               CAST(1 AS BIGINT) AS w FROM eo
        UNION ALL
        SELECT 'c' || CAST(ck AS VARCHAR), 's' || CAST(sk AS VARCHAR),
               CAST(1 AS BIGINT)
        FROM eo),
      sa_0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, src AS label FROM e1),
      sb_0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, src AS label FROM e1),"""
    for (k <- 1 to s) {
      sb ++= Graph.louvainMoveBatchSql("e1", s"sa_${k - 1}",
        s"_sa_$k", LouvainMinGainDen) + ","
      sb ++= s"""
      sa_$k AS MATERIALIZED (
        SELECT node, label FROM blvout_sa_$k),"""
      sb ++= Graph.louvainMoveBatchSql("e1", s"sb_${k - 1}",
        s"_sb_$k", LouvainMinGainDen, LouvainGammaNum, LouvainGammaDen) + ","
      sb ++= s"""
      sb_$k AS MATERIALIZED (
        SELECT node, label FROM blvout_sb_$k),"""
    }
    sb ++= s"""
      prs AS MATERIALIZED (
        SELECT a.node, a.label AS la, b.label AS lb
        FROM sa_$s a JOIN sb_$s b ON a.node = b.node),
      sboth AS (
        SELECT CAST(COALESCE(SUM((n * (n - 1)) // 2), 0) AS BIGINT) AS v
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n
              FROM prs GROUP BY la, lb)),
      ssa AS (
        SELECT CAST(COALESCE(SUM((n * (n - 1)) // 2), 0) AS BIGINT) AS v
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM prs GROUP BY la)),
      ssb AS (
        SELECT CAST(COALESCE(SUM((n * (n - 1)) // 2), 0) AS BIGINT) AS v
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM prs GROUP BY lb))"""
    sb.result()
  }

  def queries: Seq[Q] =
    Seq(q210, q211, q215, q216, q220, q222, q224, q225, q226, q227,
      q228, q229, q230, q231, q232, q233, q235, q236, q237, q238,
      q240, q241, q242, q243, q244, q246, q247, q248, q252)
}
