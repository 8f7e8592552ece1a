package graft.queries

import graft.Tables
import graft.ops.{Retrieval, Sampling, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-assembly queries over `documents`: the corpus data card
  * (the per-slice statistics sheet shipped with a training dataset),
  * hard-negative mining for contrastive training, and token-budget
  * corpus selection — the steps between a filtered corpus and a
  * training run. */
object AssemblyQueries extends QueryGroup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** Corpus data card: per (source, lang) slice plus rollup margins —
    * doc/token counts, average length, short-doc fraction, exact-dup
    * fraction. One rollup aggregation; the dup flag is a window count
    * over the content hash (one shuffle on the hash — the q46 dedup
    * key reused as a statistic). */
  private val q140 = Q(
    "q140_data_card",
    (s, dir) => {
      import s.implicits._
      val d = docs(s, dir).select($"doc_id", $"source", $"lang", $"n_chars",
        size(TextOps.tokens($"text")).cast("long").as("ntok"),
        md5(lower(trim($"text"))).as("chash"))
      val dupd = d.withColumn("is_dup",
        when(count(lit(1)).over(Window.partitionBy($"chash")) > 1, 1L)
          .otherwise(0L))
      dupd.rollup($"source", $"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"ntok").as("n_tokens"),
          (sum($"ntok").cast("double") / count(lit(1))).as("avg_tokens"),
          (sum(when($"n_chars" < 200, 1L).otherwise(0L)).cast("double") /
            count(lit(1))).as("short_frac"),
          (sum($"is_dup").cast("double") / count(lit(1))).as("dup_frac"))
        .select(coalesce($"source", lit("ALL")).as("source"),
          coalesce($"lang", lit("ALL")).as("lang"),
          $"n_docs", $"n_tokens", $"avg_tokens", $"short_frac", $"dup_frac")
        .orderBy($"source", $"lang")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, source, lang, n_chars,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ntok,
          md5(lower(trim(text))) AS chash
        FROM documents),
      dupd AS (
        SELECT *, CASE WHEN COUNT(*) OVER (PARTITION BY chash) > 1
                       THEN 1 ELSE 0 END AS is_dup
        FROM d)
      SELECT COALESCE(source, 'ALL') AS source,
        COALESCE(lang, 'ALL') AS lang,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(ntok) AS BIGINT) AS n_tokens,
        CAST(SUM(ntok) AS DOUBLE) / COUNT(*) AS avg_tokens,
        CAST(SUM(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS DOUBLE)
          / COUNT(*) AS short_frac,
        CAST(SUM(is_dup) AS DOUBLE) / COUNT(*) AS dup_frac
      FROM dupd GROUP BY ROLLUP (source, lang)
      ORDER BY source, lang"""))

  /** Hard-negative mining (the DPR recipe): BM25 query-by-example
    * top-ranked docs for each query doc, MINUS its near-duplicates
    * (the LSH ≥ 0.5 pairs standing in for the labeled-positive set) —
    * docs that score like positives but aren't. Composes the frozen
    * inverted index with the frozen LSH index; the anti-join is the
    * only added work. */
  private val q141 = Q(
    "q141_hard_negatives",
    (s, dir) => {
      import s.implicits._
      val tok = TextOps.tokenRows(docs(s, dir))
      val (postings, dfreq, stats) = Retrieval.bm25Index(tok)
      val qterms = tok.filter($"doc" < 10)
        .select($"doc".as("qid"), $"token").distinct()
      val scored = Retrieval.bm25Scores(postings, dfreq, stats, qterms)
        .filter($"qid" =!= $"doc")
      val sh = docs(s, dir)
        .withColumn("ts", TextOps.tokens($"text"))
        .select($"doc_id", explode(TextOps.shingles("ts", 3)).as("sg"))
        .distinct()
      val mh = TextOps.minhash(sh, $"doc_id", $"sg", k = 8)
      val est = TextOps.estJaccard(TextOps.lshCandidates(mh, r = 4), mh, k = 8)
        .filter($"est_jaccard" >= 0.5)
      val pos = est.filter($"d1" < 10).select($"d1".as("qid"), $"d2".as("doc"))
        .unionByName(
          est.filter($"d2" < 10).select($"d2".as("qid"), $"d1".as("doc")))
        .distinct()
      Retrieval.hardNegatives(scored, pos, k = 3)
        .select($"qid", $"doc", $"score", $"rank")
        .orderBy($"qid", $"rank")
    },
    Some(s"""
      WITH tok AS (
        SELECT doc_id AS doc, unnest(string_split_regex(trim(text), '\\s+')) AS token
        FROM documents),
      tf AS (SELECT doc, token, CAST(COUNT(*) AS BIGINT) AS tf
             FROM tok GROUP BY doc, token),
      dl AS (SELECT doc, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc),
      postings AS (SELECT tf.doc, tf.token, tf.tf, dl.dl
                   FROM tf JOIN dl USING (doc)),
      dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
                FROM tf GROUP BY token),
      stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                       CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
      qterms AS (SELECT DISTINCT doc AS qid, token FROM tok WHERE doc < 10),
      scored AS (${Retrieval.bm25Sql.replace("GROUP BY qid, doc",
        "WHERE qid <> doc GROUP BY qid, doc")}),
      t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts
            FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, len(ts) - 2),
          i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS sg
        FROM t),
      hashes AS (
        SELECT doc_id AS doc, ${TextOps.h64Sql("sg")} AS h1,
               ${TextOps.h64bSql("sg")} % 1000000007 AS h2
        FROM sh),
      mh AS (
        SELECT doc, j, MIN(h1 + j * h2) AS h
        FROM hashes, (SELECT unnest(generate_series(0, 7)) AS j) seeds
        GROUP BY doc, j),
      bands AS (
        SELECT doc, CAST(j // 4 AS INT) AS band, SUM(h) AS sig
        FROM mh GROUP BY 1, 2),
      cands AS (
        SELECT DISTINCT a.doc AS d1, b.doc AS d2
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.sig = b.sig AND a.doc < b.doc),
      est AS (
        SELECT d1, d2, COUNT(*) * 1.0e0 / 8 AS ej
        FROM cands
        JOIN mh ma ON d1 = ma.doc
        JOIN mh mb ON d2 = mb.doc AND ma.j = mb.j AND ma.h = mb.h
        GROUP BY d1, d2),
      pos AS (
        SELECT d1 AS qid, d2 AS doc FROM est WHERE ej >= 0.5 AND d1 < 10
        UNION
        SELECT d2 AS qid, d1 AS doc FROM est WHERE ej >= 0.5 AND d2 < 10),
      neg AS (
        SELECT s.qid, s.doc, s.score FROM scored s
        LEFT JOIN pos p ON s.qid = p.qid AND s.doc = p.doc
        WHERE p.doc IS NULL),
      ranked AS (
        SELECT qid, doc, score,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY score DESC, doc) AS INT) AS rank
        FROM neg)
      SELECT qid, doc, score, rank FROM ranked
      WHERE rank <= 3 ORDER BY qid, rank"""))

  /** Token-budget corpus selection: fill 10% of the corpus' tokens
    * with the highest-quality docs (quality = mean token length, the
    * q43 statistic), selected by histogram cutoff — whole bins above
    * the cut via a broadcast-scalar filter, an ordered prefix window
    * only inside the boundary bin. */
  private val q142 = Q(
    "q142_token_budget",
    (s, dir) => {
      import s.implicits._
      val q = TextOps.tokenRows(docs(s, dir)).groupBy($"doc")
        .agg(count(lit(1)).cast("long").as("n_tokens"),
          round(sum(length($"token")) * lit(1.0) / count(lit(1)), 6)
            .as("quality"))
      Sampling.tokenBudgetSelect(q, num = 1, den = 10)
        .orderBy($"quality".desc, $"doc")
    },
    Some("""
      WITH tok AS (
        SELECT doc_id AS doc, unnest(string_split_regex(trim(text), '\s+')) AS token
        FROM documents),
      q AS (SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_tokens,
              ROUND(SUM(len(token)) * 1.0e0 / COUNT(*), 6) AS quality
            FROM tok GROUP BY doc),
      b AS (SELECT *, CAST(FLOOR(quality * 10.0e0) AS BIGINT) AS bin FROM q),
      binsum AS (SELECT bin, SUM(n_tokens) AS bt FROM b GROUP BY bin),
      cum AS (SELECT bin, bt, SUM(bt) OVER (ORDER BY bin DESC) AS cum_above
              FROM binsum),
      budget AS (SELECT SUM(n_tokens) // 10 AS budget FROM q),
      cut AS (
        SELECT MIN(CASE WHEN cum_above <= budget THEN bin END) AS cutbin,
               MAX(CASE WHEN cum_above > budget THEN bin END) AS pbin
        FROM cum, budget),
      sel_full AS (
        SELECT b.doc, b.quality, b.n_tokens FROM b, cut
        WHERE b.bin >= cut.cutbin),
      spent AS (SELECT COALESCE(SUM(n_tokens), 0) AS s FROM sel_full),
      part AS (
        SELECT b.doc, b.quality, b.n_tokens,
          SUM(n_tokens) OVER (PARTITION BY b.bin
            ORDER BY quality DESC, doc) AS run
        FROM b, cut WHERE b.bin = cut.pbin),
      sel AS (
        SELECT doc, quality, n_tokens FROM sel_full
        UNION ALL
        SELECT doc, quality, n_tokens FROM part, budget, spent
        WHERE run <= budget - s)
      SELECT doc, quality, n_tokens FROM sel
      ORDER BY quality DESC, doc"""))

  /** Curriculum ordering: stage documents short-to-long (the classic
    * length curriculum), shuffle deterministically inside each stage
    * (hash order — no RNG state), and assign the global training
    * position stage-major. The position is Shard.histogramRank's
    * counting sort — histogram the 4 stages, prefix-sum the tiny
    * histogram, rank within stages — so no whole-corpus
    * single-partition window exists in the plan (the oracle's global
    * ROW_NUMBER is exactly the formulation the operator avoids). */
  private val q145 = Q(
    "q145_curriculum_order",
    (s, dir) => {
      import s.implicits._
      val staged = docs(s, dir)
        .select($"doc_id",
          size(TextOps.tokens($"text")).cast("long").as("ntok"))
        .withColumn("stage",
          when($"ntok" < 50, 0).when($"ntok" < 200, 1)
            .when($"ntok" < 500, 2).otherwise(3))
      graft.ops.Shard.histogramRank(staged, $"stage", bucketAsc = true,
          order = Seq(TextOps.h64($"doc_id".cast("string")).asc, $"doc_id".asc),
          rankName = "curriculum_pos")
        .select($"doc_id", $"stage", $"curriculum_pos")
        .orderBy($"curriculum_pos")
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id,
          CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS ntok
        FROM documents),
      st AS (
        SELECT doc_id,
          CASE WHEN ntok < 50 THEN 0 WHEN ntok < 200 THEN 1
               WHEN ntok < 500 THEN 2 ELSE 3 END AS stage
        FROM d)
      SELECT doc_id, stage,
        CAST(ROW_NUMBER() OVER (ORDER BY stage,
          ${TextOps.h64Sql("CAST(doc_id AS VARCHAR)")}, doc_id) AS BIGINT)
          AS curriculum_pos
      FROM st ORDER BY curriculum_pos"""))

  /** k-anonymity-suppressed release of the data card's cell counts:
    * (source, lang) cells under k=5 docs are merged into an 'other'
    * row per source, and if even the merged remainder stays under k
    * its count is withheld (NULL) — the small-cell suppression rule a
    * public dataset card applies so no slice count identifies a
    * handful of documents. Two groupBys over cell-sized frames; the
    * suppression logic never touches row-grain data. */
  private val q161 = Q(
    "q161_k_suppressed_card",
    (s, dir) => {
      import s.implicits._
      val k = 5L
      val cells = docs(s, dir).groupBy($"source", $"lang")
        .agg(count(lit(1)).as("n_docs"))
      val kept = cells.filter($"n_docs" >= k)
        .select($"source", $"lang", $"n_docs")
      val merged = cells.filter($"n_docs" < k)
        .groupBy($"source")
        .agg(sum($"n_docs").as("__m"), count(lit(1)).as("n_cells_merged"))
        .select($"source", lit("other").as("lang"),
          when($"__m" >= k, $"__m").otherwise(lit(null).cast("long"))
            .as("n_docs"))
      kept.unionAll(merged).orderBy($"source", $"lang")
    },
    Some("""
      WITH cells AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source, lang)
      SELECT source, lang, n_docs FROM cells WHERE n_docs >= 5
      UNION ALL
      SELECT source, 'other' AS lang,
        CASE WHEN SUM(n_docs) >= 5 THEN CAST(SUM(n_docs) AS BIGINT)
             ELSE CAST(NULL AS BIGINT) END AS n_docs
      FROM cells WHERE n_docs < 5 GROUP BY source
      ORDER BY source, lang"""))

  /** l-diversity audit (Machanavajjhala et al. '07) — the release-risk
    * sibling of the k-anonymity card (q161): k-anonymity bounds group
    * SIZE, but a group whose sensitive attribute is homogeneous still
    * leaks it; distinct-l-diversity requires ≥ l distinct sensitive
    * values per quasi-identifier group. Quasi-identifier here:
    * (source, 200-char length bucket); sensitive attribute: lang.
    * Output per group: size, distinct sensitive values, majority
    * fraction, and the release decision. Two map-side-combined
    * aggregations — no shuffle wider than the group count. */
  private val q173 = Q(
    "q173_l_diversity",
    (s, dir) => {
      import s.implicits._
      val l = 2L
      val cnt = docs(s, dir)
        .withColumn("len_bucket", expr("n_chars div 200"))
        .groupBy($"source", $"len_bucket", $"lang")
        .agg(count(lit(1)).as("c"))
      cnt.groupBy($"source", $"len_bucket")
        .agg(sum($"c").as("n_docs"),
          count(lit(1)).as("n_langs"),
          max($"c").as("__top"))
        .select($"source", $"len_bucket", $"n_docs", $"n_langs",
          ($"__top".cast("double") / $"n_docs".cast("double"))
            .as("top_frac"),
          when($"n_langs" >= l, "diverse").otherwise("homogeneous_risk")
            .as("decision"))
        .orderBy($"source", $"len_bucket")
    },
    Some("""
      WITH cnt AS (
        SELECT source, n_chars // 200 AS len_bucket, lang,
          CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2, 3)
      SELECT source, len_bucket, CAST(SUM(c) AS BIGINT) AS n_docs,
        CAST(COUNT(*) AS BIGINT) AS n_langs,
        CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_frac,
        CASE WHEN COUNT(*) >= 2 THEN 'diverse'
             ELSE 'homogeneous_risk' END AS decision
      FROM cnt GROUP BY source, len_bucket
      ORDER BY source, len_bucket"""))

  def queries: Seq[Q] = Seq(q140, q141, q142, q145, q161, q173)
}
