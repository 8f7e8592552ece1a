package graft.queries

import graft.Tables
import graft.ops.{Relational, Retrieval, Similarity, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sparse retrieval and rank fusion over `documents` (+ `embeddings`
  * for the hybrid ranker): BM25 over an inverted index, a three-ranker
  * reciprocal-rank-fusion hybrid, and incremental new-batch-vs-corpus
  * near-dup detection against a frozen LSH index — the retrieval side
  * of a training-data pipeline (dedup against yesterday's corpus,
  * query-by-example contamination triage, hybrid sparse+dense search).
  */
object RetrievalQueries extends QueryGroup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** Shared oracle CTEs: token rows and the BM25 index frames (postings
    * with doc length, document frequencies, corpus scalars). */
  private val bm25CtesSql = s"""
      tok AS (
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
                       CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl)"""

  /** BM25 top-5 docs for three fixed term queries over the inverted
    * index. The index (postings carrying doc length, per-term document
    * frequencies, corpus scalars) is the frozen artifact a 100 TB
    * deployment builds once; the query-term table broadcasts into the
    * postings list so per-query cost follows matched postings. */
  private val q137 = Q(
    "q137_bm25_topk",
    (s, dir) => {
      import s.implicits._
      val (postings, dfreq, stats) =
        Retrieval.bm25Index(TextOps.tokenRows(docs(s, dir)))
      val qterms = Seq(
        0L -> "dup", 0L -> "spark",
        1L -> "scan", 1L -> "filter", 1L -> "fast",
        2L -> "customer", 2L -> "join", 2L -> "table")
        .toDF("qid", "token")
      val scored = Retrieval.bm25Scores(postings, dfreq, stats, qterms)
      Relational.topKPerGroup(scored, Seq($"qid"),
          Seq($"score".desc, $"doc".asc), 5)
        .select($"qid", $"doc".as("doc_id"), $"score", $"rank")
        .orderBy($"qid", $"rank")
    },
    Some(s"""
      WITH $bm25CtesSql,
      qterms AS (SELECT CAST(qid AS BIGINT) AS qid, token
                 FROM (VALUES (0, 'dup'), (0, 'spark'),
                              (1, 'scan'), (1, 'filter'), (1, 'fast'),
                              (2, 'customer'), (2, 'join'), (2, 'table'))
                      AS q(qid, token)),
      scored AS (${Retrieval.bm25Sql}),
      ranked AS (
        SELECT qid, doc AS doc_id, score,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY score DESC, doc) AS INT) AS rank
        FROM scored)
      SELECT qid, doc_id, score, rank FROM ranked
      WHERE rank <= 5 ORDER BY qid, rank"""))

  /** Hybrid retrieval: reciprocal-rank fusion of THREE rankers for the
    * same query batch (docs 0..9, query-by-example) — exact dense
    * cosine over embeddings (vec i ↔ doc i demo contract), BM25 with
    * the query doc's distinct terms, and token-set Jaccard. Each
    * ranker contributes its top-10; fusion unions the k-sized frames
    * and sums 1/(60+rank) — the rankers stay opaque (qid, doc, rank)
    * frames, so the same operator fuses any mix of the engine's dense
    * and sparse retrieval paths. */
  private val q138 = Q(
    "q138_hybrid_rrf",
    (s, dir) => {
      import s.implicits._
      graft.plans.GraftFunctions.register(s)
      val tok = TextOps.tokenRows(docs(s, dir))
      // dense: exact cosine top-10 (the ANN family's baseline)
      val all = Similarity.withNorms(
        Tables.spread(s, dir, "embeddings"), $"vec_id", $"embedding")
      val dense = Similarity.bruteForceTopK(all, all.filter($"id" < 10), k = 10)
        .select($"id1".as("qid"), $"id2".as("doc"), $"rank")
      // sparse A: BM25 query-by-example on the query docs' terms
      val (postings, dfreq, stats) = Retrieval.bm25Index(tok)
      val qterms = tok.filter($"doc" < 10)
        .select($"doc".as("qid"), $"token").distinct()
      val bm = Relational.topKPerGroup(
          Retrieval.bm25Scores(postings, dfreq, stats, qterms)
            .filter($"qid" =!= $"doc"),
          Seq($"qid"), Seq($"score".desc, $"doc".asc), 10)
        .select($"qid", $"doc", $"rank")
      // sparse B: token-set Jaccard query-by-example
      val dt = tok.distinct()
      val jr = Relational.topKPerGroup(
          Retrieval.jaccardQbe(dt, dt.select($"doc".as("qid")).distinct()
            .filter($"qid" < 10)),
          Seq($"qid"), Seq($"jaccard".desc, $"doc".asc), 10)
        .select($"qid", $"doc", $"rank")
      val fused = Retrieval.rrfFuse(Seq(dense, bm, jr))
      Relational.topKPerGroup(fused, Seq($"qid"),
          Seq($"rrf".desc, $"doc".asc), 5)
        .select($"qid", $"doc", $"rrf", $"rank")
        .orderBy($"qid", $"rank")
    },
    Some(s"""
      WITH $bm25CtesSql,
      comp AS (
        SELECT vec_id AS id, generate_subscripts(embedding, 1) - 1 AS i,
               CAST(unnest(embedding) AS DOUBLE) AS e
        FROM embeddings),
      cparts AS (
        SELECT q.id AS id1, c.id AS id2, q.e * c.e AS p,
               q.e * q.e AS a2, c.e * c.e AS b2
        FROM comp q JOIN comp c ON q.i = c.i AND q.id <> c.id
        WHERE q.id < 10),
      ccos AS (SELECT id1, id2,
          CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE) /
            (sqrt(CAST(SUM(CAST(a2 AS DECIMAL(18,6))) AS DOUBLE)) *
             sqrt(CAST(SUM(CAST(b2 AS DECIMAL(18,6))) AS DOUBLE))) AS cosine
        FROM cparts GROUP BY id1, id2),
      dense AS (
        SELECT id1 AS qid, id2 AS doc,
          CAST(ROW_NUMBER() OVER (PARTITION BY id1
                 ORDER BY cosine DESC, id2) AS INT) AS rank
        FROM ccos QUALIFY rank <= 10),
      qterms AS (SELECT DISTINCT doc AS qid, token FROM tok WHERE doc < 10),
      scored AS (${Retrieval.bm25Sql.replace("GROUP BY qid, doc",
        "WHERE qid <> doc GROUP BY qid, doc")}),
      bm AS (
        SELECT qid, doc,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY score DESC, doc) AS INT) AS rank
        FROM scored QUALIFY rank <= 10),
      dt AS (SELECT DISTINCT doc, token FROM tok),
      qsz AS (SELECT doc AS qid, CAST(COUNT(*) AS BIGINT) AS qn
              FROM dt WHERE doc < 10 GROUP BY doc),
      dsz AS (SELECT doc, CAST(COUNT(*) AS BIGINT) AS dn FROM dt GROUP BY doc),
      inter AS (
        SELECT a.doc AS qid, b.doc AS doc, CAST(COUNT(*) AS BIGINT) AS ix
        FROM dt a JOIN dt b ON a.token = b.token
          AND a.doc < 10 AND a.doc <> b.doc
        GROUP BY a.doc, b.doc),
      jac AS (
        SELECT qid, i.doc,
          ROUND(ix * 1.0e0 / (qn + dn - ix), 6) AS jaccard
        FROM inter i JOIN qsz USING (qid) JOIN dsz ON i.doc = dsz.doc),
      jr AS (
        SELECT qid, doc,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY jaccard DESC, doc) AS INT) AS rank
        FROM jac QUALIFY rank <= 10),
      u AS (
        SELECT qid, doc, ${Retrieval.rrfSql("rank")} AS c FROM dense
        UNION ALL
        SELECT qid, doc, ${Retrieval.rrfSql("rank")} AS c FROM bm
        UNION ALL
        SELECT qid, doc, ${Retrieval.rrfSql("rank")} AS c FROM jr),
      fused AS (SELECT qid, doc, CAST(SUM(c) AS DOUBLE) AS rrf
                FROM u GROUP BY qid, doc),
      final AS (
        SELECT qid, doc, rrf,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY rrf DESC, doc) AS INT) AS rank
        FROM fused)
      SELECT qid, doc, rrf, rank FROM final
      WHERE rank <= 5 ORDER BY qid, rank"""))

  /** Incremental near-dup detection: the day's batch (doc_id % 10 = 7,
    * a 10% delivery) against the frozen corpus LSH index — same
    * shingle/minhash/band parameters as q47, but candidate generation
    * joins only the NEW side's band signatures against the store, so
    * old–old pairs (already adjudicated when their batch arrived) are
    * never generated and per-batch cost follows the delivery size. */
  private val q139 = Q(
    "q139_incremental_dedup",
    (s, dir) => {
      import s.implicits._
      val sh = docs(s, dir)
        .withColumn("ts", TextOps.tokens($"text"))
        .select($"doc_id", explode(TextOps.shingles("ts", 3)).as("sg"))
        .distinct()
      val mh = TextOps.minhash(sh, $"doc_id", $"sg", k = 8)
      val bands = TextOps.bandSignatures(mh, r = 4)
        .withColumn("is_new", col("doc") % 10 === 7)
      val cands = Retrieval.incrementalLshCandidates(bands)
      TextOps.estJaccard(cands, mh, k = 8)
        .filter($"est_jaccard" >= 0.5)
        .orderBy($"d1", $"d2")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts
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
        SELECT doc, CAST(j // 4 AS INT) AS band, SUM(h) AS sig,
               doc % 10 = 7 AS is_new
        FROM mh GROUP BY 1, 2, 4),
      cands AS (
        SELECT DISTINCT a.doc AS d1, b.doc AS d2
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.sig = b.sig AND a.is_new
         AND (NOT b.is_new OR a.doc < b.doc)),
      est AS (
        SELECT d1, d2, COUNT(*) * 1.0e0 / 8 AS est_jaccard
        FROM cands
        JOIN mh ma ON d1 = ma.doc
        JOIN mh mb ON d2 = mb.doc AND ma.j = mb.j AND ma.h = mb.h
        GROUP BY d1, d2)
      SELECT d1, d2, est_jaccard FROM est
      WHERE est_jaccard >= 0.5 ORDER BY d1, d2"""))

  /** Exact phrase search (Retrieval.phraseMatches): three fixed phrases
    * against the positional postings index — every occurrence position
    * verified by the anchor-vote intersection, per-doc occurrence
    * counts and first position returned. The phrase table broadcasts;
    * corpus cost is the one postings build (shared with BM25 at a real
    * deployment) plus matched-postings-sized joins. */
  private val q154 = Q(
    "q154_phrase_search",
    (s, dir) => {
      import s.implicits._
      val postings = docs(s, dir)
        .select($"doc_id".as("doc"),
          posexplode(TextOps.tokens($"text")).as(Seq("pos", "token")))
      val phraseList = Seq("table table", "fast merge batch", "value table part")
      val phrases = phraseList.zipWithIndex.flatMap { case (p, pid) =>
        val terms = p.split(" ")
        terms.zipWithIndex.map { case (t, j) =>
          (pid.toLong, p, j, t, terms.length.toLong)
        }
      }
      val phraseDf = s.createDataFrame(phrases)
        .toDF("pid", "phrase", "j", "term", "len")
      Retrieval.phraseMatches(postings, phraseDf)
        .orderBy($"pid", $"doc")
    },
    Some(s"""
      WITH post AS (
        SELECT doc_id AS doc, generate_subscripts(ts, 1) - 1 AS pos,
               unnest(ts) AS token
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts
              FROM documents)),
      ph(pid, phrase, j, term, len) AS (VALUES
        (CAST(0 AS BIGINT), 'table table', 0, 'table', CAST(2 AS BIGINT)),
        (0, 'table table', 1, 'table', 2),
        (1, 'fast merge batch', 0, 'fast', 3),
        (1, 'fast merge batch', 1, 'merge', 3),
        (1, 'fast merge batch', 2, 'batch', 3),
        (2, 'value table part', 0, 'value', 3),
        (2, 'value table part', 1, 'table', 3),
        (2, 'value table part', 2, 'part', 3)),
      votes AS (
        SELECT ph.pid, ph.phrase, post.doc, post.pos - ph.j AS anchor,
               ph.j, ph.len
        FROM post JOIN ph ON post.token = ph.term),
      anchors AS (
        SELECT pid, phrase, doc, anchor
        FROM votes
        GROUP BY pid, phrase, doc, anchor, len
        HAVING COUNT(DISTINCT j) = len)
      SELECT pid, phrase, doc, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
             CAST(MIN(anchor) AS INT) AS first_pos
      FROM anchors GROUP BY pid, phrase, doc ORDER BY pid, doc"""))

  def queries: Seq[Q] = Seq(q137, q138, q139, q154)
}
