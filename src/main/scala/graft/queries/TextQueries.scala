package graft.queries

import graft.Tables
import graft.ops.{Relational, TextOps}
import graft.ops.Exact._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication batch over `documents`: token stats,
  * quality scoring, language-ID, fingerprinting, exact dedup,
  * MinHash+LSH near-dup, SimHash, blocked n-gram Jaccard.
  *
  * All hashing goes through the cross-engine 60-bit md5 hash
  * (TextOps.h64 / h64Sql) so Spark and the DuckDB oracle agree bit-wise.
  */
object TextQueries extends QueryGroup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  private val tokenRowsSql = """
    tok AS (
      SELECT doc_id AS doc, unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents)"""

  /** Token counting: total + distinct tokens and char length per doc. */
  private val q42 = Q(
    "q42_token_count",
    (s, dir) => {
      import s.implicits._
      docs(s, dir).select($"doc_id",
          size(TextOps.tokens($"text")).as("n_tokens"),
          size(array_distinct(TextOps.tokens($"text"))).as("n_distinct"),
          length($"text").as("n_chars"))
        .orderBy($"doc_id")
    },
    Some("""
      SELECT doc_id,
        CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens,
        CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS INT)
          AS n_distinct,
        CAST(length(text) AS INT) AS n_chars
      FROM documents ORDER BY doc_id"""))

  /** Quality scoring: stopword ratio, mean token length, and a composite
    * score — the standard corpus-filtering heuristics. */
  private val q43 = Q(
    "q43_text_quality",
    (s, dir) => {
      import s.implicits._
      TextOps.qualityScore(TextOps.tokenRows(docs(s, dir)),
          Seq("the", "a", "of", "and"))
        .withColumn("quality",
          $"stop_ratio" * lit(-1.0) + $"mean_token_len" / lit(10.0))
        .orderBy($"doc")
    },
    Some(s"""
      WITH $tokenRowsSql
      SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        ${sqlSum("CAST(length(token) AS DOUBLE)")} / COUNT(*) AS mean_token_len,
        (CAST(SUM(CASE WHEN token IN ('the','a','of','and') THEN 1 ELSE 0 END)
              AS DOUBLE) / COUNT(*)) AS stop_ratio,
        (CAST(SUM(CASE WHEN token IN ('the','a','of','and') THEN 1 ELSE 0 END)
              AS DOUBLE) / COUNT(*)) * -1.0e0 +
          (${sqlSum("CAST(length(token) AS DOUBLE)")} / COUNT(*)) / 10.0e0
          AS quality
      FROM tok GROUP BY doc ORDER BY doc"""))

  /** Language-ID by stopword-lexicon voting (n-gram heuristic): count
    * lexicon hits per language, pick the top language with a
    * deterministic tie-break; docs with no hits are 'und'. */
  private val q44 = Q(
    "q44_langid",
    (s, dir) => {
      import s.implicits._
      val lexicon = s.createDataFrame(Seq(
        ("the", "en"), ("a", "en"), ("of", "en"),
        ("le", "fr"), ("la", "fr"), ("et", "fr"),
        ("der", "de"), ("und", "de"), ("die", "de"),
        ("el", "es"), ("los", "es"), ("y", "es"))).toDF("token", "lang_guess")
      val hits = TextOps.tokenRows(docs(s, dir))
        .join(broadcast(lexicon), Seq("token"))
        .groupBy($"doc", $"lang_guess").agg(count(lit(1)).as("hits"))
      val best = Relational.topOnePerGroup(hits, Seq($"doc"),
        Seq($"hits".desc, $"lang_guess".asc))
      docs(s, dir).join(best, $"doc_id" === $"doc", "left")
        .select($"doc_id",
          coalesce($"lang_guess", lit("und")).as("lang_guess"),
          coalesce($"hits", lit(0L)).as("hits"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH $tokenRowsSql,
      lex(token, lang_guess) AS (VALUES
        ('the','en'), ('a','en'), ('of','en'),
        ('le','fr'), ('la','fr'), ('et','fr'),
        ('der','de'), ('und','de'), ('die','de'),
        ('el','es'), ('los','es'), ('y','es')),
      hits AS (
        SELECT doc, lang_guess, CAST(COUNT(*) AS BIGINT) AS hits
        FROM tok JOIN lex USING (token) GROUP BY doc, lang_guess),
      best AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc
                    ORDER BY hits DESC, lang_guess) AS rn
        FROM hits)
      SELECT d.doc_id, COALESCE(b.lang_guess, 'und') AS lang_guess,
             COALESCE(b.hits, 0) AS hits
      FROM documents d LEFT JOIN best b ON d.doc_id = b.doc AND b.rn = 1
      ORDER BY d.doc_id"""))

  /** Document fingerprinting: full-content md5 plus the minimum shingle
    * hash (a 1-permutation minhash — the rolling-hash fingerprint
    * family). */
  private val q45 = Q(
    "q45_fingerprint",
    (s, dir) => {
      import s.implicits._
      // single scan: content hash rides the shingle groupBy as a key
      // (explode + groupBy keeps the per-shingle md5 inside whole-stage
      // codegen; an array_min-over-transform variant was 3× slower
      // because HOF lambdas evaluate interpreted)
      docs(s, dir)
        .select($"doc_id",
          md5(lower(trim($"text")).cast("binary")).as("content_md5"),
          TextOps.tokens($"text").as("ts"))
        .select($"doc_id", $"content_md5",
          explode(TextOps.shingles("ts", 3)).as("s"))
        .groupBy($"doc_id", $"content_md5")
        .agg(min(TextOps.h64($"s")).as("min_shingle_hash"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts,
                        md5(lower(trim(text))) AS content_md5
                 FROM documents),
      sh AS (
        SELECT doc_id, content_md5,
          unnest(list_transform(generate_series(1, len(ts) - 2),
            i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        FROM t)
      SELECT doc_id, content_md5,
        MIN(${TextOps.h64Sql("s")}) AS min_shingle_hash
      FROM sh GROUP BY doc_id, content_md5 ORDER BY doc_id"""))

  /** Exact dedup by normalized content hash (hash-groupBy). */
  private val q46 = Q(
    "q46_dedup_exact",
    (s, dir) => {
      import s.implicits._
      TextOps.exactDupGroups(docs(s, dir), $"doc_id", $"text")
        .orderBy($"canonical_id")
    },
    Some("""
      SELECT md5(lower(trim(text))) AS content_hash,
        MIN(doc_id) AS canonical_id, CAST(COUNT(*) AS BIGINT) AS n_copies
      FROM documents GROUP BY 1 ORDER BY canonical_id"""))

  /** MinHash + banded LSH near-duplicate detection (Broder shingles,
    * k=8 minhashes, 2 bands × 4 rows): candidates from the band
    * equi-join, then the minhash-agreement Jaccard estimate, thresholded. */
  private val q47 = Q(
    "q47_minhash_lsh",
    (s, dir) => {
      import s.implicits._
      val sh = docs(s, dir)
        .withColumn("ts", TextOps.tokens($"text"))
        .select($"doc_id", explode(TextOps.shingles("ts", 3)).as("s"))
        .distinct()
      val mh = TextOps.minhash(sh, $"doc_id", $"s", k = 8)
      val cands = TextOps.lshCandidates(mh, r = 4)
      TextOps.estJaccard(cands, mh, k = 8)
        .filter($"est_jaccard" >= 0.5)
        .orderBy($"d1", $"d2")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts
                 FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, len(ts) - 2),
          i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        FROM t),
      hashes AS (
        SELECT doc_id AS doc, ${TextOps.h64Sql("s")} AS h1,
               ${TextOps.h64bSql("s")} % 1000000007 AS h2
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
        SELECT d1, d2, COUNT(*) * 1.0e0 / 8 AS est_jaccard
        FROM cands
        JOIN mh ma ON d1 = ma.doc
        JOIN mh mb ON d2 = mb.doc AND ma.j = mb.j AND ma.h = mb.h
        GROUP BY d1, d2)
      SELECT d1, d2, est_jaccard FROM est
      WHERE est_jaccard >= 0.5 ORDER BY d1, d2"""))

  /** SimHash fingerprints (32-bit) + near-pairs by Hamming distance
    * within a source block. */
  private val q48 = Q(
    "q48_simhash",
    (s, dir) => {
      import s.implicits._
      val fp = TextOps.simhash(TextOps.tokenRows(docs(s, dir)),
        $"doc", $"token", bits = 32)
      val blocked = fp.join(
        docs(s, dir).select($"doc_id".as("doc"), $"source"), Seq("doc"))
      blocked.as("a").join(blocked.as("b"),
          $"a.source" === $"b.source" && $"a.doc" < $"b.doc")
        .select($"a.doc".as("d1"), $"b.doc".as("d2"),
          expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
        .filter($"hamming" <= 6)
        .orderBy($"d1", $"d2")
    },
    Some(s"""
      WITH $tokenRowsSql,
      th AS (SELECT doc, ${TextOps.h64Sql("token")} AS th FROM tok),
      bitsum AS (
        SELECT doc, b, SUM(CASE WHEN (th >> b) & 1 = 1 THEN 1 ELSE -1 END) AS bs
        FROM th, (SELECT unnest(generate_series(0, 31)) AS b) bits
        GROUP BY doc, b),
      fp AS (
        SELECT doc, SUM(CASE WHEN bs > 0 THEN (CAST(1 AS BIGINT) << b)
                             ELSE 0 END) AS simhash
        FROM bitsum GROUP BY doc),
      blocked AS (
        SELECT f.doc, f.simhash, d.source FROM fp f
        JOIN documents d ON f.doc = d.doc_id)
      SELECT a.doc AS d1, b.doc AS d2,
        CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      FROM blocked a JOIN blocked b
        ON a.source = b.source AND a.doc < b.doc
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
      ORDER BY d1, d2"""))

  /** Blocked exact n-gram Jaccard (token sets, blocking key =
    * source + length band) — candidate generation never goes O(n²). */
  private val q49 = Q(
    "q49_ngram_jaccard",
    (s, dir) => {
      import s.implicits._
      val tr = docs(s, dir)
        .select($"doc_id".as("doc"),
          concat($"source", lit("#"), ($"n_chars" / 100).cast("int").cast("string"))
            .as("block"),
          explode(array_distinct(TextOps.tokens($"text"))).as("token"))
      TextOps.blockedJaccard(tr)
        .filter($"jaccard" >= 0.8)
        .orderBy($"d1", $"d2")
    },
    Some("""
      WITH tr AS (
        SELECT doc_id AS doc,
          source || '#' || CAST(CAST(n_chars // 100 AS INT) AS VARCHAR) AS block,
          unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS token
        FROM documents),
      sz AS (SELECT doc, CAST(COUNT(*) AS BIGINT) AS n FROM tr GROUP BY doc),
      inter AS (
        SELECT a.doc AS d1, b.doc AS d2, CAST(COUNT(*) AS BIGINT) AS i
        FROM tr a JOIN tr b ON a.block = b.block AND a.token = b.token
          AND a.doc < b.doc
        GROUP BY 1, 2)
      SELECT d1, d2, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
      FROM inter JOIN sz sa ON d1 = sa.doc JOIN sz sb ON d2 = sb.doc
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
      ORDER BY d1, d2"""))

  /** Repeated-passage detection (Lee et al. '22 substring dedup at
    * 5-token shingle granularity): per-document duplicated-span
    * fraction — the prose-level dedup signal beside the document
    * (q46–q49) and line (q99) ones. */
  private val q110 = Q(
    "q110_dup_spans",
    (s, dir) => {
      import s.implicits._
      TextOps.dupSpans(docs(s, dir), $"doc_id", $"text", w = 5)
        .orderBy($"doc")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts
                 FROM documents),
      sp AS (
        SELECT doc_id AS doc, ${TextOps.h64Sql(
          "array_to_string(ts[i:i+4], ' ')")} AS h
        FROM t, LATERAL (
          SELECT unnest(generate_series(1, len(ts) - 4)) AS i) g
        WHERE len(ts) >= 5),
      freq AS (
        SELECT h, COUNT(DISTINCT doc) AS ndocs FROM sp GROUP BY h)
      SELECT sp.doc, CAST(COUNT(*) AS BIGINT) AS n_spans,
        CAST(SUM(CASE WHEN f.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        SUM(CASE WHEN f.ndocs > 1 THEN 1 ELSE 0 END) * 1.0e0 / COUNT(*)
          AS dup_frac
      FROM sp JOIN freq f ON sp.h = f.h
      GROUP BY sp.doc ORDER BY sp.doc"""))

  /** Asymmetric containment dedup (TextOps.blockedContainment): the
    * subset-duplicate pass — a short document quoted whole inside a
    * longer one is invisible to symmetric Jaccard (q49) but scores
    * containment 1. Blocks on source alone, NOT the length band,
    * because containment pairs documents of very different lengths by
    * construction. */
  private val q143 = Q(
    "q143_containment_dedup",
    (s, dir) => {
      import s.implicits._
      // spread: the token self-join's map side (distinct-token explode
      // over full docs) is the heavy kernel — measured 3.8 -> 2.1 s at
      // sf0.1 against the single-row-group scan. Queries that read the
      // doc table several times do NOT spread (the per-consumer text
      // shuffle costs more than the parallelism buys — A/B'd on
      // q127/q131/q141).
      val tr = Tables.spread(s, dir, "documents")
        .select($"doc_id".as("doc"), $"source".as("block"),
          explode(array_distinct(TextOps.tokens($"text"))).as("token"))
      TextOps.blockedContainment(tr)
        .filter($"containment" >= 0.9)
        .orderBy($"d1", $"d2")
    },
    Some("""
      WITH tr AS (
        SELECT doc_id AS doc, source AS block,
          unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS token
        FROM documents),
      sz AS (SELECT doc, CAST(COUNT(*) AS BIGINT) AS n FROM tr GROUP BY doc),
      inter AS (
        SELECT a.doc AS d1, b.doc AS d2, CAST(COUNT(*) AS BIGINT) AS i
        FROM tr a JOIN tr b ON a.block = b.block AND a.token = b.token
          AND a.doc < b.doc
        GROUP BY 1, 2)
      SELECT d1, d2, i,
        CAST(i AS DOUBLE) / LEAST(sa.n, sb.n) AS containment,
        CASE WHEN sa.n < sb.n THEN d1 ELSE d2 END AS subsumed
      FROM inter JOIN sz sa ON d1 = sa.doc JOIN sz sb ON d2 = sb.doc
      WHERE CAST(i AS DOUBLE) / LEAST(sa.n, sb.n) >= 0.9e0
      ORDER BY d1, d2"""))

  /** Memorization-risk triage (TextOps.hotSpanExposure): per-document
    * exposure to 5-token spans the corpus repeats >= 3 times INCLUDING
    * within-document repeats — the verbatim-memorization signal (Lee
    * '22, Carlini '22) beside q110's cross-document dup fraction. */
  private val q144 = Q(
    "q144_hot_spans",
    (s, dir) => {
      import s.implicits._
      // spread: one consumer, dominated by the w-token span explode +
      // hash — the single-kernel case where the one-time repartition
      // pays (see q143 note)
      TextOps.hotSpanExposure(Tables.spread(s, dir, "documents"),
          $"doc_id", $"text", w = 5, minFreq = 3)
        .orderBy($"doc")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts
                 FROM documents),
      sp AS (
        SELECT doc_id AS doc, ${TextOps.h64Sql(
          "array_to_string(ts[i:i+4], ' ')")} AS h
        FROM t, LATERAL (
          SELECT unnest(generate_series(1, len(ts) - 4)) AS i) g
        WHERE len(ts) >= 5),
      freq AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS freq FROM sp GROUP BY h)
      SELECT sp.doc, CAST(COUNT(*) AS BIGINT) AS n_spans,
        CAST(SUM(CASE WHEN f.freq >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_hot,
        CAST(MAX(f.freq) AS BIGINT) AS max_freq,
        SUM(CASE WHEN f.freq >= 3 THEN 1 ELSE 0 END) * 1.0e0 / COUNT(*)
          AS hot_frac
      FROM sp JOIN freq f ON sp.h = f.h
      GROUP BY sp.doc ORDER BY sp.doc"""))

  /** Blocklist-lexicon gate (TextOps.blocklistStats): the C4 bad-words
    * filter — any lexicon hit drops the document. The lexicon is an
    * `InSet` literal probed inside whole-stage codegen (no join, no
    * broadcast table); the only shuffle is the per-doc count groupBy. */
  private val q148 = Q(
    "q148_blocklist_filter",
    (s, dir) => {
      import s.implicits._
      TextOps.blocklistStats(TextOps.tokenRows(docs(s, dir)),
          Seq("dup", "nsfw", "casino"))
        .orderBy($"doc")
    },
    Some(s"""
      WITH $tokenRowsSql
      SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        CAST(SUM(CASE WHEN lower(token) IN ('dup','nsfw','casino')
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        CAST(COUNT(DISTINCT CASE WHEN lower(token) IN ('dup','nsfw','casino')
                 THEN lower(token) END) AS BIGINT) AS n_distinct_hits,
        CAST(SUM(CASE WHEN lower(token) IN ('dup','nsfw','casino')
                 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS hit_ratio,
        (SUM(CASE WHEN lower(token) IN ('dup','nsfw','casino')
             THEN 1 ELSE 0 END) = 0) AS keep
      FROM tok GROUP BY doc ORDER BY doc"""))

  /** Normalization-collapsed fuzzy-exact dedup (TextOps.normalizeText):
    * lowercase, punctuation-strip, whitespace-collapse, then hash-group
    * — the "soft exact" dedup stage that catches formatting-only
    * variants q46's raw-content hash misses. The join back to the group
    * table reuses the groupBy's own hash partitioning (one shuffle). */
  private val q149 = Q(
    "q149_normalized_dedup",
    (s, dir) => {
      import s.implicits._
      val withH = docs(s, dir).select($"doc_id",
        md5(TextOps.normalizeText($"text").cast("binary")).as("norm_hash"))
      val groups = withH.groupBy($"norm_hash")
        .agg(min($"doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
      withH.join(groups, Seq("norm_hash"))
        .select($"doc_id", $"norm_hash", $"canonical_id", $"n_copies",
          ($"doc_id" =!= $"canonical_id").as("is_dup"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH h AS (
        SELECT doc_id, md5(${TextOps.normalizeTextSql("text")}) AS norm_hash
        FROM documents),
      g AS (
        SELECT norm_hash, MIN(doc_id) AS canonical_id,
          CAST(COUNT(*) AS BIGINT) AS n_copies
        FROM h GROUP BY norm_hash)
      SELECT h.doc_id, h.norm_hash, g.canonical_id, g.n_copies,
        (h.doc_id <> g.canonical_id) AS is_dup
      FROM h JOIN g USING (norm_hash) ORDER BY h.doc_id"""))

  /** Span-novelty vs a frozen reference corpus
    * (TextOps.noveltyVsReference): sources src0–src2 are the frozen
    * reference; every other document scores the fraction of its
    * distinct 5-token spans absent from the reference — the
    * new-text-contribution signal that decides whether a crawl batch
    * is worth adding (complement of q81's contamination, at span
    * grain). One equi-join against the distinct reference-hash store. */
  private val q152 = Q(
    "q152_novelty_vs_reference",
    (s, dir) => {
      import s.implicits._
      val sp = docs(s, dir)
        .select($"doc_id".as("doc"), $"source", TextOps.tokens($"text").as("ts"))
        .select($"doc", $"source", explode(TextOps.shingles("ts", 5)).as("s"))
        .select($"doc", $"source", TextOps.h64($"s").as("h"))
      val refSrc = Seq("src0", "src1", "src2")
      TextOps.noveltyVsReference(
          sp.filter(!$"source".isin(refSrc: _*)),
          sp.filter($"source".isin(refSrc: _*)))
        .orderBy($"doc")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, source,
                   string_split_regex(trim(text), '\\s+') AS ts
                 FROM documents),
      sp AS (
        SELECT DISTINCT doc_id AS doc, source, ${TextOps.h64Sql(
          "array_to_string(ts[i:i+4], ' ')")} AS h
        FROM t, LATERAL (
          SELECT unnest(generate_series(1, len(ts) - 4)) AS i) g
        WHERE len(ts) >= 5),
      ref AS (SELECT DISTINCT h FROM sp
              WHERE source IN ('src0','src1','src2'))
      SELECT sp.doc, CAST(COUNT(*) AS BIGINT) AS n_spans,
        CAST(SUM(CASE WHEN ref.h IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_novel,
        CAST(SUM(CASE WHEN ref.h IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
          / COUNT(*) AS novelty
      FROM sp LEFT JOIN ref ON sp.h = ref.h
      WHERE sp.source NOT IN ('src0','src1','src2')
      GROUP BY sp.doc ORDER BY sp.doc"""))

  /** PMI collocation mining (Church & Hanks '90): pointwise mutual
    * information of adjacent token pairs, log((c12/Np)/((c1/N)(c2/N))),
    * over corpus-wide bigram and unigram counts — the standard
    * multiword-expression / tokenizer-merge-candidate signal. Counts
    * are two map-side-combined groupBys; the unigram table joins back
    * on the word (vocab-bounded); min-count 5 prunes noise pairs and
    * the top-20 cut is TakeOrderedAndProject (no global sort). PMI is
    * rounded to 6 decimals — the transcendental convention (log's last
    * ulp is not specified cross-engine). */
  private val q158 = Q(
    "q158_pmi_collocations",
    (s, dir) => {
      import s.implicits._
      val t = docs(s, dir).select(TextOps.tokens($"text").as("ts"))
      val uni = t.select(explode($"ts").as("w"))
        .groupBy($"w").agg(count(lit(1)).as("c1"))
      val nTok = uni.agg(sum($"c1").as("n"))
      val bg = t.select(explode(TextOps.shingles("ts", 2)).as("bg"))
        .groupBy($"bg").agg(count(lit(1)).as("c12"))
        .filter($"c12" >= 5)
      val nBg = t.select((size($"ts") - 1).as("k")).agg(sum($"k").as("np"))
      bg.select(substring_index($"bg", " ", 1).as("w1"),
          substring_index($"bg", " ", -1).as("w2"), $"c12")
        .join(uni.select($"w".as("w1"), $"c1".as("c1a")), Seq("w1"))
        .join(uni.select($"w".as("w2"), $"c1".as("c1b")), Seq("w2"))
        .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBg))
        .select($"w1", $"w2", $"c12",
          round(log(($"c12".cast("double") / $"np".cast("double")) /
            (($"c1a".cast("double") / $"n".cast("double")) *
             ($"c1b".cast("double") / $"n".cast("double")))), 6).as("pmi"))
        .orderBy($"pmi".desc, $"w1", $"w2")
        .limit(20)
    },
    Some("""
      WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS ts
                 FROM documents),
      uni AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
        FROM (SELECT unnest(ts) AS w FROM t) GROUP BY w),
      ntok AS (SELECT CAST(SUM(c1) AS BIGINT) AS n FROM uni),
      bg AS (
        SELECT bg, CAST(COUNT(*) AS BIGINT) AS c12
        FROM (SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
                i -> ts[i] || ' ' || ts[i+1])) AS bg FROM t)
        GROUP BY bg HAVING COUNT(*) >= 5),
      nbg AS (SELECT CAST(SUM(len(ts) - 1) AS BIGINT) AS np FROM t)
      SELECT w1, w2, c12,
        round(ln((CAST(c12 AS DOUBLE) / CAST(np AS DOUBLE)) /
          ((CAST(a.c1 AS DOUBLE) / CAST(n AS DOUBLE)) *
           (CAST(b.c1 AS DOUBLE) / CAST(n AS DOUBLE)))), 6) AS pmi
      FROM (SELECT split_part(bg, ' ', 1) AS w1,
                   split_part(bg, ' ', 2) AS w2, c12 FROM bg) p
      JOIN uni a ON p.w1 = a.w
      JOIN uni b ON p.w2 = b.w, ntok, nbg
      ORDER BY pmi DESC, w1, w2 LIMIT 20"""))

  /** Zipf rank-frequency fit: OLS slope of ln(freq) on ln(rank) over
    * the top vocabulary — the corpus-health power-law audit (natural
    * text sits near slope −1; a slope collapsing toward 0 flags
    * boilerplate/templated text). The vocab reduces map-side, the
    * top-1000 cut is TakeOrderedAndProject, and only the 1000-row
    * frame sees a rank window (one bounded task). ln values carry the
    * 6-decimal transcendental convention; all OLS sums are
    * decimal-exact over them, so slope/intercept are bit-identical. */
  private val q163 = Q(
    "q163_zipf_slope",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val top = TextOps.tokenRows(docs(s, dir)).groupBy($"token")
        .agg(count(lit(1)).as("freq"))
        .orderBy($"freq".desc, $"token".asc).limit(1000)
      val pts = top
        .withColumn("rank",
          row_number().over(Window.orderBy($"freq".desc, $"token".asc)))
        .select(round(log($"rank".cast("double")), 6).as("x"),
          round(log($"freq".cast("double")), 6).as("y"))
      val n = $"n".cast("double")
      pts.agg(count(lit(1)).as("n"), dsum($"x").as("sx"), dsum($"y").as("sy"),
          dsum($"x" * $"x").as("sxx"), dsum($"x" * $"y").as("sxy"))
        .withColumn("slope",
          (n * $"sxy" - $"sx" * $"sy") / (n * $"sxx" - $"sx" * $"sx"))
        .withColumn("icept", ($"sy" - $"slope" * $"sx") / n)
        .select($"n".as("n_terms"), $"slope", $"icept")
    },
    Some(s"""
      WITH $tokenRowsSql,
      top AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
        FROM tok GROUP BY token
        ORDER BY freq DESC, token LIMIT 1000),
      rk AS (
        SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rank
        FROM top),
      pts AS (
        SELECT round(ln(CAST(rank AS DOUBLE)), 6) AS x,
               round(ln(CAST(freq AS DOUBLE)), 6) AS y
        FROM rk),
      sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, ${sqlSum("x")} AS sx,
          ${sqlSum("y")} AS sy, ${sqlSum("x * x")} AS sxx,
          ${sqlSum("x * y")} AS sxy
        FROM pts),
      fit AS (
        SELECT n, (CAST(n AS DOUBLE) * sxy - sx * sy) /
            (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope, sx, sy
        FROM sums)
      SELECT n AS n_terms, slope,
        (sy - slope * sx) / CAST(n AS DOUBLE) AS icept
      FROM fit"""))

  /** Winnowing clone detection (MOSS): each document keeps its
    * winnowed fingerprint sample (k=4-token shingles, window w=4 —
    * guarantee: any shared passage of ≥ 7 tokens produces a shared
    * fingerprint), then pairs sharing ≥ 2 fingerprints are ranked by
    * the shared count. Sits between dup_spans (q110 — exact, dense)
    * and MinHash (q47 — sparse, probabilistic): sparse AND guaranteed
    * for long clones. Hot fingerprints (> 50 docs) are dropped before
    * the pair join — boilerplate adds quadratic pairs, no signal. */
  private val q166 = Q(
    "q166_winnow_clones",
    (s, dir) => {
      import s.implicits._
      val fps = graft.ops.Winnow.fingerprints(
        Tables.spread(s, dir, "documents"), $"doc_id", $"text", k = 4, w = 4)
      graft.ops.Winnow.clonePairs(fps, minShared = 2, maxDocs = 50)
        .orderBy($"d1", $"d2")
    },
    Some(s"""
      WITH ${graft.ops.Winnow.fingerprintsSql(
        "documents", "doc_id", "text", k = 4, w = 4)},
      perfp AS (SELECT DISTINCT doc, fp FROM fps),
      hot AS (SELECT fp FROM perfp GROUP BY fp HAVING COUNT(*) > 50),
      cool AS (SELECT * FROM perfp WHERE fp NOT IN (SELECT fp FROM hot))
      SELECT a.doc AS d1, b.doc AS d2, CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM cool a JOIN cool b ON a.fp = b.fp AND a.doc < b.doc
      GROUP BY a.doc, b.doc HAVING COUNT(*) >= 2
      ORDER BY d1, d2"""))

  /** Content-defined chunk dedup (LBFS/rsync cut rule on token
    * streams): documents are split at content-defined boundaries
    * (2-gram hash ≡ 0 mod 8, expected ~8-token chunks), and each doc
    * reports how many of its chunks — and what fraction of its tokens —
    * are byte-identical to a chunk of ANOTHER document. The
    * variable-boundary scheme is shift-resistant: an inserted byline
    * re-chunks O(1) chunks, so the shared tail still dedups. */
  private val q168 = Q(
    "q168_cdc_chunk_dedup",
    (s, dir) => {
      import s.implicits._
      val ch = graft.ops.Cdc.chunks(
        Tables.spread(s, dir, "documents"), $"doc_id", $"text", k = 2, m = 8)
      graft.ops.Cdc.chunkDedupProfile(ch).orderBy($"doc")
    },
    Some(s"""
      WITH ${graft.ops.Cdc.chunksSql("documents", "doc_id", "text", 2, 8)},
      cfreq AS (
        SELECT h, COUNT(DISTINCT doc) AS ndocs FROM chunks GROUP BY h)
      SELECT c.doc, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        CAST(SUM(CASE WHEN f.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_shared,
        CAST(SUM(CASE WHEN f.ndocs > 1 THEN c.n_tokens ELSE 0 END) AS DOUBLE)
          / CAST(SUM(c.n_tokens) AS DOUBLE) AS shared_token_frac
      FROM chunks c JOIN cfreq f ON c.h = f.h
      GROUP BY c.doc ORDER BY c.doc"""))

  /** Gopher quality rules (Rae et al. '21 A1.1) as a per-rule decision
    * table — the published hard-threshold filter set, with removal
    * volume attributable per rule. The rule STRUCTURE is the paper's;
    * the required-word lexicon and minWords are corpus parameters
    * (the paper's English stop list never appears in the synthetic
    * engine-vocabulary corpus, which would make the stopword rule
    * reject everything and teach nothing). */
  private val gopherStops = Seq("join", "hash", "row", "scan", "filter")

  private val q169 = Q(
    "q169_gopher_rules",
    (s, dir) => {
      import s.implicits._
      TextOps.gopherRules(docs(s, dir), $"doc_id", $"text",
          minWords = 20, stopwords = gopherStops)
        .withColumnRenamed("doc", "doc_id")
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH ${TextOps.gopherRulesSql("documents", "doc_id", "text",
        minWords = 20, stopwords = gopherStops)}
      SELECT doc AS doc_id, n_words, mean_word_len, symbol_ratio,
        alpha_frac, n_stop_hits, decision
      FROM gopher ORDER BY doc_id"""))

  /** Distinct-n diversity audit per source (the distinct-1/distinct-2
    * metrics of Li et al. '16): unique-unigram and unique-bigram
    * fractions — low values mark template-generated or boilerplate
    * slices of the corpus before they reach training. Two exploded
    * passes, each a map-side-combined groupBy(source). */
  private val q170 = Q(
    "q170_distinct_n",
    (s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val uni = d.select($"source", explode(TextOps.tokens($"text")).as("g"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_unigrams"),
          countDistinct($"g").as("u_unigrams"))
      val bi = d.withColumn("ts", TextOps.tokens($"text"))
        .select($"source", explode(TextOps.shingles("ts", 2)).as("g"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_bigrams"),
          countDistinct($"g").as("u_bigrams"))
      uni.join(bi, Seq("source"))
        .select($"source", $"n_unigrams",
          ($"u_unigrams".cast("double") / $"n_unigrams".cast("double"))
            .as("distinct1"),
          $"n_bigrams",
          ($"u_bigrams".cast("double") / $"n_bigrams".cast("double"))
            .as("distinct2"))
        .orderBy($"source")
    },
    Some("""
      WITH uni AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_unigrams,
          CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*) AS distinct1
        FROM (SELECT source,
                unnest(string_split_regex(trim(text), '\s+')) AS g
              FROM documents) GROUP BY source),
      bi AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
          CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*) AS distinct2
        FROM (SELECT source,
                unnest(list_transform(generate_series(1, len(ts) - 1),
                  i -> ts[i] || ' ' || ts[i+1])) AS g
              FROM (SELECT source,
                      string_split_regex(trim(text), '\s+') AS ts
                    FROM documents)) GROUP BY source)
      SELECT uni.source, n_unigrams, distinct1, n_bigrams, distinct2
      FROM uni JOIN bi ON uni.source = bi.source
      ORDER BY uni.source"""))

  /** Tokenizer-budget fertility audit per language: whitespace-token
    * and character volumes, chars-per-token (the fertility proxy that
    * sets per-language token budgets in multilingual mixes), and
    * tokens-per-doc. One exploded pass, groupBy(lang). */
  private val q171 = Q(
    "q171_lang_fertility",
    (s, dir) => {
      import s.implicits._
      docs(s, dir)
        .select($"lang", $"doc_id", explode(TextOps.tokens($"text")).as("token"))
        .groupBy($"lang")
        .agg(countDistinct($"doc_id").as("n_docs"),
          count(lit(1)).as("n_tokens"),
          dsum(length($"token").cast("double")).as("n_chars"))
        .select($"lang", $"n_docs", $"n_tokens",
          ($"n_chars" / $"n_tokens".cast("double")).as("chars_per_token"),
          ($"n_tokens".cast("double") / $"n_docs".cast("double"))
            .as("tokens_per_doc"))
        .orderBy($"lang")
    },
    Some(s"""
      WITH $tokenRowsSql,
      ltok AS (
        SELECT d.lang, t.doc, t.token FROM tok t
        JOIN documents d ON t.doc = d.doc_id)
      SELECT lang, CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs,
        CAST(COUNT(*) AS BIGINT) AS n_tokens,
        ${sqlSum("CAST(length(token) AS DOUBLE)")}
          / CAST(COUNT(*) AS DOUBLE) AS chars_per_token,
        CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT doc) AS tokens_per_doc
      FROM ltok GROUP BY lang ORDER BY lang"""))

  /** Heaps'-law vocabulary-growth audit — the companion of the Zipf
    * slope (q163): V(n) ≈ K·n^β, fit by OLS on the log-log
    * types-vs-tokens curve over doc-bucket prefixes. A corpus whose β
    * collapses (no new types) is template spam; β ≈ 1 is noise (every
    * type new). Types are TRIGRAMS, not unigrams — the synthetic
    * corpus (like code or any closed-vocabulary stream) saturates its
    * word vocabulary in the first bucket, and n-gram vocabulary growth
    * is the standard closed-vocab form of the law. Each trigram
    * contributes one row to the first-occurrence table (min doc);
    * buckets pre-aggregate BEFORE the prefix window, so the ordered
    * frame carries two longs per 10-doc bucket — the q142
    * bounded-cumsum discipline, not a per-row global sort. */
  private val q172 = Q(
    "q172_heaps_law",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val B = 10
      val tr = TextOps.tokenRows(docs(s, dir))
      val grams = docs(s, dir).withColumn("ts", TextOps.tokens($"text"))
        .select($"doc_id".as("doc"), explode(TextOps.shingles("ts", 3)).as("g"))
      val perB = tr.groupBy(expr(s"doc div $B").as("b"))
        .agg(count(lit(1)).as("nt"))
      val newTypes = grams.groupBy($"g").agg(min($"doc").as("fd"))
        .groupBy(expr(s"fd div $B").as("b"))
        .agg(count(lit(1)).as("nv"))
      val pts = perB.join(newTypes, Seq("b"), "left")
        .withColumn("nv", coalesce($"nv", lit(0L)))
        .withColumn("ct", sum($"nt").over(Window.orderBy($"b")))
        .withColumn("cv", sum($"nv").over(Window.orderBy($"b")))
        .select(round(log($"ct".cast("double")), 6).as("x"),
          round(log($"cv".cast("double")), 6).as("y"))
      val n = $"n".cast("double")
      pts.agg(count(lit(1)).as("n"), dsum($"x").as("sx"), dsum($"y").as("sy"),
          dsum($"x" * $"x").as("sxx"), dsum($"x" * $"y").as("sxy"))
        .withColumn("beta",
          (n * $"sxy" - $"sx" * $"sy") / (n * $"sxx" - $"sx" * $"sx"))
        .withColumn("k", round(exp(($"sy" - $"beta" * $"sx") / n), 6))
        .select($"n".as("n_points"), $"beta", $"k")
    },
    Some(s"""
      WITH $tokenRowsSql,
      perb AS (
        SELECT doc // 10 AS b, CAST(COUNT(*) AS BIGINT) AS nt
        FROM tok GROUP BY 1),
      hgr AS (
        SELECT doc_id AS doc, array_to_string(ts[i:i+2], ' ') AS g
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts
              FROM documents), LATERAL (
          SELECT unnest(generate_series(1, len(ts) - 2)) AS i) s
        WHERE len(ts) >= 3),
      ftok AS (SELECT g, MIN(doc) AS fd FROM hgr GROUP BY g),
      newt AS (
        SELECT fd // 10 AS b, CAST(COUNT(*) AS BIGINT) AS nv
        FROM ftok GROUP BY 1),
      pts AS (
        SELECT round(ln(CAST(SUM(nt) OVER w AS DOUBLE)), 6) AS x,
               round(ln(CAST(SUM(COALESCE(nv, 0)) OVER w AS DOUBLE)), 6) AS y
        FROM perb LEFT JOIN newt USING (b)
        WINDOW w AS (ORDER BY b
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, ${sqlSum("x")} AS sx,
          ${sqlSum("y")} AS sy, ${sqlSum("x * x")} AS sxx,
          ${sqlSum("x * y")} AS sxy
        FROM pts),
      fit AS (
        SELECT n, (CAST(n AS DOUBLE) * sxy - sx * sy) /
            (CAST(n AS DOUBLE) * sxx - sx * sx) AS beta, sx, sy
        FROM sums)
      SELECT n AS n_points, beta,
        round(exp((sy - beta * sx) / CAST(n AS DOUBLE)), 6) AS k
      FROM fit"""))

  /** Edit-distance fuzzy dedup (record linkage): near-identical
    * documents whose byte hashes differ by tail edits (typos, OCR
    * noise, appended markers) that shift-align poorly. Match key = the
    * last 40 chars of the lowercase whitespace-collapsed text — the
    * region where this corpus's variants actually diverge; candidate
    * pairs come from PREFIX BLOCKING on the first 8 chars of the HEAD
    * (shift-invariant: an appended suffix never moves the head) — an
    * equi-join, never all-pairs — and survive at Levenshtein ≤ 10 over
    * the tail keys. `levenshtein` is the codegen'd built-in on both
    * engines (classic DP, engine-independent values). Oversized blocks
    * (> 200 docs — boilerplate prefixes: quadratic pairs, no linkage
    * signal) are dropped on BOTH sides, the same skew cap as the LSH
    * hot-band guard. Output: matched pairs with the edit distance and
    * a normalized similarity (ratio of exact ints). */
  private val q175 = Q(
    "q175_fuzzy_dedup",
    (s, dir) => {
      import s.implicits._
      val maxBlock = 200
      val keyed = Tables(s, dir, "documents").select(
        $"doc_id",
        lower(regexp_replace(trim($"text"), "\\s+", " ")).as("norm"))
        .select($"doc_id", expr("right(norm, 40)").as("key"),
          substring($"norm", 1, 8).as("block"))
      val blockN = keyed.groupBy($"block").agg(count(lit(1)).as("bn"))
      val inBand = keyed.join(broadcast(blockN.filter($"bn" <= maxBlock)), Seq("block"))
      val pairs = inBand.as("a").join(inBand.as("b"),
          $"a.block" === $"b.block" && $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"),
          levenshtein($"a.key", $"b.key").as("edit_dist"),
          greatest(length($"a.key"), length($"b.key")).as("maxlen"))
        .filter($"edit_dist" <= 10)
      pairs.select($"d1", $"d2", $"edit_dist".cast("long").as("edit_dist"),
          (lit(1.0) - $"edit_dist".cast("double") / $"maxlen".cast("double"))
            .as("similarity"))
        .orderBy($"d1", $"d2")
    },
    Some("""
      WITH keyed AS (
        SELECT doc_id,
          lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
        FROM documents),
      blk AS (
        SELECT doc_id, right(norm, 40) AS key,
               substr(norm, 1, 8) AS block
        FROM keyed),
      bn AS (SELECT block, COUNT(*) AS n FROM blk GROUP BY block),
      inband AS (
        SELECT b.* FROM blk b JOIN bn ON b.block = bn.block
        WHERE bn.n <= 200),
      pairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2,
          CAST(levenshtein(a.key, b.key) AS BIGINT) AS edit_dist,
          GREATEST(length(a.key), length(b.key)) AS maxlen
        FROM inband a JOIN inband b
          ON a.block = b.block AND a.doc_id < b.doc_id)
      SELECT d1, d2, edit_dist,
        1.0 - CAST(edit_dist AS DOUBLE) / CAST(maxlen AS DOUBLE)
          AS similarity
      FROM pairs WHERE edit_dist <= 10 ORDER BY d1, d2"""))

  /** b-bit minhash (Li & König '10): store only the LOW b = 4 bits of
    * each minhash — a 15× signature compression (60-bit → 4-bit per
    * permutation), the difference between shipping signatures and
    * shipping sketches at 100 TB. Equal minhashes always collide in
    * their low bits; unequal ones collide with probability ≈ 2^−b, so
    * the match fraction m is debiased by the collision floor:
    * Ĵ = (m − 2^−b) / (1 − 2^−b). Candidates still come from the
    * banded LSH join (never all-pairs); each pair reports the b-bit
    * estimate next to the full-width one — the accuracy cost of the
    * compression, measured per pair. All values are ratios of exact
    * integer counts through one fixed double formula. */
  private val q180 = Q(
    "q180_bbit_minhash",
    (s, dir) => {
      import s.implicits._
      val k = 24
      val sh = docs(s, dir)
        .withColumn("ts", TextOps.tokens($"text"))
        .select($"doc_id", explode(TextOps.shingles("ts", 3)).as("s"))
        .distinct()
      val mh = TextOps.minhash(sh, $"doc_id", $"s", k = k)
      val cands = TextOps.lshCandidates(mh, r = 4)
      val mhb = mh.select($"doc", $"j", $"h", ($"h" % 16).as("hb"))
      cands
        .join(mhb.select($"doc".as("d1"), $"j", $"h".as("ha"), $"hb".as("ba")),
          Seq("d1"))
        .join(mhb.select($"doc".as("d2"), $"j", $"h".as("hf"), $"hb".as("bb")),
          Seq("d2", "j"))
        .groupBy($"d1", $"d2")
        .agg(sum(when($"ha" === $"hf", 1L).otherwise(0L)).as("full_matches"),
          sum(when($"ba" === $"bb", 1L).otherwise(0L)).as("b_matches"))
        .select($"d1", $"d2", $"full_matches", $"b_matches",
          round($"full_matches".cast("double") / k, 6).as("est_full"),
          round(($"b_matches".cast("double") / k - 0.0625) / 0.9375, 6)
            .as("est_b4"))
        .orderBy($"d1", $"d2")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts
                 FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, len(ts) - 2),
          i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
        FROM t),
      hashes AS (
        SELECT doc_id AS doc, ${TextOps.h64Sql("s")} AS h1,
               ${TextOps.h64bSql("s")} % 1000000007 AS h2
        FROM sh),
      mh AS (
        SELECT doc, j, MIN(h1 + j * h2) AS h
        FROM hashes, (SELECT unnest(generate_series(0, 23)) AS j) seeds
        GROUP BY doc, j),
      bands AS (
        SELECT doc, CAST(j // 4 AS INT) AS band, SUM(h) AS sig
        FROM mh GROUP BY 1, 2),
      cands AS (
        SELECT DISTINCT a.doc AS d1, b.doc AS d2
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.sig = b.sig AND a.doc < b.doc),
      cmp AS (
        SELECT d1, d2,
          CAST(SUM(CASE WHEN ma.h = mb.h THEN 1 ELSE 0 END) AS BIGINT)
            AS full_matches,
          CAST(SUM(CASE WHEN ma.h % 16 = mb.h % 16 THEN 1 ELSE 0 END)
            AS BIGINT) AS b_matches
        FROM cands
        JOIN mh ma ON d1 = ma.doc
        JOIN mh mb ON d2 = mb.doc AND ma.j = mb.j
        GROUP BY d1, d2)
      SELECT d1, d2, full_matches, b_matches,
        round(CAST(full_matches AS DOUBLE) / 24, 6) AS est_full,
        round((CAST(b_matches AS DOUBLE) / 24 - 0.0625) / 0.9375, 6)
          AS est_b4
      FROM cmp ORDER BY d1, d2"""))

  /** Per-document token-entropy audit: Shannon entropy of each doc's
    * own token distribution, H = −Σ pᵢ ln pᵢ, plus the normalized
    * H / ln(n_distinct) in [0, 1] — the scale-free repetitiveness
    * signal (a doc that cycles three phrases scores near 0 however
    * long it is; q78's dup_frac counts repeats, entropy weighs their
    * CONCENTRATION). Each −p·ln p term is rounded to 6 decimals and
    * the sum is decimal-exact (the q163 transcendental convention), so
    * both engines agree bit-for-bit. Two cascaded map-side-combined
    * groupBys — the q78 shuffle shape. */
  private val q181 = Q(
    "q181_token_entropy",
    (s, dir) => {
      import s.implicits._
      val cnt = docs(s, dir)
        .select($"doc_id", explode(TextOps.tokens($"text")).as("token"))
        .groupBy($"doc_id", $"token").agg(count(lit(1)).as("c"))
      val tot = cnt.groupBy($"doc_id")
        .agg(sum($"c").as("n"), count(lit(1)).as("n_distinct"))
      val p = $"c".cast("double") / $"n".cast("double")
      cnt.join(tot, Seq("doc_id"))
        .select($"doc_id", $"n", $"n_distinct",
          // + 0.0 canonicalizes the -0.0 a single-token doc's p = 1
          // term produces (IEEE: -0.0 + 0.0 = +0.0), identically in SQL
          round(-p * log(p) + 0.0, 6).as("term"))
        .groupBy($"doc_id")
        .agg(max($"n").as("n_tokens"), max($"n_distinct").as("n_distinct"),
          graft.ops.Exact.dsum($"term").as("entropy"))
        .select($"doc_id", $"n_tokens", $"n_distinct", $"entropy",
          when($"n_distinct" > 1,
            round($"entropy" /
              round(log($"n_distinct".cast("double")), 6), 6))
            .otherwise(0.0).as("norm_entropy"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
        FROM documents),
      cnt AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY doc_id, token),
      tot AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
          CAST(COUNT(*) AS BIGINT) AS n_distinct
        FROM cnt GROUP BY doc_id),
      terms AS (
        SELECT cnt.doc_id, n, n_distinct,
          round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
            ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) + 0.0, 6) AS term
        FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id),
      ent AS (
        SELECT doc_id, MAX(n) AS n_tokens, MAX(n_distinct) AS n_distinct,
          ${graft.ops.Exact.sqlSum("term")} AS entropy
        FROM terms GROUP BY doc_id)
      SELECT doc_id, n_tokens, n_distinct, entropy,
        CASE WHEN n_distinct > 1
             THEN round(entropy /
               round(ln(CAST(n_distinct AS DOUBLE)), 6), 6)
             ELSE 0.0 END AS norm_entropy
      FROM ent ORDER BY doc_id"""))

  /** EXACT similarity join by prefix filtering (Bayardo et al. '07
    * All-Pairs / Xiao et al. '08 PPJoin): unlike MinHash-LSH (q47 —
    * probabilistic, can miss pairs), prefix filtering finds EVERY pair
    * with Jaccard ≥ t and still never goes all-pairs. Tokens are
    * globally ordered rarest-first (df asc, token asc — total order);
    * a doc of z distinct tokens exposes only its first
    * z − ⌈t·z⌉ + 1 tokens as join keys (two docs sharing NO prefix
    * token cannot reach t), so the candidate join is an equi-join on
    * RARE tokens — the frequent-token quadratic blowup is excluded by
    * construction, the opposite of a hot-band problem. Candidates then
    * pass the length filter (t·max ≤ min) and the exact-intersection
    * verify. Every threshold comparison is integer arithmetic
    * (⌈0.8z⌉ = (4z+4) div 5; J ≥ 0.8 ⟺ 5i ≥ 4(za+zb−i)), so the
    * float never decides membership on either engine.
    *
    * Two output-size guards, both semantic rather than lossy-within-
    * scope: (1) exact-duplicate groups collapse FIRST (content-hash →
    * representative + copy count; each emitted pair carries n_pairs =
    * n₁·n₂ original-pair multiplicity); (2) the join is scoped to a
    * PER-SOURCE work unit — the sharding production similarity joins
    * run under anyway — because a near-identical clique of m docs has
    * m²/2 TRUE pairs no candidate filter may drop (completeness is
    * the operator's contract; within the unit nothing is missed, and
    * cross-source near-dups remain the q47/q139 LSH family's job). */
  private val q182 = Q(
    "q182_prefix_filter_join",
    (s, dir) => {
      import s.implicits._
      val hashed = docs(s, dir)
        .select($"doc_id", $"text", $"source",
          md5($"text".cast("binary")).as("ch"))
      val reps = hashed.groupBy($"ch")
        .agg(min($"doc_id").as("doc"), count(lit(1)).as("n_copies"))
      val repsSlim = reps.select($"doc", $"n_copies")
      val rdocs = hashed.join(repsSlim, hashed("doc_id") === repsSlim("doc"))
      val tok = rdocs
        .select($"doc", $"source".as("src"),
          explode(array_distinct(TextOps.tokens($"text"))).as("token"))
      val dfreq = tok.groupBy($"token").agg(count(lit(1)).as("df"))
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc").orderBy($"df".asc, $"token".asc)
      val wSz = org.apache.spark.sql.expressions.Window.partitionBy($"doc")
      val ranked = tok.join(dfreq, Seq("token"))
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("sz", count(lit(1)).over(wSz))
      // prefix table is z/5 rows per rep; checkpoint so the self-join
      // and the verify don't each re-run the collapse + df + window
      // chain (4× re-computation measured as the query's whole cost)
      val pref = ranked
        .filter($"rn" <= $"sz" - expr("(4 * sz + 4) div 5") + 1)
        .select($"token", $"doc", $"src", $"sz")
        .transform(graft.ops.Iterate.cut)
      val cands = pref.as("a").join(pref.as("b"),
          $"a.token" === $"b.token" && $"a.src" === $"b.src" &&
            $"a.doc" < $"b.doc" &&
            lit(4) * greatest($"a.sz", $"b.sz") <=
              lit(5) * least($"a.sz", $"b.sz"))
        .select($"a.doc".as("d1"), $"b.doc".as("d2"),
          $"a.sz".as("za"), $"b.sz".as("zb"))
        .distinct()
      val copies = reps.select($"doc", $"n_copies")
      // verify via per-pair array_intersect on the carried token SETS:
      // joining token ROWS would shuffle |pairs|·|tokens| rows (22M at
      // sf0.1). HOW the sets reach the candidates is size-gated
      // (TextOps.attachTokenSets): broadcast below the gate (bench
      // scale — zero candidate shuffle), shuffle hash join above it
      // (100 TB — the set table grows with the corpus and must ship
      // through an exchange, not to every executor). Gate override:
      // spark.graft.verify.broadcastBytes (default 64 MiB).
      val tsets = rdocs.select($"doc",
        array_sort(array_distinct(TextOps.tokens($"text"))).as("tset"))
        .transform(graft.ops.Iterate.cut)
      val gate = s.conf.getOption("spark.graft.verify.broadcastBytes")
        .map(_.toLong).getOrElse(64L << 20)
      TextOps.attachTokenSets(cands, tsets, gate)
        .select($"d1", $"d2", $"za", $"zb",
          size(array_intersect($"ta", $"tb")).cast("long").as("i"))
        .filter(lit(5) * $"i" >= lit(4) * ($"za" + $"zb" - $"i"))
        .join(copies.select($"doc".as("d1"), $"n_copies".as("n1")), Seq("d1"))
        .join(copies.select($"doc".as("d2"), $"n_copies".as("n2")), Seq("d2"))
        .select($"d1", $"d2", $"i",
          ($"i".cast("double") / ($"za" + $"zb" - $"i").cast("double"))
            .as("jaccard"),
          ($"n1" * $"n2").as("n_pairs"))
        .orderBy($"d1", $"d2")
    },
    Some("""
      WITH reps AS (
        SELECT MIN(doc_id) AS doc, CAST(COUNT(*) AS BIGINT) AS n_copies
        FROM documents GROUP BY md5(text)),
      rdocs AS (
        SELECT r.doc, r.n_copies, d.text, d.source AS src
        FROM reps r JOIN documents d ON d.doc_id = r.doc),
      tok AS (
        SELECT DISTINCT doc, src,
          unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS token
        FROM rdocs),
      dfreq AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY token),
      ranked AS (
        SELECT t.doc, t.src, t.token,
          ROW_NUMBER() OVER (PARTITION BY t.doc
            ORDER BY f.df, t.token) AS rn,
          CAST(COUNT(*) OVER (PARTITION BY t.doc) AS BIGINT) AS sz
        FROM tok t JOIN dfreq f ON t.token = f.token),
      pref AS (
        SELECT token, doc, src, sz FROM ranked
        WHERE rn <= sz - ((4 * sz + 4) // 5) + 1),
      cands AS (
        SELECT DISTINCT a.doc AS d1, b.doc AS d2, a.sz AS za, b.sz AS zb
        FROM pref a JOIN pref b
          ON a.token = b.token AND a.src = b.src AND a.doc < b.doc
          AND 4 * GREATEST(a.sz, b.sz) <= 5 * LEAST(a.sz, b.sz)),
      inter AS (
        SELECT c.d1, c.d2, c.za, c.zb, CAST(COUNT(*) AS BIGINT) AS i
        FROM cands c
        JOIN tok ta ON ta.doc = c.d1
        JOIN tok tb ON tb.doc = c.d2 AND ta.token = tb.token
        GROUP BY c.d1, c.d2, c.za, c.zb)
      SELECT i.d1, i.d2, i.i,
        CAST(i.i AS DOUBLE) / CAST(i.za + i.zb - i.i AS DOUBLE) AS jaccard,
        r1.n_copies * r2.n_copies AS n_pairs
      FROM inter i
      JOIN reps r1 ON r1.doc = i.d1
      JOIN reps r2 ON r2.doc = i.d2
      WHERE 5 * i.i >= 4 * (i.za + i.zb - i.i)
      ORDER BY i.d1, i.d2"""))

  /** Variable-length repeated-substring spans
    * ([[graft.ops.TextOps.repeatedSpans]], Lee et al. '22): the one
    * text-dedup modality the fixed-w span family (q110/q144/q152)
    * cannot express — q110 counts duplicated w-windows, this recovers
    * the MAXIMAL duplicated region with its exact variable length by
    * merging overlapping/adjacent duplicated anchors per doc
    * (gaps-and-islands over an ordered window, never a self-join).
    * Bound: repeats shorter than w = 10 tokens are invisible; every
    * emitted span certifies all its w-windows duplicated corpus-wide,
    * the paper's removal criterion. All arithmetic is integer
    * (positions, islands), so both engines agree bit-wise. */
  private val q195 = Q(
    "q195_repeated_substrings",
    (s, dir) => {
      import s.implicits._
      TextOps.repeatedSpans(docs(s, dir), $"doc_id", $"text", w = 10)
        .orderBy($"doc", $"span_start")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts
                 FROM documents),
      sp AS (
        SELECT doc_id AS doc, CAST(i - 1 AS BIGINT) AS pos,
          ${TextOps.h64Sql("array_to_string(ts[i:i+9], ' ')")} AS h
        FROM t, LATERAL (
          SELECT unnest(generate_series(1, len(ts) - 9)) AS i) g
        WHERE len(ts) >= 10),
      freq AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS occ FROM sp GROUP BY h),
      dup AS (SELECT sp.doc, sp.pos FROM sp JOIN freq USING (h)
              WHERE occ >= 2),
      lagged AS (
        SELECT doc, pos,
          LAG(pos) OVER (PARTITION BY doc ORDER BY pos) AS prev
        FROM dup),
      isl AS (
        SELECT doc, pos,
          SUM(CASE WHEN prev IS NULL OR pos > prev + 10 THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc ORDER BY pos) AS island
        FROM lagged)
      SELECT doc, MIN(pos) AS span_start,
        MAX(pos) + 9 AS span_end,
        MAX(pos) + 9 - MIN(pos) + 1 AS span_len
      FROM isl GROUP BY doc, island ORDER BY doc, span_start"""))

  /** Gini coefficient of token-frequency concentration per source —
    * the inequality audit beside Zipf's slope (q163 fits the power
    * law's EXPONENT; Gini summarizes how much of the token mass the
    * top types own, one number a data card can threshold). Computed
    * from the rank form G = 2·Σᵢ i·xᵢ/(n·Σxᵢ) − (n+1)/n over counts
    * sorted ascending: every sum is an exact integer (rank × count),
    * so G is two integer ratios — no float participates until the
    * final divisions. Ranks use the (count, token) total order; one
    * groupBy + one window per source. */
  private val q188 = Q(
    "q188_token_gini",
    (s, dir) => {
      import s.implicits._
      val cnt = docs(s, dir)
        .select($"source", explode(TextOps.tokens($"text")).as("token"))
        .groupBy($"source", $"token").agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"source").orderBy($"c".asc, $"token".asc)
      cnt.withColumn("i", row_number().over(w).cast("long"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_types"), sum($"c").as("n_tokens"),
          sum($"i" * $"c").as("a"))
        .select($"source", $"n_types", $"n_tokens",
          round(lit(2.0) * $"a".cast("double") /
              ($"n_types" * $"n_tokens").cast("double") -
              ($"n_types" + 1).cast("double") / $"n_types".cast("double"), 6)
            .as("gini"))
        .orderBy($"source")
    },
    Some("""
      WITH cnt AS (
        SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT source,
                unnest(string_split_regex(trim(text), '\s+')) AS token
              FROM documents)
        GROUP BY source, token),
      ranked AS (
        SELECT source, c,
          CAST(ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY c, token) AS BIGINT) AS i
        FROM cnt),
      sums AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types,
          CAST(SUM(c) AS BIGINT) AS n_tokens,
          CAST(SUM(i * c) AS BIGINT) AS a
        FROM ranked GROUP BY source)
      SELECT source, n_types, n_tokens,
        round(2.0e0 * CAST(a AS DOUBLE) /
            CAST(n_types * n_tokens AS DOUBLE) -
            CAST(n_types + 1 AS DOUBLE) / CAST(n_types AS DOUBLE), 6)
          AS gini
      FROM sums ORDER BY source"""))

  /** PPMI skip-gram co-occurrence (Church & Hanks '90 pointwise
    * mutual information, positive-clipped as in Levy & Goldberg '14 —
    * the statistic word2vec implicitly factorizes): token pairs
    * within a ±2 window, PPMI = max(0, ln(4·Z·n_ab / (c_a·c_b)))
    * where Z = total pairs and c_w = w's pair-slot count. The
    * collocation detector — high-PPMI pairs are phrases/templates,
    * and the pair table IS the skip-gram training set. Pair
    * generation is a per-doc positional self-join with fan-out ≤ 2
    * per token (never doc×doc); counts combine map-side. The ln
    * argument is a ratio of exact sub-2^53 integer products (one
    * deterministic IEEE division), rounded to 6 (q163's convention).
    * n_ab ≥ 20 floor; top-30 by (ppmi desc, w1, w2). */
  private val q234 = Q(
    "q234_ppmi_pairs",
    (s, dir) => {
      import s.implicits._
      val toks = docs(s, dir).select($"doc_id",
          posexplode(TextOps.tokens($"text")).as(Seq("pos", "tok")))
        .transform(graft.ops.Iterate.cut)
      val pairs = toks.as("a").join(toks.as("b"),
          col("a.doc_id") === col("b.doc_id") &&
            (col("b.pos") - col("a.pos")).between(1, 2))
        .select(least(col("a.tok"), col("b.tok")).as("w1"),
          greatest(col("a.tok"), col("b.tok")).as("w2"))
        .groupBy($"w1", $"w2").agg(count(lit(1)).as("n_ab"))
        .transform(graft.ops.Iterate.cut)
      val z = pairs.agg(sum($"n_ab").as("z"))
      val marg = pairs.select($"w1".as("w"), $"n_ab")
        .unionByName(pairs.select($"w2".as("w"), $"n_ab"))
        .groupBy($"w").agg(sum($"n_ab").as("c"))
      pairs.filter($"n_ab" >= 20)
        .join(marg.select($"w".as("w1"), $"c".as("c_a")), Seq("w1"))
        .join(marg.select($"w".as("w2"), $"c".as("c_b")), Seq("w2"))
        .crossJoin(broadcast(z))
        .select($"w1", $"w2", $"n_ab",
          // + 0.0 canonicalizes a possible -0.0 tie (the q181 lesson)
          (greatest(lit(0.0), round(
            log((lit(4L) * $"z" * $"n_ab").cast("double") /
              ($"c_a" * $"c_b").cast("double")), 6)) + lit(0.0)).as("ppmi"))
        .orderBy($"ppmi".desc, $"w1".asc, $"w2".asc)
        .limit(30)
    },
    Some("""
      WITH tk AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        FROM documents),
      pos AS (
        SELECT doc_id, unnest(generate_series(1, len(ts))) AS pos,
               unnest(ts) AS tok FROM tk),
      pr AS (
        SELECT least(a.tok, b.tok) AS w1, greatest(a.tok, b.tok) AS w2,
               CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM pos a JOIN pos b
          ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 2
        GROUP BY 1, 2),
      z AS (SELECT SUM(n_ab) AS z FROM pr),
      marg AS (
        SELECT w, SUM(n_ab) AS c FROM (
          SELECT w1 AS w, n_ab FROM pr
          UNION ALL SELECT w2, n_ab FROM pr) u GROUP BY w)
      SELECT p.w1, p.w2, p.n_ab,
        greatest(0.0, round(ln(CAST(4 * z.z * p.n_ab AS DOUBLE) /
          CAST(ma.c * mb.c AS DOUBLE)), 6)) + 0.0 AS ppmi
      FROM pr p
      JOIN marg ma ON p.w1 = ma.w
      JOIN marg mb ON p.w2 = mb.w
      CROSS JOIN z
      WHERE p.n_ab >= 20
      ORDER BY ppmi DESC, p.w1, p.w2 LIMIT 30"""))

  def queries: Seq[Q] =
    Seq(q42, q43, q44, q45, q46, q47, q48, q49, q110, q143, q144,
      q148, q149, q152, q158, q163, q166, q168, q169, q170, q171,
      q172, q175, q180, q181, q182, q188, q195, q234)
}
