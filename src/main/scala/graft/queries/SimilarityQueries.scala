package graft.queries

import graft.Tables
import graft.ops.{Relational, Similarity, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding similarity batch over `embeddings` (64-dim float vectors):
  * cosine near-duplicate pairs, brute-force top-k ANN baseline, and the
  * LSH-bucketed scale path. Dot products are decimal-exact sums of
  * double products so both engines agree bit-wise; ranking uses a total
  * order (cosine desc, id asc).
  */
object SimilarityQueries extends QueryGroup {

  private def vecs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.plans.GraftFunctions.register(s)
    // spread: the norm projection and every index build downstream are
    // heavy per-row kernels whose parallelism is otherwise pinned to
    // the file's row-group count (one, in the driver's testdata)
    Similarity.withNorms(Tables.spread(s, dir, "embeddings"),
      $"vec_id", $"embedding")
  }

  private val compSql = """
    comp AS (
      SELECT vec_id AS id, generate_subscripts(embedding, 1) - 1 AS i,
             CAST(unnest(embedding) AS DOUBLE) AS e
      FROM embeddings)"""

  private val cosSql =
    "CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE) / " +
      "(sqrt(CAST(SUM(CAST(a2 AS DECIMAL(18,6))) AS DOUBLE)) * " +
      "sqrt(CAST(SUM(CAST(b2 AS DECIMAL(18,6))) AS DOUBLE)))"

  /** Embedding-cosine near-duplicate pairs within a label block. */
  private val q50 = Q(
    "q50_embed_cosine_dedup",
    (s, dir) => {
      import s.implicits._
      val blocks = Tables(s, dir, "embeddings")
        .select($"vec_id".as("id"), $"label".as("block"))
      Similarity.blockedCosinePairs(vecs(s, dir), blocks, prefilterAbove = Some(0.4))
        .filter($"cosine" >= 0.4)
        .orderBy($"id1", $"id2")
    },
    Some(s"""
      WITH $compSql,
      c AS (SELECT comp.*, e2.label AS block
            FROM comp JOIN embeddings e2 ON comp.id = e2.vec_id),
      parts AS (
        SELECT a.id AS id1, b.id AS id2, a.e * b.e AS p,
               a.e * a.e AS a2, b.e * b.e AS b2
        FROM c a JOIN c b
          ON a.block = b.block AND a.i = b.i AND a.id < b.id),
      cos AS (SELECT id1, id2, $cosSql AS cosine
              FROM parts GROUP BY id1, id2)
      SELECT id1, id2, cosine FROM cos
      WHERE cosine >= 0.4e0 ORDER BY id1, id2"""))

  /** Brute-force cosine top-k (k=5) for a small query set — the exact
    * ANN baseline. */
  private val q51 = Q(
    "q51_ann_topk",
    (s, dir) => {
      import s.implicits._
      val all = vecs(s, dir)
      Similarity.bruteForceTopK(all, all.filter($"id" < 10), k = 5)
        .select($"id1", $"id2", $"cosine", $"rank")
        .orderBy($"id1", $"rank")
    },
    Some(s"""
      WITH $compSql,
      parts AS (
        SELECT q.id AS id1, c.id AS id2, q.e * c.e AS p,
               q.e * q.e AS a2, c.e * c.e AS b2
        FROM comp q JOIN comp c ON q.i = c.i AND q.id <> c.id
        WHERE q.id < 10),
      cos AS (SELECT id1, id2, $cosSql AS cosine
              FROM parts GROUP BY id1, id2),
      ranked AS (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY id1
                    ORDER BY cosine DESC, id2) AS INT) AS rank
        FROM cos)
      SELECT id1, id2, cosine, rank FROM ranked
      WHERE rank <= 5 ORDER BY id1, rank"""))

  /** LSH-bucketed ANN: 6 deterministic pseudo-random hyperplanes give a
    * 64-bucket code; report each vector's bucket and the bucket
    * occupancy — the candidate-generation stage of the scale path. */
  private val q52 = Q(
    "q52_ann_lsh_buckets",
    (s, dir) => {
      import s.implicits._
      val planes = Similarity.hyperplanes(s, b = 6, d = 64)
      val buckets = Similarity.lshBuckets(vecs(s, dir), planes)
      // Occupancy via groupBy + broadcast join back, NOT a window
      // partitioned by bucket: with b planes there are only 2^b distinct
      // partition keys, so the window form caps parallelism at 2^b tasks
      // and each holds a whole bucket in one frame. The groupBy keeps
      // partial aggregation map-side and the ≤2^b-row count broadcasts.
      val occupancy = buckets.groupBy($"bucket")
        .agg(count(lit(1)).as("bucket_size"))
      buckets.join(broadcast(occupancy), "bucket")
        .select($"id", $"bucket", $"bucket_size")
        .orderBy($"id")
    },
    Some(s"""
      WITH $compSql,
      planes AS (
        SELECT p, i,
          CAST(${TextOps.h64Sql("(CAST(p AS VARCHAR) || '-' || CAST(i AS VARCHAR))")}
               % 2001 - 1000 AS DOUBLE) AS w
        FROM (SELECT unnest(generate_series(0, 5)) AS p) ps,
             (SELECT unnest(generate_series(0, 63)) AS i) ds),
      dots AS (
        SELECT c.id, pl.p,
          CAST(SUM(CAST(c.e * pl.w AS DECIMAL(18,6))) AS DOUBLE) AS dot
        FROM comp c JOIN planes pl ON c.i = pl.i
        GROUP BY c.id, pl.p),
      buckets AS (
        SELECT id, CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << p)
                            ELSE 0 END) AS BIGINT) AS bucket
        FROM dots GROUP BY id)
      SELECT id, bucket,
        CAST(COUNT(*) OVER (PARTITION BY bucket) AS BIGINT) AS bucket_size
      FROM buckets ORDER BY id"""))

  /** Multimodal column plumbing: media as opaque binary payloads with
    * typed metadata; the "decode" is the deterministic stub (the real
    * codec is environment-provided — see graft.ops.Multimodal for the
    * batched mapPartitions path). */
  private val q53 = Q(
    "q53_multimodal_meta",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents")
        .withColumn("payload", $"text".cast("binary"))
        .select($"doc_id",
          octet_length($"payload").as("n_bytes"),
          (TextOps.h64($"source") % 640).as("width"),
          (TextOps.h64($"source") % 480).as("height"),
          (expr("octet_length(payload) div 100") + 1).as("n_frames"))
        .orderBy($"doc_id")
    },
    Some(s"""
      SELECT doc_id,
        CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        ${TextOps.h64Sql("source")} % 640 AS width,
        ${TextOps.h64Sql("source")} % 480 AS height,
        octet_length(encode(text)) // 100 + 1 AS n_frames
      FROM documents ORDER BY doc_id"""))

  /** DuckDB twin of [[graft.ops.Similarity.quantizeInt8]]: per-vector
    * scale 127/max|x| and codes floor(x·scale + 0.5), shared by the
    * q97/q98 oracles. Ends in `codes(id, i, scale, code, e)`. */
  private val codesSql = s"""
    $compSql,
    sc AS (SELECT id, 127.0e0 / MAX(ABS(e)) AS scale
           FROM comp GROUP BY id HAVING MAX(ABS(e)) > 0),
    codes AS (SELECT c.id, c.i, sc.scale,
                CAST(floor(c.e * sc.scale + 0.5e0) AS INT) AS code, c.e
              FROM comp c JOIN sc ON c.id = sc.id)"""

  /** Int8 symmetric quantization of the embedding store: per-vector
    * scale, code stats, and the decimal-exact reconstruction error —
    * all map-only (no shuffle; the oracle's groupBy is an artifact of
    * its component-row formulation). */
  private val q97 = Q(
    "q97_quantize_int8",
    (s, dir) => {
      import s.implicits._
      Similarity.quantizeInt8(Tables.spread(s, dir, "embeddings"), $"vec_id", $"embedding")
        .filter($"maxabs" > 0)
        .select($"id", $"scale",
          expr("aggregate(q8, CAST(0 AS BIGINT), (a, c) -> a + CAST(c AS BIGINT))")
            .as("code_sum"),
          array_min($"q8").as("code_min"),
          array_max($"q8").as("code_max"),
          Similarity.dequantError("emb", "q8", "scale").as("err"))
        .orderBy($"id")
    },
    Some(s"""
      WITH $codesSql
      SELECT id, scale, CAST(SUM(code) AS BIGINT) AS code_sum,
        MIN(code) AS code_min, MAX(code) AS code_max,
        CAST(SUM(CAST((e - CAST(code AS DOUBLE) / scale) *
                      (e - CAST(code AS DOUBLE) / scale) AS DECIMAL(18,6)))
             AS DOUBLE) AS err
      FROM codes GROUP BY id, scale ORDER BY id"""))

  /** Quantized ANN: integer code-dot candidate sweep (top-20 per
    * query, engine-exact so the shortlist is deterministic), exact
    * decimal-cosine re-rank to top-5 — the int8 retrieval recipe. */
  private val q98 = Q(
    "q98_quantized_ann",
    (s, dir) => {
      import s.implicits._
      val qz = Similarity.quantizeInt8(
          Tables.spread(s, dir, "embeddings"), $"vec_id", $"embedding")
        .filter($"maxabs" > 0)
        .select($"id", $"q8")
      val all = vecs(s, dir).join(qz, Seq("id"))
      Similarity.quantizedTopK(all, all.filter($"id" < 10), m = 20, k = 5)
        .orderBy($"id1", $"rank")
    },
    Some(s"""
      WITH $codesSql,
      iscore AS (
        SELECT q.id AS id1, c.id AS id2,
          CAST(SUM(CAST(q.code AS BIGINT) * c.code) AS BIGINT) AS iscore
        FROM codes q JOIN codes c ON q.i = c.i AND q.id <> c.id
        WHERE q.id < 10 GROUP BY q.id, c.id),
      short AS (
        SELECT id1, id2, iscore FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id1
                      ORDER BY iscore DESC, id2) AS mrk
          FROM iscore)
        WHERE mrk <= 20),
      parts AS (
        SELECT s.id1, s.id2, s.iscore, a.e * b.e AS p,
               a.e * a.e AS a2, b.e * b.e AS b2
        FROM short s
        JOIN comp a ON a.id = s.id1
        JOIN comp b ON b.id = s.id2 AND a.i = b.i),
      cos AS (SELECT id1, id2, iscore, $cosSql AS cosine
              FROM parts GROUP BY id1, id2, iscore),
      ranked AS (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY id1
                    ORDER BY cosine DESC, id2) AS INT) AS rank
        FROM cos)
      SELECT id1, id2, iscore, cosine, rank FROM ranked
      WHERE rank <= 5 ORDER BY id1, rank"""))

  /** Quantized ANN pruned by the IVF index (q98 × q77): the int8 sweep
    * reads only the queries' nprobe=2 probed cells' inverted lists, the
    * exact decimal cosine re-ranks the O(q·m) shortlist — at 100 TB the
    * integer scan touches nprobe/n_cells of the code store, not all of
    * it. Codebook = vectors 0..15, queries = vectors 0..9, exactly as
    * q61/q77 so the cell structure is comparable across the family. */
  private val q104 = Q(
    "q104_quantized_ivf",
    (s, dir) => {
      import s.implicits._
      val qz = Similarity.quantizeInt8(
          Tables.spread(s, dir, "embeddings"), $"vec_id", $"embedding")
        .filter($"maxabs" > 0)
        .select($"id", $"q8")
      // the float store stays (id, emb, norm2) — the q8 codes must NOT
      // ride the assignment sweep or the re-rank (r6 regression: joining
      // qz into the floats doubled ivfAssign's cost for nothing)
      val flo = vecs(s, dir)
      val cents = flo.filter($"id" < 16)
        .select($"id".as("cid"), $"emb".as("cemb"), $"norm2".as("cnorm2"))
      // inverted-list layout: the cell id attaches to the int8 codes at
      // index-BUILD time and the store is materialized once (an eager
      // localCheckpoint = the index-build step; at 100 TB this is the
      // written parquet artifact) — search reads the code store alone,
      // never re-deriving the assignment per query batch (as q109/q112).
      // localCheckpoint, NOT persist: persist registers in the session
      // cache manager and its InMemoryRelation would silently splice
      // into every OTHER query whose plan contains the same sub-tree
      val codes = qz
        .join(Similarity.ivfAssign(flo, cents).select($"id", $"cid"), Seq("id"))
        .localCheckpoint()
      val queries = flo.join(qz, Seq("id")).filter($"id" < 10)
      Similarity.quantizedIvfTopK(codes, flo, cents, queries,
          nprobe = 2, m = 20, k = 3)
        .orderBy($"id1", $"rank")
    },
    Some(s"""
      WITH $codesSql,
      cparts AS (
        SELECT v.id AS id, c.id AS cid, v.e * c.e AS p,
               v.e * v.e AS a2, c.e * c.e AS b2
        FROM comp v
        JOIN sc sv ON v.id = sv.id
        JOIN comp c ON v.i = c.i AND c.id < 16
        JOIN sc sc2 ON c.id = sc2.id),
      ccos AS (SELECT id, cid, $cosSql AS ccos
               FROM cparts GROUP BY id, cid),
      assign AS (
        SELECT id, cid FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                      ORDER BY ccos DESC, cid) AS rn
          FROM ccos) WHERE rn = 1),
      qcells AS (
        SELECT id AS id1, cid FROM (
          SELECT id, cid, ROW_NUMBER() OVER (PARTITION BY id
                      ORDER BY ccos DESC, cid) AS rn
          FROM ccos WHERE id < 10) WHERE rn <= 2),
      cands AS (
        SELECT qc.id1, a.id AS id2
        FROM qcells qc JOIN assign a ON a.cid = qc.cid AND a.id <> qc.id1),
      iscore AS (
        SELECT cd.id1, cd.id2,
          CAST(SUM(CAST(q.code AS BIGINT) * c.code) AS BIGINT) AS iscore
        FROM cands cd
        JOIN codes q ON q.id = cd.id1
        JOIN codes c ON c.id = cd.id2 AND q.i = c.i
        GROUP BY cd.id1, cd.id2),
      short AS (
        SELECT id1, id2, iscore FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id1
                      ORDER BY iscore DESC, id2) AS mrk
          FROM iscore)
        WHERE mrk <= 20),
      parts AS (
        SELECT s.id1, s.id2, s.iscore, a.e * b.e AS p,
               a.e * a.e AS a2, b.e * b.e AS b2
        FROM short s
        JOIN comp a ON a.id = s.id1
        JOIN comp b ON b.id = s.id2 AND a.i = b.i),
      cos AS (SELECT id1, id2, iscore, $cosSql AS cosine
              FROM parts GROUP BY id1, id2, iscore),
      ranked AS (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY id1
                    ORDER BY cosine DESC, id2) AS INT) AS rank
        FROM cos)
      SELECT id1, id2, iscore, cosine, rank FROM ranked
      WHERE rank <= 3 ORDER BY id1, rank"""))

  /** Product-quantization ANN (Jégou et al. '11): dim=64 split into
    * m=8 subspaces, k=16 centroids per subspace seeded from vectors
    * 0..15's subvectors (the same deterministic codebook convention as
    * the IVF family), ADC candidate sweep over the m-byte codes, exact
    * decimal cosine re-rank of the top-20 shortlist. The 100 TB story:
    * the sweep reads 8 bytes per corpus vector instead of 256, encode
    * is shuffle-free map work, and the floats are fetched for
    * O(q·mShort) rows only. */
  private val q106 = Q(
    "q106_pq_ann",
    (s, dir) => {
      import s.implicits._
      val all = vecs(s, dir)
      val cb = Similarity.pqCodebook(all.filter($"id" < 16), m = 8, dim = 64)
      val codes = Similarity.pqEncode(all, cb, m = 8, dim = 64)
        .select($"id", $"codes")
      Similarity.pqTopK(codes, all, cb, all.filter($"id" < 10),
          m = 8, dim = 64, mShort = 20, k = 3)
        .orderBy($"id1", $"rank")
    },
    Some(s"""
      WITH $compSql,
      sd AS (
        SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INT) AS cid
        FROM (SELECT DISTINCT id FROM comp WHERE id < 16)),
      cent AS (
        SELECT sd.cid, c.i // 8 AS s, c.i % 8 AS j, c.e AS ce
        FROM comp c JOIN sd ON c.id = sd.id),
      dist AS (
        SELECT v.id, ct.s, ct.cid,
          SUM(CAST((v.e - ct.ce) * (v.e - ct.ce) AS DECIMAL(18,6))) AS d
        FROM comp v JOIN cent ct ON v.i // 8 = ct.s AND v.i % 8 = ct.j
        GROUP BY v.id, ct.s, ct.cid),
      codes AS (
        SELECT id, s, cid AS code FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id, s
                      ORDER BY d, cid) AS rn
          FROM dist) WHERE rn = 1),
      lut AS (
        SELECT q.id AS id1, ct.s, ct.cid,
          SUM(CAST(q.e * ct.ce AS DECIMAL(18,6))) AS dot
        FROM comp q JOIN cent ct ON q.i // 8 = ct.s AND q.i % 8 = ct.j
        WHERE q.id < 10 GROUP BY q.id, ct.s, ct.cid),
      adcs AS (
        SELECT l.id1, c.id AS id2, SUM(l.dot) AS adc
        FROM codes c
        JOIN lut l ON l.s = c.s AND l.cid = c.code AND l.id1 <> c.id
        GROUP BY l.id1, c.id),
      short AS (
        SELECT id1, id2, adc FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id1
                      ORDER BY adc DESC, id2) AS mrk
          FROM adcs)
        WHERE mrk <= 20),
      parts AS (
        SELECT s.id1, s.id2, s.adc, a.e * b.e AS p,
               a.e * a.e AS a2, b.e * b.e AS b2
        FROM short s
        JOIN comp a ON a.id = s.id1
        JOIN comp b ON b.id = s.id2 AND a.i = b.i),
      cos AS (SELECT id1, id2, adc, $cosSql AS cosine
              FROM parts GROUP BY id1, id2, adc),
      ranked AS (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY id1
                    ORDER BY cosine DESC, id2) AS INT) AS rank
        FROM cos)
      SELECT id1, id2, CAST(adc AS DOUBLE) AS adc, cosine, rank FROM ranked
      WHERE rank <= 3 ORDER BY id1, rank"""))

  /** Semantic dedup over IVF cells (SemDeDup): assign every vector to
    * its nearest of the 16 fixed centroids (codebook = vectors 0..15,
    * as the whole IVF family), compare pairs only within a cell, and
    * drop the higher id of any pair with cosine ≥ 0.3. Every vector is
    * reported with its cell and verdict — the embedding-space dedup
    * policy beside the token ones (q46–q49). */
  private val q107 = Q(
    "q107_semantic_dedup",
    (s, dir) => {
      import s.implicits._
      val all = vecs(s, dir)
      val cents = all.filter($"id" < 16)
        .select($"id".as("cid"), $"emb".as("cemb"), $"norm2".as("cnorm2"))
      Similarity.semanticDedup(all, cents, tau = 0.3)
        .orderBy($"id")
    },
    Some(s"""
      WITH $compSql,
      cparts AS (
        SELECT v.id AS id, c.id AS cid, v.e * c.e AS p,
               v.e * v.e AS a2, c.e * c.e AS b2
        FROM comp v JOIN comp c ON v.i = c.i
        WHERE c.id < 16),
      ccos AS (SELECT id, cid, $cosSql AS ccos
               FROM cparts GROUP BY id, cid),
      assign AS (
        SELECT id, cid FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                      ORDER BY ccos DESC, cid) AS rn
          FROM ccos) WHERE rn = 1),
      pparts AS (
        SELECT a.id AS id1, b.id AS id2, a.e * b.e AS p,
               a.e * a.e AS a2, b.e * b.e AS b2
        FROM assign aa JOIN assign bb ON aa.cid = bb.cid AND aa.id < bb.id
        JOIN comp a ON a.id = aa.id
        JOIN comp b ON b.id = bb.id AND a.i = b.i),
      pcos AS (SELECT id1, id2, $cosSql AS cosine
               FROM pparts GROUP BY id1, id2),
      drops AS (SELECT DISTINCT id2 AS id FROM pcos WHERE cosine >= 0.3e0)
      SELECT a.id, a.cid, (d.id IS NOT NULL) AS dropped
      FROM assign a LEFT JOIN drops d ON d.id = a.id
      ORDER BY a.id"""))

  /** IVF-PQ (q106 × q77, the FAISS architecture): the ADC sweep over
    * m-byte PQ codes restricted to each query's nprobe=2 probed IVF
    * cells — at 100 TB the lookup-table scan touches nprobe/n_cells of
    * a code store that is itself 32× narrower than the floats, and the
    * floats are fetched only for the exact re-rank shortlist. The IVF
    * cell id is attached to the codes at index-BUILD time (encode ⋈
    * assignment), so search reads the m-byte code store alone — the
    * same inverted-list layout as q112. IVF centroids and PQ seeds
    * both = vectors 0..15, queries 0..9, as the rest of the ANN
    * family. */
  private val q109 = Q(
    "q109_pq_ivf",
    (s, dir) => {
      import s.implicits._
      val all = vecs(s, dir)
      val cb = Similarity.pqCodebook(all.filter($"id" < 16), m = 8, dim = 64)
      val cents = all.filter($"id" < 16)
        .select($"id".as("cid"), $"emb".as("cemb"), $"norm2".as("cnorm2"))
      val assign = Similarity.ivfAssign(all, cents).select($"id", $"cid")
      val codes = Similarity.pqEncode(all, cb, m = 8, dim = 64)
        .select($"id", $"codes").join(assign, Seq("id"))
      Similarity.pqIvfTopK(codes, all, cb, cents, all.filter($"id" < 10),
          nprobe = 2, m = 8, dim = 64, mShort = 20, k = 3)
        .orderBy($"id1", $"rank")
    },
    Some(s"""
      WITH $compSql,
      cparts AS (
        SELECT v.id AS id, c.id AS cid, v.e * c.e AS p,
               v.e * v.e AS a2, c.e * c.e AS b2
        FROM comp v JOIN comp c ON v.i = c.i
        WHERE c.id < 16),
      ccos AS (SELECT id, cid, $cosSql AS ccos
               FROM cparts GROUP BY id, cid),
      assign AS (
        SELECT id, cid FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                      ORDER BY ccos DESC, cid) AS rn
          FROM ccos) WHERE rn = 1),
      qcells AS (
        SELECT id AS id1, cid FROM (
          SELECT id, cid, ROW_NUMBER() OVER (PARTITION BY id
                      ORDER BY ccos DESC, cid) AS rn
          FROM ccos WHERE id < 10) WHERE rn <= 2),
      cands AS (
        SELECT qc.id1, a.id AS id2
        FROM qcells qc JOIN assign a ON a.cid = qc.cid AND a.id <> qc.id1),
      sd AS (
        SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INT) AS pcid
        FROM (SELECT DISTINCT id FROM comp WHERE id < 16)),
      cent AS (
        SELECT sd.pcid, c.i // 8 AS s, c.i % 8 AS j, c.e AS ce
        FROM comp c JOIN sd ON c.id = sd.id),
      dist AS (
        SELECT v.id, ct.s, ct.pcid,
          SUM(CAST((v.e - ct.ce) * (v.e - ct.ce) AS DECIMAL(18,6))) AS d
        FROM comp v JOIN cent ct ON v.i // 8 = ct.s AND v.i % 8 = ct.j
        GROUP BY v.id, ct.s, ct.pcid),
      codes AS (
        SELECT id, s, pcid AS code FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id, s
                      ORDER BY d, pcid) AS rn
          FROM dist) WHERE rn = 1),
      lut AS (
        SELECT q.id AS id1, ct.s, ct.pcid,
          SUM(CAST(q.e * ct.ce AS DECIMAL(18,6))) AS dot
        FROM comp q JOIN cent ct ON q.i // 8 = ct.s AND q.i % 8 = ct.j
        WHERE q.id < 10 GROUP BY q.id, ct.s, ct.pcid),
      adcs AS (
        SELECT cd.id1, cd.id2, SUM(l.dot) AS adc
        FROM cands cd
        JOIN codes c ON c.id = cd.id2
        JOIN lut l ON l.id1 = cd.id1 AND l.s = c.s AND l.pcid = c.code
        GROUP BY cd.id1, cd.id2),
      short AS (
        SELECT id1, id2, adc FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id1
                      ORDER BY adc DESC, id2) AS mrk
          FROM adcs)
        WHERE mrk <= 20),
      parts AS (
        SELECT s.id1, s.id2, s.adc, a.e * b.e AS p,
               a.e * a.e AS a2, b.e * b.e AS b2
        FROM short s
        JOIN comp a ON a.id = s.id1
        JOIN comp b ON b.id = s.id2 AND a.i = b.i),
      cos AS (SELECT id1, id2, adc, $cosSql AS cosine
              FROM parts GROUP BY id1, id2, adc),
      ranked AS (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY id1
                    ORDER BY cosine DESC, id2) AS INT) AS rank
        FROM cos)
      SELECT id1, id2, CAST(adc AS DOUBLE) AS adc, cosine, rank FROM ranked
      WHERE rank <= 3 ORDER BY id1, rank"""))

  /** Residual IVF-PQ (q109 with residual encoding — the production
    * FAISS layout): corpus vectors PQ-encode their residual from the
    * IVF centroid, queries score candidates as dot(q, centroid) +
    * ADC(residual codes), both decimal-exact, with the exact cosine
    * re-rank on the shortlist. IVF centroids = vectors 0..15; the
    * residual codebook seeds = vectors 16..31 (disjoint from the
    * centroids — a centroid's own residual is the zero vector). */
  private val q112 = Q(
    "q112_pq_residual_ivf",
    (s, dir) => {
      import s.implicits._
      val all = vecs(s, dir)
      val cents = all.filter($"id" < 16)
        .select($"id".as("cid"), $"emb".as("cemb"), $"norm2".as("cnorm2"))
      val resid = Similarity.pqResiduals(all, cents)
      val seeds = resid.filter($"id" >= 16 && $"id" < 32)
        .select($"id", $"remb".as("emb"))
      val cb = Similarity.pqCodebook(seeds, m = 8, dim = 64)
      val codes = Similarity.pqEncode(
          resid.select($"id", $"cid", $"remb".as("emb")), cb, m = 8, dim = 64)
        .select($"id", $"cid", $"codes")
      Similarity.pqIvfResidualTopK(codes, all, cb, cents,
          all.filter($"id" < 10), nprobe = 2, m = 8, dim = 64,
          mShort = 20, k = 3)
        .orderBy($"id1", $"rank")
    },
    Some(s"""
      WITH $compSql,
      cparts AS (
        SELECT v.id AS id, c.id AS cid, v.e * c.e AS p,
               v.e * v.e AS a2, c.e * c.e AS b2
        FROM comp v JOIN comp c ON v.i = c.i
        WHERE c.id < 16),
      ccos AS (SELECT id, cid, $cosSql AS ccos,
                 SUM(CAST(p AS DECIMAL(18,6))) AS cdot
               FROM cparts GROUP BY id, cid),
      assign AS (
        SELECT id, cid FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                      ORDER BY ccos DESC, cid) AS rn
          FROM ccos) WHERE rn = 1),
      qcells AS (
        SELECT id AS id1, cid, cdot FROM (
          SELECT id, cid, cdot, ROW_NUMBER() OVER (PARTITION BY id
                      ORDER BY ccos DESC, cid) AS rn
          FROM ccos WHERE id < 10) WHERE rn <= 2),
      rcomp AS (
        SELECT v.id, a.cid, v.i, v.e - c.e AS e
        FROM comp v
        JOIN assign a ON v.id = a.id
        JOIN comp c ON c.id = a.cid AND c.i = v.i),
      sd AS (
        SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INT) AS pcid
        FROM (SELECT DISTINCT id FROM comp WHERE id >= 16 AND id < 32)),
      cent AS (
        SELECT sd.pcid, r.i // 8 AS s, r.i % 8 AS j, r.e AS ce
        FROM rcomp r JOIN sd ON r.id = sd.id),
      dist AS (
        SELECT v.id, ct.s, ct.pcid,
          SUM(CAST((v.e - ct.ce) * (v.e - ct.ce) AS DECIMAL(18,6))) AS d
        FROM rcomp v JOIN cent ct ON v.i // 8 = ct.s AND v.i % 8 = ct.j
        GROUP BY v.id, ct.s, ct.pcid),
      codes AS (
        SELECT id, s, pcid AS code FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id, s
                      ORDER BY d, pcid) AS rn
          FROM dist) WHERE rn = 1),
      lut AS (
        SELECT q.id AS id1, ct.s, ct.pcid,
          SUM(CAST(q.e * ct.ce AS DECIMAL(18,6))) AS dot
        FROM comp q JOIN cent ct ON q.i // 8 = ct.s AND q.i % 8 = ct.j
        WHERE q.id < 10 GROUP BY q.id, ct.s, ct.pcid),
      adcs AS (
        SELECT qc.id1, a.id AS id2, qc.cdot + SUM(l.dot) AS adc
        FROM qcells qc
        JOIN assign a ON a.cid = qc.cid AND a.id <> qc.id1
        JOIN codes c ON c.id = a.id
        JOIN lut l ON l.id1 = qc.id1 AND l.s = c.s AND l.pcid = c.code
        GROUP BY qc.id1, a.id, qc.cdot),
      short AS (
        SELECT id1, id2, adc FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id1
                      ORDER BY adc DESC, id2) AS mrk
          FROM adcs)
        WHERE mrk <= 20),
      parts AS (
        SELECT s.id1, s.id2, s.adc, a.e * b.e AS p,
               a.e * a.e AS a2, b.e * b.e AS b2
        FROM short s
        JOIN comp a ON a.id = s.id1
        JOIN comp b ON b.id = s.id2 AND a.i = b.i),
      cos AS (SELECT id1, id2, adc, $cosSql AS cosine
              FROM parts GROUP BY id1, id2, adc),
      ranked AS (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY id1
                    ORDER BY cosine DESC, id2) AS INT) AS rank
        FROM cos)
      SELECT id1, id2, CAST(adc AS DOUBLE) AS adc, cosine, rank FROM ranked
      WHERE rank <= 3 ORDER BY id1, rank"""))

  /** Recall@3 audit of the approximate ANN ladder against the exact
    * brute-force top-3 on the same vectors: q104's int8-IVF, q109's
    * IVF-PQ and q112's residual IVF-PQ each re-run with their exact
    * parameters (nprobe=2, mShort=20, k=3), and every query vector
    * gets |approx ∩ exact| / 3 per method. The plan audits freeze the
    * index SHAPES; this freezes the approximation QUALITY — a centroid
    * or codebook regression that still produces well-shaped plans
    * surfaces here as a recall drop the oracle recomputes (and an
    * absolute per-method floor is pinned in QuantCorpusSpec).
    *
    * Cost envelope: the shared float store, exact top-3 and IVF
    * assignment are each materialized once (localCheckpoint) and
    * reused by all three ladders; what remains is intrinsic — the
    * audit RUNS three full index builds (int8 quantize, PQ encode,
    * residual PQ encode) plus the brute-force baseline in one action
    * (~4 s at sf0.1, vs ~6.4 s as the sum of the solo queries), which
    * is the audit's subject, not overhead. Checkpointing the
    * per-ladder frames (q8 codes, residuals) was measured SLOWER —
    * the eager materialization barrier costs more than the one
    * recompute it saves. */
  private val q121 = Q(
    "q121_ann_recall",
    (s, dir) => {
      import s.implicits._
      // the float store feeds every ladder (assigns, codebook seeds,
      // encodes, residuals, re-ranks) — materialize the parquet read +
      // norm computation once instead of ~8× across the audit's DAG
      val all = vecs(s, dir).localCheckpoint()
      val queries = all.filter($"id" < 10)
      val cents = all.filter($"id" < 16)
        .select($"id".as("cid"), $"emb".as("cemb"), $"norm2".as("cnorm2"))
      // the exact top-3 and the IVF assignment are each consumed by all
      // three ladders — materialize both once (eager localCheckpoint;
      // tiny frames: q·3 pair rows and n (id, cid) rows) so the
      // brute-force sweep and the centroid assignment run once per
      // audit instead of once per ladder. localCheckpoint, NOT persist:
      // a persisted sub-plan would splice into other queries' plans via
      // the session cache manager. (Fusing the two cuts into one
      // tagged-union job was measured a wash; the serial-job latency is
      // not what remains of this audit's cost.)
      // the two shared cuts are INDEPENDENT jobs over the same
      // checkpointed store — materialize them from concurrent driver
      // threads so the scheduler overlaps their stages (local[32] has
      // the cores; serially they were the audit's only dead time)
      val (exact, assign) = {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        val ef = Future(Similarity.bruteForceTopK(all, queries, k = 3)
          .select($"id1", $"id2").localCheckpoint())
        val af = Future(Similarity.ivfAssign(all, cents)
          .select($"id", $"cid").localCheckpoint())
        (Await.result(ef, scala.concurrent.duration.Duration.Inf),
          Await.result(af, scala.concurrent.duration.Duration.Inf))
      }
      // q104's path: int8 sweep behind the IVF cell filter. Codes come
      // off the checkpointed store, not a second parquet read — the
      // audit's one corpus materialization feeds every index build.
      val qz = Similarity.quantizeInt8(all, $"id", $"emb")
        .filter($"maxabs" > 0).select($"id", $"q8")
      val a = Similarity.quantizedIvfTopK(qz.join(assign, Seq("id")), all,
        cents, all.join(qz, Seq("id")).filter($"id" < 10),
        nprobe = 2, m = 20, k = 3)
      // q109's path: IVF-PQ, cell ids attached at index time
      val cb = Similarity.pqCodebook(all.filter($"id" < 16), m = 8, dim = 64)
      val pcodes = Similarity.pqEncode(all, cb, m = 8, dim = 64)
        .select($"id", $"codes").join(assign, Seq("id"))
      val b = Similarity.pqIvfTopK(pcodes, all, cb, cents, queries,
        nprobe = 2, m = 8, dim = 64, mShort = 20, k = 3)
      // q112's path: residual IVF-PQ (seeds 16..31, disjoint from cents)
      val resid = Similarity.pqResiduals(all, cents, assign)
      val seeds = resid.filter($"id" >= 16 && $"id" < 32)
        .select($"id", $"remb".as("emb"))
      val rcb = Similarity.pqCodebook(seeds, m = 8, dim = 64)
      val rcodes = Similarity.pqEncode(
          resid.select($"id", $"cid", $"remb".as("emb")), rcb, m = 8, dim = 64)
        .select($"id", $"cid", $"codes")
      val c = Similarity.pqIvfResidualTopK(rcodes, all, rcb, cents, queries,
        nprobe = 2, m = 8, dim = 64, mShort = 20, k = 3)
      def recall(approx: DataFrame, method: String): DataFrame =
        approx.select($"id1", $"id2")
          .join(exact.withColumn("__hit", lit(1)), Seq("id1", "id2"), "left")
          .groupBy($"id1")
          .agg((sum(coalesce($"__hit", lit(0))).cast("double") / lit(3.0))
            .as("recall"))
          .select(lit(method).as("method"), $"id1", $"recall")
      recall(a, "ivf_int8")
        .unionAll(recall(b, "ivf_pq"))
        .unionAll(recall(c, "ivf_pq_residual"))
        .orderBy($"method", $"id1")
    },
    Some(s"""
      WITH $compSql,
      e_parts AS (
        SELECT q.id AS id1, c.id AS id2, q.e * c.e AS p,
               q.e * q.e AS a2, c.e * c.e AS b2
        FROM comp q JOIN comp c ON q.i = c.i AND q.id <> c.id
        WHERE q.id < 10),
      e_cos AS (SELECT id1, id2, $cosSql AS cosine
                FROM e_parts GROUP BY id1, id2),
      exact3 AS (
        SELECT id1, id2 FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id1
                      ORDER BY cosine DESC, id2) AS rk
          FROM e_cos) WHERE rk <= 3),
      -- shared IVF assignment / probed cells (centroids = ids < 16)
      cparts AS (
        SELECT v.id AS id, c.id AS cid, v.e * c.e AS p,
               v.e * v.e AS a2, c.e * c.e AS b2
        FROM comp v JOIN comp c ON v.i = c.i
        WHERE c.id < 16),
      ccos AS (SELECT id, cid, $cosSql AS ccos,
                 SUM(CAST(p AS DECIMAL(18,6))) AS cdot
               FROM cparts GROUP BY id, cid),
      assign AS (
        SELECT id, cid FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                      ORDER BY ccos DESC, cid) AS rn
          FROM ccos) WHERE rn = 1),
      qcells AS (
        SELECT id AS id1, cid, cdot FROM (
          SELECT id, cid, cdot, ROW_NUMBER() OVER (PARTITION BY id
                      ORDER BY ccos DESC, cid) AS rn
          FROM ccos WHERE id < 10) WHERE rn <= 2),
      cands AS (
        SELECT qc.id1, a.id AS id2
        FROM qcells qc JOIN assign a ON a.cid = qc.cid AND a.id <> qc.id1),
      -- method a: q104's int8 sweep behind the cell filter
      a_sc AS (SELECT id, 127.0e0 / MAX(ABS(e)) AS scale
               FROM comp GROUP BY id HAVING MAX(ABS(e)) > 0),
      a_codes AS (SELECT c.id, c.i,
                    CAST(floor(c.e * a_sc.scale + 0.5e0) AS INT) AS code
                  FROM comp c JOIN a_sc ON c.id = a_sc.id),
      a_iscore AS (
        SELECT cd.id1, cd.id2,
          CAST(SUM(CAST(q.code AS BIGINT) * c.code) AS BIGINT) AS iscore
        FROM cands cd
        JOIN a_codes q ON q.id = cd.id1
        JOIN a_codes c ON c.id = cd.id2 AND q.i = c.i
        GROUP BY cd.id1, cd.id2),
      a_short AS (
        SELECT id1, id2 FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id1
                      ORDER BY iscore DESC, id2) AS mrk
          FROM a_iscore) WHERE mrk <= 20),
      a_parts AS (
        SELECT s.id1, s.id2, a.e * b.e AS p,
               a.e * a.e AS a2, b.e * b.e AS b2
        FROM a_short s
        JOIN comp a ON a.id = s.id1
        JOIN comp b ON b.id = s.id2 AND a.i = b.i),
      a_cos AS (SELECT id1, id2, $cosSql AS cosine
                FROM a_parts GROUP BY id1, id2),
      a_top AS (
        SELECT id1, id2 FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id1
                      ORDER BY cosine DESC, id2) AS rk
          FROM a_cos) WHERE rk <= 3),
      -- method b: q109's IVF-PQ (PQ seeds = ids < 16)
      b_sd AS (
        SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INT) AS pcid
        FROM (SELECT DISTINCT id FROM comp WHERE id < 16)),
      b_cent AS (
        SELECT b_sd.pcid, c.i // 8 AS s, c.i % 8 AS j, c.e AS ce
        FROM comp c JOIN b_sd ON c.id = b_sd.id),
      b_dist AS (
        SELECT v.id, ct.s, ct.pcid,
          SUM(CAST((v.e - ct.ce) * (v.e - ct.ce) AS DECIMAL(18,6))) AS d
        FROM comp v JOIN b_cent ct ON v.i // 8 = ct.s AND v.i % 8 = ct.j
        GROUP BY v.id, ct.s, ct.pcid),
      b_codes AS (
        SELECT id, s, pcid AS code FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id, s
                      ORDER BY d, pcid) AS rn
          FROM b_dist) WHERE rn = 1),
      b_lut AS (
        SELECT q.id AS id1, ct.s, ct.pcid,
          SUM(CAST(q.e * ct.ce AS DECIMAL(18,6))) AS dot
        FROM comp q JOIN b_cent ct ON q.i // 8 = ct.s AND q.i % 8 = ct.j
        WHERE q.id < 10 GROUP BY q.id, ct.s, ct.pcid),
      b_adcs AS (
        SELECT cd.id1, cd.id2, SUM(l.dot) AS adc
        FROM cands cd
        JOIN b_codes c ON c.id = cd.id2
        JOIN b_lut l ON l.id1 = cd.id1 AND l.s = c.s AND l.pcid = c.code
        GROUP BY cd.id1, cd.id2),
      b_short AS (
        SELECT id1, id2 FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id1
                      ORDER BY adc DESC, id2) AS mrk
          FROM b_adcs) WHERE mrk <= 20),
      b_parts AS (
        SELECT s.id1, s.id2, a.e * b.e AS p,
               a.e * a.e AS a2, b.e * b.e AS b2
        FROM b_short s
        JOIN comp a ON a.id = s.id1
        JOIN comp b ON b.id = s.id2 AND a.i = b.i),
      b_cos AS (SELECT id1, id2, $cosSql AS cosine
                FROM b_parts GROUP BY id1, id2),
      b_top AS (
        SELECT id1, id2 FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id1
                      ORDER BY cosine DESC, id2) AS rk
          FROM b_cos) WHERE rk <= 3),
      -- method c: q112's residual IVF-PQ (seeds = ids 16..31)
      rcomp AS (
        SELECT v.id, a.cid, v.i, v.e - c.e AS e
        FROM comp v
        JOIN assign a ON v.id = a.id
        JOIN comp c ON c.id = a.cid AND c.i = v.i),
      c_sd AS (
        SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INT) AS pcid
        FROM (SELECT DISTINCT id FROM comp WHERE id >= 16 AND id < 32)),
      c_cent AS (
        SELECT c_sd.pcid, r.i // 8 AS s, r.i % 8 AS j, r.e AS ce
        FROM rcomp r JOIN c_sd ON r.id = c_sd.id),
      c_dist AS (
        SELECT v.id, ct.s, ct.pcid,
          SUM(CAST((v.e - ct.ce) * (v.e - ct.ce) AS DECIMAL(18,6))) AS d
        FROM rcomp v JOIN c_cent ct ON v.i // 8 = ct.s AND v.i % 8 = ct.j
        GROUP BY v.id, ct.s, ct.pcid),
      c_codes AS (
        SELECT id, s, pcid AS code FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id, s
                      ORDER BY d, pcid) AS rn
          FROM c_dist) WHERE rn = 1),
      c_lut AS (
        SELECT q.id AS id1, ct.s, ct.pcid,
          SUM(CAST(q.e * ct.ce AS DECIMAL(18,6))) AS dot
        FROM comp q JOIN c_cent ct ON q.i // 8 = ct.s AND q.i % 8 = ct.j
        WHERE q.id < 10 GROUP BY q.id, ct.s, ct.pcid),
      c_adcs AS (
        SELECT qc.id1, a.id AS id2, qc.cdot + SUM(l.dot) AS adc
        FROM qcells qc
        JOIN assign a ON a.cid = qc.cid AND a.id <> qc.id1
        JOIN c_codes c ON c.id = a.id
        JOIN c_lut l ON l.id1 = qc.id1 AND l.s = c.s AND l.pcid = c.code
        GROUP BY qc.id1, a.id, qc.cdot),
      c_short AS (
        SELECT id1, id2 FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id1
                      ORDER BY adc DESC, id2) AS mrk
          FROM c_adcs) WHERE mrk <= 20),
      c_parts AS (
        SELECT s.id1, s.id2, a.e * b.e AS p,
               a.e * a.e AS a2, b.e * b.e AS b2
        FROM c_short s
        JOIN comp a ON a.id = s.id1
        JOIN comp b ON b.id = s.id2 AND a.i = b.i),
      c_cos AS (SELECT id1, id2, $cosSql AS cosine
                FROM c_parts GROUP BY id1, id2),
      c_top AS (
        SELECT id1, id2 FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id1
                      ORDER BY cosine DESC, id2) AS rk
          FROM c_cos) WHERE rk <= 3),
      u AS (
        SELECT 'ivf_int8' AS method, id1, id2 FROM a_top
        UNION ALL SELECT 'ivf_pq', id1, id2 FROM b_top
        UNION ALL SELECT 'ivf_pq_residual', id1, id2 FROM c_top)
      SELECT u.method, u.id1,
        CAST(SUM(CASE WHEN e.id2 IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
          / 3.0e0 AS recall
      FROM u LEFT JOIN exact3 e ON e.id1 = u.id1 AND e.id2 = u.id2
      GROUP BY u.method, u.id1
      ORDER BY u.method, u.id1"""))

  /** Multi-probe LSH ANN (Similarity.multiProbeTopK): queries probe
    * their own hyperplane bucket plus all b Hamming-1 neighbors and
    * re-rank the union by exact cosine — the recall knob that widens
    * ONE hash table (q52's) instead of building more. The probe join
    * is an equi-join on the bucket code; candidate volume follows
    * probed-bucket occupancy, never the corpus. */
  private val q162 = Q(
    "q162_multiprobe_lsh",
    (s, dir) => {
      import s.implicits._
      val all = vecs(s, dir)
      val planes = Similarity.hyperplanes(s, b = 6, d = 64)
      val buckets = Similarity.lshBuckets(all, planes)
      Similarity.multiProbeTopK(all, buckets, all.filter($"id" < 10),
          b = 6, k = 3)
        .orderBy($"qid", $"rank")
    },
    Some(s"""
      WITH $compSql,
      planes AS (
        SELECT p, i,
          CAST(${TextOps.h64Sql("(CAST(p AS VARCHAR) || '-' || CAST(i AS VARCHAR))")}
               % 2001 - 1000 AS DOUBLE) AS w
        FROM (SELECT unnest(generate_series(0, 5)) AS p) ps,
             (SELECT unnest(generate_series(0, 63)) AS i) ds),
      dots AS (
        SELECT c.id, pl.p,
          CAST(SUM(CAST(c.e * pl.w AS DECIMAL(18,6))) AS DOUBLE) AS dot
        FROM comp c JOIN planes pl ON c.i = pl.i
        GROUP BY c.id, pl.p),
      buckets AS (
        SELECT id, CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << p)
                            ELSE 0 END) AS BIGINT) AS bucket
        FROM dots GROUP BY id),
      probes AS (
        SELECT b.id AS qid,
          CASE WHEN j = -1 THEN bucket
               ELSE xor(bucket, (CAST(1 AS BIGINT) << j)) END AS probe
        FROM buckets b, (SELECT unnest(generate_series(-1, 5)) AS j) js
        WHERE b.id < 10),
      cands AS (
        SELECT DISTINCT p.qid, c.id AS nid
        FROM probes p JOIN buckets c
          ON c.bucket = p.probe AND c.id <> p.qid),
      parts AS (
        SELECT cd.qid, cd.nid, a.e * b.e AS p,
               a.e * a.e AS a2, b.e * b.e AS b2
        FROM cands cd
        JOIN comp a ON a.id = cd.qid
        JOIN comp b ON b.id = cd.nid AND a.i = b.i),
      cos AS (SELECT qid, nid, $cosSql AS cosine
              FROM parts GROUP BY qid, nid),
      ranked AS (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY cosine DESC, nid) AS INT) AS rank
        FROM cos)
      SELECT qid, nid, cosine, rank FROM ranked
      WHERE rank <= 3 ORDER BY qid, rank"""))

  /** Margin-based bitext mining (Artetxe & Schwenk '19, the
    * LASER/CCMatrix parallel-corpus recipe): a raw cosine threshold
    * over-accepts hub vectors that are close to EVERYTHING, so each
    * candidate pair (x, y) is scored by its cosine RELATIVE to both
    * ends' neighborhoods — margin = cos(x,y) / ((Σtop-k cos(x,·) +
    * Σtop-k cos(·,y)) / 2k) — and x keeps its best-margin y. Probe
    * batch: even ids < 40 play language A; odd ids play language B
    * (the corpus side). The batch broadcasts into the corpus scan
    * (the mining unit of work at scale — batches stream through, the
    * corpus is never shuffled); the per-pair sweep is the documented
    * exact baseline, with the ANN candidates of q52/q61 as the
    * drop-in scale path. Cosines are 6-decimal rounded before the
    * neighborhood sums (exact decimal Σ — order-free), so the margin
    * is a single deterministic double ratio on both engines. */
  private val q176 = Q(
    "q176_bitext_margin",
    (s, dir) => {
      import s.implicits._
      val k = 4
      val all = vecs(s, dir)
      val srcB = broadcast(all.filter($"id" % 2 === 0 && $"id" < 40)
        .select($"id".as("src_id"), $"emb".as("semb"), $"norm2".as("sn")))
      val tgt = all.filter($"id" % 2 === 1)
        .select($"id".as("tgt_id"), $"emb".as("temb"), $"norm2".as("tn"))
      val pairs = srcB.crossJoin(tgt)
        .select($"src_id", $"tgt_id",
          round(Similarity.dotExact("semb", "temb") /
            (sqrt($"sn") * sqrt($"tn")), 6)
            .cast("decimal(9,6)").as("cosr"))
      val wf = org.apache.spark.sql.expressions.Window
        .partitionBy($"src_id").orderBy($"cosr".desc, $"tgt_id".asc)
      val wb = org.apache.spark.sql.expressions.Window
        .partitionBy($"tgt_id").orderBy($"cosr".desc, $"src_id".asc)
      val fwd = pairs.withColumn("rf", row_number().over(wf))
        .filter($"rf" <= k).groupBy($"src_id")
        .agg(sum($"cosr").as("sum_f"))
      val bwd = pairs.withColumn("rb", row_number().over(wb))
        .filter($"rb" <= k).groupBy($"tgt_id")
        .agg(sum($"cosr").as("sum_b"))
      val scored = pairs.join(broadcast(fwd), Seq("src_id"))
        .join(bwd, Seq("tgt_id"))
        .select($"src_id", $"tgt_id", $"cosr",
          round($"cosr".cast("double") * (2 * k) /
            ($"sum_f" + $"sum_b").cast("double"), 6).as("margin"))
      val wbest = org.apache.spark.sql.expressions.Window
        .partitionBy($"src_id").orderBy($"margin".desc, $"tgt_id".asc)
      scored.withColumn("rk", row_number().over(wbest)).filter($"rk" === 1)
        .select($"src_id", $"tgt_id", $"cosr".cast("double").as("cosine"),
          $"margin", ($"margin" >= 1.0).as("accepted"))
        .orderBy($"src_id")
    },
    Some(s"""
      WITH $compSql,
      parts AS (
        SELECT a.id AS src_id, b.id AS tgt_id, a.e * b.e AS p,
               a.e * a.e AS a2, b.e * b.e AS b2
        FROM comp a JOIN comp b ON a.i = b.i
        WHERE a.id % 2 = 0 AND a.id < 40 AND b.id % 2 = 1),
      pairs AS (
        SELECT src_id, tgt_id,
               CAST(round($cosSql, 6) AS DECIMAL(9,6)) AS cosr
        FROM parts GROUP BY src_id, tgt_id),
      fwd AS (
        SELECT src_id, SUM(cosr) AS sum_f FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
                      ORDER BY cosr DESC, tgt_id) AS rf
          FROM pairs) WHERE rf <= 4 GROUP BY src_id),
      bwd AS (
        SELECT tgt_id, SUM(cosr) AS sum_b FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY tgt_id
                      ORDER BY cosr DESC, src_id) AS rb
          FROM pairs) WHERE rb <= 4 GROUP BY tgt_id),
      scored AS (
        SELECT p.src_id, p.tgt_id, p.cosr,
               round(CAST(p.cosr AS DOUBLE) * 8 /
                 CAST(f.sum_f + b.sum_b AS DOUBLE), 6) AS margin
        FROM pairs p JOIN fwd f ON p.src_id = f.src_id
        JOIN bwd b ON p.tgt_id = b.tgt_id),
      best AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
                    ORDER BY margin DESC, tgt_id) AS rk
        FROM scored)
      SELECT src_id, tgt_id, CAST(cosr AS DOUBLE) AS cosine, margin,
             margin >= 1.0 AS accepted
      FROM best WHERE rk = 1 ORDER BY src_id"""))

  /** Maximal marginal relevance (Carbonell & Goldstein '98): retrieval
    * over a near-duplicate-ridden corpus returns k copies of the same
    * answer; MMR re-picks greedily by λ·rel(q,d) − (1−λ)·max_sim(d,
    * already-picked), trading relevance against redundancy — the
    * diversity-aware cut between retrieval (q51) and dedup. Greedy is
    * inherently sequential in k, so the loop runs over the per-query
    * CANDIDATE frame (top-10, broadcast-sized), never the corpus: 4
    * picks = 3 joins against a ≤ k·|q| row set. Candidate cosines and
    * pairwise sims are exact-decimal, 6-rounded before the λ-blend, so
    * every argmax is a total order both engines walk identically; the
    * oracle unrolls the four picks as CTE stages. */
  private val q185 = Q(
    "q185_mmr_select",
    (s, dir) => {
      import s.implicits._
      val all = vecs(s, dir)
      val qs = all.filter($"id" < 5)
      // checkpoint the two frames every greedy step re-reads: without
      // this each iteration's plan re-runs the corpus sweep and the
      // pairwise-sim build (measured 12.5 s -> the loop is lineage
      // growth, not work — both frames are ≤ k·|q| rows)
      val cand = Similarity.bruteForceTopK(all, qs, 10)
        .select($"id1".as("qid"), $"id2".as("doc"),
          round($"cosine", 6).as("cosr"))
        .transform(graft.ops.Iterate.cut)
      val cd = cand.select($"qid", $"doc")
        .join(all.select($"id".as("doc"), $"emb", $"norm2"), Seq("doc"))
      val ca = cd.select($"qid", $"doc".as("d1"), $"emb".as("e1"),
        $"norm2".as("n1"))
      val cb = cd.select($"qid", $"doc".as("d2"), $"emb".as("e2"),
        $"norm2".as("n2"))
      val psim = ca.join(cb, Seq("qid")).filter($"d1" =!= $"d2")
        .select($"qid", $"d1", $"d2",
          round(Similarity.dotExact("e1", "e2") /
            (sqrt($"n1") * sqrt($"n2")), 6).as("sim"))
        .transform(graft.ops.Iterate.cut)
      // λ = 0.7 as exact integer weights (7·cos − 3·maxsim)/10 over the
      // DECIMAL(9,6) values: a double λ-blend can land exactly on a
      // half-ulp rounding boundary where the engines' round() split
      def blend(cos: org.apache.spark.sql.Column,
          maxsim: org.apache.spark.sql.Column) =
        ((lit(7) * cos.cast("decimal(9,6)") -
          lit(3) * maxsim.cast("decimal(9,6)")).cast("double") / lit(10.0))
      var selected = Relational.topOnePerGroup(cand,
          Seq($"qid"), Seq($"cosr".desc, $"doc".asc))
        .select($"qid", $"doc", lit(1L).as("pick_order"),
          blend($"cosr", lit(0.0)).as("mmr"))
      var remaining = cand.join(selected.select($"qid", $"doc"),
        Seq("qid", "doc"), "left_anti")
      for (step <- 2 to 4) {
        val ms = remaining
          .join(psim.select($"qid", $"d1".as("doc"), $"d2", $"sim"),
            Seq("qid", "doc"))
          .join(selected.select($"qid", $"doc".as("d2")), Seq("qid", "d2"))
          .groupBy($"qid", $"doc", $"cosr").agg(max($"sim").as("maxsim"))
        val pick = Relational.topOnePerGroup(
            ms.select($"qid", $"doc", blend($"cosr", $"maxsim").as("mmr")),
            Seq($"qid"), Seq($"mmr".desc, $"doc".asc))
          .withColumn("pick_order", lit(step.toLong))
        selected = selected.unionByName(
          pick.select($"qid", $"doc", $"pick_order", $"mmr"))
        remaining = remaining.join(pick.select($"qid", $"doc"),
          Seq("qid", "doc"), "left_anti")
      }
      selected.orderBy($"qid", $"pick_order")
    },
    Some(s"""
      WITH $compSql,
      parts AS (
        SELECT a.id AS qid, b.id AS doc, a.e * b.e AS p,
               a.e * a.e AS a2, b.e * b.e AS b2
        FROM comp a JOIN comp b ON a.i = b.i
        WHERE a.id < 5 AND b.id <> a.id),
      cosq AS (SELECT qid, doc, $cosSql AS cos
               FROM parts GROUP BY qid, doc),
      cand AS (
        SELECT qid, doc, round(cos, 6) AS cosr FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                      ORDER BY cos DESC, doc) AS rnk
          FROM cosq) WHERE rnk <= 10),
      pparts AS (
        SELECT c1.qid, c1.doc AS d1, c2.doc AS d2, x.e * y.e AS p,
               x.e * x.e AS a2, y.e * y.e AS b2
        FROM cand c1 JOIN cand c2 ON c1.qid = c2.qid AND c1.doc <> c2.doc
        JOIN comp x ON x.id = c1.doc
        JOIN comp y ON y.id = c2.doc AND x.i = y.i),
      psim AS (SELECT qid, d1, d2, round($cosSql, 6) AS sim
               FROM pparts GROUP BY qid, d1, d2),
      p1 AS (
        SELECT qid, doc, cosr,
          CAST(7 * CAST(cosr AS DECIMAL(9,6)) AS DOUBLE) /
            CAST(10 AS DOUBLE) AS mmr FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                      ORDER BY cosr DESC, doc) AS rn
          FROM cand) WHERE rn = 1),
      r2 AS (SELECT c.* FROM cand c LEFT JOIN p1
               ON c.qid = p1.qid AND c.doc = p1.doc
             WHERE p1.doc IS NULL),
      m2 AS (
        SELECT r.qid, r.doc, r.cosr, MAX(s.sim) AS maxsim
        FROM r2 r JOIN psim s ON s.qid = r.qid AND s.d1 = r.doc
        JOIN p1 ON p1.qid = s.qid AND p1.doc = s.d2
        GROUP BY r.qid, r.doc, r.cosr),
      p2 AS (
        SELECT qid, doc, cosr, mmr FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                      ORDER BY mmr DESC, doc) AS rn
          FROM (SELECT qid, doc, cosr,
                  CAST(7 * CAST(cosr AS DECIMAL(9,6)) -
                    3 * CAST(maxsim AS DECIMAL(9,6)) AS DOUBLE) /
                    CAST(10 AS DOUBLE) AS mmr
                FROM m2)) WHERE rn = 1),
      sel2 AS (SELECT qid, doc FROM p1 UNION ALL SELECT qid, doc FROM p2),
      r3 AS (SELECT c.* FROM cand c LEFT JOIN sel2
               ON c.qid = sel2.qid AND c.doc = sel2.doc
             WHERE sel2.doc IS NULL),
      m3 AS (
        SELECT r.qid, r.doc, r.cosr, MAX(s.sim) AS maxsim
        FROM r3 r JOIN psim s ON s.qid = r.qid AND s.d1 = r.doc
        JOIN sel2 ON sel2.qid = s.qid AND sel2.doc = s.d2
        GROUP BY r.qid, r.doc, r.cosr),
      p3 AS (
        SELECT qid, doc, cosr, mmr FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                      ORDER BY mmr DESC, doc) AS rn
          FROM (SELECT qid, doc, cosr,
                  CAST(7 * CAST(cosr AS DECIMAL(9,6)) -
                    3 * CAST(maxsim AS DECIMAL(9,6)) AS DOUBLE) /
                    CAST(10 AS DOUBLE) AS mmr
                FROM m3)) WHERE rn = 1),
      sel3 AS (SELECT qid, doc FROM sel2 UNION ALL SELECT qid, doc FROM p3),
      r4 AS (SELECT c.* FROM cand c LEFT JOIN sel3
               ON c.qid = sel3.qid AND c.doc = sel3.doc
             WHERE sel3.doc IS NULL),
      m4 AS (
        SELECT r.qid, r.doc, r.cosr, MAX(s.sim) AS maxsim
        FROM r4 r JOIN psim s ON s.qid = r.qid AND s.d1 = r.doc
        JOIN sel3 ON sel3.qid = s.qid AND sel3.doc = s.d2
        GROUP BY r.qid, r.doc, r.cosr),
      p4 AS (
        SELECT qid, doc, cosr, mmr FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                      ORDER BY mmr DESC, doc) AS rn
          FROM (SELECT qid, doc, cosr,
                  CAST(7 * CAST(cosr AS DECIMAL(9,6)) -
                    3 * CAST(maxsim AS DECIMAL(9,6)) AS DOUBLE) /
                    CAST(10 AS DOUBLE) AS mmr
                FROM m4)) WHERE rn = 1)
      SELECT qid, doc, CAST(1 AS BIGINT) AS pick_order, mmr FROM p1
      UNION ALL
      SELECT qid, doc, 2, mmr FROM p2
      UNION ALL
      SELECT qid, doc, 3, mmr FROM p3
      UNION ALL
      SELECT qid, doc, 4, mmr FROM p4
      ORDER BY qid, pick_order"""))

  /** Oracle chain for [[q213]]: unrolled greedy steps — each pick is a
    * scalar subquery, each distance stage the exact decimal fold. */
  private def kcenterSql(k: Int): String = {
    val b = new StringBuilder
    b ++= """
      p1 AS (SELECT MIN(vec_id) AS id FROM embeddings),
      sel1 AS (SELECT id FROM p1),
      d1 AS (SELECT x.id,
          CAST(SUM(CAST((x.e - c.e) * (x.e - c.e) AS DECIMAL(18,6)))
            AS DOUBLE) AS d
        FROM comp x JOIN comp c ON x.i = c.i AND c.id = (SELECT id FROM p1)
        GROUP BY x.id),
      m1 AS (SELECT id, d FROM d1)"""
    for (step <- 2 to k) {
      b ++= s""",
      p$step AS (SELECT id, d FROM m${step - 1}
        WHERE id NOT IN (SELECT id FROM sel${step - 1})
        ORDER BY d DESC, id LIMIT 1),
      sel$step AS (SELECT id FROM sel${step - 1}
        UNION ALL SELECT id FROM p$step)"""
      if (step < k) b ++= s""",
      d$step AS (SELECT x.id,
          CAST(SUM(CAST((x.e - c.e) * (x.e - c.e) AS DECIMAL(18,6)))
            AS DOUBLE) AS d
        FROM comp x
        JOIN comp c ON x.i = c.i AND c.id = (SELECT id FROM p$step)
        GROUP BY x.id),
      m$step AS (SELECT m.id, LEAST(m.d, dd.d) AS d
        FROM m${step - 1} m JOIN d$step dd ON m.id = dd.id)"""
    }
    b.toString
  }

  /** Greedy k-center coreset selection (Gonzalez '85 farthest-point
    * 2-approximation; Sener & Savarese ICLR '18 use exactly this as
    * the coreset selector for data-efficient training): seed with the
    * lowest-id vector, then repeatedly pick the point FARTHEST from
    * the selected set. The pick sequence's min-distance column is the
    * coverage-radius curve — the number a data-selection run reads to
    * choose its budget. The loop runs over PICKS, never the corpus:
    * the running min-distance frame updates per pick via ONE broadcast
    * of the single-row new center (least of two exact 6-decimal
    * quanta — no rounding boundary), and each argmax is a
    * TakeOrderedAndProject(1); localCheckpoint per pick cuts the
    * lineage (the q185 lesson). At 100 TB the same shape holds — the
    * corpus-sized frame is touched once per pick with a map-side
    * distance, k is small, and nothing ever pairs data×data. */
  private val q213 = Q(
    "q213_kcenter_coreset",
    (s, dir) => graft.ops.Iterate.scope {
      import s.implicits._
      val all = vecs(s, dir).select($"id", $"emb")
      val k = 5
      // the coverage frame, the picks union and the pick singleton each
      // keep ONE live round
      var pick = all.orderBy($"id".asc).limit(1).transform(graft.ops.Iterate.cut)
      var picks = graft.ops.Iterate.cut(pick.select($"id",
        lit(1L).as("pick_order"), lit(null).cast("double").as("min_dist2")))
      var mind = graft.ops.Iterate.cut(all
        .crossJoin(broadcast(pick.select($"emb".as("cemb"))))
        .select($"id", $"emb",
          Similarity.sqDistExact("emb", "cemb").as("d")))
      for (step <- 2 to k) {
        pick = graft.ops.Iterate.advance(pick, mind
          .join(picks.select($"id"), Seq("id"), "left_anti")
          .orderBy($"d".desc, $"id".asc).limit(1))
        picks = graft.ops.Iterate.advance(picks, picks.unionByName(pick.select(
          $"id", lit(step.toLong).as("pick_order"), $"d".as("min_dist2"))))
        if (step < k)
          mind = graft.ops.Iterate.advance(mind, mind
            .crossJoin(broadcast(pick.select($"emb".as("cemb"))))
            .select($"id", $"emb",
              least($"d", Similarity.sqDistExact("emb", "cemb")).as("d")))
      }
      picks.orderBy($"pick_order")
    },
    Some(s"""
      WITH $compSql,
      ${kcenterSql(5)}
      SELECT CAST(1 AS BIGINT) AS pick_order, id,
        CAST(NULL AS DOUBLE) AS min_dist2 FROM p1
      ${(2 to 5).map(st =>
        s"UNION ALL SELECT CAST($st AS BIGINT), id, d FROM p$st")
        .mkString("\n      ")}
      ORDER BY pick_order"""))

  /** Greedy facility-location selection (Cornuéjols '77; the
    * submodular sum-coverage objective Wei/Iyer/Bilmes '15 use for
    * speech/LM data subset selection): pick 4 representatives from a
    * 60-candidate pool maximizing Σ_x max(0, max_{c∈S} cos(x,c)) —
    * the third greedy data-selection objective beside MMR's
    * relevance-diversity (q185) and k-center's worst-case radius
    * (q213), with the classic (1−1/e) guarantee from submodularity.
    * The candidate pool comes from a cheaper pass at scale (here:
    * lowest ids), so the sims frame is corpus × pool via ONE broadcast
    * of the pool — never data×data; the greedy loop then runs over
    * PICKS: each step is a map-side gain clip, a pool-sized groupBy,
    * a TakeOrderedAndProject(1), and a single-row broadcast to update
    * the coverage frame. Gains sum clipped 6-decimal quanta in
    * decimal — boundary-free, so the greedy trajectory is
    * engine-deterministic. */
  private val q217 = Q(
    "q217_facility_location",
    (s, dir) => graft.ops.Iterate.scope {
      import s.implicits._
      val all = vecs(s, dir)
      val pool = all.filter($"id" < 60)
        .select($"id".as("cid"), $"emb".as("cemb"), $"norm2".as("cnorm2"))
      val sims = all.crossJoin(broadcast(pool))
        .select($"id".as("x"), $"cid",
          round(Similarity.dotExact("emb", "cemb") /
            (sqrt($"norm2") * sqrt($"cnorm2")), 6).as("sim"))
        .transform(graft.ops.Iterate.cut)
      // coverage, the picks union and the pick singleton keep one live
      // round each
      var pick: DataFrame = null
      var picks: DataFrame = null
      var cur: DataFrame = null
      for (step <- 1 to 4) {
        val base =
          if (cur == null) sims.withColumn("cur", lit(0.0))
          else sims.join(cur, Seq("x"))
        val cand =
          if (picks == null) base
          else base.join(picks.select($"cid"), Seq("cid"), "left_anti")
        pick = graft.ops.Iterate.advance(pick, cand.groupBy($"cid")
          .agg(sum(greatest($"sim" - $"cur", lit(0.0))
            .cast("decimal(18,6)")).as("g"))
          .orderBy($"g".desc, $"cid".asc).limit(1)
          .select($"cid", lit(step.toLong).as("pick_order"),
            $"g".cast("double").as("gain")))
        picks = graft.ops.Iterate.advance(picks,
          if (picks == null) pick else picks.unionByName(pick))
        val pickSims = sims
          .join(broadcast(pick.select($"cid")), Seq("cid"))
          .select($"x", $"sim")
        cur = graft.ops.Iterate.advance(cur,
          if (cur == null) pickSims.select($"x",
              greatest($"sim", lit(0.0)).as("cur"))
          else cur.join(pickSims, Seq("x"))
            .select($"x", greatest($"cur", $"sim").as("cur")))
      }
      picks.select($"pick_order", $"cid", $"gain").orderBy($"pick_order")
    },
    Some {
      val simsSql = s"""
      fparts AS (
        SELECT a.id AS x, b.id AS cid, a.e * b.e AS p,
               a.e * a.e AS a2, b.e * b.e AS b2
        FROM comp a JOIN comp b ON a.i = b.i AND b.id < 60),
      fsims AS (SELECT x, cid, round($cosSql, 6) AS sim
                FROM fparts GROUP BY x, cid)"""
      val b = new StringBuilder(simsSql)
      for (step <- 1 to 4) {
        val curJoin =
          if (step == 1) "SELECT s.cid, s.sim, CAST(0 AS DOUBLE) AS cur FROM fsims s"
          else s"SELECT s.cid, s.sim, c.cur FROM fsims s JOIN fc${step - 1} c ON s.x = c.x"
        val notSel =
          if (step == 1) ""
          else "WHERE s.cid NOT IN (" +
            (1 until step).map(j => s"SELECT cid FROM fp$j").mkString(" UNION ALL ") + ")"
        b ++= s""",
      fg$step AS (
        SELECT cid, SUM(CAST(GREATEST(sim - cur, 0) AS DECIMAL(18,6))) AS g
        FROM ($curJoin $notSel) GROUP BY cid),
      fp$step AS (SELECT cid, CAST(g AS DOUBLE) AS gain FROM fg$step
                  ORDER BY g DESC, cid LIMIT 1)"""
        if (step < 4) b ++= (
          if (step == 1) s""",
      fc1 AS (SELECT x, GREATEST(sim, 0) AS cur FROM fsims
              WHERE cid = (SELECT cid FROM fp1))"""
          else s""",
      fc$step AS (SELECT c.x, GREATEST(c.cur, s.sim) AS cur
                  FROM fc${step - 1} c JOIN fsims s ON s.x = c.x
                   AND s.cid = (SELECT cid FROM fp$step))""")
      }
      s"""
      WITH $compSql,
      ${b.toString}
      ${(1 to 4).map(st =>
        s"SELECT CAST($st AS BIGINT) AS pick_order, cid, gain FROM fp$st")
        .mkString("\n      UNION ALL ")}
      ORDER BY pick_order"""
    })

  def queries: Seq[Q] =
    Seq(q50, q51, q52, q53, q97, q98, q104, q106, q107, q109, q112, q121,
      q162, q176, q185, q213, q217)
}
