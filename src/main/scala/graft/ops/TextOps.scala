package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Text-analysis and deduplication operators for large-scale document
  * pipelines: tokenization, quality scoring, language-ID, fingerprinting,
  * exact dedup, MinHash+LSH, SimHash.
  *
  * These extend the engine beyond reference parity (the reference is a
  * climate ETL tool); the designs are the standard published ones
  * (Broder '97 MinHash/shingling, Charikar '02 SimHash, banded LSH from
  * Leskovec/Rajaraman/Ullman "Mining of Massive Datasets" ch. 3).
  *
  * Scale design:
  *  - everything is expressed with codegen'd built-ins (split, explode,
  *    md5, conv, bitwise ops) — no UDFs in the hot path;
  *  - per-document work (shingling, hashing) is map-side; the only
  *    shuffles are the groupBy(doc) signature reductions and the
  *    candidate-pair joins, whose width is #signatures, not #tokens;
  *  - LSH banding means the near-dup join is an equi-join on
  *    (band, signature) — at 100 TB this is the difference between a
  *    feasible shuffle and an O(n²) cross join. Skewed buckets (a
  *    signature shared by millions of docs) should be salted or capped
  *    with a count filter before the pair join.
  */
object TextOps {

  /** Deterministic 60-bit hash of a string, identical across engines:
    * the top 15 hex digits of md5, read as an integer. (Murmur/xxhash
    * built-ins differ between engines; md5 is specified everywhere.)
    * Computed by the native [[graft.plans.Md5Prefix60]] expression —
    * bit-identical to `conv(substring(md5(x), 1, 15), 16, 10)`
    * (OpsSpec pins the equivalence) without the per-row hex-string
    * allocation and conv re-parse of the built-in chain. */
  def h64(c: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(graft.plans.Md5Prefix60(
      org.apache.spark.sql.GraftSqlBridge.expression(c.cast("binary")), 0))

  /** The oracle twin of [[h64]] (DuckDB syntax). */
  def h64Sql(expr: String): String =
    s"CAST(('0x' || substr(md5($expr), 1, 15)) AS BIGINT)"

  /** Whitespace tokenization. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** (doc, token) rows with multiplicity from a `documents`-shaped
    * frame (doc_id, text) — the token-row input of [[qualityScore]],
    * [[simhash]], [[tfidf]] and Retrieval.bm25Index. */
  def tokenRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("doc"), explode(tokens(col("text"))).as("token"))

  /** Word w-shingles (w consecutive tokens joined by a space) —
    * Broder-style document shingling over an array column named
    * `tsCol`. Empty if the doc has < w tokens. */
  def shingles(tsCol: String, w: Int): Column = {
    // 0-based Spark array indexing; the guard keeps sequence() non-negative.
    val idxs = (0 until w).map(k => s"$tsCol[i + $k]").mkString(", ")
    when(size(col(tsCol)) >= w,
      expr(s"transform(sequence(0, size($tsCol) - $w), i -> concat_ws(' ', $idxs))"))
      .otherwise(array())
  }

  /** Second independent 60-bit hash from the same md5 digest (hex chars
    * 16..30) — one digest feeds the whole Kirsch-Mitzenmacher family. */
  def h64b(c: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(graft.plans.Md5Prefix60(
      org.apache.spark.sql.GraftSqlBridge.expression(c.cast("binary")), 15))

  /** The oracle twin of [[h64b]] (DuckDB syntax). */
  def h64bSql(expr: String): String =
    s"CAST(('0x' || substr(md5($expr), 16, 15)) AS BIGINT)"

  /** MinHash signatures: k min-hashes per document over its distinct
    * shingle set, from the Kirsch-Mitzenmacher double-hash family
    * g_j = h1 + j·(h2 mod p) — one md5 per shingle instead of k
    * (the digest dominates shingling cost at scale). Input:
    * (docCol, shingle) rows. Output: (doc, j, h).
    *
    * Deliberately explode + groupBy, NOT array higher-order functions:
    * the md5 stays inside whole-stage codegen (HOF lambdas are
    * interpreted CodegenFallback — measured 8× slower here), and partial
    * aggregation bounds the shuffle at |docs|·k rows regardless of
    * shingle count. */
  def minhash(shingleRows: DataFrame, doc: Column, shingle: Column, k: Int): DataFrame =
    shingleRows
      .select(doc.as("doc"), h64(shingle).as("h1"),
        (h64b(shingle) % 1000000007L).as("h2"))
      .withColumn("j", explode(sequence(lit(0), lit(k - 1))))
      .groupBy(col("doc"), col("j"))
      .agg(min(col("h1") + col("j") * col("h2")).as("h"))

  /** Band signatures from a minhash table (doc, j, h): group the k
    * hashes into bands of r, reduce each band to a signature (sum of its
    * minhashes — order-free, engine-identical). */
  def bandSignatures(mh: DataFrame, r: Int): DataFrame =
    mh.groupBy(col("doc"), (col("j") / r).cast("int").as("band"))
      .agg(sum(col("h")).as("sig"))

  /** Drop band signatures shared by more than `maxDocs` documents before
    * the pair join. A hot signature (boilerplate shared by millions of
    * docs) turns the candidate join quadratic in that bucket — the
    * classic LSH skew bomb at 100 TB — while carrying almost no
    * similarity information.
    *
    * Shape: groupBy → anti-join against the hot set, not a window
    * partitioned by (band, sig). The groupBy partial-aggregates map-side
    * and skips the per-partition sort a window needs; the hot set is
    * ≤ |bands|/maxDocs rows (boilerplate sigs are rare by construction),
    * so AQE converts the anti-join to broadcast at runtime — no forced
    * hint, in case an adversarial corpus makes it large. */
  def capHotBands(bands: DataFrame, maxDocs: Long): DataFrame = {
    val hot = bands.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxDocs)
      .select(col("band"), col("sig"))
    bands.join(hot, Seq("band", "sig"), "left_anti")
  }

  /** Banded-LSH candidate pairs: distinct (d1 < d2) pairs sharing any
    * band signature, with optional hot-bucket capping. */
  def lshCandidates(mh: DataFrame, r: Int, maxBucket: Option[Long] = None): DataFrame = {
    val bands0 = bandSignatures(mh, r)
    val bands = maxBucket.map(capHotBands(bands0, _)).getOrElse(bands0)
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("d1"), col("b.doc").as("d2"))
      .distinct()
  }

  /** Estimated Jaccard for candidate pairs: fraction of the k minhashes
    * that agree. */
  def estJaccard(cands: DataFrame, mh: DataFrame, k: Int): DataFrame =
    cands
      .join(mh.as("ma"), col("d1") === col("ma.doc"))
      .join(mh.as("mb"),
        col("d2") === col("mb.doc") && col("ma.j") === col("mb.j") &&
          col("ma.h") === col("mb.h"))
      .groupBy(col("d1"), col("d2"))
      .agg((count(lit(1)).cast("double") / k).as("est_jaccard"))

  /** 32-bit SimHash fingerprint (Charikar '02) over token rows
    * (doc, token) with multiplicity: per bit, sum ±1 contributions of
    * each token's hash bit; fingerprint packs the sign bits.
    *
    * One groupBy(doc) with `bits` conditional-sum columns — the per-bit
    * sums partial-aggregate map-side as a single wide row per doc, so the
    * shuffle carries |docs| rows, not |tokens|·bits exploded rows, and
    * there is no second shuffle for the sign-packing. */
  def simhash(tokenRows: DataFrame, doc: Column, token: Column, bits: Int = 32): DataFrame = {
    val th = tokenRows.select(doc.as("doc"), h64(token).as("th"))
    val bitSums = (0 until bits).map(b =>
      sum(when(expr(s"(th >> $b) & 1") === 1, 1L).otherwise(-1L)).as(s"bs$b"))
    val pack = (0 until bits).map(b =>
      when(col(s"bs$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    th.groupBy(col("doc"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc"), pack.as("simhash"))
  }

  /** Exact-duplicate groups by normalized content hash: one row per
    * distinct content, with the canonical (minimum) id and the copy
    * count — the hash-groupBy exact dedup. */
  def exactDupGroups(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("id"), md5(lower(trim(text)).cast("binary")).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("id")).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Exact n-gram (token-set) Jaccard for blocked candidate pairs:
    * candidates are restricted by a blocking key (e.g. source + length
    * band) so the pair join is an equi-join, never O(n²). Input rows:
    * (block, doc, token) distinct. */
  def blockedJaccard(tokenRows: DataFrame): DataFrame = {
    val sizes = tokenRows.groupBy(col("doc")).agg(count(lit(1)).as("sz"))
    val inter = tokenRows.as("a").join(tokenRows.as("b"),
        col("a.block") === col("b.block") && col("a.token") === col("b.token") &&
          col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("d1"), col("b.doc").as("d2"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.as("sa"), col("d1") === col("sa.doc"))
      .join(sizes.as("sb"), col("d2") === col("sb.doc"))
      .select(col("d1"), col("d2"),
        (col("i").cast("double") / (col("sa.sz") + col("sb.sz") - col("i")))
          .as("jaccard"))
  }

  /** Asymmetric containment over blocked token sets: for every in-block
    * pair, C = |A ∩ B| / min(|A|, |B|) — the subset-duplicate signal
    * symmetric Jaccard misses (a short document quoted whole inside a
    * long one scores J = |A|/|B| ≈ 0 but C = 1). Output: (d1, d2, i,
    * containment, subsumed) with `subsumed` the smaller-set doc (ties →
    * the higher id), the candidate a keep-longest policy drops.
    *
    * Same scale contract as [[blockedJaccard]]: candidate generation is
    * the block×token equi-join, never all-pairs — and because
    * containment pairs docs of very DIFFERENT lengths, the block key
    * must not band by length (use source/domain, or swap in the minhash
    * band join of [[Retrieval.incrementalLshCandidates]] for open-domain
    * corpora). */
  def blockedContainment(tokenRows: DataFrame): DataFrame = {
    val sizes = tokenRows.groupBy(col("doc")).agg(count(lit(1)).as("sz"))
    val inter = tokenRows.as("a").join(tokenRows.as("b"),
        col("a.block") === col("b.block") && col("a.token") === col("b.token") &&
          col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("d1"), col("b.doc").as("d2"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.as("sa"), col("d1") === col("sa.doc"))
      .join(sizes.as("sb"), col("d2") === col("sb.doc"))
      .select(col("d1"), col("d2"), col("i"),
        (col("i").cast("double") / least(col("sa.sz"), col("sb.sz")))
          .as("containment"),
        when(col("sa.sz") < col("sb.sz"), col("d1"))
          .otherwise(col("d2")).as("subsumed"))
  }

  /** Connected components of a block-partitioned edge set, in ONE
    * shuffle. Blocked candidate generation ([[blockedJaccard]]) only
    * ever pairs documents inside a block, so components cannot span
    * blocks — per-block union-find (mapGroups) replaces the iterative
    * label-propagation loop entirely: no driver loop, no checkpoints,
    * no O(diameter) rounds. At 100 TB this is the difference between
    * one mapGroups pass and ~8 full-graph shuffles.
    *
    * Precondition: every doc belongs to exactly one block (true for the
    * source#length-bucket blocking); use [[connectedComponents]] when
    * edges can cross blocks. Labels are the component minimum (union
    * keeps the smaller root), identical to the iterative result
    * (TextOpsSpec asserts parity). */
  def blockLocalComponents(edges: DataFrame, docBlocks: DataFrame,
      nodes: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val withBlock = edges.select(col("d1"), col("d2"))
      .join(docBlocks.select(col("doc").as("d1"), col("block")), Seq("d1"))
    val labeled = withBlock.select(col("block"), col("d1"), col("d2"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (_, a, b) =>
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        parent.keysIterator.map(n => (n, find(n))).toSeq.iterator
      }.toDF("node", "cluster")
    nodes.join(labeled, Seq("node"), "left")
      .select(col("node"), coalesce(col("cluster"), col("node")).as("cluster"))
  }

  /** Connected components over a near-duplicate edge list — the cluster
    * stage of a dedup pipeline (keep one canonical doc per component).
    * Iterative min-label propagation: label(v) ← min(label(v),
    * min(label(neighbors))) until fixpoint; the driver loop runs
    * O(diameter) rounds, each one join + one groupBy. Deterministic
    * (min is order-free). Near-dup components are tiny (diameter ≪ 10);
    * for adversarial billion-edge graphs switch to the large-star/
    * small-star formulation — the per-round plan is the same shape.
    * Inputs: edges (d1, d2) undirected, nodes (node). Output:
    * (node, cluster) where cluster = min node id in the component. */
  def connectedComponents(edges: DataFrame, nodes: DataFrame,
      maxIters: Int = 20): DataFrame = Iterate.scope {
    val sym = edges.select(col("d1").as("src"), col("d2").as("dst"))
      .unionByName(edges.select(col("d2").as("src"), col("d1").as("dst")))
      .distinct().cache()
    // Only edge-touched nodes participate in propagation: in a dedup
    // graph the vast majority of docs are singletons, and dragging them
    // through every round multiplies each iteration's shuffle for rows
    // that can never change. Singletons rejoin as their own cluster at
    // the end. Seeding with min(self, neighbors) also saves a full
    // round: a clique converges at the seed.
    // a cut truncates lineage each round — without it, the plan
    // (and Catalyst planning/codegen time) grows with the iteration
    // count, the classic iterative-Spark trap.
    var labels = Iterate.cut(sym
      .groupBy(col("src")).agg(min(col("dst")).as("nmin"))
      .select(col("src").as("node"),
        least(col("src"), col("nmin")).as("cluster")))
    // labels only ever decrease, so Σ(cluster) is strictly monotone until
    // the fixpoint — one cheap scalar per round instead of a change join.
    var prevSum = labels.agg(coalesce(sum(col("cluster")), lit(0L)))
      .head().getLong(0)
    var iter = 0
    var done = false
    while (!done && iter < maxIters) {
      val neighborMin = sym.join(labels, col("dst") === col("node"))
        .groupBy(col("src")).agg(min(col("cluster")).as("nmin"))
      labels = Iterate.advance(labels,
        labels.join(neighborMin, col("node") === col("src"), "left")
          .select(col("node"),
            least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("cluster")))
      val s = labels.agg(coalesce(sum(col("cluster")), lit(0L))).head().getLong(0)
      done = s == prevSum
      prevSum = s
      iter += 1
    }
    sym.unpersist()
    nodes.join(labels, Seq("node"), "left")
      .select(col("node"), coalesce(col("cluster"), col("node")).as("cluster"))
  }

  /** Connected components by alternating large-star/small-star
    * contraction (Kiveris et al. '14, "Connected Components in
    * MapReduce and Beyond") — the O(log²) -round sibling of
    * [[connectedComponents]]'s min-label propagation, which needs
    * O(diameter) rounds and loses badly on chain-shaped graphs (the
    * shifted-band dedup graph of q174 IS such a chain: length-adjacent
    * buckets link into paths). Each alternation:
    *
    *  - large-star: every node points its LARGER neighbors at the
    *    minimum of its closed neighborhood — long tails fold toward
    *    small ids across the whole graph at once;
    *  - small-star: canonical (hi → lo) edges regroup so each node's
    *    smaller neighbors and itself attach to the group minimum.
    *
    * The edge set monotonically contracts toward depth-1 stars rooted
    * at each component's minimum id; convergence is an exact
    * anti-join emptiness check (not a hash or sum that could alias),
    * and the final star edges ARE the labeling. Same contract as
    * [[connectedComponents]]: edges (d1, d2), nodes (node) →
    * (node, cluster = component min); singletons label themselves.
    * Lineage is truncated per alternation (localCheckpoint), the
    * iterative-Spark requirement. */
  def connectedComponentsStars(edges: DataFrame, nodes: DataFrame,
      maxIters: Int = 25): DataFrame = Iterate.scope {
    def canon(e: DataFrame): DataFrame =
      e.select(greatest(col("s"), col("d")).as("s"),
        least(col("s"), col("d")).as("d"))
        .filter(col("s") =!= col("d")).distinct()
    def sig(e: DataFrame): (Long, Long, Long) = {
      val r = e.agg(count(lit(1)), coalesce(sum(col("s")), lit(0L)),
        coalesce(sum(col("d")), lit(0L))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    var cur = canon(edges.select(col("d1").as("s"), col("d2").as("d")))
      .transform(Iterate.cut)
    var curSig = sig(cur)
    var iter = 0
    var done = curSig._1 == 0L
    while (!done && iter < maxIters) {
      // large-star over the symmetric view: m(v) = min(Γ(v) ∪ {v});
      // emit (u, m(v)) for u ∈ Γ(v), u > v
      val sym = cur.unionByName(cur.select(col("d").as("s"), col("s").as("d")))
      val mins = sym.groupBy(col("s"))
        .agg(least(min(col("d")), first(col("s"))).as("m"))
      val large = canon(sym.join(mins, Seq("s"))
        .filter(col("d") > col("s"))
        .select(col("d").as("s"), col("m").as("d")))
      // small-star over canonical hi -> lo edges: per hub h,
      // m = min(N(h)); attach h and its other small neighbors to m
      val sMins = large.groupBy(col("s")).agg(min(col("d")).as("m"))
      val withM = large.join(sMins, Seq("s"))
      // Iterate.cut, not bare localCheckpoint: `next` becomes `cur`
      // for the next alternation's joins, so an unclamped size
      // estimate would compound across rounds (the r13 BigInteger
      // stall class — see Iterate.scala)
      val next = Iterate.cut(canon(
        withM.filter(col("d") =!= col("m"))
          .select(col("d").as("s"), col("m").as("d"))
          .unionByName(withM.select(col("s"), col("m").as("d")))))
      // cheap monotone pre-check (one aggregate on the checkpointed
      // edge frame); only a stable (count, Σs, Σd) triple pays for the
      // EXACT set-equality confirmation — correctness never rides on
      // the triple alone
      val nextSig = sig(next)
      done = nextSig == curSig &&
        next.join(cur, Seq("s", "d"), "left_anti").isEmpty &&
        cur.join(next, Seq("s", "d"), "left_anti").isEmpty
      // the convergence anti-joins above are the last reads of the
      // superseded round — release its blocks only AFTER them
      // (Iterate.advance would free them before the set-equality check)
      Iterate.release(cur)
      curSig = nextSig
      cur = next
      iter += 1
    }
    // Unlike min-label propagation (where a stale label is merely
    // non-minimal), this variant reads labels straight off the edge
    // frame — a partially contracted edge set would yield silently
    // INCONSISTENT labels. Non-convergence is therefore a hard error,
    // not a degraded answer. 25 alternations covers > 2^25-node
    // components under the O(log²) bound; hitting it means the input
    // is malformed or maxIters was lowered past the graph's size.
    if (!done)
      throw new IllegalStateException(
        s"connectedComponentsStars did not converge in $maxIters " +
          "alternations; labels off a partially contracted edge set " +
          "would be inconsistent — raise maxIters")
    // converged: every edge is (member, component-min)
    nodes.join(cur.select(col("s").as("node"), col("d").as("cluster")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("cluster"), col("node")).as("cluster"))
  }

  /** Incremental connected components for the daily-ingest contract
    * (r9 verdict, Next #8): merge one delivery's edges into a FROZEN
    * labeling without recomputing the world. The standard contraction
    * argument makes this exact, not approximate:
    *
    *  1. CONTRACT — every old component is one super-node named by its
    *     frozen label (= the component's min node id); each new edge's
    *     endpoints map to their super-node (nodes the frozen table has
    *     never seen are their own super-node). Self-loops drop. The
    *     contracted graph is DELIVERY-sized: only components the batch
    *     actually touches appear in it.
    *  2. SOLVE — min-label components over the contracted graph. A
    *     contracted component's min super-node id IS the merged
    *     component's global min node id (each super-node already names
    *     its old component's min; new nodes carry their own id), so
    *     the contracted solution produces exactly the labels a
    *     from-scratch run over old ∪ new edges would.
    *  3. RELABEL — one broadcast join of the node-sized label table
    *     against the delivery-sized (super → merged-label) map;
    *     untouched components coalesce to their frozen label and never
    *     shuffle anywhere.
    *
    * Per-batch cost therefore follows the DELIVERY size (the q139
    * incremental-dedup contract): the corpus-sized frame appears only
    * in the final map-side relabel. Inputs: `labels`(node, cluster) —
    * yesterday's labeling, cluster = component min, singletons labeled
    * self; `newEdges`(d1, d2) undirected. Output: (node, cluster) over
    * old nodes ∪ the delivery's nodes — batch-equivalent to
    * [[connectedComponents]] on the union graph (q223 proves it
    * against the from-scratch oracle). */
  def connectedComponentsIncremental(labels: DataFrame,
      newEdges: DataFrame, maxIters: Int = 20): DataFrame = Iterate.scope {
    val l1 = labels.select(col("node").as("d1"), col("cluster").as("__s1"))
    val l2 = labels.select(col("node").as("d2"), col("cluster").as("__s2"))
    val contracted = newEdges
      .join(l1, Seq("d1"), "left")
      .join(l2, Seq("d2"), "left")
      .select(coalesce(col("__s1"), col("d1")).as("d1"),
        coalesce(col("__s2"), col("d2")).as("d2"))
      .filter(col("d1") =!= col("d2"))
      .transform(Iterate.cut)
    val supers = contracted.select(col("d1").as("node"))
      .unionByName(contracted.select(col("d2").as("node"))).distinct()
    val superLabels = connectedComponents(contracted, supers, maxIters)
      .select(col("node").as("__super"), col("cluster").as("__comp"))
    // nodes the delivery introduces that the frozen table has never
    // seen join the label table as their own singleton component
    val newNodes = newEdges.select(col("d1").as("node"))
      .unionByName(newEdges.select(col("d2").as("node"))).distinct()
      .join(labels.select(col("node")), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("cluster"))
    // `contracted` stays checkpointed: the lazy super-node universe
    // inside superLabels' final join still reads it when the caller
    // materializes, so the scope keeps it
    labels.unionByName(newNodes)
      .join(broadcast(superLabels), col("cluster") === col("__super"), "left")
      .select(col("node"), coalesce(col("__comp"), col("cluster")).as("cluster"))
  }

  /** Variable-length repeated-substring spans (the Lee et al. '22
    * "Deduplicating Training Data Makes Language Models Better"
    * modality — remove every substring of ≥ some length that occurs
    * more than once in the corpus), computed by the bounded
    * anchor-and-merge construction instead of a suffix array:
    *
    *  1. ANCHOR: every w-token window is content-hashed ([[h64]]) and
    *     windows whose hash occurs ≥ 2 times corpus-wide (across docs
    *     OR within one — self-repetition counts, as in the paper) are
    *     the duplicated anchors;
    *  2. MERGE: per doc, duplicated anchors at gap ≤ w union into
    *     spans — a repeated substring of L ≥ w tokens appears as
    *     L−w+1 consecutive duplicated anchors and lands inside one
    *     span.
    *
    * The contract is TOKEN COVERAGE, not per-span certification:
    * every token inside a returned span is covered by at least one
    * duplicated w-window (gap ≤ w merging leaves no coverage hole
    * between anchors), which is exactly the Lee et al. removal
    * criterion — delete tokens that sit in any duplicated window.
    * Because merging admits gaps up to w, a single span MAY bridge
    * two distinct nearby repeats: `span_len` is the length of the
    * covered region, not necessarily of one maximal repeat, and the
    * w-windows strictly between two bridged anchors are not
    * themselves certified duplicated. Repeats SHORTER than w tokens
    * are invisible (w is the minimum-match length knob, the paper's
    * 50; choose it per corpus). Suffix-automaton exactness below w is
    * not worth its non-distributable construction.
    *
    * Scale shape: anchors are a map-side explode (|tokens| rows of
    * (doc, pos, hash)), the multiplicity filter is one hash-keyed
    * groupBy join, and the merge is a per-doc ordered window
    * (lag + running sum — the gaps-and-islands form), never a
    * self-join. Output: (doc, span_start, span_end, span_len),
    * token-indexed, 0-based inclusive. */
  def repeatedSpans(df: DataFrame, doc: Column, text: Column,
      w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = df.select(doc.as("doc"), tokens(text).as("ts"))
      .withColumn("n", size(col("ts")))
      .filter(col("n") >= w)
    val sp = t
      .select(col("doc"), explode(expr(s"sequence(0, n - $w)")).as("pos"),
        col("ts"))
      .select(col("doc"), col("pos").cast("long").as("pos"),
        h64(expr(s"array_join(slice(ts, CAST(pos + 1 AS INT), $w), ' ')"))
          .as("h"))
    val freq = sp.groupBy(col("h")).agg(count(lit(1)).as("occ"))
    val dup = sp.join(freq, Seq("h")).filter(col("occ") >= 2)
    val wOrd = Window.partitionBy(col("doc")).orderBy(col("pos"))
    val isl = dup
      .withColumn("prev", lag(col("pos"), 1).over(wOrd))
      .withColumn("island", sum(
        when(col("prev").isNull || col("pos") > col("prev") + w, 1L)
          .otherwise(0L)).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    isl.groupBy(col("doc"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(w - 1).cast("long")).as("span_end"))
      .select(col("doc"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"))
  }

  /** Size-gated exact-verify attach: join candidate pairs (d1, d2, …)
    * to the per-doc sorted token-set arrays `tsets` (doc, tset) as
    * ta/tb, choosing the JOIN STRATEGY by the measured size of the
    * token-set table. Below `thresholdBytes` the table broadcasts —
    * one copy per executor, the candidate frame never shuffles, the
    * right plan at bench scale. Above it (the 100 TB case: `tsets`
    * grows linearly with the corpus, so an unconditional broadcast
    * eventually exceeds Spark's broadcast limit and every executor's
    * memory, dying at index-build time) each doc's set ships through a
    * SHUFFLE hash join keyed on d1/d2 instead — memory is bounded by a
    * partition, not the corpus, and the query degrades to an exchange
    * rather than an OOM. Either way the verify stays a per-pair
    * array intersection: a token-ROW verify join would shuffle
    * |pairs|·|tokens| rows (~22M at sf0.1), which no gate setting may
    * reintroduce. The size estimate is one cheap aggregate over the
    * set table: Σ(per-doc array bytes + slack).
    *
    * EAGER-ACTION CAVEAT: the estimate executes `tsets` at CALL time
    * (a `.head()` during DataFrame construction), so merely BUILDING
    * the returned plan (explain, plan audits, test planOf) runs a full
    * scan+aggregate of the token-set table — and unless the caller
    * pre-materialized `tsets` (localCheckpoint/cache, as q182 does),
    * the gate's scan re-derives it from scratch and the verify join
    * derives it AGAIN. Callers MUST pass a checkpointed/cached
    * `tsets`; keeping the gate measured-not-guessed is the point (a
    * stats-based estimate would silently broadcast a corpus-sized
    * table when stats are stale — the exact failure this gate exists
    * to prevent).
    *
    * Output is identical on both paths — the gate is plan-only;
    * TextQuerySpec forces both and asserts frame equality, and
    * PlanAuditSpec pins broadcast-below / shuffle-above. */
  def attachTokenSets(cands: DataFrame, tsets: DataFrame,
      thresholdBytes: Long): DataFrame = {
    val est = tsets.agg(coalesce(sum(expr(
        "aggregate(tset, CAST(32 AS BIGINT), (a, x) -> a + length(x) + 24)")),
        lit(0L)))
      .head().getLong(0)
    val ta = tsets.select(col("doc").as("d1"), col("tset").as("ta"))
    val tb = tsets.select(col("doc").as("d2"), col("tset").as("tb"))
    if (est <= thresholdBytes)
      cands.join(broadcast(ta), Seq("d1")).join(broadcast(tb), Seq("d2"))
    else
      cands.join(ta.hint("shuffle_hash"), Seq("d1"))
        .join(tb.hint("shuffle_hash"), Seq("d2"))
  }

  /** Repetition metrics per document over n-gram rows (doc, s) WITH
    * multiplicity — the Gopher-style (Rae et al. '21, public report)
    * repetition filters: a doc whose n-grams are mostly repeats of a few
    * phrases is boilerplate/spam regardless of its token-level stats.
    *
    *  - `dup_frac`: fraction of n-gram occurrences that are repeats of
    *    an earlier occurrence (1 − distinct/total);
    *  - `top_frac`: fraction of occurrences claimed by the single most
    *    frequent n-gram.
    *
    * Two cascaded groupBys, both with map-side partial aggregation; the
    * shuffle carries one row per distinct (doc, n-gram), then one per
    * doc. All reported values are ratios of exact integer counts (one
    * IEEE division each), so they are bit-identical across engines. */
  def repetitionStats(ngramRows: DataFrame): DataFrame =
    ngramRows.groupBy(col("doc"), col("s")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc"))
      .agg(sum(col("c")).as("n_ngrams"), count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_c"))
      .select(col("doc"), col("n_ngrams"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_ngrams"))
          .as("dup_frac"),
        (col("top_c").cast("double") / col("n_ngrams")).as("top_frac"))

  /** Greedy contiguous sequence packing: walk each source's documents in
    * doc_id order and append to the current training sequence while the
    * token budget holds, else start a new sequence — the deterministic
    * packing step that turns a filtered corpus into fixed-budget LM
    * training rows. A document longer than the budget gets a sequence of
    * its own (never split). Output: (source, doc_id, n_tokens, seq_id,
    * fill_after) with seq_id numbered per source from 0.
    *
    * The fold is inherently sequential per source, so it runs as one
    * mapGroups pass (the sessionize shape): state is two longs, and the
    * shuffle carries (source, doc_id, n_tokens) — 16 bytes of payload
    * per doc, not the text. At 100 TB the packing key would be
    * (source, date-shard) to bound group size; the operator is
    * agnostic to what the grouping column contains. */
  def packSequences(docs: DataFrame, budget: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (src, it) =>
        val sorted = it.toSeq.sortBy(_._2)
        var fill = 0L
        var seq = -1L
        sorted.iterator.map { case (_, id, n) =>
          if (seq < 0L || fill + n > budget) { seq += 1; fill = n }
          else fill += n
          (src, id, n, seq, fill)
        }
      }
      .toDF("source", "doc_id", "n_tokens", "seq_id", "fill_after")
  }

  /** TF-IDF scores from token rows (doc, token) with multiplicity:
    * tf·ln(N/df), rounded to 6 decimals (ln is libm-dependent in the
    * last ulp; rounding is the same documented contract as the
    * transcendental scalar family, and ranking happens on the rounded
    * value so order is engine-identical too).
    *
    * tf and df partial-aggregate map-side; df and the document count are
    * broadcast back, so the only full shuffle carries one row per
    * distinct (doc, token). */
  def tfidf(tokenRows: DataFrame): DataFrame = {
    val tf = tokenRows.groupBy(col("doc"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = tokenRows.select(col("doc")).distinct()
      .agg(count(lit(1)).cast("double").as("n_docs"))
    tf.join(broadcast(dfreq), Seq("token"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc"), col("token"),
        round(col("tf") * log(col("n_docs") / col("df")), 6).as("tfidf"))
  }

  /** Train/test contamination: for every (test doc, train doc) pair,
    * the number of distinct w-grams they share and the fraction of the
    * test doc's w-grams that overlap. Inputs are distinct hashed n-gram
    * rows (doc, h) per side. The pair join is an equi-join on the
    * 60-bit n-gram hash; `maxPostings` drops n-grams present in more
    * docs than that (across both sides) first — a boilerplate phrase
    * shared by half the corpus would otherwise make the join quadratic
    * while signalling nothing about targeted leakage (same skew guard
    * as [[capHotBands]]). */
  def contamination(testRows: DataFrame, trainRows: DataFrame,
      maxPostings: Long): DataFrame = {
    val postings = testRows.unionByName(trainRows)
      .groupBy(col("h")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxPostings).select(col("h"))
    val t = testRows.join(postings, Seq("h"))
    val r = trainRows.join(postings, Seq("h"))
    val testSz = testRows.groupBy(col("doc")).agg(count(lit(1)).as("test_n"))
    t.select(col("doc").as("test_doc"), col("h"))
      .join(r.select(col("doc").as("train_doc"), col("h")), Seq("h"))
      .groupBy(col("test_doc"), col("train_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .join(testSz.select(col("doc").as("test_doc"), col("test_n")), Seq("test_doc"))
      .select(col("test_doc"), col("train_doc"), col("n_shared"),
        (col("n_shared").cast("double") / col("test_n")).as("test_frac"))
  }

  /** Quality-score components per document from token rows with
    * multiplicity: token count, stopword ratio, mean token length — the
    * length/stopword heuristics of web-scale corpus filtering. */
  def qualityScore(tokenRows: DataFrame, stopwords: Seq[String]): DataFrame =
    tokenRows
      .groupBy(col("doc"))
      .agg(
        count(lit(1)).as("n_tokens"),
        Exact.dsum(length(col("token")).cast("double")).as("char_sum"),
        sum(when(col("token").isin(stopwords: _*), 1L).otherwise(0L)).as("n_stop"))
      .select(col("doc"), col("n_tokens"),
        (col("char_sum") / col("n_tokens")).as("mean_token_len"),
        (col("n_stop").cast("double") / col("n_tokens")).as("stop_ratio"))

  /** Corpus keep/drop decisions — the q63 pipeline as a reusable stage:
    * token-count and mean-token-length quality gates, then keep-first
    * near-duplicate suppression (blocked Jaccard >= 0.9 drops the
    * higher id). Output: (doc_id, decision) with decision in
    * short | low_quality | duplicate | kept. `docs` needs columns
    * (doc_id, text, source, n_chars). */
  def corpusDecisions(docs: DataFrame): DataFrame = {
    val quality = qualityScore(tokenRows(docs), Seq("the", "a", "of", "and"))
    val tr = docs.select(col("doc_id").as("doc"),
      concat(col("source"), lit("#"),
        (col("n_chars") / 100).cast("int").cast("string")).as("block"),
      explode(array_distinct(tokens(col("text")))).as("token"))
    val dupLosers = blockedJaccard(tr)
      .filter(col("jaccard") >= 0.9)
      .select(col("d2").as("doc")).distinct()
    docs.select(col("doc_id"))
      .join(quality.withColumnRenamed("doc", "doc_id"), Seq("doc_id"))
      .join(dupLosers.select(col("doc").as("doc_id"), lit(1).as("is_dup")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("n_tokens") < 20, "short")
          .when(col("mean_token_len") < 3.5, "low_quality")
          .when(col("is_dup").isNotNull, "duplicate")
          .otherwise("kept").as("decision"))
  }

  /** DuckDB CTE chain ending in `decisions(doc_id, decision)` — the
    * oracle twin of [[corpusDecisions]] over any table/CTE carrying
    * (doc_id, text, source, n_chars); shared by q63, q76 and the
    * composed-pipeline oracle (q221), which runs it over the
    * normalized-dedup survivors instead of the raw corpus. */
  def corpusDecisionsSqlFrom(table: String): String = s"""
      tok AS (
        SELECT doc_id AS doc, unnest(string_split_regex(trim(text), '\\s+')) AS token
        FROM $table),
      quality AS (
        SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_tokens,
          CAST(SUM(CAST(CAST(length(token) AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE)
            / COUNT(*) AS mean_token_len
        FROM tok GROUP BY doc),
      tr AS (
        SELECT doc_id AS doc,
          source || '#' || CAST(CAST(n_chars // 100 AS INT) AS VARCHAR) AS block,
          unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS token
        FROM $table),
      sz AS (SELECT doc, CAST(COUNT(*) AS BIGINT) AS n FROM tr GROUP BY doc),
      inter AS (
        SELECT a.doc AS d1, b.doc AS d2, CAST(COUNT(*) AS BIGINT) AS i
        FROM tr a JOIN tr b ON a.block = b.block AND a.token = b.token
          AND a.doc < b.doc
        GROUP BY 1, 2),
      losers AS (
        SELECT DISTINCT d2 AS doc
        FROM inter JOIN sz sa ON d1 = sa.doc JOIN sz sb ON d2 = sb.doc
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.9),
      decisions AS (
        SELECT d.doc_id,
          CASE WHEN q.n_tokens < 20 THEN 'short'
               WHEN q.mean_token_len < 3.5e0 THEN 'low_quality'
               WHEN l.doc IS NOT NULL THEN 'duplicate'
               ELSE 'kept' END AS decision
        FROM $table d
        JOIN quality q ON d.doc_id = q.doc
        LEFT JOIN losers l ON d.doc_id = l.doc)"""

  /** [[corpusDecisionsSqlFrom]] over the raw `documents` table. */
  val corpusDecisionsSql: String = corpusDecisionsSqlFrom("documents")

  /** Line-level deduplication (the boilerplate scrub of web-corpus
    * pipelines: headers, nav bars, licence blocks): drop every line
    * whose exact text occurs in >= `maxDocFreq` distinct documents,
    * then reassemble each document from its surviving lines in order.
    * `lines`: (doc_id, line_no, line). Documents whose every line is
    * boilerplate disappear from the output — by design, like a
    * dedup-then-requalify pipeline stage.
    *
    * Scale: both shuffles key on the 64-bit line hash, never the raw
    * text — the document-frequency groupBy carries only (h64, doc_id)
    * and the anti join's build side only h64, so the corpus text rides
    * a shuffle exactly once (the unavoidable doc_id reassembly; the
    * anti-join probe side carries it as payload only until AQE
    * broadcasts the boilerplate set, the common case). 64 bits is
    * collision-safe here: a false positive needs two distinct lines
    * hashing together, and the cost is one dropped line, not a wrong
    * join. The anti join is deliberately left unhinted: how many lines
    * recur across documents is a property of the corpus (at
    * maxDocFreq=2 on real web data it is NOT tiny), so AQE picks
    * broadcast when the filtered set turns out small and a shuffled
    * anti join when it doesn't — a forced broadcast() would OOM the
    * driver on the latter. */
  def lineDedupe(lines: DataFrame, maxDocFreq: Int, sep: String = "\n"): DataFrame = {
    val keyed = lines.withColumn("__lh", h64(col("line")))
    val boiler = keyed
      .groupBy(col("__lh"))
      .agg(countDistinct(col("doc_id")).as("line_df"))
      .filter(col("line_df") >= maxDocFreq)
      .select(col("__lh"))
    keyed.join(boiler, Seq("__lh"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_lines"),
        concat_ws(sep, expr(
          "transform(array_sort(collect_list(struct(line_no, line))), x -> x.line)"))
          .as("clean_text"))
  }

  /** Rule-based line scrub — the jusText/RefinedWeb line-wise
    * boilerplate filter, the RULE sibling of the frequency-based
    * [[lineDedupe]]: a line is boilerplate by its own shape (too short
    * without terminal punctuation, digit-dominated, link-dominated),
    * no corpus statistics involved — so classification is PURE
    * map-side arithmetic; the only shuffle is the per-doc reassembly
    * groupBy. Input: (doc_id, line_no, lw: array<string>) — the
    * caller's line segmentation. Output: (doc_id, kept_lines,
    * dropped_lines, clean_text) with kept lines rejoined in order
    * (empty string when everything dropped).
    *
    * All three rules compare exact integer-count ratios (one IEEE
    * division each), engine-portable regexes only, and the
    * degenerate empty line (length 0) pins digit_ratio to 0 rather
    * than relying on either engine's NaN comparison order. */
  def lineRuleScrub(lines: DataFrame, minWords: Long = 3,
      digitMax: Double = 0.3, linkMax: Double = 0.5): DataFrame = {
    val line = array_join(col("lw"), " ")
    val nWords = size(col("lw")).cast("long")
    val nLink = size(expr("filter(lw, w -> w LIKE '%http%' OR w LIKE 'www.%')"))
      .cast("long")
    val endsPunct = element_at(col("lw"), -1).rlike("[.!?\"]$")
    val digitRatio = when(length(line) > 0,
      length(regexp_replace(line, "[^0-9]", "")).cast("double") /
        length(line).cast("double")).otherwise(lit(0.0))
    val linkFrac = nLink.cast("double") / nWords.cast("double")
    val dropLine = (nWords < minWords && !endsPunct) ||
      digitRatio > digitMax || linkFrac > linkMax
    lines.withColumn("__line", line).withColumn("__drop", dropLine)
      .groupBy(col("doc_id"))
      .agg(sum(when(!col("__drop"), 1L).otherwise(0L)).as("kept_lines"),
        sum(when(col("__drop"), 1L).otherwise(0L)).as("dropped_lines"),
        concat_ws(" ", expr(
          """transform(array_sort(collect_list(
             CASE WHEN NOT __drop THEN struct(line_no, __line) END)),
             x -> x.__line)""")).as("clean_text"))
  }

  /** Repeated-passage detection — the exact-substring-dedup shape of
    * Lee et al. '22 ("Deduplicating Training Data Makes Language
    * Models Better") at w-token shingle granularity: every w-token
    * span whose hash occurs in more than one document is a duplicated
    * passage, and each document reports how much of it is made of
    * such passages. Finer than document-level dedup (q46–q49, which
    * score whole documents) and different from [[lineDedupe]] (layout
    * lines): this catches quoted/boilerplate PROSE shared across
    * documents regardless of line structure.
    *
    * Scale: spans are generated map-side (token-array transform, no
    * explode-join), both shuffles key on the 64-bit span hash / the
    * doc id, and the span-frequency table never carries text. Output:
    * (doc, n_spans, n_dup, dup_frac) for every document with >= w
    * tokens; dup_frac is a pinned count/count double division. */
  def dupSpans(docs: DataFrame, doc: Column, text: Column, w: Int): DataFrame = {
    val spans = docs
      .select(doc.as("doc"), tokens(text).as("ts"))
      .select(col("doc"), explode(shingles("ts", w)).as("s"))
      .select(col("doc"), h64(col("s")).as("h"))
    val freq = spans.groupBy(col("h"))
      .agg(countDistinct(col("doc")).as("ndocs"))
    spans.join(freq, Seq("h"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        col("n_dup").cast("double") / col("n_spans").cast("double"))
  }

  /** Memorization-risk scoring: per-document exposure to HOT spans —
    * w-token shingles whose total corpus occurrence count (including
    * within-document repeats, unlike [[dupSpans]]' cross-document
    * ndocs) reaches `minFreq`. Sequences repeated many times in
    * training data are the ones a model memorizes verbatim (Lee et
    * al. '22, Carlini et al. '22); the per-doc hot fraction and peak
    * span frequency are the triage signals for clipping or
    * down-weighting boilerplate-heavy documents.
    *
    * Scale shape: one corpus pass explodes shingle hashes, the
    * frequency table is a map-side-combined groupBy on the hash, and
    * the join back rides the SAME hash partitioning the groupBy
    * produced — no second shuffle of the frequency side. Output:
    * (doc, n_spans, n_hot, hot_frac, max_freq). */
  def hotSpanExposure(docs: DataFrame, doc: Column, text: Column,
      w: Int, minFreq: Long): DataFrame = {
    val spans = docs
      .select(doc.as("doc"), tokens(text).as("ts"))
      .select(col("doc"), explode(shingles("ts", w)).as("s"))
      .select(col("doc"), h64(col("s")).as("h"))
    val freq = spans.groupBy(col("h")).agg(count(lit(1)).as("freq"))
    spans.join(freq, Seq("h"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("freq") >= minFreq, 1L).otherwise(0L)).as("n_hot"),
        max(col("freq")).as("max_freq"))
      .withColumn("hot_frac",
        col("n_hot").cast("double") / col("n_spans").cast("double"))
  }

  /** Static corpus-mixing weights: per-bucket counts, corpus shares,
    * and the sampling rate that flattens the mix toward a uniform
    * target — rate = min(1, (total/n_buckets)/cnt), i.e. buckets above
    * their uniform share are downsampled, the rest kept whole. The
    * bucket table is tiny, so the totals ride a broadcast cross join
    * instead of a single-partition global window. The FP chain is
    * pinned ((total/n)/cnt, all doubles) so any engine reproduces the
    * rates bit-for-bit. */
  def mixWeights(df: DataFrame, keys: Seq[Column]): DataFrame = {
    val counts = df.groupBy(keys: _*).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(
      sum(col("cnt")).cast("double").as("total"),
      count(lit(1)).cast("double").as("n_buckets"))
    counts.crossJoin(broadcast(totals))
      .withColumn("share", col("cnt").cast("double") / col("total"))
      .withColumn("sample_rate",
        least(lit(1.0), (col("total") / col("n_buckets")) / col("cnt").cast("double")))
      .drop("total", "n_buckets")
  }

  /** Exponent-smoothed corpus mixing (the multilingual
    * temperature-sampling recipe: sample probability ∝ share^α, the
    * α = 0.5 point of the usual 0.3–0.7 range): flattens the mix
    * toward rare sources without inverting the order. α is FIXED at
    * 0.5 because share^0.5 = sqrt(share), and IEEE sqrt is correctly
    * rounded in every engine — a general pow(x, α) carries
    * platform-dependent low bits and would break the cross-engine
    * hash contract. The smoothed weights are normalized through the
    * decimal-exact sum (Exact.dsum's rounding contract), so the
    * probabilities are bit-identical everywhere. Same shape as
    * [[mixWeights]]: one counts shuffle, a broadcast totals join.
    * Output: keys + cnt, share, w (= sqrt share), prob. */
  def smoothedMixWeights(df: DataFrame, keys: Seq[Column]): DataFrame = {
    val counts = df.groupBy(keys: _*).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).cast("double").as("total"))
    val w = counts.crossJoin(broadcast(total))
      .withColumn("share", col("cnt").cast("double") / col("total"))
      .withColumn("w", sqrt(col("share")))
    val z = w.agg(Exact.dsum(col("w")).as("z"))
    w.crossJoin(broadcast(z))
      .withColumn("prob", col("w") / col("z"))
      .drop("total", "z")
  }

  /** URL structure for crawl policies: scheme-authority host extraction
    * and a registered-domain-ish key (host minus one leading `www.`).
    * Pure regexp projections (RE2/Java-common constructs, map-only);
    * the crawl-frequency policies compose them with the deterministic
    * reservoir ([[Sampling.hashTopKPerStratum]], q125). */
  def urlHost(url: Column): Column =
    regexp_extract(url, "^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)

  /** Host minus one leading `www.` — the per-site cap key. */
  def urlDomain(url: Column): Column =
    regexp_replace(urlHost(url), "^www\\.", "")

  /** PII patterns for [[redactPii]] — deliberately restricted to
    * constructs Java regex (Spark) and RE2 (DuckDB, Go tooling)
    * interpret identically: ASCII classes, bounded repetition, `\b` —
    * no backreferences, no lookaround, so matching is engine-portable
    * AND guaranteed linear-time (a malicious document cannot
    * catastrophically backtrack a scrubbing pass that must read every
    * byte of a 100 TB corpus). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII redaction — the scrubbing pass of a training-data pipeline:
    * emails, NANP-style phone numbers and IPv4 addresses replaced by
    * typed placeholder tokens (email → phone → IP, so placeholders
    * never feed later patterns), with per-doc match counts as the
    * audit trail a compliance review needs. Entirely map-side
    * (codegen'd regexp exprs) — no shuffle at any scale. Output:
    * input columns + n_emails, n_phones, n_ips, redacted. */
  def redactPii(df: DataFrame, text: Column): DataFrame =
    df.withColumn("n_emails", regexp_count(text, lit(EmailRe)))
      .withColumn("n_phones", regexp_count(text, lit(PhoneRe)))
      .withColumn("n_ips", regexp_count(text, lit(Ipv4Re)))
      .withColumn("redacted",
        regexp_replace(regexp_replace(regexp_replace(text,
          EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"), Ipv4Re, "<IP>"))

  /** Canonical URL form — the normalization a crawl pipeline applies
    * before URL-level dedup, so trivially-distinct spellings of one
    * resource collapse to one fetch/one kept doc:
    * scheme and host lowercase; one leading `www.` dropped; the
    * scheme's default port (`:80`/`:443`) dropped; the fragment
    * dropped; tracking parameters (`utm_*`, `fbclid`, `gclid`)
    * removed with `?`/`&` separators re-tidied; trailing path slashes
    * trimmed (root stays `/`, an empty path becomes `/`). The path
    * and remaining query keep their case and order (both are
    * semantically significant). A string with no scheme://host
    * passes through unchanged — a crawl frontier drops such rows
    * rather than inventing a canonical form for them. Entirely
    * map-side regex — RE2/Java common subset like [[redactPii]], no
    * backtracking risk. */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostRaw =
      lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    val noWww = regexp_replace(hostRaw, "^www\\.", "")
    val host = when(scheme === "http", regexp_replace(noWww, ":80$", ""))
      .when(scheme === "https", regexp_replace(noWww, ":443$", ""))
      .otherwise(noWww)
    val rest =
      regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)", 1)
    val path = regexp_extract(rest, "^([^?]*)", 1)
    val pathTrim = regexp_replace(path, "(.)/+$", "$1")
    val path2 = when(pathTrim === "", lit("/")).otherwise(pathTrim)
    // pad with & so every param (first included) has a leading &, strip
    // tracking params each with their &, then trim the padding back off
    val qPad = concat(lit("&"),
      regexp_extract(rest, "\\?(.*)$", 1), lit("&"))
    val qClean = regexp_replace(qPad,
      "&(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&]*", "")
    val qTrim = regexp_replace(qClean, "^&+|&+$", "")
    when(hostRaw === "", url).otherwise(
      concat(scheme, lit("://"), host, path2,
        when(qTrim === "", lit("")).otherwise(concat(lit("?"), qTrim))))
  }

  /** Oracle twin of [[canonicalizeUrl]] (DuckDB syntax: RE2 `\1`
    * backreference, explicit `g` flags). */
  def canonicalizeUrlSql(u: String): String = {
    val scheme = s"lower(regexp_extract($u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    val hostRaw =
      s"lower(regexp_extract($u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1))"
    val noWww = s"regexp_replace($hostRaw, '^www\\.', '')"
    val host = s"""CASE WHEN $scheme = 'http'
        THEN regexp_replace($noWww, ':80$$', '')
      WHEN $scheme = 'https' THEN regexp_replace($noWww, ':443$$', '')
      ELSE $noWww END"""
    val rest =
      s"regexp_extract($u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)', 1)"
    val path = s"regexp_extract($rest, '^([^?]*)', 1)"
    val pathTrim = s"regexp_replace($path, '(.)/+$$', '\\1')"
    val path2 = s"CASE WHEN $pathTrim = '' THEN '/' ELSE $pathTrim END"
    val qPad = s"('&' || regexp_extract($rest, '\\?(.*)$$', 1) || '&')"
    val qClean = s"regexp_replace($qPad, " +
      "'&(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&]*', '', 'g')"
    val qTrim = s"regexp_replace($qClean, '^&+|&+$$', '', 'g')"
    s"""CASE WHEN $hostRaw = '' THEN $u ELSE
      ($scheme || '://' || $host || $path2 ||
        CASE WHEN $qTrim = '' THEN '' ELSE '?' || $qTrim END) END"""
  }

  /** Blocklist-lexicon filter stats (the C4 "bad words" gate: any hit
    * drops the document). Input: (doc, token) rows with multiplicity.
    * Output per doc: token count, blocklist hit count, distinct terms
    * hit, hit ratio, and the keep flag (zero hits).
    *
    * The lexicon compiles to an `InSet` literal inside whole-stage
    * codegen — no join, no broadcast table, no shuffle beyond the one
    * per-doc groupBy (map-side combined). A production list of tens of
    * thousands of terms stays an O(1) set probe per token. */
  def blocklistStats(tokenRows: DataFrame, words: Seq[String]): DataFrame = {
    val hit = lower(col("token")).isin(words: _*)
    tokenRows.groupBy(col("doc"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(hit, 1L).otherwise(0L)).as("n_hits"),
        countDistinct(when(hit, lower(col("token")))).as("n_distinct_hits"))
      .withColumn("hit_ratio",
        col("n_hits").cast("double") / col("n_tokens").cast("double"))
      .withColumn("keep", col("n_hits") === 0L)
  }

  /** Per-row (shuffle-free) twin of [[blocklistStats]] for streaming
    * maps: same five columns computed from the text column alone, so a
    * document stream can be gated stateless, one row at a time.
    * Value-identical to the batch aggregation (StreamBlocklistSpec). */
  def blocklistStatsRow(df: DataFrame, id: Column, text: Column,
      words: Seq[String]): DataFrame = {
    val wordArr = array(words.map(w => lit(w)): _*)
    df.select(id.as("doc"), tokens(text).as("__ts"))
      .withColumn("__words", wordArr)
      .select(col("doc"),
        size(col("__ts")).cast("long").as("n_tokens"),
        size(expr("filter(__ts, t -> array_contains(__words, lower(t)))"))
          .cast("long").as("n_hits"),
        size(array_distinct(expr(
          "transform(filter(__ts, t -> array_contains(__words, lower(t))), t -> lower(t))")))
          .cast("long").as("n_distinct_hits"))
      .withColumn("hit_ratio",
        col("n_hits").cast("double") / col("n_tokens").cast("double"))
      .withColumn("keep", col("n_hits") === 0L)
  }

  /** Unicode-lite text normalization for fuzzy-exact dedup: lowercase,
    * strip every non-alphanumeric/space character, collapse whitespace
    * runs, trim — the canonical form under which "Hello,  World!" and
    * "hello world" collide. Pure map-side column chain. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9\\s]", ""),
      "\\s+", " "))

  /** Oracle twin of [[normalizeText]] (DuckDB needs explicit 'g'). */
  def normalizeTextSql(e: String): String =
    s"trim(regexp_replace(regexp_replace(lower($e), " +
      s"'[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))"

  /** Per-document span-novelty against a FROZEN reference corpus: the
    * fraction of a document's distinct w-token spans that appear
    * nowhere in the reference — the "how much genuinely new text does
    * this batch add" signal (the complement of contamination/q81, at
    * span rather than document grain).
    *
    * `spans` / `refSpans`: (doc, h) rows (refSpans' doc is ignored).
    * Scale shape: the reference set reduces to distinct hashes once
    * (map-side combined), then one equi-join on the span hash; at
    * 100 TB the reference-hash store is the frozen index the daily
    * batch joins against — same contract as the incremental-dedup
    * family, and Bloom-prefiltering the join key is the standard
    * shrink when the reference dwarfs the batch. */
  def noveltyVsReference(spans: DataFrame, refSpans: DataFrame): DataFrame = {
    val ref = refSpans.select(col("h")).distinct()
      .withColumn("__inref", lit(1L))
    spans.select(col("doc"), col("h")).distinct()
      .join(ref, Seq("h"), "left")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__inref").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_spans").cast("double"))
  }

  /** The Gopher word-level quality rules (Rae et al. '21, "Scaling
    * Language Models: ... Gopher", Appendix A1.1 — the rule set
    * MassiveWeb introduced and C4/RefinedWeb descendants reuse):
    * word-count bounds, mean-word-length band, symbol-to-word ratio,
    * alphabetic-word fraction, and the ≥2-distinct-stopwords
    * requirement. Differs from [[qualityScore]] (free-form heuristic
    * scores for a learned downstream gate) in being the PUBLISHED
    * hard-threshold decision table — each rule is a named flag so a
    * corpus report can attribute removal volume per rule, and the
    * decision is the first failing rule in the paper's order.
    *
    * One explode + one groupBy(doc): every rule is an aggregate of
    * per-token predicates, so the whole table is a single
    * map-side-combined pass at any corpus size. Thresholds are the
    * paper's, parameterized only where the tiny test corpus needs a
    * scaled bound (`minWords`). */
  def gopherRules(docs: DataFrame, doc: Column, text: Column,
      minWords: Long = 50, maxWords: Long = 100000,
      stopwords: Seq[String] = Seq("the", "be", "to", "of", "and",
        "that", "have", "with")): DataFrame = {
    val toks = docs.select(doc.as("doc"), explode(tokens(text)).as("token"))
    toks.groupBy(col("doc"))
      .agg(
        count(lit(1)).as("n_words"),
        Exact.dsum(length(col("token")).cast("double")).as("__chars"),
        sum(when(col("token").contains("#") ||
          col("token").contains("..."), 1L).otherwise(0L)).as("__sym"),
        sum(when(col("token").rlike("[A-Za-z]"), 1L).otherwise(0L))
          .as("__alpha"),
        countDistinct(when(lower(col("token")).isin(stopwords: _*),
          lower(col("token")))).as("n_stop_hits"))
      .select(col("doc"), col("n_words"),
        (col("__chars") / col("n_words").cast("double")).as("mean_word_len"),
        (col("__sym").cast("double") / col("n_words").cast("double"))
          .as("symbol_ratio"),
        (col("__alpha").cast("double") / col("n_words").cast("double"))
          .as("alpha_frac"),
        col("n_stop_hits"))
      .withColumn("decision",
        when(col("n_words") < minWords || col("n_words") > maxWords,
          "word_count")
          .when(col("mean_word_len") < 3.0 || col("mean_word_len") > 10.0,
            "mean_word_length")
          .when(col("symbol_ratio") > 0.1, "symbol_ratio")
          .when(col("alpha_frac") < 0.8, "alpha_fraction")
          .when(col("n_stop_hits") < 2, "stopwords")
          .otherwise("kept"))
  }

  /** Row-level twin of [[gopherRules]] for streaming admission: the
    * same five statistics and the same first-failing-rule decision,
    * computed inside one Column expression over the document's own
    * token array — no explode, no shuffle, no state, so a streaming
    * gate scores each arriving doc within its micro-batch. Values are
    * identical to the batch aggregation (the batch path's decimal-
    * exact char sum is an integer sum of token lengths, replayed here
    * in long arithmetic; StreamGopherSpec pins the parity). */
  def gopherRulesRow(df: DataFrame, doc: Column, text: Column,
      minWords: Long = 50, maxWords: Long = 100000,
      stopwords: Seq[String] = Seq("the", "be", "to", "of", "and",
        "that", "have", "with")): DataFrame = {
    val stopArr = array(stopwords.map(lit): _*)
    df.select(doc.as("doc"), tokens(text).as("__ts"))
      .withColumn("__stops", stopArr)
      .select(col("doc"),
        size(col("__ts")).cast("long").as("n_words"),
        expr("aggregate(__ts, CAST(0 AS BIGINT), (acc, t) -> acc + length(t))")
          .as("__chars"),
        size(expr("filter(__ts, t -> instr(t, '#') > 0 " +
          "OR instr(t, '...') > 0)")).cast("long").as("__sym"),
        size(expr("filter(__ts, t -> t RLIKE '[A-Za-z]')")).cast("long")
          .as("__alpha"),
        size(array_distinct(expr(
          "filter(transform(__ts, t -> lower(t)), t -> array_contains(__stops, t))")))
          .cast("long").as("n_stop_hits"))
      .select(col("doc"), col("n_words"),
        (col("__chars").cast("double") / col("n_words").cast("double"))
          .as("mean_word_len"),
        (col("__sym").cast("double") / col("n_words").cast("double"))
          .as("symbol_ratio"),
        (col("__alpha").cast("double") / col("n_words").cast("double"))
          .as("alpha_frac"),
        col("n_stop_hits"))
      .withColumn("decision",
        when(col("n_words") < minWords || col("n_words") > maxWords,
          "word_count")
          .when(col("mean_word_len") < 3.0 || col("mean_word_len") > 10.0,
            "mean_word_length")
          .when(col("symbol_ratio") > 0.1, "symbol_ratio")
          .when(col("alpha_frac") < 0.8, "alpha_fraction")
          .when(col("n_stop_hits") < 2, "stopwords")
          .otherwise("kept"))
  }

  /** DuckDB twin of [[gopherRules]]: CTE chain over `table` ending in
    * `gopher(doc, n_words, mean_word_len, symbol_ratio, alpha_frac,
    * n_stop_hits, decision)`. */
  def gopherRulesSql(table: String, docExpr: String, textExpr: String,
      minWords: Long = 50, maxWords: Long = 100000,
      stopwords: Seq[String] = Seq("the", "be", "to", "of", "and",
        "that", "have", "with")): String = {
    val stopList = stopwords.map(w => s"'$w'").mkString(",")
    s"""
    gtok AS (
      SELECT $docExpr AS doc,
        unnest(string_split_regex(trim($textExpr), '\\s+')) AS token
      FROM $table),
    gagg AS (
      SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_words,
        ${Exact.sqlSum("CAST(length(token) AS DOUBLE)")}
          / CAST(COUNT(*) AS DOUBLE) AS mean_word_len,
        CAST(SUM(CASE WHEN token LIKE '%#%' OR token LIKE '%...%'
          THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          AS symbol_ratio,
        CAST(SUM(CASE WHEN regexp_matches(token, '[A-Za-z]')
          THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          AS alpha_frac,
        CAST(COUNT(DISTINCT CASE WHEN lower(token) IN ($stopList)
          THEN lower(token) END) AS BIGINT) AS n_stop_hits
      FROM gtok GROUP BY doc),
    gopher AS (
      SELECT *,
        CASE
          WHEN n_words < $minWords OR n_words > $maxWords THEN 'word_count'
          WHEN mean_word_len < 3.0e0 OR mean_word_len > 10.0e0
            THEN 'mean_word_length'
          WHEN symbol_ratio > 0.1e0 THEN 'symbol_ratio'
          WHEN alpha_frac < 0.8e0 THEN 'alpha_fraction'
          WHEN n_stop_hits < 2 THEN 'stopwords'
          ELSE 'kept' END AS decision
      FROM gagg)"""
  }
}
