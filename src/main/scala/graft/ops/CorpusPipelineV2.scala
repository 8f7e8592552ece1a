package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The composed corpus-construction pipeline: the individually
  * oracle-verified corpus stages chained as ONE declarative job, in the
  * order a production pretraining run applies them:
  *
  *   normalized dedup (q149)  fuzzy-exact collapse: lowercase /
  *                            punctuation-strip / whitespace-collapse,
  *                            md5 group, keep the min-id canonical
  *   → corpus build (q76)     quality gates + keep-first near-dup
  *                            suppression + deterministic hash sample
  *   → containment (q143)     asymmetric subset-dedup: a short doc
  *                            quoted whole inside a longer one scores
  *                            C = 1 where symmetric Jaccard ≈ 0 — the
  *                            subsumed side is dropped
  *   → line dedup (q99)       corpus-wide boilerplate line scrub
  *   → clustering (q62)       blocked-Jaccard near-dup components over
  *                            the CLEANED text
  *   → quality keep (q126)    longest document per cluster
  *   → grouped split (q150)   leakage-safe train/val/test: keyed on the
  *                            NORMALIZED content hash, so every
  *                            formatting variant of a document
  *                            co-travels into one split
  *   → chunk (q88)            32-token windows, stride 16
  *   → shard (q132)           per-SPLIT serpentine deal over the
  *                            counting-sort rank — 8 balanced shards
  *                            inside each split
  *
  * plus the two standing AUDITS a real run gates promotion on
  * ([[audits]]): the cross-split near-dup leakage tabulation (q151)
  * and the per-source PSI drift gate (q159) of the kept corpus against
  * the raw input — "did the cleaning pipeline silently reshape a
  * source's length distribution".
  *
  * Stage boundaries are DataFrame hand-offs with executor-side
  * materialization barriers at the three fan-out points (see [[cp]]) —
  * no driver round-trips, no loops, no collect. The scale tier times
  * the end-to-end cost (BENCH_DETAIL "composed_v4"). Every shuffle
  * keys on doc/hash/cluster/(split, len) ids; full text crosses the
  * wire only where a stage's semantics need the text itself (line
  * reassembly, chunking).
  *
  * Input `docs`: (doc_id, text, source, n_chars) — the documents
  * table. [[build]] output: one row per chunk,
  * (doc_id, chunk_id, chunk_len, chunk_hash, split, shard).
  * [[audits]] output: (check, key, value, pass) — small (cells +
  * sources)-sized frame.
  */
object CorpusPipelineV2 {

  private def blockOf(nChars: Column) =
    (nChars / 100).cast("int").cast("string")

  /** Stage-boundary materialization barrier. The v2 DAG is DEEP and its
    * stages each fan out internally (the containment/cluster self-joins
    * read their input twice, the shard rank reads the chunk frame
    * twice, the audits read the kept frame four times) — purely lazy
    * composition would multiply those fan-outs into ~20 recomputations
    * of the base scan chain. A production pipeline materializes stage
    * boundaries (that is what writing intermediate tables between
    * stages IS); localCheckpoint(true) is the in-session form: data
    * stays on executors, nothing round-trips to the driver.
    * `checkpoint = false` keeps the plan pure end to end so the plan
    * audit can SEE every stage's join shape (a checkpoint truncates
    * the visible plan at the barrier). */
  private def cp(df: DataFrame, checkpoint: Boolean): DataFrame =
    if (checkpoint) Iterate.cut(df) else df

  /** The intermediate stage frames of [[keptWithSplit]], exposed so the
    * composed-pipeline oracle row (q221) can count each stage's
    * survivors without re-deriving the DAG per count. `kept` is the
    * stage-7 output every downstream consumer reads. */
  final case class V2Stages(uniq: DataFrame, sampled: DataFrame,
      unquoted: DataFrame, cleaned: DataFrame, clustered: DataFrame,
      kept: DataFrame)

  /** Stages 1–7: the document-level pipeline, shared by [[build]] and
    * [[audits]]. Output: (doc_id, source, clean_text, n_chars, split)
    * — one row per KEPT document. */
  def keptWithSplit(docs: DataFrame, checkpoint: Boolean): DataFrame =
    Iterate.scope(stages(docs, checkpoint).kept)

  /** Stages 1–7 with every stage boundary exposed (see [[V2Stages]]).
    * Only `sampled` and `cleaned` are barrier points ([[cp]]); counting
    * the others re-derives at most one stage from its nearest
    * barrier. */
  def stages(docs: DataFrame, checkpoint: Boolean): V2Stages = Iterate.scope {
    // stage 0/1 — normalized exact dedup (q149): the cheap collapse
    // runs FIRST so every later stage (quality gates, token joins,
    // minhash) pays for one copy of each formatting-variant group
    val withH = docs.select(col("doc_id"), col("text"), col("source"),
      col("n_chars"),
      md5(TextOps.normalizeText(col("text")).cast("binary")).as("norm_hash"))
    val canon = withH.groupBy(col("norm_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
    val uniq = withH.join(canon, Seq("norm_hash", "doc_id"))

    // stage 2 — corpus build (q76): quality gates, keep-first near-dup
    // suppression, deterministic 50% hash sample (map-side predicate)
    val kept = TextOps.corpusDecisions(uniq)
      .filter(col("decision") === "kept").select(col("doc_id"))
    val sampled = cp(
      Sampling.hashRateSample(uniq.join(kept, Seq("doc_id")),
        col("doc_id").cast("string"), num = 500, den = 1000),
      checkpoint)

    // stage 3 — containment dedup (q143): source-blocked (containment
    // pairs docs of very different LENGTHS, so the block key must not
    // band by length), C >= 0.9 drops the subsumed (shorter) side
    val ctok = sampled.select(col("doc_id").as("doc"),
      col("source").as("block"),
      explode(array_distinct(TextOps.tokens(col("text")))).as("token"))
    val subsumed = TextOps.blockedContainment(ctok)
      .filter(col("containment") >= 0.9)
      .select(col("subsumed").as("doc_id")).distinct()
    // barrier: unquoted fans out twice below (the line explode AND the
    // source join-back), and each re-derivation would repeat the
    // containment self-join — the most expensive kernel of stages 1–4
    val unquoted = cp(sampled.join(subsumed, Seq("doc_id"), "left_anti"),
      checkpoint)

    // stage 4 — line dedup (q99): 10-word lines cut map-side, lines in
    // >= 2 distinct docs dropped corpus-wide, survivors reassembled
    val lines = unquoted
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(0, (size(words) - 1) div 10),
           n -> array_join(slice(words, n * 10 + 1, 10), ' '))"""))
        .as(Seq("line_no", "line")))
    val cleaned = cp(
      TextOps.lineDedupe(lines, maxDocFreq = 2, sep = " ")
        .join(unquoted.select(col("doc_id"), col("source")), Seq("doc_id"))
        .withColumn("n_chars", length(col("clean_text")).cast("long")),
      checkpoint)

    // stage 5 — near-dup clustering (q62) over the CLEANED text
    val tr = cleaned.select(col("doc_id").as("doc"),
      concat(col("source"), lit("#"), blockOf(col("n_chars"))).as("block"),
      explode(array_distinct(TextOps.tokens(col("clean_text")))).as("token"))
    val edges = TextOps.blockedJaccard(tr)
      .filter(col("jaccard") >= 0.9)
      .select(col("d1"), col("d2"))
    val docBlocks = cleaned.select(col("doc_id").as("doc"),
      concat(col("source"), lit("#"), blockOf(col("n_chars"))).as("block"))
    val clustered = TextOps.blockLocalComponents(edges, docBlocks,
        cleaned.select(col("doc_id").as("node")))
      .select(col("node").as("doc_id"), col("cluster"))

    // stage 6 — quality-priority keep (q126): longest doc per cluster
    val sized = clustered.join(
      cleaned.select(col("doc_id"), col("source"), col("n_chars"),
        col("clean_text")),
      Seq("doc_id"))
    val keepers = Relational.topOnePerGroup(sized, Seq(col("cluster")),
      Seq(col("n_chars").desc, col("doc_id").asc))

    // stage 7 — leakage-safe grouped split (q150): keyed on NORMALIZED
    // content, never the row id — a map-side projection, and the only
    // split rule under which fuzzy-exact duplicates provably co-travel
    val keptSplit = keepers.select(col("doc_id"), col("source"),
      col("clean_text"), col("n_chars"),
      Sampling.hashSplit(TextOps.normalizeText(col("clean_text")),
        den = 10, train = 8, valSlots = 1).as("split"))
    V2Stages(uniq, sampled, unquoted, cleaned, clustered, keptSplit)
  }

  /** Stages 1–9: chunk + per-split serpentine shards over the kept
    * documents. One declarative DAG; the shard rank reuses q132's
    * counting-sort form (histogram-sized broadcast offsets + per-bucket
    * windows — the corpus-sized frame never sorts in one partition),
    * partitioned by split so each split carries 8 balanced shards. */
  def build(docs: DataFrame, checkpoint: Boolean = true): DataFrame =
    Iterate.scope(buildFromKept(cp(keptWithSplit(docs, checkpoint), checkpoint)))

  /** Stages 8–9 over an already-materialized [[keptWithSplit]] frame —
    * callers that also run [[auditsFromKept]] (the gated compositions,
    * the q221 summary) materialize the document-level DAG
    * ONCE and feed both, instead of paying stages 1–7 twice. */
  def buildFromKept(kept: DataFrame): DataFrame = {
    val chunks = kept
      .select(col("doc_id"), col("split"),
        TextOps.tokens(col("clean_text")).as("ts"))
      .withColumn("n", size(col("ts")))
      .filter(col("n") >= 1)
      .select(col("doc_id"), col("split"), col("ts"),
        explode(expr("sequence(0, (n - 1) div 16)")).as("chunk_id"))
      .select(col("doc_id"), col("split"),
        col("chunk_id").cast("int").as("chunk_id"),
        expr("slice(ts, CAST(chunk_id * 16 + 1 AS INT), 32)").as("chunk"))
      .select(col("doc_id"), col("split"), col("chunk_id"),
        size(col("chunk")).as("chunk_len"),
        TextOps.h64(array_join(col("chunk"), " ")).as("chunk_hash"))
    // per-split counting-sort rank: offsets per (split, len) bucket —
    // a histogram-sized window, broadcast back into the chunk frame
    val tagged = chunks.withColumn("__b", col("chunk_len"))
    val hist = tagged.groupBy(col("split"), col("__b"))
      .agg(count(lit(1)).as("__n"))
    val histOrd = Window.partitionBy(col("split")).orderBy(col("__b").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = hist.select(col("split"), col("__b"),
      coalesce(sum(col("__n")).over(histOrd), lit(0L)).as("__off"))
    val inBucket = Window.partitionBy(col("split"), col("__b"))
      .orderBy(col("doc_id").asc, col("chunk_id").asc)
    tagged.join(broadcast(offsets), Seq("split", "__b"))
      .withColumn("__rnk", col("__off") + row_number().over(inBucket))
      .withColumn("shard", Shard.serpentineShard(col("__rnk"), 8).cast("int"))
      .drop("__b", "__off", "__rnk")
  }

  /** The two standing audit gates over the SAME document-level DAG:
    *
    *  - `split_leakage` (q151): MinHash-LSH candidate pairs (est.
    *    Jaccard ≥ 0.5) over the kept documents' cleaned text, tabulated
    *    by the split assignment of each side — cross-split cells are
    *    the contamination the grouped split could not prevent; pass =
    *    the cell is train↔train/val↔val/test↔test (within-split pairs
    *    are residual dedup work, not leakage).
    *  - `psi_drift` (q159): per-source PSI of the kept corpus's
    *    n_chars distribution against the RAW input corpus (reference
    *    deciles frozen from the raw side); pass = PSI < 0.2, the
    *    standard "significant shift" screen — a cleaning stage that
    *    guts one source's long tail fails here before training does.
    *
    * Output: (check, key, value, pass), a (cells + sources)-sized
    * frame. */
  def audits(docs: DataFrame, checkpoint: Boolean = true): DataFrame =
    Iterate.scope(auditsFromKept(docs, cp(keptWithSplit(docs, checkpoint), checkpoint)))

  /** The audit gates over an already-materialized kept frame (see
    * [[buildFromKept]] for the share-the-DAG contract). `docs` is read
    * only as the PSI reference side. */
  def auditsFromKept(docs: DataFrame, kept: DataFrame): DataFrame = {
    // q151 — cross-split near-dup leakage over the final text
    val sh = kept
      .withColumn("ts", TextOps.tokens(col("clean_text")))
      .select(col("doc_id"), explode(TextOps.shingles("ts", 3)).as("s"))
      .distinct()
    val mh = TextOps.minhash(sh, col("doc_id"), col("s"), k = 8)
    val cands = TextOps.lshCandidates(mh, r = 4)
    val pairs = TextOps.estJaccard(cands, mh, k = 8)
      .filter(col("est_jaccard") >= 0.5)
    val assigned = kept.select(col("doc_id"), col("split"))
    val leakage = pairs
      .join(assigned.select(col("doc_id").as("d1"), col("split").as("s1")),
        Seq("d1"))
      .join(assigned.select(col("doc_id").as("d2"), col("split").as("s2")),
        Seq("d2"))
      .select(least(col("s1"), col("s2")).as("split_a"),
        greatest(col("s1"), col("s2")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n"))
      .select(lit("split_leakage").as("check"),
        concat(col("split_a"), lit("->"), col("split_b")).as("key"),
        col("n").cast("double").as("value"),
        (col("split_a") === col("split_b")).as("pass"))
    // q159 — per-source PSI of kept vs raw n_chars (raw = reference)
    val drift = Drift.psi(
        docs.select(col("source"), col("n_chars"), col("doc_id")),
        kept.select(col("source"), col("n_chars"), col("doc_id")),
        Seq("source"), col("n_chars"), col("doc_id"),
        Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9), eps = 1.0e-4)
      .select(lit("psi_drift").as("check"), col("source").as("key"),
        col("psi").cast("double").as("value"), (col("psi") < 0.2).as("pass"))
    leakage.unionByName(drift)
  }

  /** Source-authority ranking for the v3 gate (r9 verdict, Next #7 —
    * "the production reason the graph family exists"): hosts are
    * ranked by PageRank over the source↔source affinity graph, where
    * two sources share an edge when the SAME 10-word line appears in
    * both — shared boilerplate is the link-ish signal the synthetic
    * corpus carries (a crawl pipeline would use the real hyperlink
    * graph; the stage shape is identical). Hot lines occurring in more
    * than `maxLineSources` sources are dropped BEFORE pairing (the
    * q220 hub-cap discipline — universal boilerplate carries no
    * affinity signal and mints quadratic pairs). Output:
    * (node = source, pagerank), a hosts-sized frame. */
  def sourceAuthority(docs: DataFrame, maxLineSources: Int = 100): DataFrame =
    Graph.pageRank(sourceAffinityEdges(docs, maxLineSources), iters = 3)

  /** The source↔source affinity graph both graph gates run on
    * ([[sourceAuthority]]'s PageRank and [[qualityTiers]]'s label
    * propagation): two sources share a symmetric edge when the SAME
    * 10-word line appears in both, hot lines capped BEFORE pairing
    * (the q220 hub-cap discipline). Factored out so the v4 pipeline
    * builds the line scan ONCE and feeds both iterations. Output:
    * symmetric distinct (src, dst), hosts-sized. */
  def sourceAffinityEdges(docs: DataFrame,
      maxLineSources: Int = 100): DataFrame = {
    val srcLines = docs
      .select(col("source"), split(col("text"), " ").as("words"))
      .select(col("source"), explode(expr(
        """transform(sequence(0, (size(words) - 1) div 10),
           n -> array_join(slice(words, n * 10 + 1, 10), ' '))"""))
        .as("line"))
      .select(col("source"), TextOps.h64(col("line")).as("lh"))
      .distinct()
    val capped = srcLines.groupBy(col("lh"))
      .agg(count(lit(1)).as("__ns"))
      .filter(col("__ns") >= 2 && col("__ns") <= maxLineSources)
      .select(col("lh"))
    val kept = srcLines.join(capped, Seq("lh"), "left_semi")
    val pairs = kept.select(col("lh"), col("source").as("sa"))
      .join(kept.select(col("lh"), col("source").as("sb")), Seq("lh"))
      .filter(col("sa") < col("sb"))
      .select(col("sa"), col("sb")).distinct()
    pairs.select(col("sa").as("src"), col("sb").as("dst"))
      .unionByName(pairs.select(col("sb").as("src"), col("sa").as("dst")))
  }

  /** The v3 gate: docs from sources whose authority is BELOW the
    * median rank keep only a deterministic half (hash-rate sample on a
    * salted doc key); high-authority sources pass whole. This is the
    * OpenWebText/CCNet move — cap the low-authority tail's share of
    * the corpus before paying the quality stages for it. Sources
    * absent from the rank table (no shared line at all) count as
    * low-authority. Returns (gated docs, per-source audit rows
    * (check='rank_gate', key=source, value=pagerank, pass=kept whole)).
    * The median is exact nearest-rank over the HOSTS-sized rank table
    * (a single-partition window is fine at that size, never on data). */
  def rankGate(docs: DataFrame): (DataFrame, DataFrame) = Iterate.scope {
    val pr = sourceAuthority(docs).transform(Iterate.cut)
    val med = WindowOps.exactMedian(pr, Seq(lit(1)), col("pagerank"),
      col("node")).select(col("median"))
    val verdicts = pr.crossJoin(broadcast(med))
      .select(col("node").as("source"), col("pagerank"),
        (col("pagerank") >= col("median")).as("keep_all"))
      .transform(Iterate.cut)
    // the tail's share halves via the usual deterministic hash-rate
    // predicate, salted ("|rg") so it is independent of the stage-2
    // sample's key — map-side, rerun/parallelism-stable
    val gated = docs
      .join(broadcast(verdicts.select(col("source"), col("keep_all"))),
        Seq("source"), "left")
      .filter(coalesce(col("keep_all"), lit(false)) ||
        pmod(TextOps.h64(concat(col("doc_id").cast("string"), lit("|rg"))),
          lit(2L)) === 0L)
      .drop("keep_all")
    val audit = verdicts.select(lit("rank_gate").as("check"),
      col("source").as("key"), col("pagerank").as("value"),
      col("keep_all").as("pass"))
    (gated, audit)
  }

  /** Seed-labeled quality TIERS over the source affinity graph — the
    * q226 production story wired into the pipeline (r10 verdict, Next
    * #8): instead of annotating every source, a small "audited" seed
    * set carries tier labels and [[Graph.labelPropagate]] diffuses
    * them over [[sourceAffinityEdges]] with the seeds CLAMPED. Here
    * the audited seeds are derived deterministically — the
    * `seedsPerTier` sources with the highest mean document length get
    * 'hi', the lowest get 'lo' (mean = exact integer sum over exact
    * count in ONE IEEE division — the [[WindowOps.exactMedian]]
    * convention, so an oracle replays the ranking bit-for-bit; ties
    * broken by source asc; a production run would substitute genuine
    * human audits, the stage shape is identical). Sources the diffusion
    * never reaches stay null — explicitly "no evidence", distinct
    * from 'lo'. Output: (source, tier), hosts-sized. The seed ranking
    * is a single-partition window over the HOSTS-sized stats frame —
    * the [[rankGate]] exactMedian justification, never on data. */
  def qualityTiers(edges: DataFrame, docs: DataFrame,
      seedsPerTier: Int = 3, rounds: Int = 3): DataFrame = {
    val stats = docs.groupBy(col("source"))
      .agg((sum(col("n_chars")).cast("double") /
        count(lit(1))).as("avg_len"))
    val ranked = stats.select(col("source"), col("avg_len"),
      row_number().over(
        Window.orderBy(col("avg_len").desc, col("source").asc)).as("hi_rk"),
      row_number().over(
        Window.orderBy(col("avg_len").asc, col("source").asc)).as("lo_rk"))
    val seeds = ranked
      .filter(col("hi_rk") <= seedsPerTier || col("lo_rk") <= seedsPerTier)
      .select(col("source").as("node"),
        when(col("hi_rk") <= seedsPerTier, lit("hi"))
          .otherwise(lit("lo")).as("label"))
    Graph.labelPropagate(edges, seeds, rounds)
      .select(col("node").as("source"), col("label").as("tier"))
  }

  /** The v4 tier gate: docs from sources whose propagated tier is
    * 'lo' keep only a deterministic half (hash-rate sample salted
    * "|tg", independent of the rank gate's "|rg" and stage 2's keys);
    * 'hi' and unlabeled/no-evidence sources pass whole — the gate
    * only acts on CONFIRMED low-tier membership. Returns (gated docs,
    * per-source audit rows (check='tier_gate', key=source,
    * value = 1.0 hi / 0.0 lo / −1.0 unlabeled, pass = not halved)). */
  def tierGate(docs: DataFrame, tiers: DataFrame): (DataFrame, DataFrame) = Iterate.scope {
    val t = tiers.transform(Iterate.cut)
    val gated = docs
      .join(broadcast(t), Seq("source"), "left")
      .filter(coalesce(col("tier") =!= "lo", lit(true)) ||
        pmod(TextOps.h64(concat(col("doc_id").cast("string"), lit("|tg"))),
          lit(2L)) === 0L)
      .drop("tier")
    val audit = t.select(lit("tier_gate").as("check"),
      col("source").as("key"),
      when(col("tier") === "hi", 1.0)
        .when(col("tier") === "lo", 0.0)
        .otherwise(-1.0).as("value"),
      coalesce(col("tier") =!= "lo", lit(true)).as("pass"))
    (gated, audit)
  }

  /** Per-tier conductance rows for the v4 audit frame (r11 verdict
    * #5): φ of each propagated quality tier over the SAME affinity
    * graph the gates ran on — the tier gate halves documents on the
    * propagated labels, so the audit frame must say whether those
    * labels trace real graph structure (Graph.conductance; Leskovec
    * '09 NCP). φ = 1 means the tier has zero internal edges — the
    * diffusion stamped a label across pure boundary and the gate is
    * acting on noise; that is one fail. The OTHER fail is the
    * degenerate partition (r13 advice): a labeling that stamps every
    * graph source into ONE tier has no boundary at all, so
    * Graph.conductance reports φ = 0 (min(vol, rest) = 0 — nothing to
    * score) — passing that row would let "labels trace no structure"
    * masquerade as a perfect boundary, so pass additionally requires
    * the tier's volume to be a strict SUBSET of the graph's
    * (vol < Σvol). Cost: one label-attach join pair + a
    * tier-count-sized groupBy + a tier-count-sized re-agg on the
    * host-sized graph — invisible beside the pipeline stages.
    * Output: (check='conductance', key=tier, value=φ, pass). */
  def conductanceAudit(edges: DataFrame, tiers: DataFrame): DataFrame = {
    val phi = Graph.conductance(edges,
      tiers.select(col("source").as("node"),
        coalesce(col("tier"), lit("none")).as("label")))
    phi.crossJoin(broadcast(phi.agg(sum(col("vol")).as("vol_all"))))
      .select(lit("conductance").as("check"), col("label").as("key"),
        col("phi").cast("double").as("value"),
        (col("phi") < 1.0 && col("vol") < col("vol_all")).as("pass"))
  }

  /** v4 composition: BOTH graph gates — rank ([[rankGate]] semantics)
    * and tier ([[tierGate]]) — feed the full v2 pipeline, with the
    * source affinity graph built ONCE (one line scan + one pair join
    * serves PageRank and label propagation), both verdict frames
    * broadcast host-sized, and the document filter applied in ONE
    * pass over docs. Audit frame = leakage + PSI + rank_gate +
    * tier_gate + per-tier conductance rows — per-tier attribution and
    * boundary quality for the promotion record.
    * The PSI reference stays the RAW corpus (the v3 convention: the
    * drift gate must see what the gates did to the tail). Returns
    * (chunk frame, audit frame). */
  def buildAndAuditTierGated(docs: DataFrame): (DataFrame, DataFrame) = Iterate.scope {
    val edges = sourceAffinityEdges(docs).transform(Iterate.cut)
    val pr = Graph.pageRank(edges, iters = 3).transform(Iterate.cut)
    val med = WindowOps.exactMedian(pr, Seq(lit(1)), col("pagerank"),
      col("node")).select(col("median"))
    val rankV = pr.crossJoin(broadcast(med))
      .select(col("node").as("source"), col("pagerank"),
        (col("pagerank") >= col("median")).as("keep_all"))
      .transform(Iterate.cut)
    val tiers = qualityTiers(edges, docs).transform(Iterate.cut)
    val gated = docs
      .join(broadcast(rankV.select(col("source"), col("keep_all"))),
        Seq("source"), "left")
      .join(broadcast(tiers), Seq("source"), "left")
      .filter((coalesce(col("keep_all"), lit(false)) ||
        pmod(TextOps.h64(concat(col("doc_id").cast("string"), lit("|rg"))),
          lit(2L)) === 0L) &&
        (coalesce(col("tier") =!= "lo", lit(true)) ||
          pmod(TextOps.h64(concat(col("doc_id").cast("string"), lit("|tg"))),
            lit(2L)) === 0L))
      .drop("keep_all", "tier")
    val rankAudit = rankV.select(lit("rank_gate").as("check"),
      col("source").as("key"), col("pagerank").as("value"),
      col("keep_all").as("pass"))
    val tierAudit = tiers.select(lit("tier_gate").as("check"),
      col("source").as("key"),
      when(col("tier") === "hi", 1.0)
        .when(col("tier") === "lo", 0.0)
        .otherwise(-1.0).as("value"),
      coalesce(col("tier") =!= "lo", lit(true)).as("pass"))
    val phiAudit = conductanceAudit(edges, tiers)
    val st = stages(gated, checkpoint = true)
    val kept = st.kept.transform(Iterate.cut)
    (buildFromKept(kept),
      auditsFromKept(docs, kept).unionByName(rankAudit)
        .unionByName(tierAudit).unionByName(phiAudit))
  }

  /** The pipeline's END-STATE as one deterministic, oracle-checkable
    * frame (q221): per-stage survivor counts, the final per-split and
    * per-(split, shard) chunk totals, and the two audit gates — the
    * promotion-gate record a production run would log and alert on.
    * Output: (check, key, value, pass), ordered by the caller.
    *
    * The document-level DAG runs ONCE: stages 1–7 materialize through
    * their barriers, `kept` is checkpointed here, and the chunk frame,
    * the audits, and every count read those barriers. The only
    * re-derived chain is stage 1's hash-groupBy for the `n_unique`
    * count (map-side md5 + one node-sized shuffle — counting it from
    * the `sampled` barrier is impossible because stage 2 drops rows).
    * stage5's row is pure arithmetic on two counts: the cluster step
    * labels every stage-4 doc and stage 6 keeps exactly one per
    * cluster, so dropped duplicates = n_docs − n_keepers. */
  def summary(docs: DataFrame, checkpoint: Boolean = true): DataFrame = Iterate.scope {
    val st = stages(docs, checkpoint)
    val kept = cp(st.kept, checkpoint)
    def one(check: String, key: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).cast("double").as("value"))
        .select(lit(check).as("check"), lit(key).as("key"), col("value"),
          lit(true).as("pass"))
    val s5 = st.cleaned.agg(count(lit(1)).as("__nd"))
      .crossJoin(kept.agg(count(lit(1)).as("__nk")))
      .select(lit("stage5_cluster").as("check"),
        lit("n_dup_members").as("key"),
        (col("__nd") - col("__nk")).cast("double").as("value"),
        lit(true).as("pass"))
    val splits = kept.groupBy(col("split"))
      .agg(count(lit(1)).cast("double").as("value"))
      .select(lit("stage7_split").as("check"), col("split").as("key"),
        col("value"), lit(true).as("pass"))
    val chunks = cp(buildFromKept(kept), checkpoint)
    val chunkTok = chunks.groupBy(col("split"))
      .agg(sum(col("chunk_len")).cast("double").as("value"))
      .select(lit("stage8_chunk").as("check"), col("split").as("key"),
        col("value"), lit(true).as("pass"))
    val shards = chunks.groupBy(col("split"), col("shard"))
      .agg(count(lit(1)).cast("double").as("value"))
      .select(lit("stage9_shard").as("check"),
        concat(col("split"), lit("#"), col("shard").cast("string")).as("key"),
        col("value"), lit(true).as("pass"))
    val aud = auditsFromKept(docs, kept)
      .select(col("check"), col("key"), col("value"), col("pass"))
    Seq(
      one("stage1_norm_dedup", "n_unique", st.uniq),
      one("stage2_quality_sample", "n_sampled", st.sampled),
      one("stage3_containment", "n_unquoted", st.unquoted),
      one("stage4_line_dedup", "n_docs", st.cleaned),
      s5,
      one("stage6_keep", "n_keepers", kept),
      splits, chunkTok, shards, aud)
      .reduce(_.unionByName(_))
  }
}
