package graft

import org.apache.spark.sql.functions._

/** The composed corpus pipeline (CorpusPipelineV2: normalized dedup →
  * quality/sample → containment → line scrub → cluster → keep →
  * grouped split → chunk → shard, plus its audit and graph gates):
  * stage hand-offs are plain DataFrame composition, so these assert
  * the END-TO-END contract — who survives, what the chunks look like,
  * and that the composed plan keeps the per-stage shapes. */
class CorpusPipelineSpec extends SparkSpec {
  import spark.implicits._

  // ---- v2 (round-9): normalized dedup + containment + grouped split ----

  // ids chosen so every doc survives the deterministic 50% hash sample
  // (h64(id) % 1000 < 500 for 2,5,10,11,15,18,19): the sample stage must
  // never be the reason a v2 assertion is vacuous.
  private def mkDocsV2 = {
    val longWords = (1 to 60).map(i => s"word$i").mkString(" ")
    val twinWords = (1 to 60).map(i => s"tcom$i").mkString(" ")
    val fmtWords = (1 to 22).map(i => s"norm$i")
    Seq(
      // formatting variants: identical after normalizeText — q149
      // keeps the min id (2), 5 must never reach chunking
      (2L, fmtWords.mkString(" "), "src1"),
      (5L, fmtWords.map(_.capitalize).mkString(", ") + "!", "src1"),
      // containment: 11 is the first 25 tokens of 10, quoted whole —
      // J = 25/61 (not a q76 duplicate) but C = 1 → 11 is subsumed
      (10L, longWords + " alphatail", "src1"),
      (11L, (1 to 25).map(i => s"word$i").mkString(" "), "src1"),
      // near-twins (J ≈ 0.97, same source+block): at most one survives
      (18L, twinWords + " alpha", "src2"),
      (19L, twinWords + " omega", "src2"),
      // solo control
      (15L, (100 to 160).map(i => s"xyz$i").mkString(" "), "src3"))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length($"text").cast("long"))
  }

  test("v2 end-to-end: normalized dedup, containment drop, grouped split, per-split shards") {
    val docs = mkDocsV2
    val rows = graft.ops.CorpusPipelineV2.build(docs)
      .select($"doc_id", $"split", $"chunk_id", $"chunk_len", $"shard")
      .collect()
    val outDocs = rows.map(_.getLong(0)).toSet
    // q149: the formatting variant (5) collapses into its canonical (2)
    assert(!outDocs.contains(5L))
    assert(outDocs.contains(2L))
    // q143: the quoted-whole doc (11) is subsumed by 10 and dropped,
    // while 10 itself survives — symmetric Jaccard alone missed this
    assert(!outDocs.contains(11L))
    assert(outDocs.contains(10L))
    // near-twins: exactly one survives the dup suppression + cluster keep
    assert(outDocs.intersect(Set(18L, 19L)).size == 1)
    assert(outDocs.contains(15L))
    // split values are the q150 domain; all chunks of a doc share one
    val bySplit = rows.groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).distinct)
    assert(bySplit.values.forall(s => s.length == 1 &&
      Set("train", "val", "test").contains(s.head)))
    // shard domain: [0, 8) inside every split
    assert(rows.forall(r => r.getInt(4) >= 0 && r.getInt(4) < 8))
    // determinism: a rerun is bit-identical (hash splits, no randomness)
    val again = graft.ops.CorpusPipelineV2.build(docs)
      .select($"doc_id", $"split", $"chunk_id", $"chunk_len", $"shard")
      .collect()
    assert(rows.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }

  test("v2 audits: leakage cells carry split-pair semantics, PSI gate rows per source") {
    val docs = mkDocsV2
    val a = graft.ops.CorpusPipelineV2.audits(docs).collect()
    val checks = a.map(_.getString(0)).toSet
    assert(checks.subsetOf(Set("split_leakage", "psi_drift")))
    // the drift gate emits one row per source that survives to the kept
    // corpus, value >= 0, pass <=> psi < 0.2
    val psi = a.filter(_.getString(0) == "psi_drift")
    assert(psi.nonEmpty)
    assert(psi.forall(r => r.getDouble(2) >= 0.0 &&
      r.getBoolean(3) == (r.getDouble(2) < 0.2)))
    // leakage rows: pass exactly when the pair stayed within one split
    val leak = a.filter(_.getString(0) == "split_leakage")
    assert(leak.forall { r =>
      val k = r.getString(1).split("->")
      r.getBoolean(3) == (k(0) == k(1))
    })
  }

  // v3 fixture: the source graph is a PATH s1—s2—s3—s4 built from
  // shared 10-word boilerplate lines (aa links s1·s2, bb links s2·s3,
  // cc links s3·s4); s5 shares nothing and stays unranked. PageRank on
  // a path ranks the centers (s2, s3) above the ends, so the
  // authority gate keeps s2/s3 whole and halves s1/s4/s5.
  private def mkDocsV3 = {
    def line(tag: String) = (1 to 10).map(i => s"$tag$i").mkString(" ")
    def tail(tag: String) = (1 to 15).map(i => s"${tag}u$i").mkString(" ")
    val rows = Seq(
      (31L, line("aa") + " " + tail("d31"), "s1"),
      (32L, line("aa") + " " + tail("d32"), "s1"),
      (33L, line("aa") + " " + tail("d33"), "s2"),
      (34L, line("bb") + " " + tail("d34"), "s2"),
      (35L, line("bb") + " " + tail("d35"), "s3"),
      (36L, line("cc") + " " + tail("d36"), "s3"),
      (37L, line("cc") + " " + tail("d37"), "s4"),
      (38L, line("cc") + " " + tail("d38"), "s4"),
      (39L, tail("d39") + " " + tail("e39"), "s5"),
      (40L, tail("d40") + " " + tail("e40"), "s5"))
    rows.toDF("doc_id", "text", "source")
      .withColumn("n_chars", length($"text").cast("long"))
  }

  test("v3 rank gate: path centers pass whole, ends and unranked sources halve") {
    val docs = mkDocsV3
    val (gated, audit) = graft.ops.CorpusPipelineV2.rankGate(docs)
    val verdicts = audit.collect()
      .map(r => r.getString(1) -> (r.getDouble(2), r.getBoolean(3))).toMap
    // s5 shares no line: no edge, no rank row — implicitly tail
    assert(verdicts.keySet == Set("s1", "s2", "s3", "s4"))
    assert(verdicts("s2")._2 && verdicts("s3")._2, verdicts.toString)
    assert(!verdicts("s1")._2 && !verdicts("s4")._2, verdicts.toString)
    // center authority really exceeds the ends'
    assert(verdicts("s2")._1 > verdicts("s1")._1)
    val gatedIds = gated.select($"doc_id").as[Long].collect().toSet
    val wholeIds = docs.filter($"source".isin("s2", "s3"))
      .select($"doc_id").as[Long].collect().toSet
    val tailKept = docs.filter(!$"source".isin("s2", "s3"))
      .filter(pmod(graft.ops.TextOps.h64(
        concat($"doc_id".cast("string"), lit("|rg"))), lit(2L)) === 0L)
      .select($"doc_id").as[Long].collect().toSet
    assert(gatedIds == wholeIds ++ tailKept,
      s"gated=$gatedIds whole=$wholeIds tail=$tailKept")
    // determinism: the gate is hash-keyed, a rerun is identical
    val again = graft.ops.CorpusPipelineV2.rankGate(docs)._1
      .select($"doc_id").as[Long].collect().toSet
    assert(again == gatedIds)
  }

  // v4 fixture: the same s1—s2—s3—s4 path (aa/bb/cc shared lines),
  // but mean doc length rises monotonically s1 < s2 < s3 < s4, so the
  // deterministic seeding picks s1 as the 'lo' audit and s4 as 'hi';
  // s5 shares no line — off the graph, "no evidence".
  private def mkDocsV4 = {
    def line(tag: String) = (1 to 10).map(i => s"$tag$i").mkString(" ")
    def tail(tag: String, n: Int) =
      (1 to n).map(i => s"${tag}u$i").mkString(" ")
    val rows = Seq(
      (51L, line("aa") + " " + tail("d51", 5), "s1"),
      (52L, line("aa") + " " + tail("d52", 5), "s1"),
      (53L, line("aa") + " " + tail("d53", 10), "s2"),
      (54L, line("bb") + " " + tail("d54", 10), "s2"),
      (55L, line("bb") + " " + tail("d55", 15), "s3"),
      (56L, line("cc") + " " + tail("d56", 15), "s3"),
      (57L, line("cc") + " " + tail("d57", 30), "s4"),
      (58L, line("cc") + " " + tail("d58", 30), "s4"),
      (59L, tail("d59", 20) + " " + tail("e59", 20), "s5"),
      (60L, tail("d60", 20), "s5"))
    rows.toDF("doc_id", "text", "source")
      .withColumn("n_chars", length($"text").cast("long"))
  }

  test("v4 quality tiers: audited seeds clamp and diffuse over the affinity graph") {
    val docs = mkDocsV4
    val edges = graft.ops.CorpusPipelineV2.sourceAffinityEdges(docs)
    val tiers = graft.ops.CorpusPipelineV2
      .qualityTiers(edges, docs, seedsPerTier = 1, rounds = 1)
      .as[(String, String)].collect().toMap
    // seeds: s1 = 'lo' (shortest mean), s4 = 'hi' (longest on-graph
    // beats s5's average); one round labels each seed's neighbor
    assert(tiers == Map("s1" -> "lo", "s2" -> "lo",
      "s3" -> "hi", "s4" -> "hi"), tiers.toString)
    // s5 is off-graph: no tier row at all — "no evidence", not 'lo'
    assert(!tiers.contains("s5"))
  }

  test("v4 tier gate: lo halves, hi and no-evidence pass whole") {
    val docs = mkDocsV3
    val tiers = Seq(("s1", "lo"), ("s2", "hi"),
      ("s3", null.asInstanceOf[String])).toDF("source", "tier")
    val (gated, audit) = graft.ops.CorpusPipelineV2.tierGate(docs, tiers)
    val gatedIds = gated.select($"doc_id").as[Long].collect().toSet
    val wholeIds = docs.filter($"source" =!= "s1")
      .select($"doc_id").as[Long].collect().toSet
    val loKept = docs.filter($"source" === "s1")
      .filter(pmod(graft.ops.TextOps.h64(
        concat($"doc_id".cast("string"), lit("|tg"))), lit(2L)) === 0L)
      .select($"doc_id").as[Long].collect().toSet
    assert(gatedIds == wholeIds ++ loKept,
      s"gated=$gatedIds whole=$wholeIds lo=$loKept")
    val rows = audit.collect()
      .map(r => r.getString(1) -> (r.getDouble(2), r.getBoolean(3))).toMap
    assert(rows == Map("s1" -> ((0.0, false)), "s2" -> ((1.0, true)),
      "s3" -> ((-1.0, true))), rows.toString)
  }

  test("v4 composed run: one graph, both gates, audit carries five families") {
    val docs = mkDocsV3
    val (chunks, audit) =
      graft.ops.CorpusPipelineV2.buildAndAuditTierGated(docs)
    val byCheck = audit.collect().groupBy(_.getString(0))
    assert(byCheck.contains("rank_gate"))
    assert(byCheck.contains("tier_gate"))
    assert(byCheck.contains("psi_drift"))
    // tier attribution: every graph source gets a tier row
    assert(byCheck("tier_gate").map(_.getString(1)).toSet ==
      Set("s1", "s2", "s3", "s4"))
    // per-tier conductance (r11 verdict #5): one φ row per propagated
    // tier label, φ ∈ [0, 1], and the keys are tier names, not sources
    val phi = byCheck("conductance")
    assert(phi.map(_.getString(1)).toSet.subsetOf(Set("hi", "lo", "none")),
      phi.mkString(", "))
    assert(phi.nonEmpty && phi.forall(r =>
      r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0), phi.mkString(", "))
    // the chunk frame only ever sees docs that survived BOTH gates —
    // i.e. it is a subset of the v3 gate alone
    val chunkDocs = chunks.select($"doc_id").as[Long].collect().toSet
    val rankOnly = graft.ops.CorpusPipelineV2.rankGate(docs)._1
      .select($"doc_id").as[Long].collect().toSet
    assert(chunkDocs.subsetOf(rankOnly))
  }

  test("conductanceAudit: a degenerate one-tier labeling cannot pass on phi = 0") {
    // φ = 0 means EITHER a perfectly separated tier (cut = 0 with a
    // real boundary available) OR no boundary at all (min(vol, rest)
    // = 0 — every graph source stamped into one tier). The first is
    // the best possible audit outcome; the second is the
    // labels-trace-no-structure failure mode and must NOT pass (r13
    // advice): pass additionally requires vol < Σvol.
    val fwd = Seq(("s1", "s2"), ("s3", "s4")).toDF("src", "dst")
    val edges = fwd.unionByName(fwd.select($"dst".as("src"), $"src".as("dst")))
    def tiersOf(pairs: (String, String)*) =
      pairs.toDF("source", "tier")
    // degenerate: everything 'hi' — one row, phi = 0, pass = false
    val degen = graft.ops.CorpusPipelineV2.conductanceAudit(edges,
        tiersOf("s1" -> "hi", "s2" -> "hi", "s3" -> "hi", "s4" -> "hi"))
      .collect().map(r => (r.getString(1), r.getDouble(2), r.getBoolean(3)))
    assert(degen.toSeq == Seq(("hi", 0.0, false)), degen.mkString(", "))
    // genuinely separated tiers: phi = 0 on both sides, pass = true
    val split = graft.ops.CorpusPipelineV2.conductanceAudit(edges,
        tiersOf("s1" -> "hi", "s2" -> "hi", "s3" -> "lo", "s4" -> "lo"))
      .collect().map(r => (r.getString(1), r.getDouble(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(split.toSeq == Seq(("hi", 0.0, true), ("lo", 0.0, true)),
      split.mkString(", "))
    // porous boundary: all cross edges — phi = 1 fails as before
    val porous = graft.ops.CorpusPipelineV2.conductanceAudit(edges,
        tiersOf("s1" -> "hi", "s2" -> "lo", "s3" -> "hi", "s4" -> "lo"))
      .collect().map(r => (r.getString(1), r.getDouble(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(porous.toSeq == Seq(("hi", 1.0, false), ("lo", 1.0, false)),
      porous.mkString(", "))
  }

  test("v2 composed plan: no cartesian, anti joins survive, offsets broadcast") {
    // checkpoint = false: the PURE plan — a stage-boundary barrier
    // would truncate the visible DAG and hide the upstream join shapes
    val plan = graft.ops.CorpusPipelineV2.build(mkDocsV2, checkpoint = false)
      .queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert(!plan.contains("CartesianProduct"), plan)
    // containment drop AND line scrub are both anti joins
    assert("LeftAnti".r.findAllIn(plan).size >= 2, plan)
    // the shard rank's bucket offsets ride a broadcast, so the
    // chunk-sized frame never sorts in one partition
    assert(plan.contains("BroadcastHashJoin"), plan)
  }
}
