package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training (Sennrich et al. 2016,
  * arXiv:1508.07909) as a corpus-scale pipeline stage.
  *
  * The scale structure every fast BPE trainer exploits: merges are
  * learned from the WORD-FREQUENCY table, not the corpus. One pass over
  * the documents aggregates (word, cnt) — the only corpus-sized job —
  * and the iterative merge loop then runs over the vocabulary (10⁵–10⁶
  * rows at any corpus size; Heaps' law keeps it sublinear in the
  * 100 TB). Each iteration is a distributed pair-count + a 1-row argmax
  * collect: the argmax is BPE's inherent sequential dependence (merge
  * k+1 depends on the table rewritten by merge k), so the driver loop
  * is the algorithm, not a shortcut — what's distributed is the
  * pair-count over the vocab and the merge rewrite, both map/agg jobs.
  *
  * Pair selection is totally ordered (count desc, then left/right
  * lexicographic), so training is deterministic and engine-portable —
  * the property every oracle check here rides on.
  */
object Bpe {

  /** Initial symbol sequence of a word: its characters (code points —
    * `split` on the empty pattern is per-character in Spark and
    * DuckDB both). */
  def charSymbols(word: Column): Column = split(word, "")

  /** Adjacent-pair counts over a (symbols, cnt) vocabulary table:
    * each word contributes its adjacent symbol pairs weighted by the
    * word's corpus frequency. Map-side pair generation (one
    * transform + explode), one agg shuffle keyed on the pair —
    * vocab-sized throughout. Output: (left, right, cnt). */
  def pairCounts(vocab: DataFrame, symbols: Column, cnt: Column): DataFrame =
    vocab.select(cnt.as("__cnt"), symbols.as("__s"))
      .filter(size(col("__s")) >= 2)
      .select(col("__cnt"), explode(expr(
        """transform(sequence(1, size(__s) - 1),
           i -> struct(element_at(__s, i) AS l,
                       element_at(__s, i + 1) AS r))""")).as("p"))
      .groupBy(col("p.l").as("left"), col("p.r").as("right"))
      .agg(sum(col("__cnt")).as("cnt"))

  /** Rewrite a symbol sequence under one merge rule: every adjacent
    * (l, r) becomes the fused symbol, scanning left to right (the
    * fold's accumulator state resolves overlaps the standard way:
    * "aaa" under (a,a) → [aa, a]). Pure per-row array fold — no
    * shuffle. */
  def applyMerge(symbols: Column, l: String, r: String): Column =
    aggregate(symbols, array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) === 0, array(x))
          .when(element_at(acc, -1) === lit(l) && (x === lit(r)),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(x))))

  /** Apply a FROZEN ordered merge list to a word — the tokenizer
    * APPLICATION step: train once ([[train]]), encode everywhere. The
    * fold chain is built at plan time (one [[applyMerge]] per rule),
    * so encoding is pure per-row map work with the merge table baked
    * into the plan — nothing joins, nothing shuffles, and a 100 TB
    * encode pass is embarrassingly parallel. Returns the symbol
    * array after all merges, applied in training order. */
  def encode(word: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(charSymbols(word)) { case (syms, (l, r)) =>
      applyMerge(syms, l, r)
    }

  /** Learn `k` merge rules from a (word, cnt) vocabulary. Returns the
    * ordered merge list and the final symbol table (word, cnt, symbols).
    *
    * Two execution paths, identical output (BpeSpec asserts parity):
    *
    *  - the vocabulary fits the driver (row count ≤ `pullLocalBelow`,
    *    the common case — Heaps' law keeps even a 100 TB corpus's vocab
    *    in the 10⁵–10⁶ range, megabytes of (word, cnt) pairs): collect
    *    it ONCE and run the merge loop in memory with incremental
    *    pair-count maintenance. k merges cost k argmax scans plus
    *    rewrites of only the words containing the merged pair — not
    *    k+1 Spark jobs with a 1-row collect each (the r7 weak spot:
    *    32k merges = 64k jobs);
    *  - otherwise the distributed loop ([[trainDistributed]]) runs —
    *    pair-count + argmax + rewrite per merge over the vocab frame,
    *    the fallback for a vocabulary that genuinely cannot land on
    *    one machine. */
  def train(vocab: DataFrame, k: Int,
      pullLocalBelow: Long = 4000000L): (Seq[(String, String)], DataFrame) = {
    val n = vocab.count()
    if (n <= pullLocalBelow) {
      val spark = vocab.sparkSession
      import spark.implicits._
      val rows = vocab.select(col("word"), col("cnt"))
        .as[(String, Long)].collect()
      val (merges, syms) = trainLocal(rows, k)
      (merges, spark.createDataset(syms.toIndexedSeq)
        .toDF("word", "cnt", "symbols"))
    } else trainDistributed(vocab, k)
  }

  /** The distributed merge loop — pair-count + 1-row argmax + rewrite
    * per merge, each iteration localCheckpointing the rewritten vocab
    * (the frame feeds every later iteration; the eager cut stops the
    * logical plan doubling per merge). Output-identical to
    * [[trainLocal]]; used when the vocab exceeds the pull-local bound. */
  private[graft] def trainDistributed(vocab: DataFrame,
      k: Int): (Seq[(String, String)], DataFrame) = Iterate.scope {
    var syms = Iterate.cut(vocab.select(col("word"), col("cnt"),
      charSymbols(col("word")).as("symbols")))
    val merges = Seq.newBuilder[(String, String)]
    var done = false
    var i = 0
    while (i < k && !done) {
      val top = pairCounts(syms, col("symbols"), col("cnt"))
        .orderBy(col("cnt").desc, col("left").asc, col("right").asc)
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (l, r) = (top(0).getString(0), top(0).getString(1))
        merges += ((l, r))
        syms = Iterate.advance(syms, syms.withColumn("symbols",
          applyMerge(col("symbols"), l, r)))
      }
      i += 1
    }
    (merges.result(), syms)
  }

  /** In-memory merge loop with incremental pair-count maintenance —
    * the textbook fast BPE trainer. Pair counts live in a hash map; a
    * merge rewrites ONLY the words that contain its pair (tracked by a
    * pair → word-ids index), decrementing the old adjacencies and
    * incrementing the new, so per-merge cost follows the pair's
    * support, not the vocabulary. Selection order (count desc, left
    * asc, right asc) and the left-to-right overlap rule are byte-
    * identical to the distributed formulation. */
  private[graft] def trainLocal(vocab: Array[(String, Long)],
      k: Int): (Seq[(String, String)], Seq[(String, Long, Seq[String])]) = {
    import scala.collection.mutable
    val words = vocab.map { case (w, _) =>
      mutable.ArrayBuffer.from(w.split("")) }
    val cnts = vocab.map(_._2)
    val pairCnt = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def addWord(wi: Int): Unit = {
      val s = words(wi)
      var j = 0
      while (j < s.length - 1) {
        val p = (s(j), s(j + 1))
        pairCnt.updateWith(p)(c => Some(c.getOrElse(0L) + cnts(wi)))
        pairWords.getOrElseUpdate(p, mutable.Set.empty) += wi
        j += 1
      }
    }
    def dropWord(wi: Int): Unit = {
      val s = words(wi)
      var j = 0
      while (j < s.length - 1) {
        val p = (s(j), s(j + 1))
        pairCnt.updateWith(p)(c => c.map(_ - cnts(wi)).filter(_ != 0))
        j += 1
      }
    }
    words.indices.foreach(addWord)
    val merges = Seq.newBuilder[(String, String)]
    var i = 0
    var done = false
    while (i < k && !done) {
      if (pairCnt.isEmpty) done = true
      else {
        // argmax under the engine's total order; the map scan is the
        // per-merge O(#distinct pairs) cost the Spark path pays as a job
        var best: ((String, String), Long) = null
        pairCnt.foreach { e =>
          if (best == null || e._2 > best._2 ||
            (e._2 == best._2 && (e._1._1 < best._1._1 ||
              (e._1._1 == best._1._1 && e._1._2 < best._1._2)))) best = e
        }
        val (l, r) = best._1
        merges += ((l, r))
        val fused = l + r
        val touched = pairWords.remove((l, r)).getOrElse(mutable.Set.empty)
        touched.foreach { wi =>
          val s = words(wi)
          // membership may be stale (the pair was rewritten away by an
          // overlapping earlier merge of this word) — verify, then
          // rewrite with the same left-to-right overlap rule
          var has = false
          var j = 0
          while (!has && j < s.length - 1) {
            has = s(j) == l && s(j + 1) == r; j += 1
          }
          if (has) {
            dropWord(wi)
            val out = mutable.ArrayBuffer.empty[String]
            s.foreach { x =>
              if (out.nonEmpty && out.last == l && x == r)
                out(out.length - 1) = fused
              else out += x
            }
            words(wi) = out
            addWord(wi)
          }
        }
      }
      i += 1
    }
    (merges.result(),
      vocab.indices.map(wi => (vocab(wi)._1, cnts(wi), words(wi).toSeq)))
  }
}
