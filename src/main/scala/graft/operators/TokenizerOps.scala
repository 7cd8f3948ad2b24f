package graft.operators

import java.util.regex.Pattern

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QDef
import graft.sources.Tables

/** Tokenizer training over the corpus (absent in the reference, whose
  * payloads are opaque bytes — `/root/reference/src/streams.ts:12-13`;
  * a training-data pipeline needs it to fit the vocabulary to the data).
  *
  * Distributed BPE merge learning (Sennrich et al. 2016, ACL 2016,
  * "Neural Machine Translation of Rare Words with Subword Units"): the
  * trainer's working set is the WORD-FREQUENCY table, not the corpus —
  * one aggregation reduces the text to a vocab-sized `(word, freq)`
  * table, and every merge round runs over that table. That reduction is
  * what makes tokenizer training tractable at 100 TB: the corpus is
  * touched exactly once; rounds cost O(vocab), not O(corpus).
  *
  * Each round: count adjacent symbol pairs weighted by word frequency,
  * pick the most frequent pair (ties broken lexicographically so the
  * learned table is deterministic at any parallelism), merge that pair in
  * every word. Driver traffic per round is ONE row (the argmax) — same
  * scalar-only discipline as [[DedupOps.connectedComponents]]; the merge
  * itself is a per-row regexp over the checkpointed word table, never a
  * pass over documents.
  */
object TokenizerOps {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")

  // The ONE tokenizer definition (TextOps.toks) — BPE must see the same
  // token stream as lm_score/tfidf/quality or the learned vocabulary
  // drifts from the rest of the pipeline.
  private def toks(c: org.apache.spark.sql.Column) = TextOps.toks(c)

  /** Learn the first `nMerges` BPE merge rules from a corpus. Returns the
    * merge table `(rank, left, right, pair_count)` — the MODEL, one row
    * per learned rule. Words are character sequences with the standard
    * `</w>` end-of-word marker on the final symbol, so merges never cross
    * word boundaries and word-final units stay distinct from word-internal
    * ones (Sennrich's formulation).
    *
    * LIBRARY ENTRY POINT — generic over any corpus (text column). */
  /** A word as its space-joined BPE start symbols: one character per
    * symbol, `</w>` marker on the last. THE symbol construction — trainer
    * and encoder must agree byte-for-byte or encode(train_corpus) drifts
    * from the trained word table. Spark's split keeps trailing empty
    * strings (limit -1): an empty-pattern split of "the" is
    * ["t","h","e",""] — drop the empties or the end-of-word marker lands
    * on a phantom symbol. */
  private def wordSyms(w: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val cs = filter(split(w, ""), c => length(c) > 0)
    concat_ws(" ", transform(cs, (c, i) =>
      when(i === size(cs) - 1, concat(c, lit("</w>"))).otherwise(c)))
  }

  /** Vocab size under which the merge rounds run as a driver loop over
    * the collected word table. The corpus pass is ALWAYS distributed; the
    * rounds only ever touch the vocab-sized `(freq, sym)` table, and when
    * that table is a few thousand rows the distributed loop's cost is
    * pure scheduling — 2 jobs × nMerges round-trips over near-empty
    * partitions. 64k rows of short words is ~a few MB on the driver (the
    * same order as a collect-side broadcast table); production
    * vocabularies (1e5-1e7 words) take the distributed path. */
  private val DriverVocabRows = 64 * 1024

  /** Re-checkpoint cadence of the distributed merge loop. Each round
    * appends one `regexp_replace` to the pending chain and every round's
    * action REPLAYS the chain since the last checkpoint, so the replay
    * work per checkpoint window grows quadratically in the cadence
    * (~depth × vocabRows regex applications) while each checkpoint costs
    * one flat materialization job. Measured at 30k vocab rows / 1,000
    * merges (graft.ScaleSpec + BASELINE.md r13): cadence 50 ≈ 2.1
    * s/round — the replay dominates; cadence 8 balances the two terms at
    * ~10k-row partitions and holds the per-round cost at the 2-job
    * scheduling floor. */
  private val CheckpointEvery = 8

  def bpeMerges(rows: DataFrame, text: String, nMerges: Int,
      driverVocabRows: Long = DriverVocabRows,
      checkpointEvery: Int = CheckpointEvery): DataFrame = {
    require(checkpointEvery >= 1,
      s"checkpointEvery must be >= 1, got $checkpointEvery")
    val s = rows.sparkSession
    // Corpus → word-frequency table: the single pass over the data.
    var words = Pins.checkpoint(rows
      .select(explode(toks(col(text))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("freq"), wordSyms(col("word")).as("sym")))
    val vocabRows = words.count()
    if (vocabRows <= driverVocabRows) {
      val table = words.select("freq", "sym").collect()
        .map(r => (r.getLong(0), r.getString(1).split(" ")))
      Pins.release(words)
      import s.implicits._
      return driverMerges(table, nMerges)
        .toDF("rank", "left", "right", "pair_count").orderBy("rank")
    }
    // Right-size round parallelism to the VOCAB, not the corpus: the
    // checkpoint inherits the corpus shuffle partitioning, but every merge
    // round re-scans only the word table — natural-language vocabularies
    // are ~1e5-1e7 rows however big the corpus, so scheduling hundreds of
    // near-empty tasks per round is pure overhead. ~10k words per task
    // keeps the regex-heavy rounds parallel on real vocabularies while a
    // toy vocab collapses to one task. coalesce merges checkpoint blocks
    // at read time (no second materialization); the count is a driver
    // scalar off the materialized blocks.
    val parts = math.max(1L, math.min(words.rdd.getNumPartitions.toLong,
      vocabRows / 10000L + 1L)).toInt
    // the live checkpoint, released when the next one materializes
    var pinned = words
    words = words.coalesce(parts)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      val syms = split(col("sym"), " ")
      val top = words
        .select(col("freq"), explode(
          transform(slice(syms, lit(1), size(syms) - 1), (x, i) =>
            struct(x.as("left"), element_at(syms, i + 2).as("right"))))
          .as("p"))
        .groupBy(col("p.left").as("left"), col("p.right").as("right"))
        .agg(sum("freq").as("cnt"))
        .orderBy(desc("cnt"), col("left"), col("right"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, cnt) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        merges += ((rank, l, r, cnt))
        // Sennrich's merge regex: the pair as adjacent space-separated
        // symbols, not touching any other non-space characters.
        val pat = "(?<!\\S)" + Pattern.quote(l + " " + r) + "(?!\\S)"
        words = words.withColumn("sym", regexp_replace(col("sym"), pat,
          java.util.regex.Matcher.quoteReplacement(l + r)))
        // Each round's action replays the pending regex chain over the
        // checkpointed base — a per-row merge over a vocab-sized table,
        // far cheaper than a materialization job per round. Re-checkpoint
        // every [[CheckpointEvery]] rounds: replay work per window grows
        // quadratically in the cadence (r13 measurement: cadence 50 was
        // replay-DOMINATED at 30k vocab rows — see the cadence scaladoc).
        if (rank % checkpointEvery == 0) {
          words = Pins.checkpoint(words)
          Pins.release(pinned)
          pinned = words
        }
        rank += 1
      }
    }
    Pins.release(pinned)
    import s.implicits._
    merges.result().toDF("rank", "left", "right", "pair_count")
      .orderBy("rank")
  }

  /** UTF-8 binary order — what Spark's orderBy compares (UTF8String
    * bytes). The driver loop must tie-break identically to the
    * distributed path's `orderBy(desc(cnt), left, right)` or the two
    * regimes learn different tables on supplementary-plane symbols. */
  private def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val lim = math.min(x.length, y.length)
    var i = 0
    while (i < lim && x(i) == y(i)) i += 1
    if (i < lim) (x(i) & 0xff) - (y(i) & 0xff) else x.length - y.length
  }

  /** Merge rounds over a collected word table — the small-vocab regime of
    * [[bpeMerges]]. Same greedy sequence, same tie-break, same
    * left-to-right non-overlapping merge the distributed regexp applies;
    * BpeSpec pins both regimes to the sequential Sennrich reference.
    *
    * r13: INCREMENTAL pair statistics — the full recount this replaced
    * cost O(vocab·len) per round (a 32k-merge production train over a
    * 1M-word vocab would re-scan ~3·10^11 symbol pairs). This maintains
    * (a) the global pair-count table, (b) an ordered view for the
    * argmax, and (c) an inverted pair→words index, and on each merge
    * touches ONLY the words the merged pair occurs in (delta out their
    * old adjacencies, merge, delta in the new ones) — the standard
    * production BPE trainer shape (Sennrich's subword-nmt maintains the
    * same incremental stats). Per-round cost ∝ occurrences of the
    * merged pair, not vocab; measured in graft.ScaleSpec and
    * BASELINE.md r13 (with the distributed regime's per-round
    * scheduling floor, this regime is why DriverVocabRows — not the
    * distributed loop — is the production path for real merge counts). */
  private def driverMerges(table: Array[(Long, Array[String])],
      nMerges: Int): Seq[(Int, String, String, Long)] = {
    val words: Array[(Long, Array[String])] = table.clone()
    val utf8Ord: Ordering[String] = (a: String, b: String) => utf8Cmp(a, b)
    val rankOrd: Ordering[(Long, String, String)] =
      Ordering.Tuple3(Ordering.Long, utf8Ord, utf8Ord)
    val counts = collection.mutable.HashMap.empty[(String, String), Long]
    // best-first view of counts: (-count, left, right) — head is the
    // next merge under the exact (count DESC, left, right) tie order
    val heap = collection.mutable.TreeSet.empty[(Long, String, String)](rankOrd)
    // pair -> indices of words that (at some point) contained it; stale
    // entries (the word has since lost the pair) are filtered on use
    val where = collection.mutable
      .HashMap.empty[(String, String), collection.mutable.Set[Int]]
    def bump(k: (String, String), delta: Long, wordIdx: Int): Unit = {
      val old = counts.getOrElse(k, 0L)
      if (old != 0L) heap.remove((-old, k._1, k._2))
      val nc = old + delta
      if (nc != 0L) {
        counts(k) = nc
        heap.add((-nc, k._1, k._2))
      } else counts.remove(k)
      if (delta > 0 && wordIdx >= 0)
        where.getOrElseUpdate(k,
          collection.mutable.Set.empty[Int]) += wordIdx
    }
    var wi = 0
    while (wi < words.length) {
      val (f, syms) = words(wi)
      var i = 0
      while (i < syms.length - 1) {
        bump((syms(i), syms(i + 1)), f, wi); i += 1
      }
      wi += 1
    }
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 1
    while (rank <= nMerges && heap.nonEmpty) {
      val (negC, l, r) = heap.head
      out += ((rank, l, r, -negC))
      val occ = where.remove((l, r))
        .map(_.toArray).getOrElse(Array.empty[Int])
      occ.foreach { w =>
        val (f, syms) = words(w)
        var has = false
        var i = 0
        while (!has && i < syms.length - 1) {
          has = syms(i) == l && syms(i + 1) == r; i += 1
        }
        if (has) {
          i = 0
          while (i < syms.length - 1) {
            bump((syms(i), syms(i + 1)), -f, -1); i += 1
          }
          val b = Array.newBuilder[String]
          i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
              b += (l + r); i += 2
            } else { b += syms(i); i += 1 }
          }
          val ns = b.result()
          words(w) = (f, ns)
          i = 0
          while (i < ns.length - 1) {
            bump((ns(i), ns(i + 1)), f, w); i += 1
          }
        }
      }
      rank += 1
    }
    out.result()
  }

  /** The corpus's learned merge table, materialized once per application
    * ([[graft.sources.Materialize]]) — both the model query and the encode
    * query consume it; training runs once. */
  private def sharedMerges(s: SparkSession, d: String): DataFrame =
    graft.sources.Materialize.table(s, s"bpe_merges:$d") {
      bpeMerges(docs(s, d), "text", nMerges = 10)
    }

  private def bpeQuery(s: SparkSession, d: String): DataFrame =
    sharedMerges(s, d).orderBy("rank")

  /** Bench accounting hook: this module's memoized shared-intermediate
    * builds (see [[graft.operators.DedupOps.memoBuilds]]). */
  def memoBuilds: Seq[(String, (SparkSession, String) => DataFrame)] =
    Seq("_memo_bpe_merges" -> ((s, d) => sharedMerges(s, d)))

  /** ENCODE with a learned merge table — the inference side of the
    * tokenizer pair. The model (merge rules in rank order) is a handful of
    * literals baked into the plan — the broadcast-model pattern: applying
    * it is a pure per-document projection, embarrassingly parallel at any
    * corpus size, no shuffle, no state. Each word is character-split (with
    * the `</w>` marker) and the merges are applied in RANK ORDER — the
    * same greedy order the trainer learned them in, which is what makes
    * encode(train_corpus) consistent with the trainer's final word table
    * (asserted in graft.BpeSpec).
    *
    * Output per document: token count under the learned vocabulary and
    * the chars-per-token compression ratio — the signal that sizes a
    * context window budget in tokens rather than characters.
    *
    * LIBRARY ENTRY POINT — generic over any corpus (id + text columns). */
  def bpeEncode(rows: DataFrame, id: String, text: String,
      merges: Seq[(String, String)]): DataFrame = {
    // The merge chain runs once per DISTINCT word, not per occurrence —
    // the same vocab-not-corpus reduction the trainer rides: the regex
    // work is O(vocab × merges) however large the corpus, and per-doc
    // counts come back through a token-keyed join (the q_lm_score shape).
    val base = rows.select(col(id).as("doc_id"),
      length(col(text)).cast("long").as("n_chars"),
      toks(col(text)).as("ws"))
    val tok = base.select(col("doc_id"), explode(col("ws")).as("word"))
    // Merges apply in BATCHES of bounded expression depth: a production
    // merge table (tens of thousands of rules) folded into ONE expression
    // would blow past codegen method limits and Catalyst's recursion
    // depth; 50-deep chains stay codegen'd, and the checkpoint between
    // batches cuts the accumulated plan over the vocab-sized frame.
    var enc = tok.select("word").distinct()
      .withColumn("sym", wordSyms(col("word")))
    val batches = merges.grouped(50).toSeq
    var pinned: Option[DataFrame] = None
    batches.zipWithIndex.foreach { case (batch, bi) =>
      val folded = batch.foldLeft(col("sym")) { case (acc, (l, r)) =>
        regexp_replace(acc,
          lit("(?<!\\S)" + Pattern.quote(l + " " + r) + "(?!\\S)"),
          lit(java.util.regex.Matcher.quoteReplacement(l + r)))
      }
      enc = enc.withColumn("sym", folded)
      // once the next checkpoint has materialized, nothing reads the
      // one it supersedes; the last stays pinned, the result reads it
      if (bi < batches.length - 1) {
        enc = Pins.checkpoint(enc)
        pinned.foreach(Pins.release)
        pinned = Some(enc)
      }
    }
    val vocab = enc
      .withColumn("n_units", size(split(col("sym"), " ")).cast("long"))
      .select("word", "n_units")
    // The vocab side broadcasts: it is corpus-VOCABULARY sized (1e5-1e7
    // short rows — tens of MB at the top end), while the probe side is
    // every token OCCURRENCE in the corpus. A shuffle join here would
    // repartition the occurrence stream by word — a corpus-scale shuffle
    // onto a 31-word key space on skewed real text; the broadcast keeps
    // the occurrence stream where it was scanned and the per-doc
    // aggregation then combines map-side to one row per document.
    val counts = tok.join(broadcast(vocab), Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_units").as("n_tokens"))
    // left join keeps token-less docs in the manifest (0 words, 0 tokens)
    base.select(col("doc_id"), col("n_chars"))
      .join(counts, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_words", "n_tokens"))
      .withColumn("chars_per_token",
        when(col("n_tokens") > 0,
          graft.Det.r4(col("n_chars") / col("n_tokens"))).otherwise(lit(0.0d)))
      .orderBy("doc_id")
  }

  private def bpeEncodeQuery(s: SparkSession, d: String): DataFrame = {
    // train-then-encode on the same corpus: the learned model is collected
    // once (it IS driver-sized — nMerges rows) and baked into the encode
    // projection
    val model = sharedMerges(s, d).orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    bpeEncode(docs(s, d), "doc_id", "text", model)
  }

  // --- DuckDB oracle for the merge loop (r10) ---------------------------
  // The 10-round training loop IS batch-SQL-expressible for a fixed small
  // nMerges: each round is a chained CTE pair (pair counts + argmax) and
  // the merge-apply is a left-to-right greedy fold. The derivation starts
  // from the CORPUS (same tokenization as every other text oracle —
  // TextOps.oracleToks — plus the same char-split + `</w>` symbol
  // construction), so the oracle checks tokenize → word table → every
  // merge round end to end, not just the rounds over a pre-agreed table.
  //
  // Cross-engine agreement rests on three invariants, each pinned here:
  //  - argmax tie-break (cnt DESC, left, right): both engines compare
  //    VARCHAR as UTF-8 bytes;
  //  - merge-apply: DuckDB's list_reduce with a space-joined string
  //    accumulator replaces the accumulator's LAST symbol when (last,
  //    next) equals the learned pair — exactly the non-overlapping
  //    left-to-right scan of driverMerges (and of the distributed path's
  //    lookaround regex: "a a a" merges to "aa a", never "a aa"; the
  //    merged symbol can never re-merge in the same round since l+r ≠ l);
  //  - DuckDB string_split(word, '') and Spark split(word, "") agree per
  //    character on BMP text (the corpus; BpeSpec owns the Spark side).

  /** The round-`i` CTE triple: pair counts over `w{i-1}`, the argmax
    * merge `m{i}`, and the rewritten word table `w{i}`. `word` rides
    * along untouched so the encode oracle can key occurrences back to
    * their final symbol sequences. */
  // NOTE: no line of these SQL strings may BEGIN with `||` — the callers
  // compose them into interpolated strings whose default stripMargin
  // would maim a line-leading `||` into a single `|` (bitwise-or, a
  // binder error at the gate).
  private def roundCte(i: Int): String = {
    val prev = s"w${i - 1}"
    val mergedTail = "' ' || m.l || m.r"
    s"""p$i AS (
       #  SELECT p[1] AS l, p[2] AS r, SUM(freq) AS cnt
       #  FROM (SELECT freq, unnest(list_zip(s[1:len(s)-1], s[2:len(s)])) AS p
       #        FROM (SELECT freq, string_split(sym, ' ') AS s FROM $prev)
       #        WHERE len(s) > 1)
       #  GROUP BY 1, 2),
       #m$i AS (SELECT $i AS rank, l, r, cnt FROM p$i
       #        ORDER BY cnt DESC, l, r LIMIT 1),
       #w$i AS (
       #  SELECT word, freq,
       #    CASE WHEN m.l IS NULL OR len(string_split(sym, ' ')) <= 1 THEN sym
       #    ELSE list_reduce(string_split(sym, ' '), (acc, x) ->
       #      CASE WHEN list_extract(string_split(acc, ' '), -1) = m.l AND x = m.r
       #           THEN CASE WHEN len(string_split(acc, ' ')) = 1 THEN m.l || m.r
       #                ELSE array_to_string(string_split(acc, ' ')[1:len(string_split(acc, ' '))-1], ' ') || $mergedTail END
       #           ELSE acc || ' ' || x END)
       #    END AS sym
       #  FROM $prev LEFT JOIN m$i m ON TRUE)""".stripMargin('#')
  }

  /** Corpus → `(word, freq, sym)` start table plus `n` merge rounds. */
  private def mergeCtes(n: Int): String = {
    val toks = TextOps.oracleToks
    val w0 =
      s"""w0 AS (
         |  SELECT word, freq, array_to_string(list_transform(string_split(word, ''),
         |      (c, i) -> CASE WHEN i = len(string_split(word, '')) THEN c || '</w>' ELSE c END), ' ') AS sym
         |  FROM (SELECT word, count(*) AS freq
         |        FROM (SELECT unnest($toks) AS word FROM documents) GROUP BY 1))""".stripMargin
    (w0 +: (1 to n).map(roundCte)).mkString(",\n")
  }

  private def mergesOracle(n: Int): String =
    s"""WITH ${mergeCtes(n)}
       |SELECT CAST(rank AS INT) AS rank, l AS "left", r AS "right",
       |       CAST(cnt AS BIGINT) AS pair_count
       |FROM (${(1 to n).map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ")})
       |ORDER BY rank""".stripMargin

  private def encodeOracle(n: Int): String = {
    val toks = TextOps.oracleToks
    s"""WITH ${mergeCtes(n)},
       |enc AS (SELECT word, len(string_split(sym, ' ')) AS n_units FROM w$n),
       |tok AS (SELECT doc_id, unnest($toks) AS word FROM documents),
       |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |          CAST(SUM(n_units) AS BIGINT) AS n_tokens
       |        FROM tok JOIN enc USING (word) GROUP BY 1)
       |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
       |  coalesce(c.n_words, 0) AS n_words, coalesce(c.n_tokens, 0) AS n_tokens,
       |  CASE WHEN coalesce(c.n_tokens, 0) > 0
       |    THEN ${graft.Det.r4Sql("CAST(length(d.text) AS DOUBLE) / c.n_tokens")}
       |    ELSE 0.0 END AS chars_per_token
       |FROM documents d LEFT JOIN cnt c USING (doc_id) ORDER BY d.doc_id""".stripMargin
  }

  lazy val defs: Seq[QDef] = Seq(
    // Oracle-checked since r10 (closing the longest-standing no_oracle
    // pair): DuckDB re-derives the word table and all 10 merge rounds
    // from the corpus. graft.BpeSpec still pins both Spark regimes
    // (driver + distributed) to the sequential Sennrich reference.
    QDef("q_bpe_merges", bpeQuery, Some(mergesOracle(10))),
    QDef("q_bpe_encode", bpeEncodeQuery, Some(encodeOracle(10)))
  )
}
