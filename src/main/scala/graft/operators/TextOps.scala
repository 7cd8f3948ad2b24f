package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Det, QDef}
import graft.sources.Tables

/** Text-analysis operators for a training-data pipeline (north star of
  * BASELINE.json; the reference has no text processing — payloads are
  * opaque bytes, `/root/reference/src/streams.ts:12-13`).
  *
  * All operators are narrow per-document projections built from codegen'd
  * built-ins (`split`/`filter`/`regexp_count`/higher-order array fns): they
  * scan once, shuffle nothing (except the token top-k aggregation), and
  * parallelize embarrassingly — the right shape for 100 TB of documents.
  */
object TextOps {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")

  /** Whitespace tokens of lower-cased text, empties removed. */
  private[operators] def toks(c: Column): Column =
    filter(split(lower(c), "\\s+"), t => length(t) > 0)

  private[operators] val enStop = "\\b(the|and|of|to|in|is|that|it|was|for)\\b"
  private val deStop = "\\b(der|die|das|und|ist|nicht|ein|eine|mit|von)\\b"
  private val esStop = "\\b(el|la|los|las|que|y|en|un|una|por)\\b"
  private val frStop = "\\b(le|les|des|et|est|une|dans|pour|sur|avec)\\b"

  // Corpus token frequency: explode + count, top 100. At scale this is the
  // canonical map-side-combine aggregation (partial counts per partition,
  // one shuffle on token).
  private def textTokens(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(explode(toks(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("tok"))
      .limit(100)

  // Per-document token counting: whitespace tokenizer + a BPE-ish
  // alphanumeric-run tokenizer (subword pieces split on any non-[a-z0-9]).
  private def tokenCount(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(
      col("doc_id"),
      size(toks(col("text"))).cast("long").as("n_tokens_ws"),
      size(filter(split(lower(col("text")), "[^a-z0-9]+"), t => length(t) > 0))
        .cast("long").as("n_tokens_re"),
      length(col("text").cast("binary")).cast("long").as("n_bytes"))
      .orderBy("doc_id")

  // Language ID: stopword-hit heuristic over 4 Latin-script languages +
  // CJK-codepoint detection for zh. Deterministic integer scoring.
  private def langId(s: SparkSession, d: String): DataFrame = {
    val lc = lower(col("text"))
    docs(s, d).select(
      col("doc_id"),
      regexp_count(lc, lit(enStop)).cast("long").as("en_hits"),
      regexp_count(lc, lit(deStop)).cast("long").as("de_hits"),
      regexp_count(lc, lit(esStop)).cast("long").as("es_hits"),
      regexp_count(lc, lit(frStop)).cast("long").as("fr_hits"),
      regexp_count(col("text"), lit("[一-鿿]")).cast("long").as("zh_hits"))
      .withColumn("lang_pred",
        when(col("zh_hits") > 0, "zh")
          .when(col("en_hits") >= col("de_hits") && col("en_hits") >= col("es_hits")
            && col("en_hits") >= col("fr_hits") && col("en_hits") > 0, "en")
          .when(col("de_hits") >= col("es_hits") && col("de_hits") >= col("fr_hits")
            && col("de_hits") > 0, "de")
          .when(col("es_hits") >= col("fr_hits") && col("es_hits") > 0, "es")
          .when(col("fr_hits") > 0, "fr")
          .otherwise("und"))
      .select("doc_id", "lang_pred", "en_hits", "de_hits", "es_hits",
        "fr_hits", "zh_hits")
      .orderBy("doc_id")
  }

  // Quality scoring: length / punctuation / stopword-density ratios →
  // composite score. Integer counts + single divisions → bit-deterministic.
  // r19 negative result: a doc_id spread before the regex projection
  // measured 1.07→1.18 s isolated — at sf0.1 the five regexes cost ~0.3 s
  // serially, below the exchange's own overhead (contrast q_corr_stats,
  // where 1.9 s of serial decimal work made the same spread a 2× win).
  private[operators] def qualityScore(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(
      col("doc_id"),
      length(col("text")).cast("long").as("len"),
      regexp_count(col("text"), lit("[A-Za-z]")).cast("long").as("n_alpha"),
      regexp_count(col("text"), lit("[.,;:!?]")).cast("long").as("n_punct"),
      size(toks(col("text"))).cast("long").as("n_tok"),
      regexp_count(lower(col("text")), lit(enStop)).cast("long").as("n_stop"))
      .filter(col("n_tok") > 0 && col("len") > 0)
      .withColumn("alpha_ratio", Det.r4(col("n_alpha") / col("len")))
      .withColumn("punct_ratio", Det.r4(col("n_punct") / col("len")))
      .withColumn("stop_ratio", Det.r4(col("n_stop") / col("n_tok")))
      .withColumn("avg_tok_len", Det.r4(col("n_alpha") / col("n_tok")))
      .withColumn("quality",
        Det.r4(col("alpha_ratio") * lit(0.5) + col("stop_ratio") * lit(0.3)
          + (lit(1.0) - col("punct_ratio")) * lit(0.2)))
      .select("doc_id", "len", "n_tok", "alpha_ratio", "punct_ratio",
        "stop_ratio", "avg_tok_len", "quality")
      .orderBy("doc_id")

  // Unigram language-model scoring (the CCNet-style quality signal): build
  // the corpus unigram distribution, score every document by its mean token
  // surprisal -log2 p(tok). Low = in-distribution text, high = rare-token
  // soup; training pipelines bucket on this for curriculum/quality cuts.
  // Shape at 100 TB: one token aggregation (map-side combined), the
  // per-token join keys on the token string against the frequency table —
  // at web scale that table is millions of rows, far too big to broadcast,
  // and the shuffle join on `tok` is the right plan (both sides keyed on
  // the token, documents never travel). Surprisal sums go through the
  // decimal accumulator so the mean is partitioning-independent.
  // LIBRARY ENTRY POINT — generic over any corpus (id + text columns).
  def lmScore(rows: DataFrame, id: String, text: String): DataFrame = {
    // r19 (guide §2.3 "aggregate before you shuffle"): the raw token
    // stream never crosses an exchange — it is reduced map-side to
    // distinct (doc, tok, count) rows, and the frequency join + the
    // per-doc sum operate on those pairs. A token occurring c times in a
    // doc contributes c·dec₆(surprisal) to the doc's decimal sum, which is
    // EXACTLY the decimal accumulator's value over c per-token rows
    // (decimal × integer is exact at the same scale), so the output is
    // bit-identical to the per-token formulation at any parallelism. At
    // corpus scale this caps the tok-keyed shuffle at the distinct-pair
    // count (Heaps-law sublinear) instead of the token count.
    val tokc = rows
      .select(col(id).as("doc_id"), col(text).as("text"))
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    // The total derives from the frequency table, not a third aggregation
    // over the corpus. The freq subtree still evaluates once per consumer
    // (exchange reuse does not fire here — verified on the final AQE
    // plan), but the consumers pipeline concurrently, and measured on the
    // full bench this lazy shape beats an eager localCheckpoint of `freq`
    // by ~1.7× (the materialization barrier serializes stages that
    // otherwise overlap). At true corpus scale, persist `freq` (a
    // vocab-sized table) explicitly to bound tokenization to two passes.
    val freq = tokc.groupBy("tok").agg(sum("c").as("n"))
    val total = freq.agg(sum("n").as("n_total"))
    tokc.join(freq, Seq("tok"))
      .crossJoin(broadcast(total))
      .withColumn("surprisal", -log2(col("n") / col("n_total")))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tok"),
        // ≡ Det.dsum over the per-token rows: dec₆ cast first, then the
        // exact decimal multiply by the count — DECIMAL(18,6)×DECIMAL(18,0)
        // → DECIMAL(37,6), no precision clipping, no rounding.
        sum(col("surprisal").cast(DecimalType(18, 6)) *
          col("c").cast(DecimalType(18, 0))).cast("double")
          .as("sum_surprisal"))
      .select(col("doc_id"), col("n_tok"),
        Det.r4(col("sum_surprisal") / col("n_tok")).as("mean_surprisal"))
      .orderBy("doc_id")
  }

  private def lmScoreQuery(s: SparkSession, d: String): DataFrame =
    lmScore(docs(s, d), "doc_id", "text")

  // DSIR-style importance weighting (Xie et al. 2023, Data Selection via
  // Importance Resampling, arXiv:2302.03169): score every document by how
  // much more likely its tokens are under a TARGET distribution (the
  // high-quality slice you want more of) than under the corpus
  // distribution — weight = mean over tokens of
  // ln p_target(tok) - ln p_corpus(tok), add-one smoothed over the corpus
  // vocabulary. Selection pipelines resample the corpus proportionally to
  // exp(weight); positive = target-like, negative = off-distribution.
  //
  // Shape at 100 TB: the q_lm_score shape with a two-sided frequency
  // table — ONE token aggregation builds corpus and target counts together
  // (conditional count, no second pass), the per-token join keys on the
  // token string (vocab-sized table, shuffle join — documents never
  // travel), and the per-doc mean goes through the decimal accumulator so
  // it is partitioning-independent.
  // LIBRARY ENTRY POINT — generic over any corpus; `target` is any boolean
  // predicate column over the input rows (a source label, a classifier
  // verdict, a hand-curated id list membership).
  def importanceWeights(rows: DataFrame, id: String, text: String,
      target: Column): DataFrame = {
    // r19 negative result (kept as shipped): the lmScore-style map-side
    // (doc, is_t, tok, count) reduction measured 1.56→1.91 s isolated —
    // the pair aggregation re-evaluates once per consumer (join left,
    // freq, totals; same no-exchange-reuse plan as lmScore) and its cost
    // here outweighs the pair dedup's shuffle savings at bench scale. At
    // corpus scale the right move is the lmScore note's: persist the
    // vocab-sized freq table, then the pair reduction bounds the token
    // shuffle exactly as in lmScore.
    val tok = rows
      .select(col(id).as("doc_id"), target.as("is_t"), col(text).as("text"))
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("is_t"), explode(toks(col("text"))).as("tok"))
    val freq = tok.groupBy("tok").agg(
      count(lit(1)).as("nc"),
      count(when(col("is_t"), 1)).as("nt"))
    val totals = freq.agg(sum("nc").as("tc"), sum("nt").as("tt"),
      count(lit(1)).as("v"))
    tok.join(freq, Seq("tok"))
      .crossJoin(broadcast(totals))
      .withColumn("lr",
        log((col("nt") + 1).cast("double") / (col("tt") + col("v")).cast("double")) -
          log((col("nc") + 1).cast("double") / (col("tc") + col("v")).cast("double")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), Det.dsum(col("lr")).as("slr"))
      .select(col("doc_id"), col("n_tok"),
        Det.r4(col("slr") / col("n_tok")).as("imp_weight"))
      .orderBy("doc_id")
  }

  private def importanceQuery(s: SparkSession, d: String): DataFrame =
    importanceWeights(docs(s, d), "doc_id", "text", col("source") === "src0")

  // N-gram novelty: the fraction of a document's 3-shingles that occur
  // NOWHERE else in the corpus — the originality signal curation pipelines
  // use to up-weight unique content (the inverse view of contamination/
  // near-dup overlap). Shingles travel as 64-bit hashes; the join keys on
  // the hash against the df table — the q_lm_score shape one level up
  // (shingles instead of tokens). Docs under 3 tokens have no shingles and
  // no novelty row.
  // LIBRARY ENTRY POINT — generic over any corpus (id + text columns).
  def noveltyScore(rows: DataFrame, id: String, text: String): DataFrame = {
    val sh = rows
      .select(col(id).as("doc_id"), col(text).as("text"))
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        explode(graft.functions.TextKernels.shingleSet64(col("text"))).as("sh64"))
    val dfreq = sh.groupBy("sh64").agg(count(lit(1)).as("df"))
    sh.join(dfreq, Seq("sh64"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("df") === 1, 1)).as("n_unique"))
      .select(col("doc_id"), col("n_shingles"), col("n_unique"),
        Det.r4(col("n_unique") / col("n_shingles")).as("novelty"))
      .orderBy("doc_id")
  }

  private def noveltyQuery(s: SparkSession, d: String): DataFrame =
    noveltyScore(docs(s, d), "doc_id", "text")

  // Gopher-style composite quality FILTER: the keep/reject decision (and
  // why) — qualityScore's continuous signals turned into named rules. Each
  // rule is a boolean column, `keep` is their conjunction, `reason` names
  // the FIRST failing rule (rule order is part of the contract). A pure
  // per-document projection: no shuffle, no state, embarrassingly parallel
  // at any corpus size; downstream stages filter on `keep` and audit
  // reject rates by `reason`.
  // LIBRARY ENTRY POINT — generic over any corpus (id + text columns).
  def qualityFilter(rows: DataFrame, id: String, text: String): DataFrame =
    rows.select(col(id).as("doc_id"), col(text).as("text"))
      .select(col("doc_id"),
        size(toks(col("text"))).cast("long").as("n_tok"),
        size(array_distinct(toks(col("text")))).cast("long").as("n_uniq"),
        length(regexp_replace(col("text"), "\\s", "")).cast("long")
          .as("n_nonspace"),
        regexp_count(lower(col("text")), lit(enStop)).cast("long").as("n_stop"))
      // zero-token docs stay IN the manifest (keep=false via r_nwords) —
      // every input doc gets a verdict; only the ratio divisions need the
      // guard
      .withColumn("avg_tok_len",
        when(col("n_tok") > 0, Det.r4(col("n_nonspace") / col("n_tok")))
          .otherwise(lit(0.0d)))
      .withColumn("dup_tok_ratio",
        when(col("n_tok") > 0,
          Det.r4(lit(1.0d) - col("n_uniq") / col("n_tok")))
          .otherwise(lit(0.0d)))
      .withColumn("r_nwords", col("n_tok") >= 30 && col("n_tok") <= 2000)
      .withColumn("r_wordlen",
        col("avg_tok_len") >= 2.0 && col("avg_tok_len") <= 10.0)
      .withColumn("r_stop", col("n_stop") >= 2)
      .withColumn("r_rep", col("dup_tok_ratio") <= 0.6)
      .withColumn("keep",
        col("r_nwords") && col("r_wordlen") && col("r_stop") && col("r_rep"))
      .withColumn("reason",
        when(!col("r_nwords"), "n_words")
          .when(!col("r_wordlen"), "word_len")
          .when(!col("r_stop"), "stopwords")
          .when(!col("r_rep"), "repetition"))
      .select("doc_id", "n_tok", "avg_tok_len", "dup_tok_ratio", "n_stop",
        "r_nwords", "r_wordlen", "r_stop", "r_rep", "keep", "reason")
      .orderBy("doc_id")

  private def qualityFilterQuery(s: SparkSession, d: String): DataFrame =
    qualityFilter(docs(s, d), "doc_id", "text")

  // Document fingerprint: min-hash over word 3-shingles (one 128-bit hash
  // per shingle, keep the lexicographic min) — an order-invariant,
  // locality-insensitive content fingerprint; md5(text) fallback for
  // sub-3-token docs. Evaluated by the native MinShingleMd5 kernel (one
  // tight JVM pass per doc inside whole-stage codegen) — the declarative
  // rendering below evaluates an interpreted md5-per-shingle lambda, the
  // last heavy interpreted text path (~8s at sf0.1 vs ~1s for the
  // kernel). Parity kernel == declarative is asserted in KernelSpec.
  private def fingerprint(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        graft.functions.TextKernels.minShingleMd5Col(col("text")).as("fp"))
      .orderBy("doc_id")

  /** The declarative fingerprint — KernelSpec's parity reference for the
    * MinShingleMd5 kernel (kept out of the bench path). */
  private[graft] def fingerprintDeclarative(text: Column): Column =
    graft.functions.bindOnce(toks(text), l =>
      coalesce(
        when(size(l) >= 3,
          array_min(transform(sequence(lit(1), size(l) - 2),
            i => md5(concat_ws(" ",
              element_at(l, i),
              element_at(l, i + 1),
              element_at(l, i + 2)).cast("binary"))))),
        md5(text.cast("binary"))))

  // TF-IDF: corpus document frequency + per-doc term frequency → top-3
  // terms per doc. Two shuffles (tf groupBy, df groupBy) + a broadcast of
  // the doc count; idf uses ln — identical IEEE input → identical bits in
  // both engines, r4-rounded for the hash compare anyway.
  private def tfidf(s: SparkSession, d: String): DataFrame = {
    val tf = docs(s, d)
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs(s, d).agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("score"), col("term"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        Det.r4(col("tf") * log(col("n_docs") / col("df"))))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("doc_id", "rk", "term", "tf", "df", "score")
      .orderBy("doc_id", "rk")
  }

  /** Token-distribution divergence between two corpora — the
    * DISTRIBUTION-level drift signal complementing
    * [[graft.operators.PipelineOps.corpusDelta]]'s identity-level diff:
    * corpusDelta says WHICH documents moved between two builds; this says
    * how the token distribution moved and which tokens drove it. Returns
    * the `topK` tokens by Jensen-Shannon contribution
    * `½·p·ln(p/m) + ½·q·ln(q/m)` (m = (p+q)/2; a one-sided token's
    * missing term is 0 by the usual 0·ln(0) convention) with their raw
    * counts; the total JS divergence is the sum of all contributions
    * (bounded by ln 2 — the unrounded contributions are nonnegative).
    *
    * Shape at 100 TB: the two corpora union with a side flag into ONE
    * token aggregation (conditional counts — map-side combine, one
    * shuffle keyed on the token, documents never travel); the two totals
    * ride a 1-row broadcast; everything after is a per-token projection
    * ranked by TakeOrderedAndProject. Contributions are per-row double
    * arithmetic (no order-dependent sum), so results are bit-stable at
    * any parallelism — the same `ln` parity the tfidf/zipf/importance
    * oracles rely on.
    *
    * LIBRARY ENTRY POINT — generic over any two frames sharing a text
    * column (two builds, two sources, raw-vs-curated). */
  def tokenDivergence(a: DataFrame, b: DataFrame, text: String,
      topK: Int = 100): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    Seq(a -> "a", b -> "b").foreach { case (df, nm) =>
      require(df.columns.contains(text),
        s"$nm frame has no column '$text' (columns: ${df.columns.mkString(", ")})")
    }
    val ta = a.select(explode(toks(col(text))).as("tok"), lit(true).as("ia"))
    val tb = b.select(explode(toks(col(text))).as("tok"), lit(false).as("ia"))
    val counts = ta.unionByName(tb)
      .groupBy("tok")
      .agg(count(when(col("ia"), 1)).as("n_a"),
        count(when(!col("ia"), 1)).as("n_b"))
    val tot = counts.agg(sum("n_a").as("ta"), sum("n_b").as("tb"))
    // a token-less side would make every p (or q) 0/0 = NaN and poison
    // the ranking; treat the empty corpus as zero measure instead —
    // divergence vs nothing degrades to the other side's ½·ln 2 terms
    val p = when(col("ta") > 0,
      col("n_a").cast("double") / col("ta").cast("double")).otherwise(lit(0.0d))
    val q = when(col("tb") > 0,
      col("n_b").cast("double") / col("tb").cast("double")).otherwise(lit(0.0d))
    counts.crossJoin(broadcast(tot))
      .withColumn("p", p).withColumn("q", q)
      .withColumn("m", (col("p") + col("q")) / lit(2.0d))
      .withColumn("js_contrib", Det.r9(
        when(col("p") > 0, col("p") * log(col("p") / col("m")))
          .otherwise(lit(0.0d)) * lit(0.5d) +
          when(col("q") > 0, col("q") * log(col("q") / col("m")))
            .otherwise(lit(0.0d)) * lit(0.5d)))
      .select(col("tok"), col("n_a"), col("n_b"), col("js_contrib"))
      .orderBy(desc("js_contrib"), col("tok"))
      .limit(topK)
  }

  /** [[tokenDivergence]] over two serialized frequent-items sketches
    * (r15) — the ESTIMATE-GRADE drift monitor the standing corpus
    * profile enables: compare the ingest-advanced `token_sketch` bytes
    * against an increment's own sketch WITHOUT touching either corpus —
    * kilobytes in, a top-K report out, zero executor work. Same JS
    * formula and r9 rounding as the exact operator over the union of
    * the two sketches' retained candidates with their count estimates:
    * in the sketches' exact regime (no purging) the candidates are ALL
    * distinct tokens with exact counts and the report EQUALS
    * [[tokenDivergence]]'s (graft.ApiSpec pins it); in the purging
    * regime it is the heavy-hitter-restricted estimate — exactly the
    * tokens a drift decision is about, each count within the sketch's
    * proven band. Use the exact operator for an audit-grade report;
    * use this per ingest.
    *
    * LIBRARY ENTRY POINT — any two [[graft.functions.FreqItems]] bytes
    * (e.g. [[tokenSketchBytes]] output). */
  def tokenDivergenceSketch(s: SparkSession, a: Array[Byte],
      b: Array[Byte], topK: Int = 100): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    import graft.functions.FreqItems
    val (na, _, candsA) = FreqItems.decode(a, 1L)
    val (nb, _, candsB) = FreqItems.decode(b, 1L)
    val ma = candsA.map(c => c.item -> c.est).toMap
    val mb = candsB.map(c => c.item -> c.est).toMap
    def r9(x: Double): Double = math.floor(x * 1e9d + 0.5d) / 1e9d
    val rows = (ma.keySet ++ mb.keySet).toSeq.map { tok =>
      val nA = ma.getOrElse(tok, 0L)
      val nB = mb.getOrElse(tok, 0L)
      val p = if (na > 0) nA.toDouble / na else 0.0d
      val q = if (nb > 0) nB.toDouble / nb else 0.0d
      val m = (p + q) / 2.0d
      // StrictMath.log: bit-parity with Spark's log codegen (the
      // TextStats lesson) so the exact-regime equality is exact
      val js = r9(
        (if (p > 0) p * StrictMath.log(p / m) else 0.0d) * 0.5d +
          (if (q > 0) q * StrictMath.log(q / m) else 0.0d) * 0.5d)
      (tok, nA, nB, js)
    }.sortBy { case (tok, _, _, js) => (-js, tok) }.take(topK)
    import s.implicits._
    rows.toDF("tok", "n_a", "n_b", "js_contrib")
  }

  /** src0 vs the rest of the corpus — the per-source drift report a
    * mixture pipeline runs per build. */
  private def tokenDivergenceQuery(s: SparkSession, d: String): DataFrame = {
    val docs0 = docs(s, d)
    tokenDivergence(docs0.filter(col("source") === "src0"),
      docs0.filter(col("source") =!= "src0"), "text")
  }

  // Deterministic train/val/test split: md5-hash bucketing on doc_id — the
  // reproducible split every training pipeline needs (no RNG, no seed
  // drift across engines/runs; a doc's split never changes when the corpus
  // grows). 90/5/5 by the first 8 hex digits of md5(doc_id).
  //
  // splitBucketOf/splitNameOf are the ONE definition of that hash split:
  // splitAssign and leakageSafeSplit both render through them, so the
  // singleton-parity guarantee (leakageSafeSplit ≡ plain split for
  // unclustered docs, asserted in ApiSpec) cannot drift if the ratios or
  // the bucket expression are ever retuned.
  private[graft] def splitBucketOf(anchor: Column): Column =
    conv(substring(md5(anchor.cast("string")), 1, 8), 16, 10)
      .cast("long") % 100
  private[graft] def splitNameOf(bucket: Column): Column =
    when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")

  private[graft] def splitAssign(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .withColumn("bucket", splitBucketOf(col("doc_id")))
      .withColumn("split", splitNameOf(col("bucket")))

  private[operators] val splitAssignSql: String =
    """SELECT doc_id, text,
      | CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val'
      |  ELSE 'test' END AS split
      | FROM (SELECT doc_id, text,
      |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
      |  FROM documents)""".stripMargin

  private def dataSplit(s: SparkSession, d: String): DataFrame =
    splitAssign(s, d)
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), Det.dsum(length(col("text"))).as("n_chars"))
      .orderBy("split")

  /** Leakage-safe train/val/test split — the FIX half of the
    * contamination check: q_contamination DETECTS near-dup pairs
    * straddling a split boundary; this operator makes them impossible by
    * assigning whole near-dup CLUSTERS atomically. Each document's split
    * hash runs on its cluster representative (connected component of the
    * supplied pair list; untouched docs anchor on themselves), so every
    * member of a cluster lands in the same split BY CONSTRUCTION, and
    * singleton assignment is bit-identical to the plain md5 split
    * (membership stays stable under corpus growth for unclustered docs).
    *
    * Shape at scale: the cluster table is a vanishing fraction of the
    * corpus (only near-dup members appear), so the anchor join
    * broadcasts under AQE; the split itself is a pure projection. Cost =
    * connectedComponents on the pair list + one join + one corpus pass.
    *
    * Returns (`id`, split_anchor, split).
    *
    * LIBRARY ENTRY POINT — generic over any corpus + pair list (ApiSpec
    * plants clusters and asserts zero cross-split pairs and singleton
    * parity with the plain split). */
  def leakageSafeSplit(rows: DataFrame, id: String, pairs: DataFrame,
      src: String = "da", dst: String = "db"): DataFrame = {
    // output adds split_anchor/split (and bucket internally); colliding
    // input columns would be silently replaced by withColumn
    val clash = rows.columns.toSeq
      .intersect(Seq("split_anchor", "split", "bucket", "__cv", "__rep"))
    require(clash.isEmpty,
      s"corpus already contains output/internal columns $clash — rename before calling")
    val comps = DedupOps.connectedComponents(pairs, src, dst)
      .select(col("doc_id").as("__cv"), col("cluster_rep").as("__rep"))
    rows.join(comps, col(id) === col("__cv"), "left")
      .withColumn("split_anchor", coalesce(col("__rep"), col(id)))
      .withColumn("bucket", splitBucketOf(col("split_anchor")))
      .select(col(id), col("split_anchor"),
        splitNameOf(col("bucket")).as("split"))
  }

  private def splitLeakageSafe(s: SparkSession, d: String): DataFrame =
    leakageSafeSplit(docs(s, d), "doc_id", DedupOps.sharedNgramPairs(s, d))
      .orderBy("doc_id")

  // Corpus bigram counts (n-gram language-model statistics): tokens bound
  // once per row, adjacent pairs materialized per doc, then the canonical
  // map-side-combine count. Top-50 keeps the result driver-small while the
  // aggregation itself is unbounded-corpus safe (one shuffle on the bigram).
  private def ngramBigrams(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      // generators can't nest inside expressions: materialize the bigram
      // array column first (tokens bound once per row), explode separately
      .select(graft.functions.bindOnce(toks(col("text")), l =>
        when(size(l) >= 2,
          transform(sequence(lit(1), size(l) - 1),
            i => concat_ws(" ", element_at(l, i), element_at(l, i + 1)))))
        .as("bigrams"))
      .select(explode(col("bigrams")).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("bigram"))
      .limit(50)

  // Benchmark-contamination check: near-duplicate pairs that CROSS a
  // train/val/test boundary — the leakage a training pipeline must catch
  // before an eval split ships. Consumes the exact near-dup pair list and
  // the deterministic split assignment; joins are on doc_id only (the
  // pair list is tiny relative to the corpus — at 100 TB both joins
  // broadcast the pair side via AQE).
  private def contamination(s: SparkSession, d: String): DataFrame = {
    val pairs = DedupOps.sharedNgramPairs(s, d).select("da", "db", "jaccard")
    val sp = splitAssign(s, d).select(col("doc_id"), col("split"))
    pairs
      .join(sp.select(col("doc_id").as("da"), col("split").as("split_a")), Seq("da"))
      .join(sp.select(col("doc_id").as("db"), col("split").as("split_b")), Seq("db"))
      .filter(col("split_a") =!= col("split_b"))
      .select("da", "db", "split_a", "split_b", "jaccard")
      .orderBy("da", "db")
  }

  /** GPT-3-style verbatim n-gram benchmark decontamination: flag every
    * training document sharing at least one n-token run with a benchmark
    * corpus (Brown et al. 2020 §C used 13-grams; n is a parameter). Output
    * is `(doc_id, n_hits)` — the count of the doc's distinct n-grams that
    * appear anywhere in the benchmark.
    *
    * Two-phase Bloom design — the shape that survives 100 TB:
    * 1. The BENCHMARK side (small by definition: an eval suite, not the
    *    corpus) aggregates its distinct n-gram hashes into one Bloom
    *    sketch ([[graft.functions.BloomF.bloomAgg]]) — a distributed
    *    build, one compact binary result whose size depends only on the
    *    benchmark's gram count.
    * 2. The TRAIN side probes the sketch as a pure per-row filter baked
    *    into the scan ([[graft.functions.BloomF.mightContain]], codegen'd,
    *    no false negatives) — so the exact verify join that follows
    *    shuffles only bloom SURVIVORS: true hits + ~1% false positives,
    *    volume proportional to the contamination rate, not the corpus.
    *    The verify join removes the bloom false positives, so the result
    *    is exact UP TO 64-BIT HASH COLLISIONS (the verify join matches on
    *    xxhash64 of the gram, not gram text — DuckDB-oracle-checked at
    *    test scale; at 100 TB a colliding train/bench gram pair survives
    *    with probability ~n²/2⁶⁵, and `array_distinct` over hashes can
    *    collapse colliding grams within a doc). Callers needing true
    *    exactness should re-verify survivors on gram text — survivors are
    *    contamination-rate-sized, so that join is cheap.
    * A plain semi-join instead would shuffle every n-gram of the training
    * corpus; the sketch costs one driver-side materialization of a ~MB
    * binary (the broadcast-model pattern, same as Catalyst's own runtime
    * shuffle pruning — which cannot fire here because the pruning key is
    * a derived explode, not a join column).
    *
    * RESOURCE NOTE: the benchmark gram set is checkpointed (the sketch
    * build and the verify join both consume it, and the returned plan
    * references the checkpointed blocks); the blocks are
    * benchmark-sized, not corpus-sized.
    *
    * LIBRARY ENTRY POINT — generic over any (train, benchmark) corpus
    * pair with (id, text) columns; the q_decontaminate query binds the
    * md5-split test table, graft.ApiSpec a synthetic planted-overlap
    * frame. */
  /** When `precomputedGrams` is set (a persisted [[decontaminationIndex]]
    * table), the benchmark gram set comes entirely from it and the
    * `bench` frame is UNUSED — pass the index across sessions instead of
    * re-shingling the benchmark per ingest. */
  def decontaminate(train: DataFrame, bench: DataFrame, id: String,
      text: String, n: Int, expectedGrams: Long = 0L,
      precomputedGrams: Option[DataFrame] = None): DataFrame = {
    require(n >= 2, s"need n >= 2, got n=$n")
    // Distinct n-token-run hashes per doc — the same NGramSet64 kernel as
    // substringPairs: runs travel as 8-byte xxhash64 keys, never text, and
    // the per-doc gram set is built in one native pass.
    def grams(rows: DataFrame): DataFrame = rows
      .select(col(id).as("doc_id"),
        graft.functions.TextKernels.ngramSet64(col(text), n).as("gs"))
      .select(col("doc_id"), explode(col("gs")).as("g64"))
    // The benchmark side is tiny by definition (an eval suite), so
    // counting it to size the sketch is cheap — and it keeps the probe
    // literal (which rides every task binary) proportional to the
    // benchmark, not a worst-case constant. `expectedGrams > 0` overrides
    // for callers who know the size up front and want one job fewer.
    // precomputedGrams = a persisted [[decontaminationIndex]] table; the
    // defensive distinct costs one shuffle of an eval-suite-sized table
    // and keeps an accidentally-duplicated artifact from inflating
    // n_hits. When absent, the index builds in place from `bench`.
    val benchGrams = precomputedGrams match {
      case Some(g) =>
        require(g.columns.contains("g64"),
          s"precomputed gram table must carry a g64 column, got ${g.columns.toSeq}")
        Pins.checkpoint(g.select(col("g64").cast("long")).distinct())
      case None => Pins.checkpoint(decontaminationIndex(bench, text, n))
    }
    val items =
      if (expectedGrams > 0) expectedGrams
      else math.max(1024L, benchGrams.count())
    val bloom = benchGrams
      .agg(graft.functions.BloomF.bloomAgg(col("g64"), items).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val out =
      if (bloom == null) grams(train).filter(lit(false)) // empty benchmark
      else grams(train)
        .filter(graft.functions.BloomF.mightContain(bloom, col("g64")))
        .join(benchGrams, Seq("g64"))
    out.groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id")
  }

  /** The persistable decontamination artifact: the benchmark's distinct
    * n-token-run hash table `(g64 BIGINT)` — write it once per benchmark
    * release and feed it back through [[decontaminate]]'s
    * `precomputedGrams` on every later ingest (same
    * materialize-the-expensive-stage pattern as curate's
    * `precomputedPairs` and ivf's `precomputedCentroids`). The Bloom
    * sketch is NOT part of the artifact: it rebuilds from this table in
    * one aggregation over an eval-suite-sized input, and the exact
    * verify join needs the gram table itself anyway.
    *
    * LIBRARY ENTRY POINT — reuse ≡ self-build parity in ApiSpec. */
  def decontaminationIndex(bench: DataFrame, text: String,
      n: Int): DataFrame = {
    require(n >= 2, s"need n >= 2, got n=$n")
    bench.select(
        graft.functions.TextKernels.ngramSet64(col(text), n).as("gs"))
      .select(explode(col("gs")).as("g64"))
      .distinct()
  }

  private def decontaminateQuery(s: SparkSession, d: String): DataFrame = {
    val sp = splitAssign(s, d)
    decontaminate(sp.filter(col("split") === "train"),
      sp.filter(col("split") =!= "train"), "doc_id", "text", n = 8)
  }

  // Edit-distance verification of the near-dup ground truth: exact
  // levenshtein over the candidate pairs ONLY (never all pairs — the
  // O(len²) DP is why edit distance can't be the discovery mechanism at
  // scale; LSH finds candidates, levenshtein verifies).
  private def editDistance(s: SparkSession, d: String): DataFrame = {
    val pairs = DedupOps.sharedNgramPairs(s, d).select("da", "db")
    val t = docs(s, d).select(col("doc_id"), col("text"))
    pairs
      .join(t.select(col("doc_id").as("da"), col("text").as("ta")), Seq("da"))
      .join(t.select(col("doc_id").as("db"), col("text").as("tb")), Seq("db"))
      .select(col("da"), col("db"),
        levenshtein(col("ta"), col("tb")).as("edit_dist"),
        greatest(length(col("ta")), length(col("tb"))).as("max_len"))
      .orderBy("da", "db")
  }

  // Per-document token Shannon entropy + type-token ratio — the lexical-
  // diversity signals quality pipelines cut on (low entropy = repetitive/
  // boilerplate text; Gopher and CCNet both bucket on diversity). Entropy
  // is computed from a run-length fold over the SORTED token array:
  // H = log2(n) - (Σ c·log2 c)/n over token run lengths c — a pure
  // per-document projection: no explode, no shuffle, embarrassingly
  // parallel at any corpus size (the exploded groupBy(doc, tok) shape
  // would shuffle one row per token occurrence).
  // LIBRARY ENTRY POINT — generic over any corpus (id + text columns).
  def tokenEntropy(rows: DataFrame, id: String, text: String): DataFrame =
    // the (n_tok, n_types, sclog) inputs come from the TokenEntropyStats
    // kernel — one pass per document; the declarative sorted run-length
    // fold it replaced (KernelSpec's parity reference,
    // `tokenEntropyDeclarative`) allocated one struct per TOKEN through
    // interpreted aggregate() lambdas
    rows
      .select(col(id).as("doc_id"),
        graft.functions.TextStats.tokenEntropyStats(col(text)).as("st"))
      .filter(col("st").isNotNull)
      .select(col("doc_id"),
        col("st.n_tok").as("n_tok"), col("st.n_types").as("n_types"),
        Det.r4(col("st.n_types") / col("st.n_tok")).as("ttr"),
        Det.r4(log2(col("st.n_tok")) - col("st.sclog") / col("st.n_tok"))
          .as("entropy"))
      .orderBy("doc_id")

  /** DECLARATIVE PARITY REFERENCE for [[graft.functions.TextStats]]'
    * entropy kernel — the sorted run-length fold the kernel replaced;
    * graft.KernelSpec asserts the two agree bitwise. */
  private[graft] def tokenEntropyStatsDeclarative(text: Column): Column = {
    def clog(c: Column): Column =
      when(c > 0, c.cast("double") * log2(c.cast("double")))
        .otherwise(lit(0.0d))
    def st(prev: Column, run: Column, s: Column) =
      struct(prev.as("prev"), run.as("run"), s.as("s"))
    graft.functions.bindOnce(array_sort(toks(text)), l =>
      when(size(l) > 0, struct(
        size(l).cast("long").as("n_tok"),
        size(array_distinct(l)).cast("long").as("n_types"),
        aggregate(l,
          st(lit(""), lit(0L), lit(0.0d)),
          (acc, x) => {
            val same = x === acc.getField("prev")
            st(x,
              when(same, acc.getField("run") + 1L).otherwise(lit(1L)),
              when(same, acc.getField("s"))
                .otherwise(acc.getField("s") + clog(acc.getField("run"))))
          },
          acc => acc.getField("s") + clog(acc.getField("run"))).as("sclog"))))
  }

  private def entropyQuery(s: SparkSession, d: String): DataFrame =
    tokenEntropy(docs(s, d), "doc_id", "text")

  // Zipf rank-frequency fit: log-log OLS of frequency against rank over
  // the TOP-K tokens — the corpus-health report line ("does this crawl
  // look like natural language?"). The slope of ln f vs ln r is ≈ -1 for
  // natural text; heavily deduped or templated corpora drift off it.
  // Shape at 100 TB: one map-side-combined token count, then top-K via
  // orderBy+limit (TakeOrderedAndProject: each partition keeps a local
  // top-K, never a global sort), and the rank window runs over K rows
  // regardless of corpus size — ranking the FULL vocabulary through a
  // single-partition window is the scale trap this avoids. The OLS sums
  // go through the decimal accumulator (order-independent).
  private val ZipfK = 100
  private def zipf(s: SparkSession, d: String): DataFrame = {
    val freq = docs(s, d)
      .select(explode(toks(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
    val top = freq.orderBy(desc("n"), col("tok")).limit(ZipfK)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("n"), col("tok"))))
    val pts = top.select(
      log(col("rank").cast("double")).as("x"),
      log(col("n").cast("double")).as("y"))
    val sums = pts.agg(
      count(lit(1)).cast("double").as("k"),
      Det.dsum(col("x")).as("sx"), Det.dsum(col("y")).as("sy"),
      Det.dsum(col("x") * col("x")).as("sxx"),
      Det.dsum(col("x") * col("y")).as("sxy"))
    val vocab = freq.agg(count(lit(1)).as("vocab_size"),
      sum("n").as("total_tokens"))
    sums.crossJoin(broadcast(vocab))
      .select(col("vocab_size"), col("total_tokens"),
        col("k").cast("long").as("k_fit"),
        Det.r4((col("k") * col("sxy") - col("sx") * col("sy")) /
          (col("k") * col("sxx") - col("sx") * col("sx"))).as("zipf_slope"),
        Det.r4((col("sy") - ((col("k") * col("sxy") - col("sx") * col("sy")) /
          (col("k") * col("sxx") - col("sx") * col("sx"))) * col("sx")) /
          col("k")).as("intercept"))
  }

  // Heaps'-law vocabulary growth: cumulative distinct types vs cumulative
  // token volume as the corpus is consumed in doc_id order — the curve
  // that says whether more data still buys new vocabulary. A token's
  // first occurrence is its min bucket (one aggregation keyed on the
  // token); buckets are fixed doc_id ranges, so the cumulative window
  // runs over exactly `buckets` rows at any corpus size — never over
  // documents (the Window.orderBy-without-partitionBy trap).
  private val GrowthBuckets = 20
  private def vocabGrowth(s: SparkSession, d: String): DataFrame = {
    val b = GrowthBuckets
    val bounds = docs(s, d).agg(max("doc_id").as("max_id"))
    val base = docs(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .crossJoin(broadcast(bounds))
      .withColumn("bucket", least(lit(b - 1),
        floor(col("doc_id") * b / (col("max_id") + 1))).cast("int"))
    val perBucket = base.groupBy("bucket")
      .agg(count(lit(1)).as("n_tokens"))
    val firstSeen = base.groupBy("tok").agg(min("bucket").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_new_types"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    perBucket.join(firstSeen, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_new_types"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .withColumn("cum_types", sum("n_new_types").over(w))
      .select(col("bucket").cast("long").as("bucket"),
        col("n_tokens"), col("n_new_types"),
        col("cum_tokens"), col("cum_types"),
        Det.r4(log(col("cum_types").cast("double")) /
          log(col("cum_tokens").cast("double"))).as("heaps_beta"))
      .orderBy("bucket")
  }

  /** PII patterns scrubbed by [[piiScrub]] (RE2-safe subset: no
    * lookaround, no backreferences — portable across regex engines). */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phone" -> "(\\+?[0-9]{1,2}[-. ])?\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ]?[0-9]{4}",
    "ipv4" -> "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b")

  /** PII scrubbing — the redaction pass every released training corpus
    * runs: replace emails, phone numbers, and IPv4 addresses with typed
    * placeholders (`<EMAIL>`, `<PHONE>`, `<IPV4>`) and report per-kind
    * match counts for the removal audit. A pure per-document projection
    * of codegen'd `regexp_count`/`regexp_replace` — no shuffle, no state,
    * embarrassingly parallel at any corpus size. Patterns apply in
    * [[PiiPatterns]] order (email first, so `user@10.0.0.1` redacts as
    * one email, not an email fragment plus an IP).
    *
    * LIBRARY ENTRY POINT — generic over any corpus (id + text columns);
    * verified on planted fixtures in graft.ApiSpec (the synthetic corpus
    * contains no PII, so a corpus-facing query here would assert nothing).
    */
  def piiScrub(rows: DataFrame, id: String, text: String): DataFrame =
    piiScrubCols(rows, id, text).orderBy("doc_id")

  /** [[piiScrub]] without the output sort — the composition form
    * ([[PipelineOps.curate]]'s optional redaction stage joins it on
    * doc_id, where a pre-join sort would be wasted work). */
  private[operators] def piiScrubCols(rows: DataFrame, id: String,
      text: String): DataFrame = {
    val counted = PiiPatterns.foldLeft(
      rows.select(col(id).as("doc_id"), col(text).as("t"))) {
      case (df, (kind, pat)) =>
        df.withColumn(s"n_$kind", regexp_count(col("t"), lit(pat)).cast("long"))
    }
    val redacted = PiiPatterns.foldLeft(counted) {
      case (df, (kind, pat)) =>
        df.withColumn("t",
          regexp_replace(col("t"), pat, s"<${kind.toUpperCase}>"))
    }
    redacted
      .withColumn("n_pii",
        PiiPatterns.map { case (k, _) => col(s"n_$k") }.reduce(_ + _))
      .select(col("doc_id") +: col("t").as("text_redacted") +:
        PiiPatterns.map { case (k, _) => col(s"n_$k") } :+ col("n_pii"): _*)
  }

  /** Corpus heavy-hitter VALUES without a key-keyed shuffle — the
    * frequent-items sketch ([[graft.functions.FreqItemsAgg]], Misra-Gries
    * via DataSketches) folded per partition into a bounded
    * `maxMapSize`-entry map, merged at kilobyte cost, then an EXACT count
    * pass over just the returned candidates (an `isin` literal list
    * while small, a broadcast candidate-frame semi-join past
    * [[IsinCandidateCap]] — either way the broadcast-model pattern):
    * the Bloom-prefilter / exact-verify shape of [[decontaminate]],
    * applied to frequency. Returns every
    * value whose exact count ≥ ceil(minShare × N) as `(item, n)` —
    * EXACTLY (the sketch's no-false-negative guarantee covers candidate
    * RECALL, the verify pass restores exact counts and removes false
    * positives), so the result is DuckDB-oracle-checkable despite the
    * sketch in the middle.
    *
    * Shape at 100 TB: the exact `groupBy(key).count` alternative
    * shuffles the full key stream to find the handful of keys that
    * matter; here the first pass moves only sketch buffers and the
    * second only candidate-matching rows (≤ maxMapSize distinct keys).
    * The guarantee needs ceil(minShare × N) > maxError ≤
    * N·3.5/maxMapSize — checked dynamically against the sketch's own
    * error bound, loud failure instead of silent false negatives.
    *
    * LIBRARY ENTRY POINT — generic over any frame + string column. */
  def frequentItems(rows: DataFrame, key: String, minShare: Double,
      maxMapSize: Int = 1024): DataFrame = {
    require(minShare > 0 && minShare <= 1,
      s"minShare must be in (0, 1], got $minShare")
    val keyed = rows.select(col(key).cast("string").as("item"))
    val bytes = keyed
      .agg(graft.functions.FreqItems.freqItemsAgg(col("item"), maxMapSize)
        .as("sk"))
      .head().getAs[Array[Byte]](0)
    val (n, maxErr, cands) =
      graft.functions.FreqItems.decode(bytes, threshold = 1L)
    if (n == 0) return keyed.limit(0)
      .groupBy("item").agg(count(lit(1)).as("n"))
    val thr = math.max(1L, math.ceil(minShare * n).toLong)
    require(thr > maxErr,
      s"minShare=$minShare (threshold $thr over $n items) is inside the " +
        s"sketch's error band (maxError=$maxErr at maxMapSize=" +
        s"$maxMapSize) — the no-false-negative guarantee would not " +
        "cover it; raise minShare or maxMapSize")
    val candidates = cands.filter(_.ub >= thr).map(_.item)
    if (candidates.isEmpty) return keyed.limit(0)
      .groupBy("item").agg(count(lit(1)).as("n"))
    // Two verify regimes (VERDICT r14 #4): an `isin` literal list keeps
    // the default-config plan join-free, but its size grows linearly in
    // candidate count — at the documented 64k-map accuracy regimes that
    // replays the LshBuckets JIT-limit lesson (BASELINE.md r6). Past a
    // few thousand candidates, switch to a broadcast semi-join against
    // a candidate frame: constant plan size, same kilobyte-scale data
    // movement (the candidate list IS the broadcast). PlanSpec pins
    // both regimes; ScaleSpec proves the join regime at maxMapSize 64k.
    val matched =
      if (candidates.length <= IsinCandidateCap)
        keyed.filter(col("item").isin(candidates: _*))
      else {
        val candDf = rows.sparkSession
          .createDataFrame(candidates.map(Tuple1.apply))
          .toDF("item")
        keyed.join(broadcast(candDf), Seq("item"), "left_semi")
      }
    matched
      .groupBy("item").agg(count(lit(1)).as("n"))
      .filter(col("n") >= thr)
      .orderBy(desc("n"), col("item"))
  }

  /** Above this many verify candidates, [[frequentItems]] swaps its
    * `isin` literal for a broadcast semi-join (plan size vs one extra
    * broadcast — the literal wins while the plan stays small). */
  private val IsinCandidateCap = 2048

  /** [[frequentItems]] over the token stream of a text column — the
    * heavy-hitter TOKEN list (stop-list induction, boilerplate-candidate
    * mining) as `(token, n)`.
    *
    * LIBRARY ENTRY POINT — generic over any (text) frame. */
  def frequentTokens(rows: DataFrame, text: String, minShare: Double,
      maxMapSize: Int = 1024): DataFrame =
    frequentItems(
      rows.select(explode(toks(col(text))).as("tok")), "tok",
      minShare, maxMapSize)
      .withColumnRenamed("item", "token")

  /** Serialized frequent-items sketch BYTES over a text column's token
    * stream — the MERGEABLE artifact behind [[frequentTokens]]: persist
    * it alongside the exact list and advance it per ingest with
    * [[graft.functions.FreqItems.mergeBytes]], so an estimate-grade
    * token profile always covers the whole corpus at cost ∝ increment
    * (the exact list stays a build snapshot — exact counts need a
    * corpus scan). One row, `sk` binary.
    *
    * LIBRARY ENTRY POINT — generic over any (text) frame. */
  def tokenSketchBytes(rows: DataFrame, text: String,
      maxMapSize: Int = 1024): DataFrame =
    rows.select(explode(toks(col(text))).as("tok"))
      .agg(graft.functions.FreqItems.freqItemsAgg(col("tok"), maxMapSize)
        .as("sk"))

  /** Per-document whitespace token counts `(doc_id, n_tok)` — the
    * corpus length-profile's source relation (feed it to
    * [[RelationalOps.quantileSketch]] for mergeable length quantiles).
    *
    * LIBRARY ENTRY POINT — generic over any (id, text) frame. */
  def tokenCounts(rows: DataFrame, id: String, text: String): DataFrame =
    rows.select(col(id).as("doc_id"),
      size(toks(col(text))).cast("long").as("n_tok"))

  private def heavyHittersQuery(s: SparkSession, d: String): DataFrame =
    frequentTokens(docs(s, d), "text", minShare = 0.005)

  private[operators] val oracleToks =
    "list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0)"

  /** DuckDB rendering of qualityScore's composite `quality` column
    * (doc_id, quality) — shared by the q_quality_score and
    * q_dedup_canonical oracles. */
  private[operators] val qualityOracleSql: String =
    s"""SELECT doc_id,
       | ${Det.r4Sql(Det.r4Sql("n_alpha / len") + " * 0.5 + " + Det.r4Sql("n_stop / n_tok") + " * 0.3 + (1.0 - " + Det.r4Sql("n_punct / len") + ") * 0.2")} AS quality
       | FROM (
       | SELECT doc_id, length(text) AS len,
       |  len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
       |  len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
       |  len($oracleToks) AS n_tok,
       |  len(regexp_extract_all(lower(text), '$enStop')) AS n_stop
       | FROM documents)
       | WHERE n_tok > 0 AND len > 0""".stripMargin

  /** DuckDB rendering of qualityFilter's `keep` verdict over `table` —
    * (doc_id, q_keep); shared by the q_curate oracle. Same expressions as
    * the q_quality_filter oracle. */
  private[operators] def qualityKeepOracleSql(table: String): String =
    s"""SELECT doc_id,
       | ((n_tok >= 30 AND n_tok <= 2000) AND
       |  (avg_tok_len >= 2.0 AND avg_tok_len <= 10.0) AND
       |  (n_stop >= 2) AND (dup_tok_ratio <= 0.6)) AS q_keep
       | FROM (SELECT doc_id, n_tok,
       |   CASE WHEN n_tok > 0 THEN ${Det.r4Sql("n_nonspace / n_tok")}
       |    ELSE 0.0 END AS avg_tok_len,
       |   CASE WHEN n_tok > 0 THEN ${Det.r4Sql("1.0 - n_uniq / n_tok")}
       |    ELSE 0.0 END AS dup_tok_ratio, n_stop
       |  FROM (SELECT doc_id,
       |    CAST(len(l) AS BIGINT) AS n_tok,
       |    CAST(len(list_distinct(l)) AS BIGINT) AS n_uniq,
       |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT)
       |      AS n_nonspace,
       |    CAST(len(regexp_extract_all(lower(text), '$enStop')) AS BIGINT)
       |      AS n_stop
       |   FROM (SELECT doc_id, text, $oracleToks AS l FROM $table)))""".stripMargin

  lazy val defs: Seq[QDef] = Seq(
    QDef("q_text_tokens", textTokens, Some(
      s"""SELECT tok, count(*) AS n FROM (
         | SELECT unnest($oracleToks) AS tok FROM documents)
         | GROUP BY 1 ORDER BY n DESC, tok LIMIT 100""".stripMargin)),
    // Heavy hitters through the frequent-items sketch + exact verify:
    // the RESULT is exact (candidate recall guaranteed by the sketch's
    // no-false-negative band, counts restored by the verify pass), so
    // DuckDB re-derives it with a plain HAVING over the token stream.
    QDef("q_heavy_hitters", heavyHittersQuery, Some(
      s"""WITH t AS (SELECT unnest($oracleToks) AS tok FROM documents),
         |tot AS (SELECT count(*) AS n FROM t)
         |SELECT tok AS token, count(*) AS n FROM t GROUP BY tok
         |HAVING count(*) >= (SELECT GREATEST(1,
         |    CAST(ceil(0.005 * n) AS BIGINT)) FROM tot)
         |ORDER BY n DESC, token""".stripMargin)),
    // Per-token JS contributions are pure per-row double arithmetic over
    // one conditional-count aggregation — DuckDB mirrors every term (the
    // ln parity precedent of tfidf/zipf/importance).
    QDef("q_token_divergence", tokenDivergenceQuery, Some(
      s"""WITH t AS (SELECT unnest($oracleToks) AS tok, source = 'src0' AS ia
         |  FROM documents WHERE source IS NOT NULL),
         |c AS (SELECT tok,
         |   count(*) FILTER (WHERE ia) AS n_a,
         |   count(*) FILTER (WHERE NOT ia) AS n_b
         |  FROM t GROUP BY 1),
         |tt AS (SELECT SUM(CAST(n_a AS BIGINT)) AS ta,
         |              SUM(CAST(n_b AS BIGINT)) AS tb FROM c),
         |j AS (SELECT tok, CAST(n_a AS BIGINT) AS n_a,
         |        CAST(n_b AS BIGINT) AS n_b,
         |        CASE WHEN ta > 0 THEN CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE)
         |          ELSE 0.0 END AS p,
         |        CASE WHEN tb > 0 THEN CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE)
         |          ELSE 0.0 END AS q
         |      FROM c, tt),
         |k AS (SELECT tok, n_a, n_b,
         |        ${Det.r9Sql(
               "(CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2.0)) ELSE 0.0 END) * 0.5 + " +
               "(CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2.0)) ELSE 0.0 END) * 0.5")} AS js_contrib
         |      FROM j)
         |SELECT tok, n_a, n_b, js_contrib FROM k
         |ORDER BY js_contrib DESC, tok LIMIT 100""".stripMargin)),
    QDef("q_token_count", tokenCount, Some(
      s"""SELECT doc_id, len($oracleToks) AS n_tokens_ws,
         | len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |     x -> len(x) > 0)) AS n_tokens_re,
         | octet_length(CAST(text AS BLOB)) AS n_bytes
         | FROM documents ORDER BY doc_id""".stripMargin)),
    QDef("q_lang_id", langId, Some(
      s"""SELECT doc_id,
         | CASE WHEN zh_hits > 0 THEN 'zh'
         |  WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits
         |   AND en_hits > 0 THEN 'en'
         |  WHEN de_hits >= es_hits AND de_hits >= fr_hits AND de_hits > 0 THEN 'de'
         |  WHEN es_hits >= fr_hits AND es_hits > 0 THEN 'es'
         |  WHEN fr_hits > 0 THEN 'fr'
         |  ELSE 'und' END AS lang_pred,
         | en_hits, de_hits, es_hits, fr_hits, zh_hits FROM (
         | SELECT doc_id,
         |  len(regexp_extract_all(lower(text), '$enStop')) AS en_hits,
         |  len(regexp_extract_all(lower(text), '$deStop')) AS de_hits,
         |  len(regexp_extract_all(lower(text), '$esStop')) AS es_hits,
         |  len(regexp_extract_all(lower(text), '$frStop')) AS fr_hits,
         |  len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS zh_hits
         | FROM documents) ORDER BY doc_id""".stripMargin)),
    QDef("q_quality_score", qualityScore, Some(
      s"""SELECT doc_id, len, n_tok,
         | ${Det.r4Sql("n_alpha / len")} AS alpha_ratio,
         | ${Det.r4Sql("n_punct / len")} AS punct_ratio,
         | ${Det.r4Sql("n_stop / n_tok")} AS stop_ratio,
         | ${Det.r4Sql("n_alpha / n_tok")} AS avg_tok_len,
         | ${Det.r4Sql(Det.r4Sql("n_alpha / len") + " * 0.5 + " + Det.r4Sql("n_stop / n_tok") + " * 0.3 + (1.0 - " + Det.r4Sql("n_punct / len") + ") * 0.2")} AS quality
         | FROM (
         | SELECT doc_id, length(text) AS len,
         |  len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
         |  len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
         |  len($oracleToks) AS n_tok,
         |  len(regexp_extract_all(lower(text), '$enStop')) AS n_stop
         | FROM documents)
         | WHERE n_tok > 0 AND len > 0 ORDER BY doc_id""".stripMargin)),
    QDef("q_tfidf", tfidf, Some(
      s"""WITH tf AS (SELECT doc_id, term, count(*) AS tf FROM (
         |  SELECT doc_id, unnest($oracleToks) AS term FROM documents)
         |  GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT doc_id, rk, term, tf, df, score FROM (
         | SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |  ${Det.r4Sql("tf.tf * ln(CAST(n_docs AS DOUBLE) / df.df)")} AS score,
         |  ROW_NUMBER() OVER (PARTITION BY tf.doc_id
         |   ORDER BY ${Det.r4Sql("tf.tf * ln(CAST(n_docs AS DOUBLE) / df.df)")} DESC,
         |            tf.term) AS rk
         | FROM tf JOIN df USING (term), n)
         | WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin)),
    QDef("q_data_split", dataSplit, Some(
      s"""SELECT split, count(*) AS n_docs, ${Det.dsumSql("length(text)")} AS n_chars
         | FROM (SELECT text,
         |  CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val'
         |   ELSE 'test' END AS split
         |  FROM (SELECT text,
         |   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
         |   FROM documents))
         | GROUP BY 1 ORDER BY split""".stripMargin)),
    QDef("q_split_leakage", splitLeakageSafe, Some {
      // clusters via the same recursive-CTE rendering as q_dedup_clusters;
      // the split hash then runs on coalesce(cluster_rep, doc_id)
      val pairSql = DedupOps.defs.find(_.name == "q_dedup_ngram_jaccard").get.oracle.get
      s"""WITH RECURSIVE sym AS (
         |  SELECT da AS a, db AS b FROM ($pairSql)
         |  UNION ALL
         |  SELECT db, da FROM ($pairSql)),
         |reach(v, r) AS (
         |  SELECT DISTINCT a, a FROM sym
         |  UNION
         |  SELECT s.b, r.r FROM reach r JOIN sym s ON s.a = r.v),
         |clusters AS (SELECT v AS doc_id, min(r) AS cluster_rep FROM reach
         |  GROUP BY 1)
         |SELECT doc_id, split_anchor,
         | CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val'
         |  ELSE 'test' END AS split
         | FROM (SELECT d.doc_id,
         |   coalesce(c.cluster_rep, d.doc_id) AS split_anchor,
         |   CAST(('0x' || substr(md5(CAST(coalesce(c.cluster_rep, d.doc_id)
         |     AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
         |  FROM documents d LEFT JOIN clusters c USING (doc_id))
         | ORDER BY doc_id""".stripMargin
    }),
    QDef("q_text_editdist", editDistance, Some {
      // candidate pairs = the (oracle-verified) ngram-jaccard query
      val pairSql = DedupOps.defs.find(_.name == "q_dedup_ngram_jaccard").get.oracle.get
      s"""WITH pairs AS (SELECT da, db FROM ($pairSql))
         |SELECT p.da, p.db, levenshtein(a.text, b.text) AS edit_dist,
         | greatest(length(a.text), length(b.text)) AS max_len
         | FROM pairs p
         | JOIN documents a ON p.da = a.doc_id
         | JOIN documents b ON p.db = b.doc_id
         | ORDER BY da, db""".stripMargin
    }),
    QDef("q_ngram_bigrams", ngramBigrams, Some(
      s"""SELECT bigram, count(*) AS n FROM (
         | SELECT unnest([l[i] || ' ' || l[i+1]
         |                for i in generate_series(1, len(l) - 1)]) AS bigram
         | FROM (SELECT $oracleToks AS l FROM documents) WHERE len(l) >= 2)
         | GROUP BY 1 ORDER BY n DESC, bigram LIMIT 50""".stripMargin)),
    QDef("q_contamination", contamination, Some {
      val pairSql = DedupOps.ngramOracleSql
      s"""WITH pairs AS (SELECT da, db, jaccard FROM ($pairSql)),
         |sp AS (SELECT doc_id, split FROM ($splitAssignSql))
         |SELECT da, db, a.split AS split_a, b.split AS split_b, jaccard
         | FROM pairs
         | JOIN sp a ON da = a.doc_id
         | JOIN sp b ON db = b.doc_id
         | WHERE a.split <> b.split
         | ORDER BY da, db""".stripMargin
    }),
    QDef("q_decontaminate", decontaminateQuery, Some(
      s"""WITH sp AS ($splitAssignSql),
         |toks AS (SELECT doc_id, split, $oracleToks AS l FROM sp),
         |grams AS (SELECT DISTINCT doc_id, split,
         |  unnest([array_to_string(l[i:i+7], ' ')
         |          for i in generate_series(1, len(l) - 7)]) AS g
         |  FROM toks WHERE len(l) >= 8),
         |bench AS (SELECT DISTINCT g FROM grams WHERE split <> 'train')
         |SELECT doc_id, count(*) AS n_hits
         | FROM grams JOIN bench USING (g) WHERE split = 'train'
         | GROUP BY 1 ORDER BY doc_id""".stripMargin)),
    QDef("q_novelty", noveltyQuery, Some(
      s"""WITH w AS (SELECT doc_id,
         |  $oracleToks AS l FROM documents),
         |s AS (SELECT DISTINCT doc_id,
         |  unnest([l[i] || ' ' || l[i+1] || ' ' || l[i+2]
         |          for i in generate_series(1, len(l) - 2)]) AS shingle
         |  FROM w WHERE len(l) >= 3),
         |d AS (SELECT shingle, count(*) AS df FROM s GROUP BY 1)
         |SELECT doc_id, count(*) AS n_shingles,
         | count(CASE WHEN df = 1 THEN 1 END) AS n_unique,
         | ${Det.r4Sql("count(CASE WHEN df = 1 THEN 1 END) / count(*)")} AS novelty
         | FROM s JOIN d USING (shingle)
         | GROUP BY 1 ORDER BY doc_id""".stripMargin)),
    QDef("q_lm_score", lmScoreQuery, Some(
      s"""WITH tok AS (SELECT doc_id, unnest($oracleToks) AS tok FROM documents),
         |freq AS (SELECT tok, count(*) AS n FROM tok GROUP BY 1),
         |tot AS (SELECT count(*) AS n_total FROM tok)
         |SELECT doc_id, count(*) AS n_tok,
         | ${Det.r4Sql(Det.dsumSql("-log2(CAST(n AS DOUBLE) / n_total)") + " / count(*)")}
         |   AS mean_surprisal
         | FROM tok JOIN freq USING (tok), tot
         | GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    QDef("q_importance", importanceQuery, Some(
      s"""WITH tok AS (SELECT doc_id, source = 'src0' AS is_t,
         |  unnest($oracleToks) AS tok FROM documents),
         |freq AS (SELECT tok, count(*) AS nc,
         |  count(CASE WHEN is_t THEN 1 END) AS nt FROM tok GROUP BY 1),
         |tot AS (SELECT CAST(sum(nc) AS BIGINT) AS tc,
         |  CAST(sum(nt) AS BIGINT) AS tt, count(*) AS v FROM freq)
         |SELECT doc_id, count(*) AS n_tok,
         | ${Det.r4Sql(Det.dsumSql(
            "ln(CAST(nt + 1 AS DOUBLE) / CAST(tt + v AS DOUBLE)) - " +
            "ln(CAST(nc + 1 AS DOUBLE) / CAST(tc + v AS DOUBLE))") + " / count(*)")}
         |   AS imp_weight
         | FROM tok JOIN freq USING (tok), tot
         | GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    QDef("q_quality_filter", qualityFilterQuery, Some(
      s"""SELECT doc_id, n_tok, avg_tok_len, dup_tok_ratio, n_stop,
         | r_nwords, r_wordlen, r_stop, r_rep,
         | (r_nwords AND r_wordlen AND r_stop AND r_rep) AS keep,
         | CASE WHEN NOT r_nwords THEN 'n_words'
         |      WHEN NOT r_wordlen THEN 'word_len'
         |      WHEN NOT r_stop THEN 'stopwords'
         |      WHEN NOT r_rep THEN 'repetition' END AS reason
         | FROM (SELECT doc_id, n_tok, avg_tok_len, dup_tok_ratio, n_stop,
         |   (n_tok >= 30 AND n_tok <= 2000) AS r_nwords,
         |   (avg_tok_len >= 2.0 AND avg_tok_len <= 10.0) AS r_wordlen,
         |   (n_stop >= 2) AS r_stop,
         |   (dup_tok_ratio <= 0.6) AS r_rep
         |  FROM (SELECT doc_id, n_tok,
         |    CASE WHEN n_tok > 0 THEN ${Det.r4Sql("n_nonspace / n_tok")}
         |     ELSE 0.0 END AS avg_tok_len,
         |    CASE WHEN n_tok > 0 THEN ${Det.r4Sql("1.0 - n_uniq / n_tok")}
         |     ELSE 0.0 END AS dup_tok_ratio, n_stop
         |   FROM (SELECT doc_id,
         |     CAST(len(l) AS BIGINT) AS n_tok,
         |     CAST(len(list_distinct(l)) AS BIGINT) AS n_uniq,
         |     CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT)
         |       AS n_nonspace,
         |     CAST(len(regexp_extract_all(lower(text), '$enStop')) AS BIGINT)
         |       AS n_stop
         |    FROM (SELECT doc_id, text, $oracleToks AS l FROM documents))))
         | ORDER BY doc_id""".stripMargin)),
    QDef("q_fingerprint", fingerprint, Some(
      s"""SELECT doc_id,
         | CASE WHEN len(l) >= 3 THEN
         |  list_aggregate([md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2])
         |                  for i in generate_series(1, len(l) - 2)], 'min')
         | ELSE md5(text) END AS fp
         | FROM (SELECT doc_id, text, $oracleToks AS l FROM documents)
         | ORDER BY doc_id""".stripMargin)),
    QDef("q_text_entropy", entropyQuery, Some(
      s"""SELECT doc_id, n_tok, n_types,
         | ${Det.r4Sql("n_types / n_tok")} AS ttr,
         | ${Det.r4Sql("log2(n_tok) - sclog / n_tok")} AS entropy
         | FROM (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
         |   count(*) AS n_types, sum(c * log2(c)) AS sclog
         |  FROM (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS c
         |   FROM (SELECT doc_id, unnest($oracleToks) AS tok FROM documents)
         |   GROUP BY 1, 2)
         |  GROUP BY 1)
         | WHERE n_tok > 0 ORDER BY doc_id""".stripMargin)),
    QDef("q_zipf", zipf, Some(
      s"""WITH freq AS (SELECT tok, count(*) AS n FROM (
         |  SELECT unnest($oracleToks) AS tok FROM documents) GROUP BY 1),
         |top AS (SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rank
         |  FROM freq ORDER BY n DESC, tok LIMIT $ZipfK),
         |sums AS (SELECT CAST(count(*) AS DOUBLE) AS k,
         |  ${Det.dsumSql("ln(CAST(rank AS DOUBLE))")} AS sx,
         |  ${Det.dsumSql("ln(CAST(n AS DOUBLE))")} AS sy,
         |  ${Det.dsumSql("ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE))")} AS sxx,
         |  ${Det.dsumSql("ln(CAST(rank AS DOUBLE)) * ln(CAST(n AS DOUBLE))")} AS sxy
         |  FROM top),
         |vocab AS (SELECT count(*) AS vocab_size,
         |  CAST(sum(n) AS BIGINT) AS total_tokens FROM freq)
         |SELECT vocab_size, total_tokens, CAST(k AS BIGINT) AS k_fit,
         | ${Det.r4Sql("(k * sxy - sx * sy) / (k * sxx - sx * sx)")} AS zipf_slope,
         | ${Det.r4Sql("(sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx)) * sx) / k")} AS intercept
         | FROM sums, vocab""".stripMargin)),
    QDef("q_vocab_growth", vocabGrowth, Some(
      s"""WITH base AS (SELECT doc_id, unnest($oracleToks) AS tok,
         |  least($GrowthBuckets - 1, CAST(floor(doc_id * $GrowthBuckets /
         |   ((SELECT max(doc_id) FROM documents) + 1)) AS INT)) AS bucket
         |  FROM documents),
         |pb AS (SELECT bucket, count(*) AS n_tokens FROM base GROUP BY 1),
         |fs AS (SELECT bucket, count(*) AS n_new_types FROM (
         |  SELECT tok, min(bucket) AS bucket FROM base GROUP BY 1) GROUP BY 1)
         |SELECT CAST(bucket AS BIGINT) AS bucket, n_tokens, n_new_types,
         | cum_tokens, cum_types,
         | ${Det.r4Sql("ln(CAST(cum_types AS DOUBLE)) / ln(CAST(cum_tokens AS DOUBLE))")}
         |   AS heaps_beta
         | FROM (SELECT pb.bucket, pb.n_tokens,
         |   coalesce(fs.n_new_types, 0) AS n_new_types,
         |   CAST(sum(pb.n_tokens) OVER (ORDER BY pb.bucket) AS BIGINT)
         |     AS cum_tokens,
         |   CAST(sum(coalesce(fs.n_new_types, 0)) OVER (ORDER BY pb.bucket)
         |     AS BIGINT) AS cum_types
         |  FROM pb LEFT JOIN fs ON pb.bucket = fs.bucket)
         | ORDER BY bucket""".stripMargin))
  )
}
