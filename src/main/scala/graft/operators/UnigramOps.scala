package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QDef
import graft.sources.Tables

/** Unigram-LM (SentencePiece-style) tokenizer: EM training + Viterbi
  * encode (Kudo 2018, ACL, "Subword Regularization: Improving Neural
  * Network Translation Models with Multiple Subword Candidates"). Absent
  * in the reference (whose payloads are opaque bytes —
  * `/root/reference/src/streams.ts:12-13`); together with
  * [[TokenizerOps]]' BPE this completes the two tokenizer trainers real
  * LLM pipelines actually fit.
  *
  * Same 100 TB reduction as BPE: the corpus is touched exactly ONCE (the
  * word-frequency aggregation); every EM round runs over the vocab-sized
  * `(word, freq)` table with the piece model BROADCAST — per-round cost
  * is O(vocabWords · len · maxPieceLen), independent of corpus size.
  * Driver traffic per round is the piece table itself (bounded by
  * `seedSize`, same collect discipline as the k-means centroid loops in
  * [[SimilarityOps]]).
  *
  * Determinism (the repo-wide bar — no RNG, no order-dependent floats):
  *  - E-step contributions are computed per word in a fixed scan order
  *    and emitted ROUNDED to 12 decimals as DECIMAL; the per-piece
  *    expected counts are decimal SUMS (exact, order-independent — the
  *    q_lm_score discipline), so the trained model is bit-identical at
  *    any parallelism.
  *  - The final model quantizes log-probs to SCALED LONGS (nano-nats,
  *    `round(ln p · 1e9)`), and Viterbi scores are BIGINT sums of those
  *    longs — cross-engine exact by construction, which is what lets the
  *    DuckDB oracle re-derive the full DP bit-for-bit.
  *
  * Viterbi/DP strings are compared as UTF-16 code units on the Scala
  * side and as characters by DuckDB's substr — identical on BMP text
  * (the corpus; same caveat as the BPE oracle's string_split note).
  */
object UnigramOps {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")

  // The ONE tokenizer definition — same token stream as BPE/lm_score or
  // the learned vocabulary drifts from the rest of the pipeline.
  private def toks(c: Column) = TextOps.toks(c)

  /** Log-prob scale: nano-nats per unit. One long of headroom: a 64-char
    * word of 1e-20-prob pieces scores ~3e12 — 6 orders below overflow. */
  val Scale = 1e9d

  /** Scaled log-prob charged to a single character with no model piece
    * (encode on text outside the training corpus): ln(1e-30)·1e9. The
    * literal is mirrored in the DuckDB oracle — both engines must charge
    * the same constant or scores drift. */
  val UnkScaled: Long = -69077552790L

  private val NegInf = Double.NegativeInfinity

  private def logSumExp(a: Double, b: Double): Double =
    if (a == NegInf) b
    else if (b == NegInf) a
    else if (a >= b) a + math.log1p(math.exp(b - a))
    else b + math.log1p(math.exp(a - b))

  // ------------------------------------------------------------------
  // Training
  // ------------------------------------------------------------------

  /** Forward-backward expected piece counts for one word under the
    * current model (E-step inner loop). Log-domain with a fixed scan
    * order — deterministic. Single characters absent from the model get
    * the UNK floor as a SEGMENTATION fallback but contribute no expected
    * count (they are not model pieces). */
  private[graft] def expectedCounts(word: String, freq: Long,
      model: collection.Map[String, Double], maxPieceLen: Int)
      : Iterator[(String, java.math.BigDecimal)] = {
    val n = word.length
    val la = Array.fill(n + 1)(NegInf); la(0) = 0d
    var i = 1
    while (i <= n) {
      var k = 1
      val kMax = math.min(maxPieceLen, i)
      while (k <= kMax) {
        val lp = model.get(word.substring(i - k, i)) match {
          case Some(v) => v
          case None => if (k == 1) UnkScaled / Scale else NegInf
        }
        if (lp != NegInf && la(i - k) != NegInf)
          la(i) = logSumExp(la(i), la(i - k) + lp)
        k += 1
      }
      i += 1
    }
    val lb = Array.fill(n + 1)(NegInf); lb(n) = 0d
    var j = n - 1
    while (j >= 0) {
      var k = 1
      val kMax = math.min(maxPieceLen, n - j)
      while (k <= kMax) {
        val lp = model.get(word.substring(j, j + k)) match {
          case Some(v) => v
          case None => if (k == 1) UnkScaled / Scale else NegInf
        }
        if (lp != NegInf && lb(j + k) != NegInf)
          lb(j) = logSumExp(lb(j), lb(j + k) + lp)
        k += 1
      }
      j -= 1
    }
    val z = la(n)
    if (z == NegInf) return Iterator.empty
    val out = collection.mutable.HashMap.empty[String, Double]
    j = 0
    while (j < n) {
      var k = 1
      val kMax = math.min(maxPieceLen, n - j)
      while (k <= kMax) {
        val piece = word.substring(j, j + k)
        model.get(piece).foreach { lp =>
          if (la(j) != NegInf && lb(j + k) != NegInf) {
            val g = math.exp(la(j) + lp + lb(j + k) - z) * freq
            if (g > 0d) out(piece) = out.getOrElse(piece, 0d) + g
          }
        }
        k += 1
      }
      j += 1
    }
    out.iterator.map { case (p, g) =>
      p -> new java.math.BigDecimal(g)
        .setScale(12, java.math.RoundingMode.HALF_UP)
    }
  }

  /** One distributed E-step: expected piece counts over the
    * word-frequency table, model broadcast, decimal-exact sums. */
  private def eStep(words: DataFrame, model: Map[String, Double],
      maxPieceLen: Int): Map[String, BigDecimal] = {
    val s = words.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(model)
    val ev = words.select(col("word"), col("freq")).as[(String, Long)]
      .mapPartitions { it =>
        val m = bc.value
        it.flatMap { case (w, f) => expectedCounts(w, f, m, maxPieceLen) }
      }
      .toDF("piece", "contrib")
      .groupBy("piece").agg(sum("contrib").as("ev"))
      .collect()
      .map(r => r.getString(0) -> BigDecimal(r.getDecimal(1)))
      .toMap
    bc.destroy()
    ev
  }

  /** Driver-regime E-step: the identical fold over a collected word
    * table. Contributions are the SAME 12-dp rounded decimals and
    * decimal addition is exact in any order, so this regime's expected
    * counts — and therefore the trained model — are bit-identical to
    * the distributed path's (pinned in graft.UnigramSpec). */
  private def eStepLocal(table: Array[(String, Long)],
      model: Map[String, Double], maxPieceLen: Int)
      : Map[String, BigDecimal] = {
    val acc = collection.mutable.HashMap.empty[String, BigDecimal]
    table.foreach { case (w, f) =>
      expectedCounts(w, f, model, maxPieceLen).foreach { case (p, d) =>
        acc(p) = acc.getOrElse(p, BigDecimal(0)) + BigDecimal(d)
      }
    }
    acc.toMap
  }

  /** Vocab size under which the EM rounds run on the DRIVER over the
    * collected word table — the [[TokenizerOps]] regime boundary: the
    * corpus pass and the substring seeding are ALWAYS distributed, but
    * when the word table is a few thousand rows each distributed E-step
    * costs pure scheduling (a job over near-empty partitions, ~2.3s
    * at 30k rows per BASELINE.md r13) while the local fold is
    * milliseconds. Production vocabularies take the distributed path. */
  private val DriverVocabRows = 64 * 1024

  /** M-step: renormalize expected counts to log-probs. Pieces with zero
    * expected mass are dropped (a multi-char piece the lattice never
    * uses) unless single-char (coverage floor at the UNK constant). */
  private def mStep(ev: Map[String, BigDecimal]): Map[String, Double] = {
    val total = ev.values.sum.toDouble
    ev.flatMap { case (p, c) =>
      val cd = c.toDouble
      if (cd > 0d) Some(p -> math.log(cd / total))
      else if (p.length == 1) Some(p -> UnkScaled / Scale)
      else None
    }
  }

  /** Learn a unigram-LM piece vocabulary of (at most) `vocabSize` pieces.
    * Returns the MODEL `(piece, logp_scaled, logp)` — logp_scaled is the
    * quantized score [[unigramEncode]] and the DuckDB oracle both consume.
    *
    * Shape: ONE corpus pass (word-frequency aggregation), then the
    * SentencePiece shrink loop over the vocab-sized table — seed with the
    * top `seedSize` substrings by frequency (plus every single character
    * for coverage), alternate `emRounds` E/M rounds — distributed, or a
    * bit-identical driver fold under `driverVocabRows` — with a
    * prune that keeps the top `shrinkFactor` share of multi-char pieces
    * by expected count (ties by piece — fully deterministic, no RNG)
    * until the target size holds. Expected-count pruning is the
    * documented simplification of SentencePiece's per-piece likelihood
    * loss; the EM itself is the standard forward-backward estimator.
    *
    * LIBRARY ENTRY POINT — generic over any corpus (text column). */
  def unigramTrain(rows: DataFrame, text: String, vocabSize: Int,
      seedSize: Int = 8192, maxPieceLen: Int = 8, emRounds: Int = 2,
      shrinkFactor: Double = 0.75,
      driverVocabRows: Long = DriverVocabRows): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be > 0, got $vocabSize")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    require(shrinkFactor > 0d && shrinkFactor < 1d,
      s"shrinkFactor must be in (0,1), got $shrinkFactor")
    val s = rows.sparkSession
    // Corpus → word-frequency table: the single pass over the data.
    val words = Pins.checkpoint(rows
      .select(explode(toks(col(text))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq")))
    // Regime switch (bit-identical results, see eStepLocal): small word
    // tables fold their E-steps on the driver; big ones distribute.
    val vocabRows = words.count()
    val localTable: Array[(String, Long)] =
      if (vocabRows <= driverVocabRows)
        words.collect().map(r => (r.getString(0), r.getLong(1)))
      else null
    def runEStep(model: Map[String, Double]): Map[String, BigDecimal] =
      if (localTable != null) eStepLocal(localTable, model, maxPieceLen)
      else eStep(words, model, maxPieceLen)
    // Seed: every substring up to maxPieceLen, weighted by occurrence ×
    // word frequency — a second aggregation over the WORD table (not the
    // corpus). Single characters always survive seeding and pruning:
    // they are the coverage floor that keeps every word segmentable.
    val wlen = length(col("word"))
    val pieces0 = words
      .select(col("freq"), explode(flatten(transform(
        sequence(lit(1), wlen), i => transform(
          sequence(lit(1), least(lit(maxPieceLen), wlen - i + 1)),
          k => col("word").substr(i, k))))).as("piece"))
      .groupBy("piece").agg(sum("freq").as("cnt"))
    val singles = pieces0.filter(length(col("piece")) === 1)
    val multisTop = pieces0.filter(length(col("piece")) > 1)
      .orderBy(desc("cnt"), col("piece")).limit(seedSize)
    val seed = singles.unionByName(multisTop)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val seedTotal = seed.map(_._2).sum.toDouble
    var model: Map[String, Double] =
      seed.map { case (p, c) => p -> math.log(c / seedTotal) }.toMap
    val nSingles = seed.count(_._1.length == 1)
    val targetMulti = math.max(0, vocabSize - nSingles)
    // Shrink loop: EM re-estimates, prune drops the lightest multi-char
    // pieces, repeat until the vocabulary fits. Strictly decreasing —
    // terminates.
    var done = false
    while (!done) {
      var ev: Map[String, BigDecimal] = Map.empty
      var r = 0
      while (r < emRounds) {
        ev = runEStep(model)
        model = mStep(ev)
        r += 1
      }
      val multi = model.keys.filter(_.length > 1).toSeq
      if (multi.size <= targetMulti) done = true
      else {
        // keepN < multi.size always: ceil(size × shrink) equals size for
        // small surviving sets (size ≤ 3 at the default 0.75), which
        // would prune nothing and loop forever (ADVICE r13). Clamping at
        // size - 1 (legal: size - 1 >= targetMulti in this branch) keeps
        // the loop strictly decreasing for every legal parameterization.
        val keepN = math.max(targetMulti,
          math.min(multi.size - 1,
            math.ceil(multi.size * shrinkFactor).toLong.toInt))
        val keep = multi
          .map(p => (ev.getOrElse(p, BigDecimal(0)), p))
          .sortBy { case (c, p) => (-c, p) }
          .take(keepN).map(_._2).toSet
        model = model.filter { case (p, _) =>
          p.length == 1 || keep.contains(p) }
        if (keepN == targetMulti) {
          // final re-estimation on the pruned vocabulary
          var r2 = 0
          while (r2 < emRounds) {
            model = mStep(runEStep(model))
            r2 += 1
          }
          done = true
        }
      }
    }
    Pins.release(words)
    import s.implicits._
    model.toSeq.sortBy(_._1)
      .map { case (p, lp) => (p, math.round(lp * Scale), lp) }
      .toDF("piece", "logp_scaled", "logp").orderBy("piece")
  }

  // ------------------------------------------------------------------
  // Encode
  // ------------------------------------------------------------------

  /** Viterbi segmentation of one word under scaled-long scores: maximize
    * total logp_scaled, ties broken toward FEWER pieces — the (score,
    * -ntok) lexicographic max, mirrored exactly by the oracle's
    * struct-max. Returns (n_pieces, score_scaled). */
  private[graft] def viterbi(word: String,
      model: collection.Map[String, Long], maxPieceLen: Int): (Int, Long) = {
    val n = word.length
    val score = Array.fill(n + 1)(Long.MinValue)
    val ntok = Array.fill(n + 1)(Int.MaxValue)
    score(0) = 0L; ntok(0) = 0
    var i = 1
    while (i <= n) {
      var k = 1
      val kMax = math.min(maxPieceLen, i)
      while (k <= kMax) {
        if (score(i - k) != Long.MinValue) {
          val lpOpt = model.get(word.substring(i - k, i)) match {
            case Some(v) => v
            case None => if (k == 1) UnkScaled else Long.MinValue
          }
          if (lpOpt != Long.MinValue) {
            val cs = score(i - k) + lpOpt
            val ct = ntok(i - k) + 1
            if (cs > score(i) || (cs == score(i) && ct < ntok(i))) {
              score(i) = cs; ntok(i) = ct
            }
          }
        }
        k += 1
      }
      i += 1
    }
    (ntok(n), score(n))
  }

  /** [[viterbi]] with backtracking: the optimal piece sequence itself.
    * Identical DP and acceptance rule (strictly-better (score, -ntok),
    * k scanned ascending — ties keep the FIRST, i.e. shortest, final
    * piece), so the returned path's (length, total score) equals
    * [[viterbi]]'s value exactly (pinned in graft.UnigramSpec). */
  private[graft] def viterbiPieces(word: String,
      model: collection.Map[String, Long], maxPieceLen: Int)
      : (Array[String], Long) = {
    val n = word.length
    val score = Array.fill(n + 1)(Long.MinValue)
    val ntok = Array.fill(n + 1)(Int.MaxValue)
    val from = Array.fill(n + 1)(0)
    score(0) = 0L; ntok(0) = 0
    var i = 1
    while (i <= n) {
      var k = 1
      val kMax = math.min(maxPieceLen, i)
      while (k <= kMax) {
        if (score(i - k) != Long.MinValue) {
          val lpOpt = model.get(word.substring(i - k, i)) match {
            case Some(v) => v
            case None => if (k == 1) UnkScaled else Long.MinValue
          }
          if (lpOpt != Long.MinValue) {
            val cs = score(i - k) + lpOpt
            val ct = ntok(i - k) + 1
            if (cs > score(i) || (cs == score(i) && ct < ntok(i))) {
              score(i) = cs; ntok(i) = ct; from(i) = k
            }
          }
        }
        k += 1
      }
      i += 1
    }
    var pos = n
    val rev = collection.mutable.ArrayBuffer.empty[String]
    while (pos > 0) {
      val k = from(pos)
      rev += word.substring(pos - k, pos)
      pos -= k
    }
    (rev.reverseIterator.toArray, score(n))
  }

  /** SEGMENT with a trained model — the materialization side: per-doc
    * piece sequences in token order, the artifact a training pipeline
    * actually feeds downstream (packing, id-mapping). Zero shuffle: one
    * mapPartitions projection with the model broadcast and a
    * per-partition word→segmentation memo (the distinct-word reduction
    * applied LOCALLY — zipfy text hits the memo, nothing re-crosses the
    * wire, and there is no doc-keyed exchange of the token payload).
    *
    * LIBRARY ENTRY POINT — generic over any corpus (id + text columns). */
  def unigramSegment(rows: DataFrame, id: String, text: String,
      model: Map[String, Long], maxPieceLen: Int = 8): DataFrame = {
    val s = rows.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(model)
    val L = maxPieceLen
    rows.select(col(id).cast("string").as("doc_id"),
        toks(col(text)).as("ws"))
      .as[(String, Seq[String])]
      .mapPartitions { it =>
        val m = bc.value
        val memo = collection.mutable.HashMap
          .empty[String, (Array[String], Long)]
        it.map { case (d, ws) =>
          var sc = 0L
          val pieces = Array.newBuilder[String]
          ws.foreach { w =>
            val (ps, wsc) =
              memo.getOrElseUpdate(w, viterbiPieces(w, m, L))
            pieces ++= ps; sc += wsc
          }
          val arr = pieces.result()
          (d, arr, arr.length.toLong, sc)
        }
      }
      .toDF("doc_id", "pieces", "n_tokens", "score_scaled")
  }

  /** ENCODE with a trained model — the inference side. The model
    * (`piece -> logp_scaled`) broadcasts (vocab-sized: 1e5-1e7 short
    * rows at production scale); Viterbi runs once per DISTINCT word (the
    * vocab-not-corpus reduction BPE encode rides), and per-doc counts
    * come back through a broadcast token-keyed join — the occurrence
    * stream never shuffles.
    *
    * Output per document: token count, EXACT scaled Viterbi score (a
    * BIGINT — order-independent sum of per-word longs), and the
    * chars-per-token compression ratio.
    *
    * LIBRARY ENTRY POINT — generic over any corpus (id + text columns). */
  def unigramEncode(rows: DataFrame, id: String, text: String,
      model: Map[String, Long], maxPieceLen: Int = 8): DataFrame = {
    val s = rows.sparkSession
    import s.implicits._
    val base = rows.select(col(id).as("doc_id"),
      length(col(text)).cast("long").as("n_chars"),
      toks(col(text)).as("ws"))
    val tok = base.select(col("doc_id"), explode(col("ws")).as("word"))
    val bc = s.sparkContext.broadcast(model)
    val seg = tok.select("word").distinct().as[String]
      .mapPartitions { it =>
        val m = bc.value
        it.map { w =>
          val (nt, sc) = viterbi(w, m, maxPieceLen)
          (w, nt.toLong, sc)
        }
      }
      .toDF("word", "n_units", "w_score")
    val counts = tok.join(broadcast(seg), Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_units").as("n_tokens"),
        sum("w_score").as("score_scaled"))
    base.select(col("doc_id"), col("n_chars"))
      .join(counts, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_words", "n_tokens", "score_scaled"))
      .withColumn("chars_per_token",
        when(col("n_tokens") > 0,
          graft.Det.r4(col("n_chars") / col("n_tokens")))
          .otherwise(lit(0.0d)))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------------
  // Query bindings + oracle
  // ------------------------------------------------------------------

  /** Gate-binding train params: small enough for the oracle corpus (31
    * distinct words, 24 distinct characters) that the pruned vocabulary
    * CANNOT hold every whole word (24 singles + 8 multi slots), forcing
    * genuine sub-word segmentation through seeding, the EM rounds, and
    * several prune iterations. */
  private val BindVocab = 32
  private val BindSeed = 256
  private val BindPieceLen = 8
  /** Oracle DP unroll — ≥ the longest corpus word (8 at both gate SFs;
    * headroom for drift). Spark's Viterbi has no such cap. */
  private val OracleMaxWordLen = 12

  /** The corpus's trained model, once per application — training runs
    * once, both the memo line and the encode query consume it. */
  private def sharedModel(s: SparkSession, d: String): DataFrame =
    graft.sources.Materialize.table(s, s"unigram_model:$d") {
      unigramTrain(docs(s, d), "text", vocabSize = BindVocab,
        seedSize = BindSeed, maxPieceLen = BindPieceLen)
    }

  /** Persisted `(piece, logp_scaled)` — the q_*_verify pattern: BOTH
    * engines consume the same bytes, so the oracle checks the Viterbi
    * DP + per-doc aggregation bit-for-bit, independent of how training
    * produced the model (training is pinned by graft.UnigramSpec). */
  private def modelAux(s: SparkSession, d: String): DataFrame =
    graft.sources.OracleAux.table(s, d, "unigram_model") {
      sharedModel(s, d).select("piece", "logp_scaled")
    }

  private def encodeQuery(s: SparkSession, d: String): DataFrame = {
    val m = modelAux(s, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    unigramEncode(docs(s, d), "doc_id", "text", m,
      maxPieceLen = BindPieceLen)
  }

  /** Persisted per-word segmentation of the corpus vocabulary under the
    * trained model — the bytes BOTH engines verify (q_*_verify). */
  private def segAux(s: SparkSession, d: String): DataFrame =
    graft.sources.OracleAux.table(s, d, "unigram_segments") {
      val m = modelAux(s, d).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      import s.implicits._
      val bc = s.sparkContext.broadcast(m)
      docs(s, d)
        .select(explode(toks(col("text"))).as("word"))
        .distinct().as[String]
        .mapPartitions { it =>
          val mm = bc.value
          it.map { w =>
            (w, viterbiPieces(w, mm, BindPieceLen)._1.mkString(" "))
          }
        }
        .toDF("word", "pieces")
    }

  /** q_unigram_segment: optimality verification of the materialized
    * segmentation. Both engines read the SAME persisted (word, pieces)
    * bytes; Spark scores the path with the broadcast model and restates
    * its Viterbi optimum, DuckDB scores the path with a model join and
    * re-derives the optimum INDEPENDENTLY via the unrolled DP — a
    * hash-match proves the emitted path's score is the true optimum
    * (`piece_score == dp_score` within every row, asserted in
    * UnigramSpec; cross-engine equality of `dp_score` re-proves the DP;
    * `pieces` round-trips the persisted bytes). */
  private def segmentQuery(s: SparkSession, d: String): DataFrame = {
    val m = modelAux(s, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    import s.implicits._
    val bc = s.sparkContext.broadcast(m)
    segAux(s, d).as[(String, String)]
      .mapPartitions { it =>
        val mm = bc.value
        it.map { case (w, ps) =>
          val pieces =
            if (ps.isEmpty) Array.empty[String] else ps.split(" ")
          val pieceScore =
            pieces.map(p => mm.getOrElse(p, UnkScaled)).sum
          (w, ps, pieces.length, pieceScore,
            viterbi(w, mm, BindPieceLen)._2)
        }
      }
      .toDF("word", "pieces", "n_pieces", "piece_score", "dp_score")
      .orderBy("word")
  }

  /** Bench accounting hook (see [[DedupOps.memoBuilds]]). */
  def memoBuilds: Seq[(String, (SparkSession, String) => DataFrame)] =
    Seq("_memo_unigram_model" -> ((s, d) => sharedModel(s, d)))

  // The DP re-derivation: dp{i} holds the best (score, ntok) over the
  // first i characters of each word of length >= i; candidates for
  // position i are "piece of length k ending at i" for k = 1..L — an
  // inner join to the model for k >= 2, a left join with the UNK floor
  // for k = 1 (single-char fallback, exactly viterbi()'s rule). The
  // per-word argmax is DuckDB's lexicographic struct max over
  // (score, -ntok) — viterbi()'s tie-break.
  private def dpCte(i: Int, maxLen: Int): String = {
    val k1 =
      s"""  SELECT d.word, d.score + coalesce(m.logp_scaled, $UnkScaled) AS score,
         #         d.ntok + 1 AS ntok
         #  FROM dp${i - 1} d LEFT JOIN m ON m.piece = substr(d.word, $i, 1)
         #  WHERE len(d.word) >= $i""".stripMargin('#')
    val ks = (2 to math.min(maxLen, i)).map { k =>
      s"""  SELECT d.word, d.score + m.logp_scaled AS score, d.ntok + 1 AS ntok
         #  FROM dp${i - k} d JOIN m ON m.piece = substr(d.word, ${i - k + 1}, $k)
         #  WHERE len(d.word) >= $i""".stripMargin('#')
    }
    // AS MATERIALIZED: each dp{i} is referenced by up to L later rounds,
    // and an INLINED 8-ary reference chain of depth 12 expands
    // exponentially at plan time — materialization keeps the chain
    // linear (the tables are vocab-sized).
    s"""c$i AS (
       #${(k1 +: ks).mkString("\n  UNION ALL\n")}),
       #dp$i AS MATERIALIZED (
       #  SELECT word, b.s AS score, -b.nt AS ntok
       #  FROM (SELECT word, max(struct_pack(s := score, nt := -ntok)) AS b
       #        FROM c$i GROUP BY 1))""".stripMargin('#')
  }

  private def encodeOracle: String = {
    val toks = TextOps.oracleToks
    val glob = graft.sources.OracleAux.gateGlob("unigram_model")
    val dps = (1 to OracleMaxWordLen)
      .map(i => dpCte(i, BindPieceLen)).mkString(",\n")
    val seg = (1 to OracleMaxWordLen)
      .map(i => s"SELECT word, score, ntok FROM dp$i WHERE len(word) = $i")
      .mkString(" UNION ALL ")
    s"""WITH m AS MATERIALIZED (SELECT piece, logp_scaled FROM read_parquet('$glob')),
       |tok AS MATERIALIZED (SELECT doc_id, unnest($toks) AS word FROM documents),
       |dp0 AS MATERIALIZED (SELECT DISTINCT word, CAST(0 AS BIGINT) AS score, 0 AS ntok FROM tok),
       |$dps,
       |seg AS ($seg),
       |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |          CAST(sum(ntok) AS BIGINT) AS n_tokens,
       |          CAST(sum(score) AS BIGINT) AS score_scaled
       |        FROM tok JOIN seg USING (word) GROUP BY 1)
       |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
       |  coalesce(c.n_words, 0) AS n_words,
       |  coalesce(c.n_tokens, 0) AS n_tokens,
       |  coalesce(c.score_scaled, 0) AS score_scaled,
       |  CASE WHEN coalesce(c.n_tokens, 0) > 0
       |    THEN ${graft.Det.r4Sql("CAST(length(d.text) AS DOUBLE) / c.n_tokens")}
       |    ELSE 0.0 END AS chars_per_token
       |FROM documents d LEFT JOIN cnt c USING (doc_id) ORDER BY d.doc_id""".stripMargin
  }

  private def segmentOracle: String = {
    val mGlob = graft.sources.OracleAux.gateGlob("unigram_model")
    val sGlob = graft.sources.OracleAux.gateGlob("unigram_segments")
    val dps = (1 to OracleMaxWordLen)
      .map(i => dpCte(i, BindPieceLen)).mkString(",\n")
    val fin = (1 to OracleMaxWordLen)
      .map(i => s"SELECT word, score FROM dp$i WHERE len(word) = $i")
      .mkString(" UNION ALL ")
    s"""WITH m AS MATERIALIZED (SELECT piece, logp_scaled FROM read_parquet('$mGlob')),
       |seg AS MATERIALIZED (SELECT word, pieces FROM read_parquet('$sGlob')),
       |dp0 AS MATERIALIZED (SELECT word, CAST(0 AS BIGINT) AS score, 0 AS ntok FROM seg),
       |$dps,
       |fin AS ($fin),
       |pc AS (SELECT word,
       |         CAST(count(*) AS INT) AS n_pieces,
       |         CAST(sum(coalesce(m.logp_scaled, $UnkScaled)) AS BIGINT) AS piece_score
       |       FROM (SELECT word, unnest(string_split(pieces, ' ')) AS p FROM seg)
       |       LEFT JOIN m ON m.piece = p GROUP BY 1)
       |SELECT s.word, s.pieces, pc.n_pieces, pc.piece_score,
       |       f.score AS dp_score
       |FROM seg s JOIN pc USING (word) JOIN fin f USING (word)
       |ORDER BY s.word""".stripMargin
  }

  /** q_pack_pieces: the tokenizer→packer composition — the corpus
    * segmented under the trained unigram model and the PIECE stream
    * packed into training windows ([[PipelineOps.packExamplesTokens]]).
    * The windows carry real model tokens, not whitespace words — the
    * artifact an LLM trainer actually consumes. DuckDB re-derives the
    * per-doc piece arrays from the persisted (word, pieces) bytes in
    * token order and re-runs the full pack derivation (md5 layout,
    * prefix sums, window slices) over them. */
  private val PackPiecesCap = 64
  private def packPiecesQuery(s: SparkSession, d: String): DataFrame = {
    val m = modelAux(s, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the real composition: per-doc Viterbi pieces (deterministic, so
    // byte-equal to the persisted segAux the oracle reads) → packer
    PipelineOps.packExamplesTokens(
      unigramSegment(docs(s, d), "doc_id", "text", m,
        maxPieceLen = BindPieceLen),
      "doc_id", "pieces", cap = PackPiecesCap.toLong)
  }

  private def packPiecesOracle: String = {
    val toks = TextOps.oracleToks
    val sGlob = graft.sources.OracleAux.gateGlob("unigram_segments")
    s"""WITH seg AS MATERIALIZED (SELECT word, pieces FROM read_parquet('$sGlob')),
       |tok AS (SELECT doc_id, unnest(ts) AS word, generate_subscripts(ts, 1) AS i
       |        FROM (SELECT doc_id, $toks AS ts FROM documents)),
       |tp AS (SELECT t.doc_id, t.i, string_split(s.pieces, ' ') AS pl
       |       FROM tok t JOIN seg s USING (word)),
       |b AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       |        flatten(list(pl ORDER BY i)) AS t
       |      FROM tp GROUP BY 1),
       |${PipelineOps.packExamplesOracleTail("b", PackPiecesCap, "")}""".stripMargin
  }

  lazy val defs: Seq[QDef] = Seq(
    QDef("q_unigram_encode", encodeQuery, Some(encodeOracle)),
    QDef("q_unigram_segment", segmentQuery, Some(segmentOracle)),
    QDef("q_pack_pieces", packPiecesQuery, Some(packPiecesOracle))
  )
}
