package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.UnigramOps

/** Unigram-LM tokenizer: the DP internals (Viterbi, forward-backward
  * E-step) must equal brute-force enumeration over ALL segmentations on
  * arbitrary words/models, and training over a real corpus must produce
  * a normalized, covering, deterministic model. The cross-engine DP is
  * oracle-checked at the gate (q_unigram_encode); these specs pin the
  * semantics the oracle consumes. */
class UnigramSpec extends SparkSpec {

  private val L = 4

  /** All segmentations of `w` into pieces of length <= L, where a piece
    * is either a model piece or a single character (the UNK fallback —
    * exactly the lattice expectedCounts/viterbi walk). */
  private def segmentations(w: String, model: Map[String, Long])
      : Seq[Seq[String]] =
    if (w.isEmpty) Seq(Seq.empty)
    else (1 to math.min(L, w.length)).flatMap { k =>
      val p = w.substring(0, k)
      if (model.contains(p) || k == 1)
        segmentations(w.substring(k), model).map(p +: _)
      else Seq.empty
    }

  private def segScore(seg: Seq[String], model: Map[String, Long]): Long =
    seg.map(p => model.getOrElse(p, UnigramOps.UnkScaled)).sum

  private val piece: Gen[String] = for {
    n <- Gen.choose(1, L)
    cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
  } yield cs.mkString

  private val modelGen: Gen[Map[String, Long]] = for {
    ps <- Gen.listOfN(12, piece)
    // log-probs in scaled nano-nats, magnitudes like real models
    lps <- Gen.listOfN(12, Gen.choose(-20000000000L, -100000000L))
  } yield ps.zip(lps).toMap

  private val wordGen: Gen[String] = for {
    n <- Gen.choose(0, 9)
    cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd'))
  } yield cs.mkString

  test("viterbi equals brute-force max over all segmentations") {
    val cases = Gen.listOfN(300, Gen.zip(wordGen, modelGen))
      .pureApply(Gen.Parameters.default, Seed(1))
    cases.foreach { case (w, m) =>
      val segs = segmentations(w, m)
      val expected =
        if (w.isEmpty) (0, 0L)
        else {
          val (sc, nt) = segs.map(s => (segScore(s, m), s.length))
            .reduce((a, b) =>
              if (a._1 > b._1 || (a._1 == b._1 && a._2 <= b._2)) a else b)
          (nt, sc)
        }
      val got = UnigramOps.viterbi(w, m, L)
      assert(got == expected, s"word=$w model=$m segs=${segs.size}")
    }
  }

  test("E-step expected counts equal enumeration over the lattice") {
    val neWord: Gen[String] = for {
      n <- Gen.choose(1, 9)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd'))
    } yield cs.mkString
    val cases = Gen.listOfN(60, Gen.zip(neWord, modelGen))
      .pureApply(Gen.Parameters.default, Seed(2))
    cases.foreach { case (w, mScaled) =>
      // model in log-prob doubles, as eStep broadcasts it
      val m = mScaled.map { case (p, s) => p -> s / UnigramOps.Scale }
      val freq = 3L
      val segs = segmentations(w, mScaled)
      // P(seg) = prod p(piece); UNK singles carry the UNK prob but are
      // NOT model pieces — they contribute probability mass, no count.
      val probs = segs.map(_.map(p =>
        math.exp(m.getOrElse(p,
          UnigramOps.UnkScaled / UnigramOps.Scale))).product)
      val z = probs.sum
      val expected = collection.mutable.Map.empty[String, Double]
      segs.zip(probs).foreach { case (seg, pr) =>
        seg.filter(m.contains).foreach { p =>
          expected(p) = expected.getOrElse(p, 0d) + pr / z * freq
        }
      }
      val got = UnigramOps.expectedCounts(w, freq, m, L)
        .map { case (p, d) => p -> d.doubleValue }.toMap
      val keys = expected.keySet ++ got.keySet
      keys.foreach { p =>
        val e = expected.getOrElse(p, 0d)
        val g = got.getOrElse(p, 0d)
        assert(math.abs(e - g) < 1e-6 * math.max(1d, e),
          s"word=$w piece=$p expected=$e got=$g")
      }
    }
  }

  test("training: normalized, single-char coverage, vocab cap, deterministic") {
    val docs = graft.sources.Tables(spark, sf, "documents")
    val m1 = UnigramOps.unigramTrain(docs, "text", vocabSize = 32,
      seedSize = 128, maxPieceLen = 6).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // normalization: sum of exp(logp) ~ 1
    val mass = m1.map { case (_, _, lp) => math.exp(lp) }.sum
    assert(math.abs(mass - 1d) < 1e-9, s"prob mass $mass")
    // coverage: every character of the token stream is a piece
    val chars = docs.select("text").collect().flatMap(_.getString(0)
      .toLowerCase.split("\\s+").filter(_.nonEmpty).flatMap(_.toCharArray))
      .map(_.toString).toSet
    val pieces = m1.map(_._1).toSet
    assert(chars.subsetOf(pieces),
      s"missing singles: ${chars -- pieces}")
    assert(m1.length <= 32, s"vocab ${m1.length} > 32")
    // the cap binds: some multi-char piece survived, some was pruned
    assert(m1.exists(_._1.length > 1))
    // quantization: logp_scaled is round(logp * 1e9)
    m1.foreach { case (p, sc, lp) =>
      assert(sc == math.round(lp * UnigramOps.Scale), p)
    }
    // determinism: an independent run builds the identical model
    val m2 = UnigramOps.unigramTrain(docs, "text", vocabSize = 32,
      seedSize = 128, maxPieceLen = 6).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(m1.toSeq == m2.toSeq)
    // regime parity: the forced-distributed E-step path builds the
    // BIT-identical model (decimal-exact expected counts in any order)
    val m3 = UnigramOps.unigramTrain(docs, "text", vocabSize = 32,
      seedSize = 128, maxPieceLen = 6, driverVocabRows = 0).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(m1.toSeq == m3.toSeq,
      "driver and distributed regimes diverged")
  }

  test("encode: trained model segments the training corpus without UNK; empty docs zero") {
    val s = spark
    import s.implicits._
    val docs = graft.sources.Tables(spark, sf, "documents")
    val model = UnigramOps.unigramTrain(docs, "text", vocabSize = 32,
      seedSize = 128, maxPieceLen = 6).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val frame = docs.select("doc_id", "text")
      .unionByName(Seq((999999L, ""), (999998L, "   ")).toDF("doc_id", "text"))
    val enc = UnigramOps.unigramEncode(frame, "doc_id", "text", model,
      maxPieceLen = 6)
    val rows = enc.collect()
    assert(rows.length == docs.count() + 2)
    val empty = rows.filter(r => r.getLong(0) >= 999998L)
    assert(empty.forall(r => r.getLong(3) == 0L && r.getLong(4) == 0L &&
      r.getDouble(5) == 0d), "empty docs must be all-zero")
    // no UNK: every word of the training corpus is covered by single-char
    // pieces at worst, so every score is a sum of MODEL logps — strictly
    // greater than one UNK unit per token
    rows.filter(r => r.getLong(3) > 0).foreach { r =>
      assert(r.getLong(4) > UnigramOps.UnkScaled * r.getLong(3), r)
    }
    // chars_per_token consistency
    rows.filter(r => r.getLong(3) > 0).foreach { r =>
      val expect = math.floor(
        r.getLong(1).toDouble / r.getLong(3) * 10000d + 0.5d) / 10000d
      assert(r.getDouble(5) == expect, r)
    }
  }

  test("viterbiPieces: valid cover, same value as viterbi, on generated cases") {
    val cases = Gen.listOfN(300, Gen.zip(wordGen, modelGen))
      .pureApply(Gen.Parameters.default, Seed(3))
    cases.foreach { case (w, m) =>
      val (pieces, sc) = UnigramOps.viterbiPieces(w, m, L)
      val (nt, vsc) = UnigramOps.viterbi(w, m, L)
      assert(pieces.mkString("") == w, s"not a cover: $w -> ${pieces.toSeq}")
      assert(pieces.forall(p => p.nonEmpty && p.length <= L))
      assert(sc == vsc && pieces.length == nt,
        s"path value diverged from DP value: $w ${pieces.toSeq}")
      assert(pieces.map(p => m.getOrElse(p, UnigramOps.UnkScaled)).sum == sc,
        s"claimed score is not the path sum: $w")
    }
  }

  test("unigramSegment flattens per-word optimal paths in token order; zero-token docs empty") {
    val s = spark
    import s.implicits._
    val model = Map("ab" -> -100000000L, "a" -> -5000000000L,
      "b" -> -5000000000L, "c" -> -6000000000L)
    val frame = Seq((1L, "abab c ab"), (2L, " "), (3L, "cc"))
      .toDF("doc_id", "text")
    val got = UnigramOps.unigramSegment(frame, "doc_id", "text", model,
      maxPieceLen = 4)
      .collect().map(r => (r.getString(0), r.getSeq[String](1).toList,
        r.getLong(2), r.getLong(3))).sortBy(_._1).toSeq
    assert(got == Seq(
      ("1", List("ab", "ab", "c", "ab"), 4L, -6300000000L),
      ("2", List(), 0L, 0L),
      ("3", List("c", "c"), 2L, -12000000000L)), s"got $got")
  }

  test("q_unigram_segment rows satisfy piece_score == dp_score (optimality of the emitted path)") {
    val rows = graft.SparkEntry
      .queries("q_unigram_segment")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) == r.getLong(4),
        s"emitted path not optimal: $r")
      assert(r.getString(1).replace(" ", "") == r.getString(0),
        s"pieces do not cover the word: $r")
    }
  }

  test("shrink loop terminates when vocabSize sits just above the alphabet (ADVICE r13)") {
    val s = spark
    import s.implicits._
    // alphabet {a,b,c} → 3 singles; vocabSize 4 → targetMulti 1. The
    // pre-fix keepN stalled once ceil(size × 0.75) == size (any multi
    // set of size ≤ 3 above target), re-running EM forever.
    val docs = Seq((1L, "abc cab bca abc abcab"), (2L, "cba bac acb cabab"))
      .toDF("doc_id", "text")
    val m = UnigramOps.unigramTrain(docs, "text", vocabSize = 4,
      seedSize = 16, maxPieceLen = 4).collect()
    assert(m.length <= 4, s"vocab ${m.length} > 4")
    assert(m.map(_.getString(0)).count(_.length == 1) == 3,
      "all three single-char pieces must survive")
    val mass = m.map(r => math.exp(r.getDouble(2))).sum
    assert(math.abs(mass - 1d) < 1e-9, s"prob mass $mass")
  }

  test("a tighter vocab compresses worse, never better, on the same corpus") {
    val docs = graft.sources.Tables(spark, sf, "documents")
    def meanCpt(vocab: Int): Double = {
      val m = UnigramOps.unigramTrain(docs, "text", vocabSize = vocab,
        seedSize = 128, maxPieceLen = 6).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val e = UnigramOps.unigramEncode(docs, "doc_id", "text", m,
        maxPieceLen = 6)
      val agg = e.agg(
        org.apache.spark.sql.functions.sum("n_chars"),
        org.apache.spark.sql.functions.sum("n_tokens")).collect()(0)
      agg.getLong(0).toDouble / agg.getLong(1)
    }
    val tight = meanCpt(28)
    val wide = meanCpt(48)
    assert(wide >= tight,
      s"wide vocab must compress at least as well: wide=$wide tight=$tight")
  }
}
