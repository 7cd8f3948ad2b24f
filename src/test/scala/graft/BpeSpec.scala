package graft

import graft.operators.TokenizerOps

/** BPE merge training: the distributed trainer must learn EXACTLY the
  * merge table a sequential reference implementation (straight from the
  * Sennrich et al. 2016 algorithm) learns on the same corpus — same
  * pairs, same order, same counts. */
class BpeSpec extends SparkSpec {

  /** UTF-8 binary string order — Spark's orderBy compares UTF8String
    * bytes, which diverges from Java's UTF-16 code-unit order for
    * supplementary characters; the reference must tie-break the same way. */
  private implicit val utf8Order: Ordering[String] =
    (a: String, b: String) => {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      val lim = math.min(x.length, y.length)
      var i = 0
      while (i < lim && x(i) == y(i)) i += 1
      if (i < lim) (x(i) & 0xff) - (y(i) & 0xff) else x.length - y.length
    }

  /** Sequential reference BPE: word-freq table, per-round pair count,
    * lexicographic tie-break, merge everywhere. Splits per CODE POINT
    * (as Spark's empty-pattern split does), not per UTF-16 code unit —
    * a surrogate pair is one symbol. */
  private def referenceBpe(texts: Seq[String], n: Int): Seq[(Int, String, String, Long)] = {
    var words: Map[Vector[String], Long] = texts
      .flatMap(_.toLowerCase.split("\\s+").filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.size.toLong)
      .map { case (w, f) =>
        val cs = w.codePoints().toArray.toVector
          .map(cp => new String(Character.toChars(cp)))
        (cs.init :+ (cs.last + "</w>"), f)
      }.toMap  // distinct spellings collapse AFTER marking: none collide here
    val out = Seq.newBuilder[(Int, String, String, Long)]
    for (rank <- 1 to n) {
      val counts = collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- words; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      if (counts.nonEmpty) {
        val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        out += ((rank, l, r, c))
        words = words.groupMapReduce { case (syms, _) =>
          val b = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
              b += (l + r); i += 2
            } else { b += syms(i); i += 1 }
          }
          b.result()
        }(_._2)(_ + _)
      }
    }
    out.result()
  }

  test("distributed BPE learns the sequential reference's merge table exactly") {
    val texts = graft.sources.Tables(spark, sf, "documents")
      .select("text").collect().map(_.getString(0)).toSeq
    val expected = referenceBpe(texts, 10)
    // driverVocabRows = -1 forces the DISTRIBUTED round loop (the
    // production-vocab regime) regardless of the corpus's vocab size.
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val got = TokenizerOps.bpeMerges(
      graft.sources.Tables(spark, sf, "documents"), "text", nMerges = 10,
      driverVocabRows = -1L)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(got == expected,
      s"distributed:\n  ${got.mkString("\n  ")}\nreference:\n  ${expected.mkString("\n  ")}")
    // training returns a driver-built table: every checkpoint of the
    // word table, the superseded ones included, is released by then
    val left = spark.sparkContext.getPersistentRDDs.keySet -- pinnedBefore
    assert(left.isEmpty, s"BPE training left RDDs pinned: $left")
  }

  test("driver-loop (small-vocab) regime learns the identical merge table") {
    val texts = graft.sources.Tables(spark, sf, "documents")
      .select("text").collect().map(_.getString(0)).toSeq
    val expected = referenceBpe(texts, 10)
    val got = TokenizerOps.bpeMerges(
      graft.sources.Tables(spark, sf, "documents"), "text", nMerges = 10)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(got == expected,
      s"driver loop:\n  ${got.mkString("\n  ")}\nreference:\n  ${expected.mkString("\n  ")}")
  }

  /** Sequential reference encoder: same rank-order merge application the
    * distributed projection bakes into its regexp chain. */
  private def referenceEncode(text: String,
      merges: Seq[(String, String)]): Long =
    text.toLowerCase.split("\\s+").filter(_.nonEmpty).map { w =>
      val cs = w.codePoints().toArray.toVector
        .map(cp => new String(Character.toChars(cp)))
      var syms = cs.init :+ (cs.last + "</w>")
      for ((l, r) <- merges) {
        val b = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
            b += (l + r); i += 2
          } else { b += syms(i); i += 1 }
        }
        syms = b.result()
      }
      syms.length.toLong
    }.sum

  test("distributed encode token counts equal the sequential reference's") {
    val corpus = graft.sources.Tables(spark, sf, "documents")
    val model = TokenizerOps.bpeMerges(corpus, "text", nMerges = 10)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val got = TokenizerOps.bpeEncode(corpus, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val texts = corpus.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    texts.foreach { case (id, t) =>
      val expected = referenceEncode(t, model)
      assert(got(id) == expected, s"doc $id: got ${got(id)}, expected $expected")
    }
    // merges strictly compress: fewer tokens than characters-with-markers
    val charsTotal = texts.map(_._2.count(!_.isWhitespace)).sum
    assert(got.values.sum < charsTotal,
      s"encoding did not compress: ${got.values.sum} tokens vs $charsTotal chars")
  }

  test("merges respect word boundaries (</w> marker present in final units)") {
    val got = TokenizerOps.bpeMerges(
      graft.sources.Tables(spark, sf, "documents"), "text", nMerges = 10)
      .collect()
    assert(got.length == 10)
    // no learned unit spans a word boundary: '</w>' only ever terminates
    // a symbol, never sits mid-symbol
    got.foreach { r =>
      val merged = r.getString(1) + r.getString(2)
      val idx = merged.indexOf("</w>")
      assert(idx == -1 || idx == merged.length - 4,
        s"unit '$merged' continues past an end-of-word marker")
    }
  }
}
