package graft

import org.apache.spark.sql.functions._

import graft.operators.DedupOps

/** Semantic checks for the no-oracle dedup queries (VERDICT r1 items 1-3):
  * the LSH paths must cover the exact ground truth their doc comments
  * promise. Ground truth = `q_dedup_ngram_jaccard` (oracle-verified
  * against DuckDB by the driver). */
class DedupSpec extends SparkSpec {

  private def pairs(q: String, minCol: Option[(String, Double)] = None): Set[(Long, Long)] = {
    val df = SparkEntry.queries(q)(spark, sf)
    val f = minCol.map { case (c, v) => df.filter(col(c) >= v) }.getOrElse(df)
    f.select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("minhash LSH pairs cover ALL ngram-jaccard pairs at j >= 0.8") {
    val gt = pairs("q_dedup_ngram_jaccard", Some(("jaccard", 0.8)))
    val mh = pairs("q_dedup_minhash")
    assert(gt.nonEmpty, "ground truth must not be vacuous")
    assert((gt -- mh).isEmpty,
      s"minhash missed ${(gt -- mh).size} of ${gt.size} ground-truth pairs")
  }

  test("minhash signature agreement estimates Jaccard within 0.15 of exact") {
    val gt = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sf)
      .select(col("da"), col("db"), col("jaccard"))
    val est = SparkEntry.queries("q_dedup_minhash")(spark, sf)
    val joined = gt.join(est, Seq("da", "db"))
      .select(abs(col("jaccard") - col("jaccard_est")).as("err"))
      .collect().map(_.getDouble(0))
    assert(joined.nonEmpty)
    assert(joined.max <= 0.15,
      f"max |j - ĵ| = ${joined.max}%.3f exceeds the 64-perm sampling bound")
  }

  test("simhash bands find every pair at Hamming <= 5 (pigeonhole recall = 1.0)") {
    // brute-force ground truth over the fingerprints themselves
    val fp = DedupOps.simhash(spark, sf)
    val a = fp.select(col("doc_id").as("da"), col("simhash").as("ha"))
    val b = fp.select(col("doc_id").as("db"), col("simhash").as("hb"))
    val truth = a.join(b, col("da") < col("db"))
      .select(col("da"), col("db"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).as("ham"))
      .filter(col("ham") <= 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = pairs("q_dedup_simhash")
    assert(truth.nonEmpty, "ground truth must not be vacuous")
    assert(found == truth,
      s"banding must find exactly the Hamming<=5 pairs: missed ${(truth -- found).size}, extra ${(found -- truth).size}")
  }

  test("simhash pairs cover >= 90% of ngram-jaccard pairs at j >= 0.9") {
    val gt = pairs("q_dedup_ngram_jaccard", Some(("jaccard", 0.9)))
    val sh = pairs("q_dedup_simhash")
    assert(gt.nonEmpty)
    val covered = (gt & sh).size.toDouble / gt.size
    assert(covered >= 0.9,
      f"simhash covered only ${covered * 100}%.0f%% of near-identical docs")
  }

  test("ngramJaccardPairs is exact on a dup-heavy corpus (the un-broadcast regime)") {
    // the adversarial shape from the r5 plan audit: heavy duplication
    // makes the pre-filter candidate pair list orders of magnitude larger
    // than a normal corpus's — 20 distinct texts x 12 verbatim copies.
    // Every same-text pair must come back at jaccard exactly 1.0 and
    // count C(12,2) per group; differently-texted docs share no 3-shingle
    // (distinct trailing token) so no cross-group pair may appear.
    val s = spark
    import s.implicits._
    val docs = (0 until 240).map { i =>
      val g = i % 20
      (i.toLong, s"group $g body token alpha beta gamma delta tail$g")
    }.toDF("doc_id", "text")
    val pairs = DedupOps
      .ngramJaccardPairs(docs, "doc_id", "text", minJaccard = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.length == 20 * (12 * 11) / 2, s"got ${pairs.length} pairs")
    pairs.foreach { case (da, db, j) =>
      assert(da % 20 == db % 20, s"cross-group pair ($da, $db)")
      assert(j == 1.0, s"verbatim copies must score 1.0, got $j")
    }
  }

  test("exact dedup groups match distinct text count") {
    val docs = graft.sources.Tables(spark, sf, "documents")
    val distinctTexts = docs.select("text").distinct().count()
    val groups = SparkEntry.queries("q_dedup_exact")(spark, sf).count()
    assert(groups == distinctTexts)
  }

  test("canonical selection keeps exactly one best-quality doc per cluster") {
    val can = SparkEntry.queries("q_dedup_canonical")(spark, sf).cache()
    try {
      val perCluster = can.groupBy("cluster_rep")
        .agg(count(when(col("keep"), 1)).as("n_keep"),
          max(when(col("keep"), col("quality"))).as("kept_q"),
          max(col("quality")).as("best_q"))
        .collect()
      assert(perCluster.nonEmpty)
      perCluster.foreach { r =>
        assert(r.getAs[Long]("n_keep") == 1,
          s"cluster ${r.get(0)}: ${r.getAs[Long]("n_keep")} keeps")
        assert(r.getAs[Double]("kept_q") == r.getAs[Double]("best_q"),
          s"cluster ${r.get(0)} kept a non-best doc")
      }
      // the manifest covers every clustered doc exactly once
      val clustered = SparkEntry.queries("q_dedup_clusters")(spark, sf).count()
      assert(can.count() == clustered)
    } finally can.unpersist()
  }

  test("exact incremental dedup assigns the planted fates (corpus dup, batch dup, unique)") {
    val sess = spark
    import sess.implicits._
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma"),    // exact copy of corpus doc 1
      (11L, "eta theta iota"),      // fresh
      (12L, "eta theta iota"),      // in-batch copy of 11 (11 wins by id)
      (13L, "kappa lambda mu"))     // fresh
      .toDF("doc_id", "text")
    val hashes = corpus.select(md5(col("text").cast("binary")).as("h"))
    val fates = DedupOps
      .exactDedupIncremental(batch, "doc_id", "text", hashes)
      .select("doc_id", "fate").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fates == Map(10L -> "dup_of_corpus", 11L -> "unique",
      12L -> "dup_in_batch", 13L -> "unique"))
  }

  test("incremental minhash finds increment-touching pairs and never re-reports corpus pairs") {
    val sess = spark
    import sess.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val mut = base.replace("tok7 ", "zzz ")   // near-dup of base
    // corpus docs 1 and 2 are near-dups of EACH OTHER — historic, must
    // not be re-reported; increment docs 10 (near-dups corpus 1) and
    // 11/12 (near-dups of each other) must be
    val corpus = Seq((1L, base), (2L, mut)).toDF("doc_id", "text")
    val other = (100 to 140).map(i => s"w$i").mkString(" ")
    val batch = Seq(
      (10L, base.replace("tok3 ", "yyy ")),
      (11L, other),
      (12L, other.replace("w105 ", "qqq ")))
      .toDF("doc_id", "text")
    val corpusSigs = DedupOps.minhashSignatures(corpus, "doc_id", "text")
    val got = DedupOps
      .minhashPairsIncremental(batch, "doc_id", "text", corpusSigs,
        minEst = 0.5)
      .select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 10L)), s"missed the corpus near-dup: $got")
    assert(got.contains((11L, 12L)), s"missed the in-batch near-dup: $got")
    assert(!got.contains((1L, 2L)),
      s"historic corpus pair re-reported: $got")
    // 2-10 may or may not band-collide (both are 1-token mutations of
    // base); anything else would be a false candidate surviving a 32/64
    // agreement — assert none
    assert((got - ((1L, 10L)) - ((11L, 12L)) - ((2L, 10L))).isEmpty,
      s"unexpected pairs: $got")
  }

  test("ngramJaccardPairsFromPostings == ngramJaccardPairs at the same doc count (r17 recluster path)") {
    // the mode=recluster recovery re-derives pairs from the persisted
    // raw posting index instead of re-shingling the corpus — row-for-row
    // parity on the real test table (denormalized df on the index is
    // recounted, not trusted)
    val sess = spark
    val rows = sess.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val direct = DedupOps.ngramJaccardPairs(rows, "doc_id", "text", 0.1)
      .collect().map(_.toString).toSeq
    val viaIndex = DedupOps.ngramJaccardPairsFromPostings(
      DedupOps.ngramPostings(rows, "doc_id", "text"), rows.count(), 0.1)
      .collect().map(_.toString).toSeq
    assert(direct.nonEmpty, "fixture produced no pairs — test is vacuous")
    assert(viaIndex == direct,
      "postings-derived pairs diverged from the corpus derivation")
  }

  test("managed CC handles free every pinned block on release (VERDICT r16 #5)") {
    val sess = spark
    import sess.implicits._
    // delta-based, not count-based: the shared session's OTHER pinned
    // RDDs can be GC'd by the ContextCleaner mid-test, so only the ids
    // this test created may be asserted on
    val before = sess.sparkContext.getPersistentRDDs.keySet.toSet
    def leakedSince(): Set[Int] =
      sess.sparkContext.getPersistentRDDs.keySet.toSet -- before
    val run = DedupOps.connectedComponentsManaged(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b"), "a", "b")
    val labels = run.labels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L), s"labels: $labels")
    assert(leakedSince().nonEmpty,
      "managed run should hold its final round pinned while live")
    run.release()
    assert(leakedSince().isEmpty,
      s"release() left blocks pinned: ${leakedSince()}")
    run.release() // idempotent
    // the incremental form: standing checkpoint + contracted run both
    // released through the one handle
    val standing = Seq((1L, 1L), (2L, 1L), (3L, 1L))
      .toDF("doc_id", "cluster_rep")
    val run2 = DedupOps.connectedComponentsIncrementalManaged(standing,
      Seq((3L, 5L)).toDF("a", "b"), "a", "b")
    val upsert = run2.labels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(upsert == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L),
      s"upsert: $upsert")
    run2.release()
    assert(leakedSince().isEmpty,
      s"incremental release() left blocks pinned: ${leakedSince()}")
  }

  test("incremental CC: parquet-backed standing labels skip the checkpoint barrier, upsert unchanged (r20)") {
    val sess = spark
    import sess.implicits._
    // the production shape: the standing label table is a persisted
    // artifact (a bare scan). The r20 checkpoint skip for scan-only
    // standing tables is reverted (it was never measured to pay); what
    // stays pinned: the upsert is identical for a parquet-backed and a
    // computed standing table, and release leaves nothing pinned on both.
    val standing = Seq((1L, 1L), (2L, 1L), (3L, 1L))
      .toDF("doc_id", "cluster_rep")
    val dir = java.nio.file.Files
      .createTempDirectory("cc-standing-").toString
    standing.write.mode("overwrite").parquet(dir)
    val scanned = sess.read.parquet(dir)
    val edges = Seq((3L, 5L)).toDF("a", "b")
    val before = sess.sparkContext.getPersistentRDDs.keySet.toSet
    def leaked(): Set[Int] =
      sess.sparkContext.getPersistentRDDs.keySet.toSet -- before
    val runScan = DedupOps.connectedComponentsIncrementalManaged(
      scanned, edges, "a", "b")
    val upScan = runScan.labels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    runScan.release()
    assert(leaked().isEmpty, s"scan-only release left blocks: ${leaked()}")
    val runMem = DedupOps.connectedComponentsIncrementalManaged(
      standing, edges, "a", "b")
    val upMem = runMem.labels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    runMem.release()
    assert(upScan == upMem && upScan ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L),
      s"scan-only upsert diverged: $upScan vs $upMem")
  }
}
