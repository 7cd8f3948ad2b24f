package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.operators.{DedupOps, PipelineOps, RelationalOps, SimilarityOps, TextOps}

/** The library entry points are generic over ANY DataFrame — not bound to
  * the driver's test tables. Each test binds an operator to a synthetic
  * frame with its own column names and a planted ground truth.
  */
class ApiSpec extends SparkSpec {

  private val base =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa"

  test("minhashPairs finds the planted near-duplicate on a generic frame") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (10L, base),
      (20L, base + " lambda"), // 8 of 9 shingles shared → jaccard ≈ 0.89
      (30L, "one two three four five six seven eight nine ten"),
      (40L, "red green blue yellow purple orange pink black white gray"))
      .toDF("id", "body")
    val pairs = DedupOps.minhashPairs(docs, "id", "body", minEst = 0.5)
      .select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 20L)), s"planted pair missed: $pairs")
    assert(pairs.forall { case (a, b) => Set(a, b).subsetOf(Set(10L, 20L)) },
      s"false positives: $pairs")
  }

  test("simhashPairs is order-invariant: a shuffled doc pairs at Hamming 0") {
    val s = spark
    import s.implicits._
    val shuffled = base.split(" ").reverse.mkString(" ")
    val docs = Seq(
      (1L, base), (2L, shuffled), // same token bag → same fingerprint
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("id", "body")
    val pairs = DedupOps.simhashPairs(docs, "id", "body", maxHamming = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0)), s"got ${pairs.toSeq}")
  }

  test("ngramJaccardPairs scores the planted near-duplicate exactly") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (10L, base),                 // 8 shingles
      (20L, base + " lambda"),     // 9 shingles, 8 shared → j = 8/9
      (30L, "one two three four five six seven eight nine ten"))
      .toDF("id", "body")
    val pairs = DedupOps.ngramJaccardPairs(docs, "id", "body", minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((10L, 20L, 0.8889)), s"got ${pairs.toSeq}")
  }

  test("connectedComponents labels an arbitrary edge list by min vertex") {
    val s = spark
    import s.implicits._
    // two components: {1,2,3} (a path) and {7,9}; 5 is absent (no edges)
    val edges = Seq((2L, 1L), (2L, 3L), (9L, 7L)).toDF("u", "w")
    val comps = DedupOps.connectedComponents(edges, "u", "w")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L),
      s"got $comps")
  }

  test("connectedComponentsIncremental: applied upsert == from-scratch CC, chained across two increments") {
    val s = spark
    import s.implicits._
    def cc(edges: org.apache.spark.sql.DataFrame) =
      DedupOps.connectedComponents(edges, "u", "w")
    def labels(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def apply(standing: org.apache.spark.sql.DataFrame,
        upsert: org.apache.spark.sql.DataFrame) =
      standing.join(upsert.select("doc_id"), Seq("doc_id"), "left_anti")
        .unionByName(upsert)
    // standing: clusters {1,2,3} and {7,9}; docs 5 and 6 exist but are
    // pair-free (unlabeled — exactly like the batch operator's output)
    val prior = Seq((2L, 1L), (2L, 3L), (9L, 7L)).toDF("u", "w")
    val standing = cc(prior).localCheckpoint(true)
    // increment 1 plants every case at once: a cluster MERGE via a new
    // doc (10 bridges {1,2,3} and {7,9}), a pair-free standing doc
    // joining a cluster (5-20), and a brand-new cluster (30-31)
    val inc1 = Seq((10L, 3L), (10L, 7L), (20L, 5L), (30L, 31L))
      .toDF("u", "w")
    val up1 = DedupOps.connectedComponentsIncremental(standing, inc1,
      "u", "w")
    // upsert contents: all five docs of the merged cluster relabeled to
    // 1, plus the four newly labeled docs — and NOTHING else
    assert(labels(up1) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
      9L -> 1L, 10L -> 1L, 5L -> 5L, 20L -> 5L, 30L -> 30L, 31L -> 30L),
      s"got ${labels(up1)}")
    val applied1 = apply(standing, up1).localCheckpoint(true)
    assert(labels(applied1) ==
      labels(cc(prior.unionByName(inc1))), "increment 1 != from-scratch")
    // increment 2 chains off the APPLIED table: merge the new cluster
    // into the big one — every member of both must relabel
    val inc2 = Seq((31L, 9L)).toDF("u", "w")
    val up2 = DedupOps.connectedComponentsIncremental(applied1, inc2,
      "u", "w")
    assert(labels(apply(applied1, up2)) ==
      labels(cc(prior.unionByName(inc1).unionByName(inc2))),
      "increment 2 != from-scratch")
    // empty increment: empty upsert
    assert(DedupOps.connectedComponentsIncremental(applied1,
      inc2.limit(0), "u", "w").isEmpty)
  }

  test("knnJoin ranks planted neighbors on a generic vector frame") {
    val s = spark
    import s.implicits._
    val vecs = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (200L, Array(0.95f, 0.3f, 0.0f, 0.0f)), // closest to 100
      (300L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (400L, Array(0.0f, 0.9f, 0.4f, 0.0f)), // closest to 300
      (500L, Array(0.0f, 0.0f, 0.0f, 1.0f)),
      // zero vector: cosine is 0/0 = NaN — must be excluded up front, not
      // ranked above every real neighbor (Spark sorts NaN largest)
      (600L, Array(0.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("row_id", "vec")
    val knn = SimilarityOps.knnJoin(vecs, "row_id", "vec", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(!knn.contains(600L) && !knn.values.exists(_ == 600L),
      s"zero vector leaked into the knn result: $knn")
    assert(knn.size == 5, s"expected one neighbor per vector: $knn")
    assert(knn(100L) == 200L && knn(200L) == 100L)
    assert(knn(300L) == 400L && knn(400L) == 300L)
  }

  test("block count only partitions the work: B=3 ≡ B=16 ≡ default for knnJoin and embNearDupPairs") {
    // the operator's own scale advice is numBlocks ≈ √(total cores) — a
    // caller must be able to follow it without editing the library, and
    // the answer must not depend on the chosen B
    val s = spark
    import s.implicits._
    val vecs = (1 to 40).map { i =>
      (i * 7L, Array.tabulate(6)(j =>
        (math.sin(i * 13 + j * 5) * 10).toFloat))
    }.toDF("row_id", "vec")
    def knnAt(b: Int) =
      SimilarityOps.knnJoin(vecs, "row_id", "vec", k = 3, numBlocks = b)
        .collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val base = knnAt(8)
    assert(knnAt(3) == base && knnAt(16) == base,
      "knnJoin result varies with numBlocks")
    def ndAt(b: Int) =
      SimilarityOps.embNearDupPairs(vecs, "row_id", "vec", minCos = 0.4,
        numBlocks = b)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val ndBase = ndAt(8)
    assert(ndBase.nonEmpty, "near-dup fixture found no pairs")
    assert(ndAt(3) == ndBase && ndAt(16) == ndBase,
      "embNearDupPairs result varies with numBlocks")
    val bad = intercept[IllegalArgumentException](
      SimilarityOps.knnJoin(vecs, "row_id", "vec", k = 1, numBlocks = 0))
    assert(bad.getMessage.contains("numBlocks"))
  }

  test("bucketQuotaSample: fixed-edge score buckets, quota per bucket, deterministic (generic frame)") {
    val s = spark
    import s.implicits._
    // scores straddle the edges (2.0, 5.0): buckets 0/1/2 hold 3/4/2 rows
    val rows = Seq(
      (1L, 1.0), (2L, 1.5), (3L, 0.2),            // bucket 0
      (4L, 2.0), (5L, 3.0), (6L, 4.9), (7L, 2.5), // bucket 1 (edge inclusive)
      (8L, 5.0), (9L, 9.9))                       // bucket 2
      .toDF("k", "sc")
    val got = PipelineOps.bucketQuotaSample(rows, "k", "sc",
      edges = Seq(2.0, 5.0), n = 2)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got.count(_._1 == 0) == 2 && got.count(_._1 == 1) == 2 &&
      got.count(_._1 == 2) == 2, s"$got")
    // bucket membership respects the edges
    val bucketOf = Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 1, 5L -> 1,
      6L -> 1, 7L -> 1, 8L -> 2, 9L -> 2)
    got.foreach { case (b, _, k) => assert(bucketOf(k) == b, s"$k in $b") }
    // a bucket smaller than n returns all its rows
    val small = PipelineOps.bucketQuotaSample(rows, "k", "sc",
      edges = Seq(2.0, 5.0), n = 10)
      .collect().map(r => (r.getInt(0), r.getLong(2))).toSeq
    assert(small.size == 9, s"$small")
    // unsorted edges refuse loudly
    val e = intercept[IllegalArgumentException](
      PipelineOps.bucketQuotaSample(rows, "k", "sc", Seq(5.0, 2.0), 1))
    assert(e.getMessage.contains("ascending"))
    // a NULL score is dropped, never silently bucketed at 0
    val withNull = rows.unionByName(
      Seq((99L, Option.empty[Double])).toDF("k", "sc"))
    val nn = PipelineOps.bucketQuotaSample(withNull, "k", "sc",
      edges = Seq(2.0, 5.0), n = 10)
      .collect().map(r => r.getLong(2)).toSeq
    assert(!nn.contains(99L) && nn.size == 9, s"$nn")
  }

  test("clusterBalancedSample draws exactly n per embedding cluster (generic frame)") {
    val s = spark
    import s.implicits._
    val centroids = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0)))
      .toDF("list", "centroid")
    // 5 vectors near each axis — cluster membership is unambiguous
    val rows = ((1 to 5).map(i => (i.toLong, Array(1.0f, i * 0.01f))) ++
      (6 to 10).map(i => (i.toLong, Array(i * 0.01f, 1.0f))))
      .toDF("rid", "v")
    val got = SimilarityOps.clusterBalancedSample(rows, "rid", "v",
      n = 2, precomputedCentroids = Some(centroids))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got.length == 4, s"expected 2 per cluster: $got")
    assert(got.count(_._1 == 0) == 2 && got.count(_._1 == 1) == 2, s"$got")
    assert(got.filter(_._1 == 0).forall(_._3 <= 5) &&
      got.filter(_._1 == 1).forall(_._3 >= 6),
      s"sample crossed cluster boundaries: $got")
    // deterministic: the md5 draw re-runs identically
    val again = SimilarityOps.clusterBalancedSample(rows, "rid", "v",
      n = 2, precomputedCentroids = Some(centroids))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    assert(again == got, "quota draw is not deterministic")
  }

  test("frequentItems/frequentTokens: sketch-prefiltered result equals the exact heavy-hitter list") {
    val s = spark
    import s.implicits._
    // 60% "alpha", 25% "beta", the rest singletons — exact heavy hitters
    // at minShare 0.1 are exactly {alpha, beta}
    val vals = Seq.fill(60)("alpha") ++ Seq.fill(25)("beta") ++
      (0 until 15).map(i => s"rare_$i")
    val df = vals.zipWithIndex.map(_.swap).toDF("row", "v")
    val got = TextOps.frequentItems(df, "v", minShare = 0.1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got == Seq("alpha" -> 60L, "beta" -> 25L), s"$got")
    // token form on a generic text frame
    val docs = Seq((1L, "the cat the dog the bird"), (2L, "the fish"))
      .toDF("k", "body")
    val tok = TextOps.frequentTokens(docs, "body", minShare = 0.5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(tok == Seq("the" -> 4L), s"$tok")
    // guarantee gate: a threshold inside the sketch's error band must
    // fail loudly instead of silently dropping true heavy hitters
    val wide = (0 until 500).map(i => (i, s"u_$i")).toDF("row", "v")
    val e = intercept[IllegalArgumentException](
      TextOps.frequentItems(wide, "v", minShare = 0.001, maxMapSize = 8))
    assert(e.getMessage.contains("error band"), e.getMessage)
  }

  test("distinct sketches run on a generic frame with foreign column names") {
    val s = spark
    import s.implicits._
    val a = Seq(("x", 1L), ("x", 2L), ("y", 1L)).toDF("cat", "member")
    val b = Seq(("x", 2L), ("x", 3L), ("z", 9L)).toDF("cat", "member")
    val est = RelationalOps.distinctSketchEstimate(
      RelationalOps.distinctSketchMerge(
        RelationalOps.distinctSketch(a, "cat", "member"),
        RelationalOps.distinctSketch(b, "cat", "member"), "cat"), "cat")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // tiny cardinalities sit in the sketch's exact regime
    assert(est == Map("x" -> 3L, "y" -> 1L, "z" -> 1L), s"$est")
    // the lgConfigK lever WIDENS the exact regime: a cardinality past
    // the default width's set-mode capacity estimates exactly under
    // lgConfigK=14 (the q_distinct_verify regime) — and the merged
    // two-ingest estimate stays exact too
    val wide1 = (0 until 700).map(i => ("w", i.toLong)).toDF("cat", "member")
    val wide2 = (500 until 1400).map(i => ("w", i.toLong)).toDF("cat", "member")
    val wideEst = RelationalOps.distinctSketchEstimate(
      RelationalOps.distinctSketchMerge(
        RelationalOps.distinctSketch(wide1, "cat", "member", lgConfigK = 14),
        RelationalOps.distinctSketch(wide2, "cat", "member", lgConfigK = 14),
        "cat"), "cat")
      .head().getLong(1)
    assert(wideEst == 1400L,
      s"lgConfigK=14 must hold 1400 keys exactly, got $wideEst")
    val eLg = intercept[IllegalArgumentException](
      RelationalOps.distinctSketch(a, "cat", "member", lgConfigK = 99))
    assert(eLg.getMessage.contains("lgConfigK"), eLg.getMessage)
  }

  test("quantile sketches run on a generic frame with foreign column names") {
    val s = spark
    import s.implicits._
    // two ingests whose union per group sits in the KLL exact regime —
    // merged estimates must BE the exact quantiles of the union
    val a = (1 to 40).map(i => ("x", i.toDouble)).toDF("cat", "score")
    val b = (41 to 100).map(i => ("x", i.toDouble)) ++
      Seq(("y", 7.0), ("y", 9.0))
    val est = RelationalOps.quantileSketchEstimate(
      RelationalOps.quantileSketchMerge(
        RelationalOps.quantileSketch(a, "cat", "score"),
        RelationalOps.quantileSketch(b.toDF("cat", "score"), "cat", "score"),
        "cat"),
      "cat", Seq(0.5, 0.95))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(est("x") == ((50.0, 95.0)), s"$est")
    assert(est("y")._1 == 7.0 && est("y")._2 == 9.0, s"$est")
    // estimate columns are labeled by quantile; single-digit basis-point
    // fractions zero-pad so 0.9905 and 0.995 cannot collide (ADVICE r15)
    val cols = RelationalOps.quantileSketchEstimate(
      RelationalOps.quantileSketch(a, "cat", "score"), "cat",
      Seq(0.25, 0.999, 0.995, 0.9905, 0.9955)).columns.toSeq
    assert(cols == Seq("cat", "p25", "p99_9", "p99_5", "p99_05", "p99_55"),
      s"$cols")
  }

  test("sketchEdges feeds bucketQuotaSample: profile-derived edges without a corpus re-scan") {
    // the VERDICT r14 #2 composition, closed end-to-end: the standing
    // KLL artifact yields the score-bucket edges, and the draw over
    // them is identical to one over exact profiling-pass quantiles
    // (exact regime — the sketch holds the stream).
    val s = spark
    import s.implicits._
    val scored = (1 to 200).map(i => (i.toLong, (i % 97).toDouble * 0.1))
      .toDF("doc_id", "score")
    val sk = RelationalOps.quantileSketch(
      scored.withColumn("grp", lit("all")), "grp", "score")
      .localCheckpoint(true) // stands in for the persisted stats artifact
    val qs = Seq(0.25, 0.5, 0.75)
    val edges = RelationalOps.sketchEdges(sk, "grp", qs)
    val exact = {
      val sorted = scored.collect().map(_.getDouble(1)).sorted
      qs.map(q => sorted(math.ceil(q * sorted.length).toInt - 1))
        .distinct.sorted
    }
    assert(edges == exact, s"sketch edges $edges vs exact $exact")
    val viaSketch = PipelineOps
      .bucketQuotaSample(scored, "doc_id", "score", edges, n = 5)
      .collect().map(_.toString).toSeq
    val viaExact = PipelineOps
      .bucketQuotaSample(scored, "doc_id", "score", exact, n = 5)
      .collect().map(_.toString).toSeq
    assert(viaSketch == viaExact && viaSketch.size == 20,
      s"draws diverged: $viaSketch vs $viaExact")
    // a multi-group sketch table is refused loudly
    val multi = RelationalOps.quantileSketch(
      Seq(("a", 1.0), ("b", 2.0)).toDF("grp", "v"), "grp", "v")
    val e = intercept[IllegalArgumentException](
      RelationalOps.sketchEdges(multi, "grp", Seq(0.5)))
    assert(e.getMessage.contains("single-group"), e.getMessage)
    // an EMPTY sketch (every value NULL) estimates NULL quantiles — the
    // failure names the problem instead of NPE-ing (ADVICE r15)
    val allNull = RelationalOps.quantileSketch(
      Seq(("all", Option.empty[Double]), ("all", Option.empty[Double]))
        .toDF("grp", "v"), "grp", "v")
    val e2 = intercept[IllegalArgumentException](
      RelationalOps.sketchEdges(allNull, "grp", Seq(0.5)))
    assert(e2.getMessage.contains("empty"), e2.getMessage)
  }

  test("tokenDivergenceSketch equals the exact report in the sketches' exact regime") {
    // the bytes-only drift monitor: in the exact regime (no purging)
    // the sketch candidates are ALL tokens with exact counts, so the
    // report must equal tokenDivergence's row-for-row — same JS terms,
    // same r9 rounding, same (js desc, tok) order
    val s = spark
    import s.implicits._
    val a = Seq((1L, "aa bb bb cc"), (2L, "aa dd dd dd")).toDF("k", "body")
    val b = Seq((3L, "aa bb ee ee ee"), (4L, "ff")).toDF("k", "body")
    def sk(d: org.apache.spark.sql.DataFrame) = TextOps
      .tokenSketchBytes(d, "body").head().getAs[Array[Byte]]("sk")
    val viaSketch = TextOps.tokenDivergenceSketch(s, sk(a), sk(b))
      .collect().map(_.toString).toSeq
    val exact = TextOps.tokenDivergence(a, b, "body")
      .collect().map(_.toString).toSeq
    assert(viaSketch == exact,
      s"sketch drift report diverged:\n$viaSketch\nvs\n$exact")
    // topK truncates identically
    assert(TextOps.tokenDivergenceSketch(s, sk(a), sk(b), topK = 2)
      .collect().map(_.toString).toSeq == exact.take(2))
    // an empty side degrades to the other side's ½·ln2 terms — the
    // exact operator's zero-measure convention, preserved through the
    // bytes (a fresh build vs nothing, or a first-ever ingest)
    val empty = Seq.empty[(Long, String)].toDF("k", "body")
    val viaEmptySk = TextOps.tokenDivergenceSketch(s, sk(a), sk(empty))
      .collect().map(_.toString).toSeq
    val exactEmpty = TextOps.tokenDivergence(a, empty, "body")
      .collect().map(_.toString).toSeq
    assert(viaEmptySk == exactEmpty && viaEmptySk.nonEmpty,
      s"empty-side parity: $viaEmptySk vs $exactEmpty")
  }

  test("ivfAppend assigns an increment against a frozen quantizer (generic frame)") {
    val s = spark
    import s.implicits._
    val centroids = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0)))
      .toDF("list", "centroid")
    val inc = Seq(
      (10L, Array(0.9f, 0.1f)),   // nearest list 0
      (11L, Array(0.2f, 0.8f)),   // nearest list 1
      (12L, Array(-1.0f, 0.0f)),  // dots (-1, 0) → list 1
      (13L, Array(1.0f, 1.0f)),   // exact dot tie → index DESC → list 1
      (14L, Array(0.0f, 0.0f)))   // zero vector: excluded, not assigned
      .toDF("id", "vec")
    val out = SimilarityOps.ivfAppend(inc, "id", "vec", centroids)
    assert(out.columns.toSeq == Seq("vec_id", "l", "ne"),
      s"append schema must match the assignment artifact: ${out.columns.toSeq}")
    val got = out.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(10L -> 0, 11L -> 1, 12L -> 1, 13L -> 1), s"$got")
    // frozen quantizer: a wrong-dimension centroid table fails loudly
    val bad3d = Seq((0, Seq(1.0, 0.0, 0.0)), (1, Seq(0.0, 1.0, 0.0)))
      .toDF("list", "centroid")
    val e = intercept[IllegalArgumentException](
      SimilarityOps.ivfAppend(inc, "id", "vec", bad3d))
    assert(e.getMessage.contains("dim"), e.getMessage)
    // appending the corpus against its own ivfTrain quantizer reproduces
    // the training run's final assignment geometry: every vector joins
    // the list whose centroid it is nearest — re-assignment is idempotent
    val corpus = (1 to 30).map { i =>
      (i.toLong, Array.tabulate(4)(j =>
        (math.sin(i * 11 + j * 3) * 10).toFloat))
    }.toDF("id", "vec")
    val q = SimilarityOps.ivfTrain(corpus, "id", "vec", nlist = 4)
    val a1 = SimilarityOps.ivfAppend(corpus, "id", "vec", q)
      .select("vec_id", "l").collect().map(_.toString).sorted.toSeq
    val a2 = SimilarityOps.ivfAppend(corpus, "id", "vec", q)
      .select("vec_id", "l").collect().map(_.toString).sorted.toSeq
    assert(a1 == a2 && a1.size == 30,
      "frozen-quantizer assignment must be deterministic and total")
  }

  test("ivfDrift trips the re-train threshold on a drifted increment, not an in-distribution one") {
    // VERDICT r14 #5: the frozen-quantizer rule's invalidation signal.
    // Train on two clean spherical clusters around (1,0,0) and (0,1,0);
    // an in-distribution ingest scores ~1x the baseline distortion, a
    // drifted one (a third cluster near (0,0,1), orthogonal to every
    // centroid) blows past maxRatio and must flag retrain.
    val s = spark
    import s.implicits._
    def cluster(base: Array[Float], ids: Range, wiggle: Float) =
      ids.map { i =>
        val w = Array.tabulate(3)(j =>
          base(j) + (if (j == (i % 3)) wiggle * (1 + i % 3) else 0f))
        (i.toLong, w)
      }
    val corpus = (cluster(Array(1f, 0f, 0f), 0 until 20, 0.05f) ++
      cluster(Array(0f, 1f, 0f), 20 until 40, 0.05f)).toDF("id", "vec")
    val q = SimilarityOps.ivfTrain(corpus, "id", "vec", nlist = 2)
    val baseline = SimilarityOps
      .ivfQuantizationError(corpus, "id", "vec", q).localCheckpoint(true)
    val base = baseline.head()
    assert(base.getAs[Long]("n_vecs") == 40L &&
      base.getAs[Double]("mean_qerr") < 0.05,
      s"training distortion should be small on clean clusters: $base")

    // in-distribution: fresh ids, vectors drawn from the SAME cluster
    // generator the quantizer trained on
    val inDist = cluster(Array(1f, 0f, 0f), 0 until 20, 0.05f)
      .map { case (id, v) => (id + 1000L, v) }.toDF("id", "vec")
    val ok = SimilarityOps.ivfDrift(inDist, "id", "vec", q, baseline).head()
    assert(!ok.getAs[Boolean]("retrain") &&
      ok.getAs[Double]("ratio") < 1.5,
      s"in-distribution ingest must not trip the threshold: $ok")

    val drifted = cluster(Array(0f, 0f, 1f), 200 until 210, 0.06f)
      .toDF("id", "vec")
    val bad = SimilarityOps.ivfDrift(drifted, "id", "vec", q, baseline).head()
    assert(bad.getAs[Boolean]("retrain") &&
      bad.getAs[Double]("ratio") > 1.5 &&
      bad.getAs[Double]("mean_qerr") > 0.5,
      s"orthogonal ingest must trip the re-train threshold: $bad")
    assert(bad.schema.fieldNames.toSeq == Seq("n_vecs", "mean_qerr",
      "max_qerr", "baseline_mean", "ratio", "retrain"),
      s"ingest-stats row shape: ${bad.schema.fieldNames.toSeq}")

    // an EMPTY increment — zero rows, or only zero vectors (which
    // normalization excludes) — has no distortion evidence: mean_qerr
    // is NULL and retrain must read FALSE, not NPE the ingest that
    // calls getAs[Boolean] after its appends landed (ADVICE r15)
    val emptyInc = Seq.empty[(Long, Array[Float])].toDF("id", "vec")
    val none = SimilarityOps
      .ivfDrift(emptyInc, "id", "vec", q, baseline).head()
    assert(none.getAs[Long]("n_vecs") == 0L &&
      none.isNullAt(none.fieldIndex("mean_qerr")) &&
      !none.getAs[Boolean]("retrain"),
      s"empty increment must not trip (and not NPE): $none")
    val zeroVecs = Seq((500L, Array(0f, 0f, 0f))).toDF("id", "vec")
    val zrow = SimilarityOps
      .ivfDrift(zeroVecs, "id", "vec", q, baseline).head()
    assert(zrow.getAs[Long]("n_vecs") == 0L &&
      !zrow.getAs[Boolean]("retrain"),
      s"all-zero-vector increment must not trip: $zrow")
  }

  test("pqDrift trips the re-train threshold on a drifted increment (codebook twin)") {
    // the same invalidation signal for the OTHER frozen artifact
    // (ivfPqIndex's codebook): reconstruction distortion through the
    // search path's own encode + ADC kernels.
    val s = spark
    import s.implicits._
    import graft.operators.PqOps
    def cluster(base: Array[Float], ids: Range, wiggle: Float) =
      ids.map { i =>
        val w = Array.tabulate(4)(j =>
          base(j) + (if (j == (i % 4)) wiggle * (1 + i % 3) else 0f))
        (i.toLong, w)
      }
    val corpus = (cluster(Array(1f, 0f, 0f, 0f), 0 until 24, 0.05f) ++
      cluster(Array(0f, 1f, 0f, 0f), 24 until 48, 0.05f)).toDF("id", "vec")
    val cb = PqOps.pqTrain(corpus, "id", "vec", m = 2, ksub = 4)
    val baseline = PqOps
      .pqQuantizationError(corpus, "id", "vec", cb, m = 2, ksub = 4)
      .localCheckpoint(true)
    assert(baseline.head().getAs[Double]("mean_qerr") < 0.05,
      s"training distortion should be small: ${baseline.head()}")
    val inDist = cluster(Array(0f, 1f, 0f, 0f), 24 until 48, 0.05f)
      .map { case (id, v) => (id + 1000L, v) }.toDF("id", "vec")
    val ok = PqOps.pqDrift(inDist, "id", "vec", cb, baseline,
      m = 2, ksub = 4).head()
    assert(!ok.getAs[Boolean]("retrain"),
      s"in-distribution ingest must not trip the threshold: $ok")
    val drifted = cluster(Array(0f, 0f, 0f, 1f), 200 until 220, 0.05f)
      .toDF("id", "vec")
    val bad = PqOps.pqDrift(drifted, "id", "vec", cb, baseline,
      m = 2, ksub = 4).head()
    assert(bad.getAs[Boolean]("retrain") &&
      bad.getAs[Double]("mean_qerr") > 0.3,
      s"orthogonal ingest must trip the codebook re-train threshold: $bad")
  }

  test("text/pipeline entry points run on a generic frame with foreign column names") {
    val s = spark
    import s.implicits._
    val richDoc = ("the cat sat on the mat and the dog sat on the log " +
      "it was a fine day for sitting and that is what they did " * 2).trim
    val corpus = Seq(
      (1L, richDoc),
      (2L, "tiny doc"),
      (3L, ("the spam " * 40).trim)) // stopword-rich but 97% duplicate tokens
      .toDF("article_id", "contents")
    val qf = TextOps.qualityFilter(corpus, "article_id", "contents")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("keep"), r.getAs[String]("reason"))).toMap
    assert(qf(1L)._1, s"rich doc rejected: ${qf(1L)}")
    assert(qf(2L) == (false, "n_words"))
    assert(qf(3L) == (false, "repetition"))
    val lm = TextOps.lmScore(corpus, "article_id", "contents")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // the all-"spam" doc is maximally in-distribution with itself only;
    // every doc gets a positive mean surprisal
    assert(lm.size == 3 && lm.values.forall(_ > 0.0))
    val packed = PipelineOps.packSequences(corpus, "article_id", "contents",
      cap = 64.0)
    val total = packed.agg(sum("n_tokens")).head.getLong(0)
    val expected = corpus.select(
      sum(size(filter(split(lower(col("contents")), "\\s+"),
        t => length(t) > 0)))).head.getLong(0)
    assert(total == expected, s"packing lost tokens: $total != $expected")
  }

  test("noveltyScore separates a corpus-unique doc from near-copies on a generic frame") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, base), (2L, base), // identical: every shingle has df >= 2
      (3L, "completely different words forming entirely fresh trigram content here"))
      .toDF("k", "v")
    val nov = graft.operators.TextOps.noveltyScore(corpus, "k", "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(nov(1L) == 0.0 && nov(2L) == 0.0, s"copies must have novelty 0: $nov")
    assert(nov(3L) == 1.0, s"unique doc must have novelty 1: $nov")
  }

  test("annKnnJoin runs on a generic frame at a non-default dimension") {
    val s = spark
    import s.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.2f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.3f)),
      (4L, Array(0.0f, 0.1f, 0.9f, 0.4f)))
      .toDF("rid", "v")
    // wrong dim must fail fast, not silently degenerate to one bucket
    val e = intercept[IllegalArgumentException] {
      graft.operators.SimilarityOps.annKnnJoin(vecs, "rid", "v", k = 1)
    }
    assert(e.getMessage.contains("dimension"))
    val knn = graft.operators.SimilarityOps
      .annKnnJoin(vecs, "rid", "v", k = 1, dim = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // wide default buckets at n=4: every vector finds its planted partner
    assert(knn.get(1L).contains(2L) && knn.get(2L).contains(1L), s"got $knn")
  }

  test("ivfKnnJoin recovers planted clusters on a generic frame (incl. quantizer reuse)") {
    val s = spark
    import s.implicits._
    // two well-separated direction clusters; with nlist=2 / nprobe=1 each
    // vector only ever scans its own list, so its top-1 must be a
    // same-cluster partner
    val vecs = Seq(
      (1L, Array(1.0f, 0.05f, 0.0f)), (2L, Array(0.95f, 0.1f, 0.0f)),
      (3L, Array(0.9f, 0.0f, 0.1f)), (4L, Array(1.0f, 0.0f, 0.05f)),
      (5L, Array(0.0f, 0.1f, 1.0f)), (6L, Array(0.05f, 0.0f, 0.95f)),
      (7L, Array(0.1f, 0.05f, 1.0f)), (8L, Array(0.0f, 0.0f, 1.0f)))
      .toDF("rid", "v")
    val cluster = Map(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 1,
      5L -> 2, 6L -> 2, 7L -> 2, 8L -> 2)
    def check(pc: Option[org.apache.spark.sql.DataFrame]): Unit = {
      val knn = graft.operators.SimilarityOps
        .ivfKnnJoin(vecs, "rid", "v", k = 1, nlist = 2, nprobe = 1,
          precomputedCentroids = pc)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(knn.size == 8, s"every vector should get a neighbor: $knn")
      knn.foreach { case (a, b) =>
        assert(cluster(a) == cluster(b), s"$a matched cross-cluster $b: $knn")
      }
    }
    check(None)
    check(Some(graft.operators.SimilarityOps
      .ivfTrain(vecs, "rid", "v", nlist = 2)))
  }

  test("semanticDedupPairs equals the exact join when clusters are separated (incl. quantizer reuse and sub-blocking)") {
    val s = spark
    import s.implicits._
    // the ivfKnnJoin fixture's two direction clusters: at minCos = 0.8 no
    // cross-cluster pair qualifies, so within-cluster search loses nothing
    // and SemDeDup must reproduce the exact all-pairs join verbatim
    val vecs = Seq(
      (1L, Array(1.0f, 0.05f, 0.0f)), (2L, Array(0.95f, 0.1f, 0.0f)),
      (3L, Array(0.9f, 0.0f, 0.1f)), (4L, Array(1.0f, 0.0f, 0.05f)),
      (5L, Array(0.0f, 0.1f, 1.0f)), (6L, Array(0.05f, 0.0f, 0.95f)),
      (7L, Array(0.1f, 0.05f, 1.0f)), (8L, Array(0.0f, 0.0f, 1.0f)),
      // zero vector: no direction → dropped by normalization, must not
      // pair with anything (its cosine is 0/0 = NaN)
      (9L, Array(0.0f, 0.0f, 0.0f)))
      .toDF("rid", "v")
    val exact = SimilarityOps.embNearDupPairs(vecs, "rid", "v", minCos = 0.8)
      .select("va", "vb")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture found no exact near-dups")
    def semAt(pc: Option[org.apache.spark.sql.DataFrame], b: Int) =
      SimilarityOps.semanticDedupPairs(vecs, "rid", "v", minCos = 0.8,
        nlist = 2, precomputedCentroids = pc, numBlocks = b)
        .select("va", "vb")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = semAt(None, 1)
    assert(base == exact, s"semantic $base != exact $exact")
    assert(!base.exists(p => p._1 == 9L || p._2 == 9L),
      "zero vector leaked into the semantic pair set")
    // blocks only partition the work, and a persisted quantizer only skips
    // training — neither may change the answer
    assert(semAt(None, 3) == base, "pair set varies with numBlocks")
    assert(semAt(Some(SimilarityOps.ivfTrain(vecs, "rid", "v", nlist = 2)),
      1) == base, "pair set varies with quantizer reuse")
    val bad = intercept[IllegalArgumentException](
      SimilarityOps.semanticDedupPairs(vecs, "rid", "v", minCos = 0.8,
        numBlocks = 0))
    assert(bad.getMessage.contains("numBlocks"))
  }

  test("quantizeError reconstructs a planted two-point dimension exactly") {
    val s = spark
    import s.implicits._
    // dim 1 spans [0, 255]: codes hit integers exactly → error 0;
    // dim 2 is constant → zero-range rule → error 0;
    // dim 3 has a midpoint value off the 255-step grid → known error
    val vecs = Seq(
      (1L, Array(0.0f, 7.0f, 0.0f)),
      (2L, Array(255.0f, 7.0f, 1.0f)),
      (3L, Array(51.0f, 7.0f, 0.4f))) // 0.4*255 = 102 exactly → error 0
      .toDF("vid", "emb")
    val q = SimilarityOps.quantizeError(vecs, "vid", "emb")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    assert(q.forall(_._2 == 3), s"dims wrong: ${q.toSeq}")
    assert(q.forall(r => r._3 == 0.0 && r._4 == 0.0),
      s"grid-aligned corpus must reconstruct exactly: ${q.toSeq}")
  }

  test("spanCorruptionPlan: deterministic, in-bounds spans, realized noise near its density target") {
    val s = spark
    import s.implicits._
    // 200 docs × 40 tokens: enough positions for the realized mask ratio
    // to concentrate near the configured density
    val docsDf = (0 until 200)
      .map(i => (i.toLong, (1 to 40).map(j => s"t$j").mkString(" ")))
      .toDF("id", "text")
    val plan = graft.operators.PipelineOps
      .spanCorruptionPlan(docsDf, "id", "text")
    val rows = plan.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // spans stay inside their documents and are well-formed
    assert(rows.forall { case (_, st, en) => st >= 1 && en >= st && en <= 40 },
      s"out-of-bounds span: ${rows.find { case (_, st, en) => st < 1 || en < st || en > 40 }}")
    // md5-determinism: a second invocation is bit-identical
    val again = graft.operators.PipelineOps
      .spanCorruptionPlan(docsDf, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.sameElements(again))
    // realized density: 5% starts × mean span 3 ≈ 15% of tokens masked
    // (union overlap + edge truncation pull it slightly below); assert a
    // generous band so the test pins the mechanism, not the sample
    val masked = rows.groupBy(_._1).values.map { spans =>
      spans.flatMap { case (_, st, en) => st to en }.distinct.size
    }.sum
    val ratio = masked.toDouble / (200 * 40)
    assert(ratio > 0.08 && ratio < 0.22, s"realized mask ratio $ratio")
  }

  test("spanCorruptApply round-trips: substituting target segments back recovers the token stream") {
    val s = spark
    import s.implicits._
    val docsDf = (0 until 100)
      .map(i => (i.toLong, (1 to 40).map(j => s"t$j").mkString(" ")))
      .toDF("id", "text")
    val out = graft.operators.PipelineOps
      .spanCorruptApply(docsDf, "id", "text").collect()
    assert(out.length == 100)
    val sentRe = "<extra_id_(\\d+)>".r
    var sawMasked = false
    out.foreach { r =>
      val nRuns = r.getInt(1)
      val input = r.getString(2)
      val target = r.getString(3)
      if (nRuns == 0) assert(target.isEmpty && input == (1 to 40)
        .map(j => s"t$j").mkString(" "))
      else {
        sawMasked = true
        // target = "<extra_id_0> toks… <extra_id_1> toks… <extra_id_n>" —
        // cut segments closed by the terminal end-of-target sentinel
        // (canonical T5 shape, r11)
        val ms = sentRe.findAllMatchIn(target).toVector
        assert(ms.map(_.group(1).toInt) == (0 to nRuns).toVector,
          s"sentinels out of order in '$target'")
        val segs = ms.zipWithIndex.map { case (m, i) =>
          val end = if (i + 1 < ms.length) ms(i + 1).start else target.length
          m.group(1).toInt -> target.substring(m.end, end).trim
            .split("\\s+").filter(_.nonEmpty).toSeq
        }.toMap
        assert(segs(nRuns).isEmpty,
          s"terminal sentinel must close the target: '$target'")
        assert((0 until nRuns).forall(k => segs(k).nonEmpty),
          s"empty masked run: '$target'")
        val reconstructed = input.split(" ").toSeq.flatMap {
          case sentRe(k) => segs(k.toInt)
          case t => Seq(t)
        }
        assert(reconstructed == (1 to 40).map(j => s"t$j"),
          s"round-trip failed: input '$input' target '$target'")
      }
    }
    assert(sawMasked, "no doc got a mask — the density draw is broken")
  }

  test("fimTransform round-trips: P+M+S reassembly recovers the token stream") {
    val s = spark
    import s.implicits._
    val docsDf = (0 until 100)
      .map(i => (i.toLong, (1 to 20).map(j => s"t$j").mkString(" ")))
      .toDF("id", "text")
    val out = graft.operators.PipelineOps
      .fimTransform(docsDf, "id", "text").collect()
    assert(out.length == 100)
    val orig = (1 to 20).map(j => s"t$j")
    var applied = 0
    out.foreach { r =>
      val text = r.getString(2)
      if (!r.getBoolean(1)) assert(text == orig.mkString(" "))
      else {
        applied += 1
        // PSM: <fim_prefix> P <fim_suffix> S <fim_middle> M
        val iS = text.indexOf("<fim_suffix>")
        val iM = text.indexOf("<fim_middle>")
        assert(text.startsWith("<fim_prefix>") && iS > 0 && iM > iS,
          s"malformed PSM: '$text'")
        def toks(seg: String): Seq[String] =
          seg.trim.split("\\s+").filter(_.nonEmpty).toSeq
        val p = toks(text.substring("<fim_prefix>".length, iS))
        val suf = toks(text.substring(iS + "<fim_suffix>".length, iM))
        val m = toks(text.substring(iM + "<fim_middle>".length))
        assert((p ++ m ++ suf) == orig,
          s"round-trip failed: '$text' → ${p ++ m ++ suf}")
      }
    }
    // 90% default rate on 100 docs: the draw must both fire and skip
    assert(applied > 60 && applied < 100, s"applied=$applied")
  }

  test("tokenDivergence ranks the planted shift token, zero for identical corpora") {
    val s = spark
    import s.implicits._
    val a = Seq((1L, "x x y"), (2L, "y z")).toDF("id", "text")
    // identical corpora: p = q for every token → every JS contribution 0
    val same = graft.operators.TextOps.tokenDivergence(a, a, "text")
      .collect()
    assert(same.nonEmpty && same.forall(_.getDouble(3) == 0.0d),
      s"identical corpora must diverge nowhere: ${same.toSeq}")
    // planted shift: 'w' appears only in b (3 of its 8 tokens)
    val b = Seq((3L, "x x y"), (4L, "y z w w w")).toDF("id", "text")
    val out = graft.operators.TextOps.tokenDivergence(a, b, "text").collect()
    assert(out.head.getString(0) == "w",
      s"the one-sided token must dominate: ${out.toSeq}")
    val w = out.head
    assert(w.getLong(1) == 0L && w.getLong(2) == 3L)
    // hand-derived: p=0 → only the q-term; m=q/2 → q·ln 2, halved, r9
    val expected = math.floor(
      (0.0d * 0.5d + (3.0d / 8.0d) * math.log((3.0d / 8.0d) / (3.0d / 16.0d))
        * 0.5d) * 1e9d + 0.5d) / 1e9d
    assert(w.getDouble(3) == expected,
      s"w contribution ${w.getDouble(3)} != $expected")
  }

  test("importanceWeights ranks target-like docs above off-target docs") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, true, "alpha beta gamma alpha beta"),
      (2L, true, "alpha beta delta beta alpha"),
      (3L, false, "omega psi chi omega psi"),
      (4L, false, "alpha beta gamma beta alpha")) // target-like content, non-target split
      .toDF("nid", "in_target", "body")
    val w = TextOps.importanceWeights(corpus, "nid", "body", col("in_target"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w.size == 4)
    // docs made of target-distribution tokens score above the off-target doc
    assert(w(1L) > w(3L) && w(2L) > w(3L) && w(4L) > w(3L), s"got $w")
    // membership in the target split is irrelevant; only content matters
    assert(math.abs(w(4L) - w(1L)) < math.abs(w(3L) - w(1L)), s"got $w")
  }

  test("bpeEncode counts tokens under a given model on a generic frame") {
    val s = spark
    import s.implicits._
    val corpus = Seq((1, "aab aab"), (2, "xy"), (3, " "))
      .toDF("k", "v")
    // model: (a,a) then (aa,b</w>) — "aab" encodes to ONE token
    val got = graft.operators.TokenizerOps.bpeEncode(corpus, "k", "v",
      Seq(("a", "a"), ("aa", "b</w>")))
      .collect().map(r => (r.getInt(0), r.getLong(2), r.getLong(3))).toSeq
    // doc 1: 2 words × 1 token; doc 2: no rule applies → "x" + "y</w>" =
    // 2 tokens; doc 3: no tokens at all, kept with zero counts
    assert(got == Seq((1, 2L, 2L), (2, 1L, 2L), (3, 0L, 0L)), s"got $got")
  }

  test("unigramEncode segments under a given model on a generic frame") {
    val s = spark
    import s.implicits._
    val corpus = Seq(("x", "abab ab"), ("y", "zq"), ("z", " "))
      .toDF("key", "body")
    // "ab" is a strong piece; z/q are covered only by the UNK fallback
    val model = Map("ab" -> -100000000L, "a" -> -5000000000L,
      "b" -> -5000000000L)
    val got = graft.operators.UnigramOps
      .unigramEncode(corpus, "key", "body", model, maxPieceLen = 4)
      .collect()
      .map(r => (r.getString(0), r.getLong(3), r.getLong(4))).toSeq
    // doc x: "abab"→2 pieces + "ab"→1 piece = 3 tokens, 3 × -1e8;
    // doc y: two UNK chars; doc z: no tokens, zero row
    assert(got == Seq(
      ("x", 3L, -300000000L),
      ("y", 2L, 2L * graft.operators.UnigramOps.UnkScaled),
      ("z", 0L, 0L)), s"got $got")
  }

  test("unigramSegment emits piece sequences on a generic frame") {
    val s = spark
    import s.implicits._
    val corpus = Seq(("k1", "abab zq")).toDF("ref", "payload")
    val model = Map("ab" -> -100000000L, "a" -> -5000000000L,
      "b" -> -5000000000L)
    val got = graft.operators.UnigramOps
      .unigramSegment(corpus, "ref", "payload", model, maxPieceLen = 4)
      .collect().map(r => (r.getString(0), r.getSeq[String](1).toList))
    // "abab" → ab+ab; z/q fall back to UNK single chars but still emit
    assert(got.toSeq == Seq(("k1", List("ab", "ab", "z", "q"))),
      s"got ${got.toSeq}")
  }

  test("packExamplesTokens equals packExamples when the token arrays are the whitespace words") {
    val s = spark
    import s.implicits._
    val docs = graft.sources.Tables(spark, sf, "documents")
      .select(col("doc_id").cast("string").as("doc_id"), col("text"))
    val viaText = graft.operators.PipelineOps
      .packExamples(docs, "doc_id", "text", cap = 64).collect().toSeq
    val tokenized = docs.select(col("doc_id"),
      filter(split(lower(col("text")), "\\s+"),
        t => length(t) > 0).as("tks"))
    val viaTokens = graft.operators.PipelineOps
      .packExamplesTokens(tokenized, "doc_id", "tks", cap = 64)
      .collect().toSeq
    assert(viaTokens == viaText,
      "token-array packing diverged from text packing on the same stream")
  }

  test("unigramTrain learns the dominant piece on a generic frame") {
    val s = spark
    import s.implicits._
    val corpus = Seq.tabulate(20)(i => (i, "abab abab zq"))
      .toDF("n", "phrase")
    val model = graft.operators.UnigramOps
      .unigramTrain(corpus, "phrase", vocabSize = 6, seedSize = 16,
        maxPieceLen = 4)
      .collect().map(r => (r.getString(0), r.getDouble(2)))
    val pieces = model.map(_._1).toSet
    // coverage singles always present
    assert(Set("a", "b", "z", "q").subsetOf(pieces), s"got $pieces")
    // the dominant repeated piece survives the prune with most of the
    // probability mass among multi-char pieces
    val best = model.filter(_._1.length > 1).maxBy(_._2)
    assert(best._1 == "abab" || best._1 == "ab", s"got ${model.toSeq}")
  }

  test("bpeMerges learns the dominant pair first on a generic frame") {
    val s = spark
    import s.implicits._
    val corpus = Seq.tabulate(20)(i => (i, "aab aab aab xy"))
      .toDF("n", "phrase")
    val merges = graft.operators.TokenizerOps.bpeMerges(corpus, "phrase", 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    // "aab"×3 per row × 20 rows: pair (a,a) dominates with count 60
    assert(merges(0) == ((1, "a", "a", 60L)), s"got ${merges.toSeq}")
    // after merging, (aa, b</w>) is the runner-up at 60
    assert(merges(1) == ((2, "aa", "b</w>", 60L)), s"got ${merges.toSeq}")
  }

  test("profile reports nulls, distincts, and extrema for any frame") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Some(3), Some("b")), (Some(1), None),
      (None, Some("a")), (Some(3), Some("c")))
      .toDF("num", "txt")
    val p = graft.operators.RelationalOps.profile(df)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))
      .toMap
    assert(p("num") == ((4L, 1L, 2L, "1", "3")), s"got $p")
    assert(p("txt") == ((4L, 1L, 3L, "a", "c")), s"got $p")
    // the approx variant keeps the same shape and is exact at this scale
    val pa = graft.operators.RelationalOps.profile(df, approx = true)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(pa == Map("num" -> 2L, "txt" -> 3L), s"got $pa")
  }

  test("profile survives hostile column names and unorderable types") {
    val s = spark
    import s.implicits._
    // dotted name (breaks naive col()), map column (no min/max/distinct)
    val df = Seq((1, "x"), (2, null.asInstanceOf[String]))
      .toDF("a.b", "v")
      .withColumn("m", map(lit("k"), col("v")))
    val p = graft.operators.RelationalOps.profile(df)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(p("a.b") == ((0L, 2L)), s"got $p")
    assert(p("v") == ((1L, 1L)), s"got $p")
    assert(p("m") == ((0L, -1L)), s"map column must profile nulls-only: $p")
  }

  test("chunkTokens overlaps and covers every token on a generic frame") {
    val s = spark
    import s.implicits._
    val ws = (1 to 10).map(i => s"w$i").mkString(" ") // 10 tokens
    val corpus = Seq((7L, ws), (8L, "solo"), (9L, "   "))
      .toDF("aid", "body")
    val ch = PipelineOps.chunkTokens(corpus, "aid", "body",
      window = 4, step = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getString(4)))
    // starts 0,3,6 → 3 chunks (start 9 is a strict subset of the chunk at
    // 6, which already reaches the end — dropped, no duplicate content)
    val d7 = ch.filter(_._1 == 7L)
    assert(d7.map(_._2).toSeq == Seq(0L, 1L, 2L), s"got ${d7.toSeq}")
    assert(d7.map(_._3).toSeq == Seq(4L, 4L, 4L), s"got ${d7.toSeq}")
    assert(d7(0)._4 == "w1 w2 w3 w4" && d7(1)._4 == "w4 w5 w6 w7",
      s"overlap of window-step=1 token missing: ${d7.toSeq}")
    // the final chunk covers the document end
    assert(d7.last._4 == "w7 w8 w9 w10")
    // a 1-token doc yields one 1-token chunk; a whitespace doc yields none
    assert(ch.filter(_._1 == 8L).toSeq == Seq((8L, 0L, 1L, "solo")))
    assert(!ch.exists(_._1 == 9L))
  }

  test("asofJoin pairs each reading with the latest calibration on a generic frame") {
    val s = spark
    import s.implicits._
    val readings = Seq(
      (1L, "sensorA", 100L), (2L, "sensorA", 250L),
      (3L, "sensorB", 50L), (4L, "sensorA", 199L),
      (5L, "sensorA", 200L)) // exactly AT a calibration: inclusive bound
      .toDF("rid", "sensor", "at")
    val calibrations = Seq(
      ("sensorA", 90L, 10L, 0.5), ("sensorA", 200L, 11L, 0.7),
      ("sensorA", 200L, 12L, 0.9), // tie on (key, ts): highest cal_id wins
      ("sensorB", 60L, 20L, 0.1))  // after sensorB's only reading
      .toDF("sensor", "at", "cal_id", "gain")
    val j = graft.operators.TemporalOps.asofJoin(
      readings, calibrations, "sensor", "at",
      payload = Seq("cal_id", "gain"), tieBreak = "cal_id")
      .collect().map(r => r.getAs[Long]("rid") ->
        (r.getAs[Long]("asof_ts"), r.getAs[Long]("asof_cal_id"),
          r.getAs[Double]("asof_gain"))).toMap
    assert(j(1L) == ((90L, 10L, 0.5)), s"got $j")
    assert(j(4L) == ((90L, 10L, 0.5)), s"199 < 200 must see the old cal: $j")
    assert(j(2L) == ((200L, 12L, 0.9)), s"tie must resolve to max cal_id: $j")
    assert(j(5L) == ((200L, 12L, 0.9)),
      s"'at or before' must include a calibration at the exact instant: $j")
    assert(!j.contains(3L), "reading before any calibration must drop")
  }

  test("rangeJoin meets each qualifying pair exactly once across bin boundaries") {
    val s = spark
    import s.implicits._
    val intervals = Seq((1L, "u", 95L), (2L, "u", 200L), (3L, "v", 0L))
      .toDF("iid", "who", "start")
    val probes = Seq(
      (10L, "u", 95L),   // on the start boundary (inclusive)
      (11L, "u", 105L),  // inside interval 1, across its bin-0/bin-1 edge
      (12L, "u", 196L),  // past interval 1 (95+100=195), before interval 2
      (13L, "u", 301L),  // past interval 2 (200+100=300)
      (14L, "w", 50L),   // wrong key
      (15L, "u", 195L))  // exactly AT interval 1's end: inclusive bound
      .toDF("pid", "who", "when")
    // rangeJoin reads one ts column name from both sides: rename to match
    val got = graft.operators.TemporalOps.rangeJoin(
      intervals.withColumnRenamed("start", "t"),
      probes.withColumnRenamed("when", "t"), "who", "t", span = 100L)
      .collect()
      .map(r => (r.getAs[org.apache.spark.sql.Row]("l").getAs[Long]("iid"),
        r.getAs[org.apache.spark.sql.Row]("r").getAs[Long]("pid"),
        r.getAs[Long]("delta")))
      .sorted
    assert(got.toSeq == Seq((1L, 10L, 0L), (1L, 11L, 10L), (1L, 15L, 100L)),
      s"got ${got.toSeq}")
  }

  test("knnJoin(k=1) equals the brute-force argmax on generated vectors") {
    val s = spark
    import s.implicits._
    val gen: Gen[Seq[(Long, Array[Float])]] = for {
      n <- Gen.chooseNum(3, 24)
      vs <- Gen.listOfN(n,
        Gen.listOfN(8, Gen.chooseNum(-10.0f, 10.0f).suchThat(_ != 0f)))
    } yield vs.zipWithIndex.map { case (v, i) => (i * 31L, v.toArray) }
    val vecs = gen.sample.get
    val df = vecs.toDF("row_id", "vec")
    val got = SimilarityOps.knnJoin(df, "row_id", "vec", k = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    // brute force on the driver, with the SAME r4 rounding + min-id ties
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
        * 10000d + 0.5d) / 10000d
    }
    vecs.foreach { case (id, v) =>
      val best = vecs.filter(_._1 != id)
        .map { case (j, w) => (j, cos(v, w)) }
        .minBy { case (j, c) => (-c, j) }
      assert(got(id) == best, s"vec $id: got ${got(id)}, brute force $best")
    }
  }

  test("substringPairs finds a planted verbatim span that Jaccard would miss") {
    val s = spark
    import s.implicits._
    val span = (1 to 10).map(i => s"s$i").mkString(" ") // 10-token verbatim run
    val docs = Seq(
      (1L, s"pre1 pre2 pre3 $span"),            // span at the tail
      (2L, s"$span tail1 tail2 tail3"),          // same span at the head
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("id", "body")
    val got = DedupOps.substringPairs(docs, "id", "body", n = 8, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the 10-token span contains exactly 3 complete 8-grams; no 8-gram
    // crossing the span boundary matches across the two docs
    assert(got.toSeq == Seq((1L, 2L, 3L)), s"got ${got.toSeq}")
  }

  test("decontaminate flags exactly the train docs sharing an 8-gram with the benchmark") {
    val s = spark
    import s.implicits._
    val leak = (1 to 9).map(i => s"q$i").mkString(" ") // 9-token verbatim run
    val train = Seq(
      (1L, s"intro words here $leak"),        // contaminated: 2 complete 8-grams
      (2L, "one two three four five six seven eight nine ten"),
      (3L, s"$leak closing remark"))          // contaminated: same 2 8-grams
      .toDF("id", "body")
    val bench = Seq(
      (100L, s"benchmark prompt $leak answer key"),
      (200L, "totally unrelated benchmark text with many distinct tokens"))
      .toDF("id", "body")
    val got = TextOps.decontaminate(train, bench, "id", "body", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // a 9-token run contains exactly 2 complete 8-grams; doc 2 shares none
    assert(got.toSeq == Seq((1L, 2L), (3L, 2L)), s"got ${got.toSeq}")
  }

  test("decontaminationIndex round-trips through parquet and reuse equals self-build") {
    val s = spark
    import s.implicits._
    val leak = (1 to 9).map(i => s"q$i").mkString(" ")
    val train = Seq(
      (1L, s"intro words here $leak"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, s"$leak closing remark"))
      .toDF("id", "body")
    val bench = Seq(
      (100L, s"benchmark prompt $leak answer key"),
      (200L, "totally unrelated benchmark text with many distinct tokens"))
      .toDF("id", "body")
    val dir = java.nio.file.Files
      .createTempDirectory("decontam_idx").toString + "/grams"
    TextOps.decontaminationIndex(bench, "body", n = 8)
      .write.mode("overwrite").parquet(dir)
    val reused = TextOps.decontaminate(train,
        bench.limit(0), // bench side must be UNUSED on the reuse path
        "id", "body", n = 8,
        precomputedGrams = Some(s.read.parquet(dir)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val direct = TextOps.decontaminate(train, bench, "id", "body", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(reused == direct, s"reused $reused vs direct $direct")
    assert(reused == Seq((1L, 2L), (3L, 2L)), s"got $reused")
  }

  test("decontaminate with an empty benchmark flags nothing") {
    val s = spark
    import s.implicits._
    val train = Seq((1L, base)).toDF("id", "body")
    val bench = Seq.empty[(Long, String)].toDF("id", "body")
    assert(TextOps.decontaminate(train, bench, "id", "body", n = 8).isEmpty)
  }

  test("piiScrub redacts planted emails, phones, and IPs with typed counts") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "Contact me at john.doe@example.com or 555-123-4567 today"),
      (2L, "server at 10.0.0.1 and backup at 192.168.1.254 are up"),
      (3L, "no personal data in this sentence at all"))
      .toDF("id", "body")
    val got = TextOps.piiScrub(docs, "id", "body")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    assert(got(1L) == (("Contact me at <EMAIL> or <PHONE> today", 1L, 1L, 0L, 2L)),
      s"got ${got(1L)}")
    assert(got(2L) == (("server at <IPV4> and backup at <IPV4> are up", 0L, 0L, 2L, 2L)),
      s"got ${got(2L)}")
    assert(got(3L) == (("no personal data in this sentence at all", 0L, 0L, 0L, 0L)),
      s"got ${got(3L)}")
  }

  test("weightedSample returns exactly k rows and always keeps a dominant weight") {
    val s = spark
    import s.implicits._
    // weight 1e12 bounds its key below the smallest key any weight-1 row
    // can draw (u granularity is 2^-32), so selection is guaranteed, not
    // just likely
    val rows = (1L to 20L).map(i => (i, if (i == 13L) 1e12 else 1.0))
      .toDF("id", "w")
    val got = PipelineOps.weightedSample(rows, "id", col("w"), k = 5)
      .collect().map(_.getLong(0))
    assert(got.length == 5 && got.distinct.length == 5, s"got ${got.toSeq}")
    assert(got.contains(13L), s"dominant weight dropped: ${got.toSeq}")
    // reproducible: no RNG anywhere — a second run is identical
    val again = PipelineOps.weightedSample(rows, "id", col("w"), k = 5)
      .collect().map(_.getLong(0))
    assert(got.toSeq == again.toSeq, s"${got.toSeq} vs ${again.toSeq}")
    // k >= n degrades to "everything, ranked"
    val all = PipelineOps.weightedSample(rows, "id", col("w"), k = 99)
      .collect()
    assert(all.length == 20)
    assert(all.map(_.getDouble(2)).toSeq == all.map(_.getDouble(2)).sorted.toSeq)
  }

  test("saltedJoin equals the plain join on a hot-key frame and spreads the salt") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{pmod, xxhash64, lit => flit}
    // 90% of rows share key 1 — the shape that hot-spots one reducer
    val left = (1 to 500)
      .map(i => (if (i % 10 == 0) 2L else 1L, i.toLong, i * 0.5))
      .toDF("k", "row_id", "v")
    val right = Seq((1L, "hot"), (2L, "cold"), (3L, "orphan"))
      .toDF("rk", "name")
    def summarize(joined: org.apache.spark.sql.DataFrame) = joined
      .groupBy("name")
      .agg(count(flit(1)).as("n"), Det.dsum(col("v")).as("sv"))
      .orderBy("name")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val plain = summarize(left.join(right, col("k") === col("rk")))
    val salted = summarize(
      RelationalOps.saltedJoin(left, right, "k", "rk", salts = 8,
        saltBy = col("row_id")))
    assert(salted == plain, s"salted $salted vs plain $plain")
    // the hot key's rows really do land in >1 salt bucket
    val spread = left.filter(col("k") === 1L)
      .select(pmod(xxhash64(col("row_id")), flit(8)).as("salt"))
      .distinct().count()
    assert(spread >= 6, s"hot key spread over only $spread of 8 salts")
  }

  test("curate assigns every planted fate on a generic frame") {
    val s = spark
    import s.implicits._
    def words(prefix: String, n: Int): Seq[String] =
      (0 until n).map(i => f"$prefix$i%02d")
    // each clean doc: 33 tokens, ≥2 stopwords, distinct vocab per prefix →
    // passes qualityFilter, cross-prefix 3-shingle jaccard = 0
    def clean(prefix: String): String =
      ("the" +: words(prefix, 31) :+ "and").mkString(" ")
    val nearDupOfB =
      ("the" +: (words("beta", 28) ++ words("zeta", 3)) :+ "and").mkString(" ")
    val corpus = Seq(
      (1L, "too short"),          // fails r_nwords          → quality
      (2L, clean("alpha")),       // min id of its dup group → kept
      (3L, clean("alpha")),       // byte-identical to 2     → exact_dup
      (4L, clean("beta")),        // cluster rep of {4, 5}   → kept
      (5L, nearDupOfB),           // high jaccard with 4     → near_dup
      (6L, clean("gamma")))       // shares an 8-run w/bench → contaminated
      .toDF("id", "body")
    val bench = Seq(
      (100L, (words("bench", 5) ++ words("gamma", 8) ++ words("bench2", 5))
        .mkString(" ")))
      .toDF("id", "body")
    val fates = PipelineOps.curate(corpus, bench, "id", "body")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fates == Map(1L -> "quality", 2L -> "kept", 3L -> "exact_dup",
      4L -> "kept", 5L -> "near_dup", 6L -> "contaminated"), s"got $fates")
    // precomputed-pairs path (production reuse of a materialized pair
    // list) gives the identical manifest
    val pairs = DedupOps.ngramJaccardPairs(corpus, "id", "body", 0.1)
    val fates2 = PipelineOps.curate(corpus, bench, "id", "body",
      precomputedPairs = Some(pairs))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fates2 == fates, s"precomputed-pairs path diverged: $fates2")
  }

  test("curationReport audits a generic manifest/corpus pair per fate") {
    val s = spark
    import s.implicits._
    def words(prefix: String, n: Int): Seq[String] =
      (0 until n).map(i => f"$prefix$i%02d")
    def clean(prefix: String): String =
      ("the" +: words(prefix, 31) :+ "and").mkString(" ")
    val nearDupOfB =
      ("the" +: (words("beta", 28) ++ words("zeta", 3)) :+ "and").mkString(" ")
    val corpus = Seq(
      (1L, "too short"),    // quality, 2 tokens
      (2L, clean("alpha")), // kept, 33 tokens
      (3L, clean("alpha")), // exact_dup, 33
      (4L, clean("beta")),  // kept, 33
      (5L, nearDupOfB),     // near_dup, 33
      (6L, clean("gamma"))) // contaminated, 33
      .toDF("id", "body")
    val bench = Seq(
      (100L, (words("bench", 5) ++ words("gamma", 8) ++ words("bench2", 5))
        .mkString(" ")))
      .toDF("id", "body")
    val manifest = PipelineOps.curate(corpus, bench, "id", "body")
    val rows = PipelineOps.curationReport(manifest, corpus, "id", "body")
      .collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("contaminated", "exact_dup", "kept", "near_dup", "quality"),
      s"fate order: ${rows.map(_.getString(0)).toSeq}")
    def r4(x: Double) = math.floor(x * 10000d + 0.5d) / 10000d
    val rep = rows.map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // 6 docs / 167 raw tokens total; every count and share is exact
    assert(rep("kept") == ((2L, 66L, r4(2d / 6), r4(66d / 167))), s"$rep")
    assert(rep("quality") == ((1L, 2L, r4(1d / 6), r4(2d / 167))), s"$rep")
    assert(rep("exact_dup") == ((1L, 33L, r4(1d / 6), r4(33d / 167))))
    assert(rep("near_dup") == ((1L, 33L, r4(1d / 6), r4(33d / 167))))
    assert(rep("contaminated") == ((1L, 33L, r4(1d / 6), r4(33d / 167))))
  }

  test("packSequencesIncremental: chained increments match a from-scratch batch-major re-pack") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    def mkDocs(ids: Seq[Long]) =
      ids.map(i => (i, (1 to (5 + (i % 17)).toInt)
        .map(j => s"w${i}_$j").mkString(" "))).toDF("id", "body")
    val b0 = mkDocs(1L to 40L)
    val b1 = mkDocs(41L to 70L)
    val b2 = mkDocs(71L to 100L)
    val cap = 64.0
    val p0 = PipelineOps.packSequences(b0, "id", "body", cap)
    val p1 = PipelineOps.packSequencesIncremental(p0, b1, "id", "body", cap)
    val p2 = PipelineOps.packSequencesIncremental(p1, b2, "id", "body", cap)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    // from-scratch reference: ONE naive global window over batch-major
    // order (test-scale only — the library never sorts globally)
    val union = b0.withColumn("batch", lit(0))
      .unionByName(b1.withColumn("batch", lit(1)))
      .unionByName(b2.withColumn("batch", lit(2)))
    val w = Window.orderBy("batch", "ord", "id")
    val ref = union
      .select($"id", $"batch", md5($"id".cast("string")).as("ord"),
        size(split($"body", " ")).cast("long").as("n_tok"))
      .withColumn("cum", sum("n_tok").over(w))
      .withColumn("chunk",
        floor(($"cum" - $"n_tok") / cap).cast("long"))
      .groupBy("chunk")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        min("id").as("min_doc"), max("id").as("max_doc"))
    assert(rowsOf(p2) == rowsOf(ref),
      "two chained increments diverged from the batch-major re-pack")
    // the boundary chunk is genuinely shared (an increment continued a
    // partially-filled window), otherwise the merge path wasn't exercised
    val p0Last = rowsOf(p0).last
    val p1Rows = rowsOf(p1)
    assert(p1Rows.exists(r => r._1 == p0Last._1 && r._2 > p0Last._2),
      "increment opened a fresh window exactly at the boundary — " +
        "boundary-merge path not exercised")
    // empty increment is a no-op; empty prior manifest = from-scratch pack
    val emptyDocs = Seq.empty[(Long, String)].toDF("id", "body")
    assert(rowsOf(PipelineOps.packSequencesIncremental(
      p2, emptyDocs, "id", "body", cap)) == rowsOf(p2))
    val emptyManifest = Seq.empty[(Long, Long, Long, Long, Long)]
      .toDF("chunk", "n_docs", "n_tokens", "min_doc", "max_doc")
    assert(rowsOf(PipelineOps.packSequencesIncremental(
      emptyManifest, b0, "id", "body", cap)) == rowsOf(p0))
  }

  test("packExamples materializes exact cap-token windows, straddling doc split at the boundary") {
    val s = spark
    import s.implicits._
    // token counts 7/6/5: no md5-order prefix hits 10 exactly, so one
    // document ALWAYS straddles the first window boundary whatever the
    // hash order; the whitespace-only doc contributes nothing
    val docs = Seq(
      (1L, (1 to 7).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 6).map(i => s"b$i").mkString(" ")),
      (3L, (1 to 5).map(i => s"c$i").mkString(" ")),
      (4L, "   "))
      .toDF("id", "body")
    val got = PipelineOps.packExamples(docs, "id", "body", cap = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4), r.getString(5), r.getBoolean(6)))
      .toSeq
    // sequential re-derivation of the policy: md5(doc_id) layout,
    // global token stream, split every 10 tokens
    def md5hex(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val pfx = Map(1L -> "a", 2L -> "b", 3L -> "c")
    val stream = Seq(1L -> 7, 2L -> 6, 3L -> 5)
      .sortBy { case (id, _) => (md5hex(id.toString), id) }
      .flatMap { case (id, n) => (1 to n).map(i => (id, s"${pfx(id)}$i")) }
    val expected = stream.zipWithIndex
      .groupBy(_._2 / 10).toSeq.sortBy(_._1)
      .map { case (ck, toks) =>
        val segs = toks.map { case ((id, t), gp) => (gp - ck * 10, id, t) }
        val bounds = segs.groupBy(_._2).values
          .map(xs => (xs.map(_._1).min, xs.head._2)).toSeq.sortBy(_._1)
        (ck.toLong, bounds.size.toLong, segs.size.toLong,
          bounds.map(_._2).mkString(","), bounds.map(_._1).mkString(","),
          segs.map(_._3).mkString(" "), segs.size < 10)
      }
    assert(got == expected, s"got $got\nexpected $expected")
    // 18 tokens / cap 10 → two windows, exactly one straddler → 4
    // segments total, and only the tail window is partial
    assert(got.map(_._2).sum == 4, s"straddle not exercised: $got")
    assert(got.map(_._3).sum == 18)
    assert(got.map(_._7) == Seq(false, true))
  }

  test("knnSearch retrieves planted neighbors on generic frames, block-count-invariant, no self-exclusion") {
    val s = spark
    import s.implicits._
    // orthogonal-ish 4-d corpus with one planted near neighbor per axis
    val corpus = Seq(
      (100L, Array(1f, 0f, 0f, 0f)), (101L, Array(0.9f, 0.1f, 0f, 0f)),
      (200L, Array(0f, 1f, 0f, 0f)), (201L, Array(0f, 0.9f, 0.1f, 0f)),
      (300L, Array(0f, 0f, 1f, 0f)))
      .toDF("vid", "v")
    val queries = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),    // nearest: 100, then 101
      (2L, Array(0f, 0.95f, 0.05f, 0f)), // nearest: 200/201 family
      (300L, Array(0f, 0f, 1f, 0f)))  // same id as a corpus row: keeps itself
      .toDF("vid", "v")
    val got = SimilarityOps.knnSearch(queries, corpus, "vid", "v", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSeq
    val top = got.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3)).toMap
    assert(top(1L) == Seq(100L, 101L), s"query 1 neighbors: ${top(1L)}")
    assert(top(2L).toSet.subsetOf(Set(200L, 201L)),
      s"query 2 neighbors: ${top(2L)}")
    // no self-exclusion: identical id spaces retrieve the identical row
    assert(top(300L).head == 300L,
      s"query 300 should retrieve its corpus twin first: ${top(300L)}")
    // the grid partitions WORK only — results are block-count-invariant
    val b7 = SimilarityOps.knnSearch(queries, corpus, "vid", "v",
      k = 2, numBlocks = 7)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(b7.sorted == got.sorted, "numBlocks changed the result set")
  }

  test("packExamplesIncremental chains increments into the batch-major window rebuild") {
    val s = spark
    import s.implicits._
    def mkDocs(ids: Seq[Long]) =
      ids.map(i => (i, (1 to (3 + (i % 9)).toInt)
        .map(j => s"w${i}x$j").mkString(" ")))
    val b0 = mkDocs(1L to 20L)
    val b1 = mkDocs(21L to 35L)
    val b2 = mkDocs(36L to 50L)
    val cap = 16L
    def df(b: Seq[(Long, String)]) = b.toDF("id", "body")
    val w0 = PipelineOps.packExamples(df(b0), "id", "body", cap)
    val w1 = PipelineOps.packExamplesIncremental(w0, df(b1), "id", "body", cap)
    val w2 = PipelineOps.packExamplesIncremental(w1, df(b2), "id", "body", cap)
    def rowsOf(dfr: org.apache.spark.sql.DataFrame) =
      dfr.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4), r.getString(5), r.getBoolean(6)))
        .sortBy(_._1).toSeq
    // sequential batch-major reference: batches in order, md5 layout
    // within each, one global stream split every cap tokens
    def md5hex(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val stream = Seq(b0, b1, b2).flatMap(_.sortBy(d =>
        (md5hex(d._1.toString), d._1))
      .flatMap { case (id, b) => b.split(" ").toSeq.map(t => (id, t)) })
    val expected = stream.zipWithIndex
      .groupBy(_._2 / cap).toSeq.sortBy(_._1)
      .map { case (ck, xs) =>
        val bounds = xs.groupBy(_._1._1).values
          .map(ys => (ys.map(_._2).min - ck * cap, ys.head._1._1))
          .toSeq.sorted
        (ck, bounds.size.toLong, xs.size.toLong,
          bounds.map(_._2).mkString(","), bounds.map(_._1).mkString(","),
          xs.map(_._1._2).mkString(" "), xs.size < cap)
      }
    assert(rowsOf(w2) == expected,
      "chained increments diverged from the batch-major window rebuild")
    // the boundary was genuinely shared: the first increment extended
    // the prior tail window rather than opening a fresh one
    val w0Rows = rowsOf(w0)
    assert(w0Rows.last._3 < cap &&
      rowsOf(w1).apply(w0Rows.size - 1)._3 > w0Rows.last._3,
      "increment did not extend the partial boundary window")
    // full prior windows pass through byte-identical
    assert(rowsOf(w1).take(w0Rows.size - 1) == w0Rows.init,
      "a full prior window was rewritten by the ingest")
    // empty increment is a no-op; empty prior = from-scratch emission
    val emptyDocs = Seq.empty[(Long, String)].toDF("id", "body")
    assert(rowsOf(PipelineOps.packExamplesIncremental(
      w2, emptyDocs, "id", "body", cap)) == rowsOf(w2))
    assert(rowsOf(PipelineOps.packExamplesIncremental(
      w0.limit(0), df(b0), "id", "body", cap)) == w0Rows)
  }

  test("packExamplesIncremental carries STRING ids through the boundary window (ADVICE r12)") {
    val s = spark
    import s.implicits._
    // non-numeric ids: the boundary re-assembly must keep them as the
    // strings the artifact's doc_ids column carries — the r12 cast to
    // long silently nulled every carried id here
    def mkDocs(ids: Seq[String]) =
      ids.map(i => (i, (1 to (3 + (i.last - 'a') % 9))
        .map(j => s"w${i}x$j").mkString(" ")))
    val b0 = mkDocs(('a' to 't').map(c => s"doc-$c"))
    val b1 = mkDocs(('u' to 'z').map(c => s"doc-$c"))
    val cap = 16L
    def df(b: Seq[(String, String)]) = b.toDF("id", "body")
    val w0 = PipelineOps.packExamples(df(b0), "id", "body", cap)
    val w1 = PipelineOps.packExamplesIncremental(w0, df(b1), "id", "body", cap)
    def rowsOf(dfr: org.apache.spark.sql.DataFrame) =
      dfr.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4), r.getString(5), r.getBoolean(6)))
        .sortBy(_._1).toSeq
    // batch-major reference, same construction as the long-id chain test
    def md5hex(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val stream = Seq(b0, b1).flatMap(_.sortBy(d => (md5hex(d._1), d._1))
      .flatMap { case (id, b) => b.split(" ").toSeq.map(t => (id, t)) })
    val expected = stream.zipWithIndex
      .groupBy(_._2 / cap).toSeq.sortBy(_._1)
      .map { case (ck, xs) =>
        val bounds = xs.groupBy(_._1._1).values
          .map(ys => (ys.map(_._2).min - ck * cap, ys.head._1._1))
          .toSeq.sorted
        (ck, bounds.size.toLong, xs.size.toLong,
          bounds.map(_._2).mkString(","), bounds.map(_._1).mkString(","),
          xs.map(_._1._2).mkString(" "), xs.size < cap)
      }
    assert(rowsOf(w1) == expected,
      "string-id increment diverged from the batch-major rebuild")
    // regression guard on the exact failure mode: no empty/null id slots
    assert(rowsOf(w1).forall(r =>
      r._4.split(",").forall(_.startsWith("doc-"))),
      "boundary lineage lost the string ids")
  }

  test("writeWindows/readWindows: partitioned artifact round-trips, range reads prune") {
    val s = spark
    import s.implicits._
    val docs = Seq.tabulate(60) { i =>
      (i.toLong, (1 to (5 + i % 7)).map(j => s"t${i}x$j").mkString(" "))
    }.toDF("id", "body")
    val cap = 8L
    val sortedRows = PipelineOps.packExamples(docs, "id", "body", cap)
      .collect().map(_.toSeq).toSeq
    val dir = java.nio.file.Files
      .createTempDirectory("graft-windows-").toString + "/store"
    // the artifact path: unsorted build, partitioned store
    PipelineOps.writeWindows(
      PipelineOps.packExamples(docs, "id", "body", cap, sorted = false),
      dir, chunksPerPart = 8)
    val back = PipelineOps.readWindows(s, dir, chunksPerPart = 8)
    assert(back.columns.toSeq ==
      Seq("chunk", "n_segs", "n_tokens", "doc_ids", "doc_starts",
        "chunk_text", "is_partial"),
      s"store schema drifted: ${back.columns.toSeq}")
    assert(back.orderBy("chunk").collect().map(_.toSeq).toSeq == sortedRows,
      "artifact round-trip lost or reordered windows")
    // chunk-range read: [10, 20) — and the part filter actually prunes
    // (partition directories outside the range never reach the scan)
    val ranged = PipelineOps.readWindows(s, dir, chunksPerPart = 8,
      fromChunk = Some(10L), untilChunk = Some(20L))
    assert(ranged.orderBy("chunk").collect().map(_.toSeq).toSeq ==
      sortedRows.filter(r => { val c = r.head.asInstanceOf[Long]
        c >= 10L && c < 20L }),
      "range read returned the wrong window set")
    val scanned = ranged.queryExecution.executedPlan.toString
    assert(scanned.contains("part"), s"part filter missing from scan:\n$scanned")
  }

  test("window store ingest: dynamic partition overwrite rewrites only the boundary + fresh parts") {
    // the README walkthrough's claim, executed: day-0 store + an
    // incremental build whose >= boundary windows are written with
    // partitionOverwriteMode=dynamic must equal the full incremental
    // build — history parts untouched on disk, boundary part replaced
    val s = spark
    import s.implicits._
    def mkDocs(ids: Seq[Long]) =
      ids.map(i => (i, (1 to (3 + (i % 9)).toInt)
        .map(j => s"w${i}x$j").mkString(" "))).toDF("id", "body")
    val cap = 16L
    val b0 = mkDocs(1L to 40L)
    val b1 = mkDocs(41L to 60L)
    val w0 = PipelineOps.packExamples(b0, "id", "body", cap, sorted = false)
      .localCheckpoint(true)
    val w1 = PipelineOps.packExamplesIncremental(w0, b1, "id", "body", cap)
    val boundary = w0.agg(floor(sum("n_tokens") / cap).cast("long"))
      .head().getLong(0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ingest-").toString + "/store"
    PipelineOps.writeWindows(w0, dir, chunksPerPart = 4L)
    PipelineOps.writeWindowsIngest(
      PipelineOps.packExamplesIncremental(w0, b1, "id", "body", cap,
        sorted = false),
      dir, boundaryChunk = boundary, chunksPerPart = 4L)
    val back = PipelineOps.readWindows(s, dir, chunksPerPart = 4L)
    assert(back.orderBy("chunk").collect().map(_.toSeq).toSeq ==
      w1.collect().map(_.toSeq).toSeq,
      "ingested store diverged from the full incremental build")
    // the overwrite-mode setting is restored, not leaked session-wide
    assert(s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      .forall(_ != "dynamic"),
      "writeWindowsIngest leaked partitionOverwriteMode=dynamic")
    w0.unpersist()
  }

  test("epochAllocation water-fills a generic frame: scarce source caps, budget conserved, manifest realizes it") {
    val s = spark
    import s.implicits._
    // scarce source "rare": 10 tokens; abundant "bulk": 90 tokens.
    // alpha = 0.5 boosts rare; maxEpochs 2 caps it; budget 150 tokens.
    // water-filling: rare capped at 2 epochs (20 tok), bulk gets
    // (150 - 20) / 90 = 1.444… epochs — exactly the r·m^(α-1) segment.
    val docs = (
      (1 to 2).map(i => (i.toLong, "rare", (1 to 5).map(j => s"r${i}_$j")
        .mkString(" "))) ++
      (3 to 11).map(i => (i.toLong, "bulk", (1 to 10).map(j => s"b${i}_$j")
        .mkString(" ")))
    ).toDF("id", "src", "body").select($"id", $"src",
      $"body") // 2×5 + 9×10 = 100 tokens
    val alloc = PipelineOps.epochAllocation(docs, "id", "body", "src",
      budgetTokens = 150L, maxEpochs = 2.0, alpha = 0.5)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4),
          r.getLong(5)))).toMap
    def r4(x: Double) = math.floor(x * 10000d + 0.5d) / 10000d
    assert(alloc("rare") == ((2L, 10L, 2.0d, 2L, 0L)), s"$alloc")
    val eBulk = 130d / 90d
    assert(alloc("bulk") == ((9L, 90L, r4(eBulk), 1L,
      math.floor((eBulk - 1d) * 10000d).toLong)), s"$alloc")
    // the manifest realizes the allocation: every rare doc twice; bulk
    // docs once + the md5 draw for the fractional epoch; budget within
    // one doc of target by construction
    val man = PipelineOps.dataConstrainedMixture(docs, "id", "body", "src",
      budgetTokens = 150L, maxEpochs = 2.0, alpha = 0.5)
    val copies = man.groupBy("doc_id")
      .agg(count(lit(1)).as("c")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(copies(1L) == 2L && copies(2L) == 2L, s"$copies")
    assert((3L to 11L).forall(i => copies(i) == 1L || copies(i) == 2L))
    val bulkExtra = (3L to 11L).count(i => copies(i) == 2L)
    // fractional cut ≈ 0.4444 → roughly 4 of 9 bulk docs drawn; the md5
    // draw is deterministic, so pin the exact realized count
    assert(bulkExtra == (3L to 11L).count { i =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 10000 <
        math.floor((eBulk - 1d) * 10000d).toLong
    }, "fractional-epoch draw diverged from the md5 policy")
    // all-capped branch: budget beyond maxEpochs × corpus → E everywhere
    val capped = PipelineOps.epochAllocation(docs, "id", "body", "src",
      budgetTokens = 500L, maxEpochs = 2.0, alpha = 0.5)
      .collect().map(_.getDouble(3)).toSeq
    assert(capped == Seq(2.0d, 2.0d), s"all-capped: $capped")
    // sub-corpus budget: no source caps (the k = 0 segment) — the
    // α-boosted scarce source still repeats (50/(10+30) = 1.25 epochs,
    // closed form via √10·√90 = 30), the abundant one thins below 1
    val thin = PipelineOps.epochAllocation(docs, "id", "body", "src",
      budgetTokens = 50L, maxEpochs = 2.0, alpha = 0.5)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(3), r.getLong(4)))).toMap
    assert(thin("rare") == ((1.25d, 1L)), s"$thin")
    assert(thin("bulk") == ((r4(50d / 120d), 0L)), s"$thin")
  }

  test("epochAllocation never yields NULL epochs across a budget sweep (ADVICE r13 fallback)") {
    val s = spark
    import s.implicits._
    // same 100-token two-source corpus as above; budgets chosen to land
    // on and around every segment boundary (k = 0 root, cap breakpoint,
    // all-capped) — a boundary tie must clamp, never go NULL.
    val docs = (
      (1 to 2).map(i => (i.toLong, "rare", (1 to 5).map(j => s"r${i}_$j")
        .mkString(" "))) ++
      (3 to 11).map(i => (i.toLong, "bulk", (1 to 10).map(j => s"b${i}_$j")
        .mkString(" ")))
    ).toDF("id", "src", "body")
    for (b <- Seq(1L, 7L, 19L, 20L, 21L, 49L, 50L, 99L, 100L, 101L,
        149L, 150L, 199L, 200L, 201L, 500L)) {
      val rows = PipelineOps.epochAllocation(docs, "id", "body", "src",
        budgetTokens = b, maxEpochs = 2.0, alpha = 0.5).collect()
      assert(rows.length == 2, s"budget $b: ${rows.length} sources")
      rows.foreach { r =>
        assert(!r.isNullAt(3), s"budget $b: NULL epochs for ${r.getString(0)}")
        val e = r.getDouble(3)
        assert(e >= 0d && e <= 2.0d, s"budget $b: epochs $e out of range")
      }
    }
  }

  test("curriculumOrder: stages ascend, ranks are dense, within-stage order is the md5 shuffle") {
    val s = spark
    import s.implicits._
    val docs = ((1 to 4).map(i => (i.toLong, (1 to 5).map(j => s"s${i}_$j")
      .mkString(" "))) ++                                // stage 0 (<32)
      (5 to 8).map(i => (i.toLong, (1 to 50).map(j => s"m${i}_$j")
        .mkString(" "))))                                // stage 1 (<128)
      .toDF("id", "body")
    val r = PipelineOps.curriculumOrder(docs, "id", "body").collect()
    assert(r.map(_.getAs[Long]("rank")).toSeq == (0L until 8L),
      "ranks not dense ascending")
    // all stage-0 docs rank before every stage-1 doc
    assert(r.take(4).forall(_.getAs[Long]("stage") == 0L) &&
      r.drop(4).forall(_.getAs[Long]("stage") == 1L))
    def md5hex(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r.take(4).map(_.getAs[Long]("doc_id")).toSeq ==
      (1L to 4L).sortBy(i => (md5hex(i.toString), i)),
      "within-stage order is not the md5 shuffle")
  }

  test("packExamplesGrouped: groups pack contiguously, md5-shuffled inside, exact cap tiling") {
    val s = spark
    import s.implicits._
    val docs = ((1 to 5).map(i => (i.toLong, "a",
      (1 to 7).map(j => s"a${i}_$j").mkString(" "))) ++
      (6 to 10).map(i => (i.toLong, "b",
        (1 to 7).map(j => s"b${i}_$j").mkString(" "))))
      .toDF("id", "grp", "body")
    val w = PipelineOps.packExamplesGrouped(docs, "id", "body", "grp",
      cap = 10L).collect()
    // 70 tokens at cap 10 → 7 exactly-tiled windows, none partial
    assert(w.length == 7 && w.forall(!_.getAs[Boolean]("is_partial")))
    // reconstruct the doc stream order from (chunk, off) lineage
    val order = w.sortBy(_.getAs[Long]("chunk")).flatMap { r =>
      r.getAs[String]("doc_ids").split(",")
        .zip(r.getAs[String]("doc_starts").split(",").map(_.toLong))
        .map { case (d, off) => (r.getAs[Long]("chunk") * 10 + off, d) }
    }.sortBy(_._1).map(_._2).distinct.map(_.toLong)
    def md5hex(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expect = (1L to 5L).sortBy(i => (md5hex(i.toString), i)) ++
      (6L to 10L).sortBy(i => (md5hex(i.toString), i))
    assert(order.toSeq == expect,
      s"grouped layout diverged:\n got $order\n want $expect")
  }

  test("qualityClassifierTrain: deterministic coefficients, separates planted labels, score matches hand math") {
    val s = spark
    import s.implicits._
    import graft.operators.ClassifierOps
    def words(prefix: String, n: Int): Seq[String] =
      (0 until n).map(i => f"$prefix$i%02d")
    def clean(prefix: String): String =
      ("the" +: words(prefix, 31) :+ "and").mkString(" ")
    // even ids: long, stopword-bearing, distinct-vocab docs (good);
    // odd ids: 3-token repetitive junk — separable on every feature
    val docs = (1 to 30).map { i =>
      (i.toLong, if (i % 2 == 0) clean(f"p$i%02d") else "zz zz zz")
    }.toDF("id", "body")
    val labels = (1 to 30).map(i => (i.toLong, i % 2 == 0))
      .toDF("id", "good")
    val m1 = ClassifierOps.qualityClassifierTrain(docs, "id", "body",
      labels, "id", "good")
    val m2 = ClassifierOps.qualityClassifierTrain(docs, "id", "body",
      labels, "id", "good")
    val rows1 = m1.orderBy("feature").collect().map(_.toString).toSeq
    assert(rows1 == m2.orderBy("feature").collect().map(_.toString).toSeq,
      "re-training on identical data changed coefficients")
    // the learned model separates the planted classes at 0.5
    val scored = ClassifierOps.qualityClassifierScore(docs, "id", "body", m1)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getBoolean(2)))).toMap
    (1 to 30).foreach { i =>
      assert(scored(i.toLong)._2 == (i % 2 == 0),
        s"doc $i misclassified: ${scored(i.toLong)}")
    }
    // score = σ(b + Σ θ·z) r9-rounded — hand-recompute one doc
    val m = m1.collect().map(r => r.getString(0) ->
      ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    val f2 = ClassifierOps.qualityFeatures(
      docs.filter($"id" === 2L), "id", "body").head()
    val margin = m("__intercept")._3 + Seq("x1", "x2", "x3", "x4")
      .zipWithIndex.map { case (fn, j) =>
        (f2.getDouble(j + 1) - m(fn)._1) / m(fn)._2 * m(fn)._3 }.sum
    val expect =
      math.floor(1d / (1d + math.exp(-margin)) * 1e9d + 0.5d) / 1e9d
    assert(scored(2L)._1 == expect,
      s"score ${scored(2L)._1} != hand-computed $expect")
  }

  test("trainReadyEpochs packs every (doc, pass) stream exactly once under the composite key") {
    val s = spark
    import s.implicits._
    def words(prefix: String, n: Int): Seq[String] =
      (0 until n).map(i => f"$prefix$i%02d")
    def clean(prefix: String): String =
      ("the" +: words(prefix, 31) :+ "and").mkString(" ")
    // two sources, all docs kept; budget 2× corpus at maxEpochs 2 →
    // every source allocates exactly 2.0 epochs (the all-capped branch):
    // each doc must appear in exactly two passes, :0 and :1
    val corpus = Seq(
      (2L, "a", clean("alpha")), (4L, "a", clean("beta")),
      (7L, "b", clean("delta")), (8L, "b", clean("epsil")))
      .toDF("id", "src", "body")
    val bench = Seq((100L, words("bench", 20).mkString(" ")))
      .toDF("id", "body")
    val win = PipelineOps.trainReadyEpochs(corpus, bench, "id", "body",
      "src", budgetTokens = 1000L, maxEpochs = 2.0, alpha = 0.5,
      cap = 40L, formatter = "plain")
    val rows = win.collect()
    // lineage: exactly the 8 composite keys id:copy, each spanning at
    // most two windows (a 33-token stream straddles one cap-40 boundary
    // at most — a key in 3+ windows would mean a pass packed twice)
    val keys = rows.flatMap(_.getAs[String]("doc_ids").split(","))
    assert(keys.toSet ==
      (for (i <- Seq(2L, 4L, 7L, 8L); c <- 0 to 1) yield s"$i:$c").toSet,
      s"keys: ${keys.toSeq}")
    assert(keys.groupBy(identity).values.forall(_.length <= 2),
      s"a pass spans 3+ windows: ${keys.toSeq}")
    // total tokens = 2 × the 4 × 33 raw tokens (plain formatter)
    assert(rows.map(_.getAs[Long]("n_tokens")).sum == 2L * 4L * 33L)
    // copies of one doc scatter: doc 2's two passes land at different
    // md5 positions, so they need not share a window — just assert both
    // exist and the stream is cap-tiled
    assert(rows.count(_.getAs[Boolean]("is_partial")) <= 1)
  }

  test("packStats reports exact capacity numbers on a planted window frame") {
    val s = spark
    import s.implicits._
    // 2 docs / 10 + 7 = 17 tokens at cap 8 → 3 windows (2 full + 1
    // partial), 4 (doc, window) segments: doc A straddles w0|w1, doc B
    // w1|w2
    val docs = Seq(
      (1L, (1 to 10).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 7).map(i => s"b$i").mkString(" ")))
      .toDF("id", "body")
    // force the layout: md5-order is opaque, so derive expectations from
    // the windows themselves and cross-check against first principles
    val w = PipelineOps.packExamples(docs, "id", "body", cap = 8L,
      sorted = false)
    val r = PipelineOps.packStats(w, 8L).head()
    assert(r.getAs[Long]("n_windows") == 3L)
    assert(r.getAs[Long]("tok_total") == 17L)
    assert(r.getAs[Long]("n_segments") == 4L)
    assert(r.getAs[Long]("n_partial") == 1L)
    def r4(x: Double) = math.floor(x * 10000d + 0.5d) / 10000d
    assert(r.getAs[Double]("fill_rate") == r4(17d / 24))
    assert(r.getAs[Double]("mean_segs") == r4(4d / 3))
    // empty frame: zero row with 0.0 rates, not a division blow-up
    val z = PipelineOps.packStats(w.filter(lit(false)), 8L).head()
    assert(z.getAs[Long]("n_windows") == 0L &&
      z.getAs[Double]("fill_rate") == 0.0d &&
      z.getAs[Double]("mean_segs") == 0.0d)
  }

  test("packExamplesTokensIncremental: token-array twin matches the text form; region + priorTokens matches the full-prior path") {
    val s = spark
    import s.implicits._
    def mkText(ids: Seq[Long]) =
      ids.map(i => (i, (1 to (3 + (i % 9)).toInt)
        .map(j => s"w${i}x$j").mkString(" "))).toDF("id", "body")
    val cap = 16L
    val prior = mkText(1L to 24L)
    val inc = mkText(25L to 34L)
    val w0 = PipelineOps.packExamples(prior, "id", "body", cap,
      sorted = false).localCheckpoint(true)
    val viaText = PipelineOps
      .packExamplesIncremental(w0, inc, "id", "body", cap)
      .collect().map(_.toString).toSeq
    // the pre-tokenized twin over split(text) is row-identical
    val incToks = inc.select($"id", split($"body", " ").as("tk"))
    val viaTokens = PipelineOps
      .packExamplesTokensIncremental(w0, incToks, "id", "tk", cap)
      .collect().map(_.toString).toSeq
    assert(viaTokens == viaText, "token-array twin diverged from text form")
    // region + priorTokens: feeding only the boundary part (the on-disk
    // ingest shape) reproduces the full-prior path's >= partLo rows
    val pt = w0.agg(coalesce(sum("n_tokens"), lit(0L)))
      .head().getLong(0)
    val chunksPerPart = 4L
    val partLo = pt / cap / chunksPerPart * chunksPerPart
    val region = w0.filter($"chunk" >= partLo)
    val tail = PipelineOps.packExamplesTokensIncremental(region, incToks,
      "id", "tk", cap, priorTokens = Some(pt))
      .collect().map(_.toString).toSeq
    assert(tail == viaTokens.zip(
      PipelineOps.packExamplesTokensIncremental(w0, incToks, "id", "tk",
        cap).collect().map(r => r.getLong(0))).collect {
        case (r, c) if c >= partLo => r },
      "region + priorTokens path diverged from the full-prior tail")
    w0.unpersist()
  }

  test("trainReadyExamples windows align with trainReady's chunk column and rebuild the exact stream") {
    val s = spark
    import s.implicits._
    def words(prefix: String, n: Int): Seq[String] =
      (0 until n).map(i => f"$prefix$i%02d")
    def clean(prefix: String): String =
      ("the" +: words(prefix, 31) :+ "and").mkString(" ")
    val corpus = Seq(
      (1L, "too short"),          // dropped — must not reach any window
      (2L, clean("alpha")), (4L, clean("beta")),
      (7L, clean("delta")), (8L, clean("epsil")))
      .toDF("id", "body")
    val bench = Seq((100L, words("bench", 20).mkString(" ")))
      .toDF("id", "body")
    val kept = Seq(2L, 4L, 7L, 8L)
    val cap = 40L
    def diskOnly(): Set[Int] = s.sparkContext.getPersistentRDDs.collect {
      case (id, rdd) if rdd.getStorageLevel ==
        org.apache.spark.storage.StorageLevel.DISK_ONLY => id }.toSet
    val diskBefore = diskOnly()
    val windows = PipelineOps
      .trainReadyExamples(corpus, bench, "id", "body", cap = cap)
      .collect().map(r => (r.getLong(0), r.getString(3), r.getString(4),
        r.getString(5), r.getBoolean(6))).sortBy(_._1).toSeq
    // a library entry point leaves no persisted state its caller has no
    // handle to release
    assert(diskOnly() -- diskBefore == Set.empty,
      "trainReadyExamples left a DISK_ONLY RDD persisted")
    // the concatenated windows ARE the md5-ordered formatted streams
    val fmt = PipelineOps
      .spanCorruptApply(corpus.filter($"id".isin(kept: _*)), "id", "body")
      .collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getString(3))).toMap
    def md5hex(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val order = kept.sortBy(id => (md5hex(id.toString), id))
    val streams = order.map { id =>
      val (inp, tgt) = fmt(id)
      id -> (inp.split(" ").toSeq ++
        (if (tgt.isEmpty) Seq.empty else tgt.split(" ").toSeq))
    }
    val full = streams.flatMap(_._2)
    assert(windows.flatMap(_._4.split(" ")) == full,
      "window concatenation diverged from the md5-ordered formatted streams")
    val lastPartial = full.length % cap != 0
    assert(windows.init.forall(w => w._4.split(" ").length == cap && !w._5) &&
      windows.last._5 == lastPartial,
      s"windows not exact-cap with a correctly-flagged tail: $windows")
    // manifest alignment: each doc's trainReady chunk is the window
    // holding its FIRST token, and that window's doc_ids/doc_starts
    // carry the doc at the right offset
    val manifest = PipelineOps
      .trainReady(corpus, bench, "id", "body", cap = cap.toDouble)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    var gp = 0L
    for ((id, toks) <- streams) {
      val w = gp / cap
      assert(manifest(id) == w,
        s"doc $id manifest chunk ${manifest(id)} != first-token window $w")
      val row = windows(w.toInt)
      val idsIn = row._2.split(",").map(_.toLong)
      val startsIn = row._3.split(",").map(_.toLong)
      val at = idsIn.indexOf(id)
      assert(at >= 0 && startsIn(at) == gp % cap,
        s"doc $id missing from window $w lineage: $row")
      gp += toks.length
    }
    assert(!windows.exists(_._2.split(",").contains("1")),
      "a dropped doc leaked into the windows")
  }

  test("ngramJaccardPairsIncremental equals the union batch pairs restricted to the increment") {
    val s = spark
    import s.implicits._
    val prior = Seq(
      (10L, base),
      (20L, base + " lambda"), // prior×prior near-dup — must NOT resurface
      (30L, "one two three four five six seven eight nine ten"))
      .toDF("id", "body")
    val inc = Seq(
      (60L, base + " mu"),     // cross-batch near-dup of 10 and 20
      (70L, "cats dogs birds fish mice lions tigers bears wolves foxes"),
      (80L, "cats dogs birds fish mice lions tigers bears wolves hawks"))
      .toDF("id", "body")     // 70-80: in-batch near-dup
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(p => (p._1, p._2)).toSeq
    val got = rowsOf(DedupOps.ngramJaccardPairsIncremental(
      inc, "id", "body",
      DedupOps.ngramPostings(prior, "id", "body"),
      corpusDocCount = 3L, minJaccard = 0.1))
    val expected = rowsOf(DedupOps.ngramJaccardPairs(
      prior.unionByName(inc), "id", "body", minJaccard = 0.1)
      .filter(col("da").isin(60L, 70L, 80L) ||
        col("db").isin(60L, 70L, 80L)))
    assert(got == expected, s"got $got\nexpected $expected")
    assert(got.exists(p => p._1 == 10L && p._2 == 60L) &&
      got.exists(p => p._1 == 70L && p._2 == 80L),
      s"planted cross-batch / in-batch pairs missed: $got")
    assert(!got.exists(p => (p._1, p._2) == (10L, 20L)),
      "historic prior-only pair resurfaced in the increment output")
    // the RAW on-disk index shape (doc_id, sh64 — no df column, the
    // append-only artifact graft.Run persists): identical pairs, with
    // the candidate docs' df counted in-call; the plan must contain no
    // Window (the full-index df re-attachment this path exists to
    // avoid — r16)
    val rawIndex = DedupOps.ngramPostings(prior, "id", "body").drop("df")
    val viaRaw = DedupOps.ngramJaccardPairsIncremental(
      inc, "id", "body", rawIndex, corpusDocCount = 3L, minJaccard = 0.1)
    assert(rowsOf(viaRaw) == expected,
      s"raw-index pairs diverged: ${rowsOf(viaRaw)}\nexpected $expected")
    val rawPlan = viaRaw.queryExecution.executedPlan.toString
    assert(!rawPlan.contains("Window"),
      s"raw-index path must not re-attach df via a window:\n$rawPlan")
  }

  test("ngramPostingsAppend equals the from-scratch union index row-for-row, and chains") {
    val s = spark
    import s.implicits._
    // overlapping shingles across batches so the df-bump leg, the
    // hot-shingle leg, and the untouched-prior leg all carry rows
    def doc(i: Long, words: Seq[String]) = (i, words.mkString(" "))
    val b0 = Seq(
      doc(1L, Seq("alpha", "beta", "gamma", "delta")),
      doc(2L, Seq("beta", "gamma", "delta", "epsilon")),
      doc(3L, Seq("zeta", "eta", "theta", "iota"))).toDF("id", "body")
    val b1 = Seq(
      doc(11L, Seq("alpha", "beta", "gamma", "kappa")),
      doc(12L, Seq("unique", "words", "only", "here"))).toDF("id", "body")
    val b2 = Seq(
      doc(21L, Seq("beta", "gamma", "delta", "epsilon"))).toDF("id", "body")
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
    val p0 = DedupOps.ngramPostings(b0, "id", "body")
    val a1 = DedupOps.ngramPostingsAppend(p0, b1, "id", "body")
    assert(rowsOf(a1) ==
      rowsOf(DedupOps.ngramPostings(b0.unionByName(b1), "id", "body")),
      "one append diverged from the union index")
    val a2 = DedupOps.ngramPostingsAppend(a1, b2, "id", "body")
    assert(rowsOf(a2) == rowsOf(DedupOps.ngramPostings(
      b0.unionByName(b1).unionByName(b2), "id", "body")),
      "chained appends diverged from the union index")
  }

  test("trainReadyIncremental chains two ingests: frozen prior rows, planted fates, appended ranks") {
    val s = spark
    import s.implicits._
    def words(prefix: String, n: Int): Seq[String] =
      (0 until n).map(i => f"$prefix$i%02d")
    def clean(prefix: String): String =
      ("the" +: words(prefix, 31) :+ "and").mkString(" ")
    def nearDupOf(prefix: String, tail: String): String =
      ("the" +: (words(prefix, 28) ++ words(tail, 3)) :+ "and").mkString(" ")
    val c0 = Seq(
      (2L, clean("alpha")), (4L, clean("beta")), (7L, clean("delta")))
      .toDF("id", "body")
    val bench = Seq(
      (100L, (words("bench", 5) ++ words("gamma", 8) ++ words("bench2", 5))
        .mkString(" ")))
      .toDF("id", "body")
    val c1 = Seq(
      (11L, "too short"),           // quality
      (12L, clean("alpha")),        // exact_dup of prior doc 2
      (13L, nearDupOf("beta", "zz")), // near_dup: cross-batch pair to 4
      (14L, clean("gamma")),        // contaminated (8-gram run in bench)
      (15L, clean("epsil")))        // kept
      .toDF("id", "body")
    val c2 = Seq(
      (21L, clean("epsil")),        // exact_dup of FIRST increment's 15
      (22L, nearDupOf("delta", "xx")), // near_dup: cross-batch pair to 7
      (23L, clean("zetaa")),        // kept
      (24L, clean("eta")),          // kept: rep of the new-only cluster
      (25L, nearDupOf("eta", "yy")))  // near_dup: in-batch pair to 24
      .toDF("id", "body")
    val cap = 40.0
    val m0 = PipelineOps.trainReady(c0, bench, "id", "body", cap = cap)
    val m1 = PipelineOps.trainReadyIncremental(m0, c0, c1, bench,
      "id", "body", cap = cap)
    val m2 = PipelineOps.trainReadyIncremental(m1, c0.unionByName(c1), c2,
      bench, "id", "body", cap = cap)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).sortBy(_._1).toSeq
    val m2rows = rowsOf(m2)
    assert(m2rows.map(r => r._1 -> r._2).toMap == Map(
      2L -> "kept", 4L -> "kept", 7L -> "kept",
      11L -> "quality", 12L -> "exact_dup", 13L -> "near_dup",
      14L -> "contaminated", 15L -> "kept",
      21L -> "exact_dup", 22L -> "near_dup", 23L -> "kept",
      24L -> "kept", 25L -> "near_dup"),
      s"planted fates diverged: $m2rows")
    // history is frozen: the second ingest passes the first's rows
    // through untouched (manifest in ≡ manifest out)
    assert(m2rows.filter(_._1 < 21L) == rowsOf(m1),
      "second increment rewrote prior manifest rows")
    assert(rowsOf(m1).filter(_._1 < 11L) == rowsOf(m0),
      "first increment rewrote the batch manifest rows")
    // epoch ranks: dense 0..k-1 overall, each ingest's kept block
    // appended AFTER the standing corpus's
    val ranks = m2rows.filter(_._2 == "kept").map(r => r._1 -> r._5)
    assert(ranks.map(_._2).sorted == (0L until 6L).toList,
      s"ranks not dense: $ranks")
    assert(Seq(2L, 4L, 7L).map(ranks.toMap).forall(_ < 3) &&
      ranks.toMap.apply(15L) == 3L &&
      Seq(23L, 24L).map(ranks.toMap).forall(_ >= 4),
      s"rank blocks not batch-major: $ranks")
    // pack cursor continues: each ingest's kept docs land at or after
    // the standing build's last window
    val chunkOf = m2rows.filter(_._2 == "kept").map(r => r._1 -> r._4).toMap
    assert(chunkOf(15L) >= Seq(2L, 4L, 7L).map(chunkOf).max &&
      Seq(23L, 24L).map(chunkOf).min >= chunkOf(15L),
      s"pack cursor did not continue: $chunkOf")
    // dropped increment docs stay manifested with NULL pack/order
    for (r <- m2rows if r._2 != "kept")
      assert(r._3 == -1L && r._4 == -1L && r._5 == -1L,
        s"dropped doc ${r._1} carries pack/order values")
  }

  test("trainReadyIncremental precomputedNearDup (shared contracted run) == the in-call derivation (r17)") {
    // the production ingest shape (graft.Run / the streaming cursor):
    // the near-dup fate bits come from nearDupFromLabelUpsert over the
    // SAME contracted run that advances the standing label table — this
    // pins its equivalence to the self-contained in-call derivation on
    // the planted fixture, across two chained increments (so the second
    // runs against ADVANCED labels, covering the touched-standing-
    // cluster, fresh-prior-endpoint, and new-only-cluster arms)
    val s = spark
    import s.implicits._
    def words(prefix: String, n: Int): Seq[String] =
      (0 until n).map(i => f"$prefix$i%02d")
    def clean(prefix: String): String =
      ("the" +: words(prefix, 31) :+ "and").mkString(" ")
    def nearDupOf(prefix: String, tail: String): String =
      ("the" +: (words(prefix, 28) ++ words(tail, 3)) :+ "and").mkString(" ")
    val c0 = Seq(
      (2L, clean("alpha")), (4L, clean("beta")), (7L, clean("delta")))
      .toDF("id", "body")
    val bench = Seq(
      (100L, (words("bench", 5) ++ words("gamma", 8) ++ words("bench2", 5))
        .mkString(" ")))
      .toDF("id", "body")
    val c1 = Seq(
      (11L, "too short"), (12L, clean("alpha")),
      (13L, nearDupOf("beta", "zz")), (14L, clean("gamma")),
      (15L, clean("epsil"))).toDF("id", "body")
    val c2 = Seq(
      (21L, clean("epsil")), (22L, nearDupOf("delta", "xx")),
      (23L, clean("zetaa")), (24L, clean("eta")),
      (25L, nearDupOf("eta", "yy")),
      (26L, nearDupOf("beta", "qq"))) // touches the STANDING {4,13} cluster
      .toDF("id", "body")
    val cap = 40.0
    def doc(f: org.apache.spark.sql.DataFrame) =
      f.select(col("id").as("doc_id"), col("body").as("text"))
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq

    val m0 = PipelineOps.trainReady(c0, bench, "id", "body", cap = cap)
    val labels0 = DedupOps.connectedComponents(
      DedupOps.ngramJaccardPairs(doc(c0), "doc_id", "text", 0.1),
      "da", "db")
    val run1 = DedupOps.connectedComponentsIncrementalManaged(labels0,
      DedupOps.ngramJaccardPairsIncremental(doc(c1), "doc_id", "text",
        DedupOps.ngramPostings(doc(c0), "doc_id", "text"), 3L, 0.1),
      "da", "db")
    val nd1 = DedupOps.nearDupFromLabelUpsert(run1.labels,
      doc(c1).select("doc_id"))
    val shared1 = PipelineOps.trainReadyIncremental(m0, c0, c1, bench,
      "id", "body", cap = cap, precomputedNearDup = Some(nd1))
    val plain1 = PipelineOps.trainReadyIncremental(m0, c0, c1, bench,
      "id", "body", cap = cap)
    assert(rowsOf(shared1) == rowsOf(plain1),
      "shared-run fates diverged from the in-call derivation (inc 1)")

    // advance the labels by the upsert, then the second increment runs
    // against the ADVANCED standing table — the Run/cursor chain shape
    val labels1 = labels0
      .join(run1.labels.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(run1.labels.select("doc_id", "cluster_rep"))
      .localCheckpoint(true)
    run1.release()
    val prior1 = c0.unionByName(c1)
    val run2 = DedupOps.connectedComponentsIncrementalManaged(labels1,
      DedupOps.ngramJaccardPairsIncremental(doc(c2), "doc_id", "text",
        DedupOps.ngramPostings(doc(prior1), "doc_id", "text"), 8L, 0.1),
      "da", "db")
    val nd2 = DedupOps.nearDupFromLabelUpsert(run2.labels,
      doc(c2).select("doc_id"))
    val m1 = plain1.localCheckpoint(true)
    val shared2 = PipelineOps.trainReadyIncremental(m1, prior1, c2, bench,
      "id", "body", cap = cap, precomputedNearDup = Some(nd2))
    val plain2 = PipelineOps.trainReadyIncremental(m1, prior1, c2, bench,
      "id", "body", cap = cap)
    assert(rowsOf(shared2) == rowsOf(plain2),
      "shared-run fates diverged from the in-call derivation (inc 2)")
    // and the planted doc 26 really exercised the touched-cluster arm
    assert(shared2.filter(col("doc_id") === 26L).head().getString(1) ==
      "near_dup", "doc 26 should be near_dup via the standing cluster")
    run2.release()
  }

  test("trainReadyIncremental precomputedBenchGrams (standing decontamination index) == in-call benchmark shingle (r20)") {
    // the r20 standing-artifact pass-through: the benchmark gram table
    // is persisted once per benchmark release and fed back per ingest —
    // fates (including the contaminated arm: doc 14 shares gamma 8-gram
    // runs with the bench doc) must be byte-identical to the in-call
    // benchmark re-shingle, including when the artifact round-trips
    // through parquet (the Materialize memo shape the binding uses)
    val s = spark
    import s.implicits._
    def words(prefix: String, n: Int): Seq[String] =
      (0 until n).map(i => f"$prefix$i%02d")
    def clean(prefix: String): String =
      ("the" +: words(prefix, 31) :+ "and").mkString(" ")
    val c0 = Seq(
      (2L, clean("alpha")), (4L, clean("beta")), (7L, clean("delta")))
      .toDF("id", "body")
    val bench = Seq(
      (100L, (words("bench", 5) ++ words("gamma", 12) ++ words("bench2", 5))
        .mkString(" ")))
      .toDF("id", "body")
    val c1 = Seq(
      (11L, "too short"), (12L, clean("alpha")),
      (14L, clean("gamma")), (15L, clean("epsil"))).toDF("id", "body")
    val cap = 40.0
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val m0 = PipelineOps.trainReady(c0, bench, "id", "body", cap = cap)
      .localCheckpoint(true)
    val plain = PipelineOps.trainReadyIncremental(m0, c0, c1, bench,
      "id", "body", cap = cap)
    val grams = TextOps.decontaminationIndex(
      bench.select(col("body").as("text")), "text", 8)
    val dir = java.nio.file.Files
      .createTempDirectory("benchgrams-").toString
    grams.write.mode("overwrite").parquet(dir)
    val viaArtifact = PipelineOps.trainReadyIncremental(m0, c0, c1, bench,
      "id", "body", cap = cap,
      precomputedBenchGrams = Some(s.read.parquet(dir)))
    assert(rowsOf(viaArtifact) == rowsOf(plain),
      "standing-gram fates diverged from the in-call benchmark shingle")
    assert(plain.filter(col("doc_id") === 14L).head().getString(1) ==
      "contaminated", "doc 14 should be contaminated — the arm is vacuous")
  }

  test("trainReadyIncremental rejects a partial prior manifest (VERDICT r13 #2)") {
    val s = spark
    import s.implicits._
    def clean(prefix: String): String =
      ("the" +: (0 until 31).map(i => f"$prefix$i%02d") :+ "and")
        .mkString(" ")
    val c0 = Seq(
      (2L, clean("alpha")), (4L, clean("beta")), (7L, clean("delta")))
      .toDF("id", "body")
    val bench = Seq((100L, (0 until 8).map(i => s"bench$i").mkString(" ")))
      .toDF("id", "body")
    val c1 = Seq((15L, clean("epsil"))).toDF("id", "body")
    val m0 = PipelineOps.trainReady(c0, bench, "id", "body", cap = 40.0)
    // a filtered manifest (kept rows only, say) must be REFUSED on the
    // default path — it would silently shift the df cap and mis-anchor
    // packing through its under-counted totals
    val partial = m0.filter(col("doc_id") =!= 7L)
    val e = intercept[IllegalArgumentException] {
      PipelineOps.trainReadyIncremental(partial, c0, c1, bench,
        "id", "body", cap = 40.0).collect()
    }
    assert(e.getMessage.contains("partial"), e.getMessage)
    // explicit priorDocCount attests completeness and skips the check
    // (the streaming-runner metadata path); the full manifest with the
    // matching explicit count must equal the default-path run
    val viaCount = PipelineOps.trainReadyIncremental(m0, c0, c1, bench,
      "id", "body", cap = 40.0, priorDocCount = Some(3L))
      .collect().map(_.toString).sorted.toSeq
    val viaDefault = PipelineOps.trainReadyIncremental(m0, c0, c1, bench,
      "id", "body", cap = 40.0)
      .collect().map(_.toString).sorted.toSeq
    assert(viaCount == viaDefault,
      "explicit priorDocCount diverged from the default-path run")
  }

  test("trainReadyExamples: plain formatter streams raw tokens, mixture thins the windows") {
    val s = spark
    import s.implicits._
    def words(prefix: String, n: Int): Seq[String] =
      (0 until n).map(i => f"$prefix$i%02d")
    def clean(prefix: String): String =
      ("the" +: words(prefix, 31) :+ "and").mkString(" ")
    val big = (1L to 12L).map(i => (i, clean(s"web$i"), "web"))
    val small = Seq((21L, clean("rarea"), "books"),
      (22L, clean("rareb"), "books"))
    val corpus = (big ++ small).toDF("id", "body", "src")
    val bench = Seq((100L, words("bench", 20).mkString(" ")))
      .toDF("id", "body")
    def md5hex(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // plain formatter: the windows ARE the md5-ordered raw token streams
    val plainWins = PipelineOps.trainReadyExamples(corpus, bench,
      "id", "body", cap = 50L, formatter = "plain")
      .orderBy("chunk").collect().map(_.getString(5)).toSeq
    val expectedStream = (big ++ small).map(d => (d._1, d._2))
      .sortBy(d => (md5hex(d._1.toString), d._1))
      .flatMap(_._2.split(" ").toSeq)
    assert(plainWins.flatMap(_.split(" ")) == expectedStream,
      "plain-formatter windows diverged from the raw kept stream")
    // mixture: the windows carry ONLY the sampled docs — every doc the
    // manifest marks `unsampled` is absent from the window lineage
    val manifest = PipelineOps.trainReady(corpus, bench, "id", "body",
      cap = 50.0, formatter = "plain", mixtureSource = Some("src"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val unsampled = manifest.collect { case (id, "unsampled") => id }.toSet
    val sampled = manifest.collect { case (id, "kept") => id }.toSet
    assert(unsampled.nonEmpty && sampled.nonEmpty, s"skew not planted: $manifest")
    val mixedIds = PipelineOps.trainReadyExamples(corpus, bench,
      "id", "body", cap = 50L, formatter = "plain",
      mixtureSource = Some("src"))
      .collect().flatMap(_.getString(3).split(",").map(_.toLong)).toSet
    assert(mixedIds == sampled,
      s"window lineage $mixedIds != sampled set $sampled")
  }

  test("simhashPairsIncremental finds cross-batch and in-batch pairs, never historic ones") {
    val s = spark
    import s.implicits._
    val shuffledBase =
      "kappa iota theta eta zeta epsilon delta gamma beta alpha"
    val prior = Seq(
      (10L, base),
      (20L, base + " lambda"), // prior×prior near pair — must NOT resurface
      (30L, "one two three four five six seven eight nine ten"))
      .toDF("id", "body")
    val inc = Seq(
      (60L, shuffledBase), // Hamming 0 twin of 10 (simhash is order-blind)
      (70L, "cats dogs birds fish mice lions tigers bears wolves foxes"),
      (80L, "cats dogs birds fish mice lions tigers bears wolves foxes"))
      .toDF("id", "body") // 70-80: in-batch Hamming-0 pair
    // the persisted-artifact interface: fingerprints of the PRIOR corpus
    val corpusFps = prior
      .select(col("id").as("doc_id"),
        graft.functions.TextKernels.simHash64(col("body")).as("simhash"))
    val got = DedupOps.simhashPairsIncremental(inc, "id", "body",
      corpusFps, maxHamming = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((10L, 60L)) && got.contains((70L, 80L)),
      s"planted cross/in-batch simhash pairs missed: $got")
    assert(!got.contains((10L, 20L)),
      s"historic prior-only pair resurfaced: $got")
    assert(got.forall { case (a, b) =>
      Seq(a, b).exists(Seq(60L, 70L, 80L).contains) },
      s"pair without an increment endpoint: $got")
  }

  test("trainReady mixture stage up-weights the low-resource source, unsampled docs stay in the manifest") {
    val s = spark
    import s.implicits._
    def words(prefix: String, n: Int): Seq[String] =
      (0 until n).map(i => f"$prefix$i%02d")
    def clean(prefix: String): String =
      ("the" +: words(prefix, 31) :+ "and").mkString(" ")
    val big = (1L to 12L).map(i => (i, clean(s"web$i"), "web"))
    val small = Seq((21L, clean("rarea"), "books"),
      (22L, clean("rareb"), "books"))
    val corpus = (big ++ small).toDF("id", "body", "src")
    val bench = Seq((100L, words("bench", 20).mkString(" ")))
      .toDF("id", "body")
    val out = PipelineOps.trainReady(corpus, bench, "id", "body",
      cap = 40.0, mixtureSource = Some("src"))
      .collect().map(r => r.getLong(0) -> r).toMap
    // expected sampling re-derived from the declared policy: rates from
    // size^0.3 temperature weights over the kept docs (all 14 here),
    // membership from the md5 bucket draw
    def md5hex(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(id: Long) =
      java.lang.Long.parseLong(md5hex(id.toString).take(8), 16) % 10000
    def d6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val (tokBig, tokSmall) = (33.0 * 12, 33.0 * 2)
    val corpusTok = tokBig + tokSmall
    val (wB, wS) = (math.pow(tokBig, 0.3), math.pow(tokSmall, 0.3))
    val wTotal = (d6(wB) + d6(wS)).toDouble
    val rateB = math.min(1.0, corpusTok * 0.5 * (wB / wTotal) / tokBig)
    val rateS = math.min(1.0, corpusTok * 0.5 * (wS / wTotal) / tokSmall)
    // the skew itself: the low-resource source samples at FULL rate
    // (its α<1 share exceeds its size), the big one visibly below it
    assert(rateS == 1.0 && rateB < 0.5,
      s"planted skew wrong: rateB=$rateB rateS=$rateS")
    val cutB = math.floor(rateB * 10000).toLong
    val sampledBig = big.map(_._1).filter(bucket(_) < cutB)
    assert(sampledBig.size < big.size,
      "every big-source doc sampled — thinning invisible")
    for (id <- Seq(21L, 22L))
      assert(out(id).getString(1) == "kept" && !out(id).isNullAt(4),
        s"low-resource doc $id not fully sampled")
    for ((i, _, _) <- big) {
      val expect = if (sampledBig.contains(i)) "kept" else "unsampled"
      assert(out(i).getString(1) == expect,
        s"doc $i fate ${out(i).getString(1)} != $expect")
    }
    // unsampled docs keep NULL n_tok/chunk/rank, like dropped docs
    for (i <- big.map(_._1).filterNot(sampledBig.contains))
      assert(out(i).isNullAt(2) && out(i).isNullAt(3) && out(i).isNullAt(4))
    // epoch ranks are dense 0..k-1 over the SAMPLED set only
    val sampledAll = sampledBig ++ Seq(21L, 22L)
    assert(sampledAll.map(out(_).getLong(4)).sorted ==
      (0L until sampledAll.size).toList)
    // no mixture → no unsampled fate, same kept set
    val plain = PipelineOps.trainReady(corpus, bench, "id", "body",
      cap = 40.0)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(plain.values.count(_ == "kept") == 14 &&
      !plain.values.exists(_ == "unsampled"))
    intercept[IllegalArgumentException] {
      PipelineOps.trainReady(corpus, bench, "id", "body",
        mixtureSource = Some("nope"))
    }
  }

  test("trainReady composes fates, formatter token counts, packing, and epoch order") {
    val s = spark
    import s.implicits._
    def words(prefix: String, n: Int): Seq[String] =
      (0 until n).map(i => f"$prefix$i%02d")
    def clean(prefix: String): String =
      ("the" +: words(prefix, 31) :+ "and").mkString(" ")
    val nearDupOfB =
      ("the" +: (words("beta", 28) ++ words("zeta", 3)) :+ "and").mkString(" ")
    // one doc per fate branch (the curate test's corpus) plus two extra
    // kept docs so packing crosses a window boundary and ranks go 0..3
    val corpus = Seq(
      (1L, "too short"),          // quality
      (2L, clean("alpha")),       // kept
      (3L, clean("alpha")),       // exact_dup
      (4L, clean("beta")),        // kept (cluster rep of {4, 5})
      (5L, nearDupOfB),           // near_dup
      (6L, clean("gamma")),       // contaminated
      (7L, clean("delta")),       // kept
      (8L, clean("epsil")))       // kept
      .toDF("id", "body")
    val bench = Seq(
      (100L, (words("bench", 5) ++ words("gamma", 8) ++ words("bench2", 5))
        .mkString(" ")))
      .toDF("id", "body")
    val kept = Seq(2L, 4L, 7L, 8L)
    val out = PipelineOps
      .trainReady(corpus, bench, "id", "body", cap = 40.0, epoch = "e7")
      .collect()
    val rows = out.map(r => r.getLong(0) -> r).toMap
    assert(rows.view.mapValues(_.getString(1)).toMap == Map(
      1L -> "quality", 2L -> "kept", 3L -> "exact_dup", 4L -> "kept",
      5L -> "near_dup", 6L -> "contaminated", 7L -> "kept", 8L -> "kept"),
      s"fates diverged from curate's: $rows")
    // dropped docs stay in the manifest with NULL pack/order columns
    for (id <- Seq(1L, 3L, 5L, 6L))
      assert(rows(id).isNullAt(2) && rows(id).isNullAt(3) &&
        rows(id).isNullAt(4), s"dropped doc $id has pack/order values")
    // kept docs: n_tok is the FORMATTED example's token count — input +
    // target of the standalone formatter run on the kept subset
    val fmt = PipelineOps
      .spanCorruptApply(corpus.filter($"id".isin(kept: _*)), "id", "body")
      .collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getString(3))).toMap
    for (id <- kept) {
      val (inp, tgt) = fmt(id)
      val expect = inp.split(" ").length +
        (if (tgt.isEmpty) 0 else tgt.split(" ").length)
      assert(rows(id).getLong(2) == expect,
        s"doc $id n_tok ${rows(id).getLong(2)} != formatter's $expect")
    }
    // epoch ranks are dense 0..k-1 over the kept docs
    assert(kept.map(rows(_).getLong(4)).sorted == (0L until 4L).toList)
    // chunk assignment = md5(doc_id)-ordered running sum under cap
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(x.getBytes)
        .map("%02x".format(_)).mkString
    var cum = 0L
    kept.sortBy(id => md5hex(id.toString)).foreach { id =>
      val nt = rows(id).getLong(2)
      cum += nt
      val expectChunk = math.floor((cum - nt) / 40.0).toLong
      assert(rows(id).getLong(3) == expectChunk,
        s"doc $id chunk ${rows(id).getLong(3)} != $expectChunk")
    }
    // the boundary actually exercised: 4 docs × ~40-token examples under
    // cap=40 must span more than one window
    assert(kept.map(rows(_).getLong(3)).distinct.size > 1,
      "all kept docs packed into one window — boundary not exercised")
    // formatter branches: fim counts the PSM-reordered stream, plain the
    // raw token stream; fates are formatter-independent
    val outFim = PipelineOps
      .trainReady(corpus, bench, "id", "body", cap = 40.0, epoch = "e7",
        formatter = "fim")
      .collect().map(r => r.getLong(0) -> r).toMap
    val fimOut = PipelineOps
      .fimTransform(corpus.filter($"id".isin(kept: _*)), "id", "body")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    for (id <- kept) {
      assert(outFim(id).getString(1) == "kept")
      assert(outFim(id).getLong(2) == fimOut(id).split(" ").length,
        s"fim n_tok mismatch for doc $id")
    }
    val outPlain = PipelineOps
      .trainReady(corpus, bench, "id", "body", cap = 40.0, epoch = "e7",
        formatter = "plain")
      .collect().map(r => r.getLong(0) -> r).toMap
    for (id <- kept)
      assert(outPlain(id).getLong(2) == 33L,
        s"plain n_tok must be the raw 33-token stream for doc $id")
    intercept[IllegalArgumentException] {
      PipelineOps.trainReady(corpus, bench, "id", "body",
        formatter = "nope")
    }
    // production reuse path: feeding curate's persisted manifest back in
    // reproduces the identical build (the precomputedPairs precedent)
    val fatesIn = PipelineOps.curate(corpus, bench, "id", "body")
    val viaFates = PipelineOps
      .trainReady(corpus, bench, "id", "body", cap = 40.0, epoch = "e7",
        precomputedFates = Some(fatesIn))
      .collect().map(r => r.toSeq).toSeq
    assert(viaFates == out.map(_.toSeq).toSeq,
      "precomputedFates path diverged from the direct build")
  }

  test("README reuse story: persisted quantizer and pair list round-trip through parquet bit-identically") {
    // the exact flow the README's "train once, search many" section
    // shows: build artifact -> write parquet -> NEW read -> feed back in;
    // the parquet round trip stands in for the session boundary
    val s = spark
    import s.implicits._
    val vectors = (1 to 60).map { i =>
      (i.toLong, Array.tabulate(8)(j =>
        (math.cos(i * 17 + j * 3) * 5).toFloat))
    }.toDF("vec_id", "emb")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-artifacts-").toString
    SimilarityOps.ivfTrain(vectors, "vec_id", "emb", nlist = 4)
      .write.mode("overwrite").parquet(s"$tmp/ivf_quantizer")
    val quant = spark.read.parquet(s"$tmp/ivf_quantizer")
    def rows(pc: Option[org.apache.spark.sql.DataFrame]) =
      SimilarityOps.ivfKnnJoin(vectors, "vec_id", "emb", k = 3,
        nlist = 4, nprobe = 2, precomputedCentroids = pc)
        .collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(rows(Some(quant)) == rows(None),
      "persisted quantizer diverged from self-training")

    def words(prefix: String, n: Int): Seq[String] =
      (0 until n).map(i => f"$prefix$i%02d")
    def clean(prefix: String): String =
      ("the" +: words(prefix, 31) :+ "and").mkString(" ")
    val docs = Seq((1L, clean("alpha")), (2L, clean("alpha")),
      (3L, clean("beta")),
      (4L, ("the" +: (words("beta", 28) ++ words("zeta", 3)) :+ "and")
        .mkString(" ")))
      .toDF("id", "body")
    val benchmark = Seq.empty[(Long, String)].toDF("id", "body")
    DedupOps.ngramJaccardPairs(docs, "id", "body", minJaccard = 0.1)
      .write.mode("overwrite").parquet(s"$tmp/neardup_pairs")
    val pairs = spark.read.parquet(s"$tmp/neardup_pairs")
    def manifest(pp: Option[org.apache.spark.sql.DataFrame]) =
      PipelineOps.curate(docs, benchmark, "id", "body",
        precomputedPairs = pp)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(manifest(Some(pairs)) == manifest(None),
      "persisted pair list diverged from self-computation")
  }

  test("curate(scrubPii = true) redacts planted PII without changing any fate") {
    val s = spark
    import s.implicits._
    def words(prefix: String, n: Int): Seq[String] =
      (0 until n).map(i => f"$prefix$i%02d")
    def clean(prefix: String): String =
      ("the" +: words(prefix, 31) :+ "and").mkString(" ")
    // PII planted inside otherwise-clean docs: redaction must not decide
    // fates, only rewrite text and count matches
    val withEmail = clean("alpha") + " mail bob.smith@example.org now"
    val withPhone = clean("beta") + " call 555-123-4567 soon"
    val corpus = Seq(
      (1L, withEmail),            // kept, 1 email
      (2L, withPhone),            // kept, 1 phone
      (3L, clean("gamma")),       // kept, clean
      (4L, "ip 10.0.0.1 short"))  // quality (too short), 1 ipv4
      .toDF("id", "body")
    val emptyBench = Seq.empty[(Long, String)].toDF("id", "body")
    val plain = PipelineOps.curate(corpus, emptyBench, "id", "body")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val scrubbed = PipelineOps.curate(corpus, emptyBench, "id", "body",
      scrubPii = true).collect()
    assert(scrubbed.map(_.schema.fieldNames.toSeq).head ==
      Seq("doc_id", "fate", "text_redacted",
        "n_email", "n_phone", "n_ipv4", "n_pii"))
    val byId = scrubbed.map(r => r.getLong(0) ->
      (r.getString(1), r.getString(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))).toMap
    // fates identical with the stage on or off
    assert(byId.map { case (k, v) => k -> v._1 } == plain,
      s"scrubPii changed fates: $byId vs $plain")
    // typed counts + redactions on the planted docs
    assert(byId(1L)._3 == 1L && byId(1L)._6 == 1L &&
      byId(1L)._2.contains("<EMAIL>") && !byId(1L)._2.contains("@"))
    assert(byId(2L)._4 == 1L && byId(2L)._6 == 1L &&
      byId(2L)._2.contains("<PHONE>"))
    assert(byId(4L)._1 == "quality" && byId(4L)._5 == 1L &&
      byId(4L)._2 == "ip <IPV4> short",
      "PII in a quality-dropped doc must still be counted and redacted")
    // clean docs pass through byte-identical
    assert(byId(3L)._6 == 0L && byId(3L)._2 == clean("gamma"))
  }

  test("curate edge cases: empty benchmark disables contamination; degenerate corpora") {
    val s = spark
    import s.implicits._
    def words(prefix: String, n: Int): Seq[String] =
      (0 until n).map(i => f"$prefix$i%02d")
    def clean(prefix: String): String =
      ("the" +: words(prefix, 31) :+ "and").mkString(" ")
    val corpus = Seq((1L, clean("alpha")), (2L, clean("beta")))
      .toDF("id", "body")
    // empty benchmark: decontaminate's sketch side is empty — nothing can
    // be contaminated, everything else proceeds
    val emptyBench = Seq.empty[(Long, String)].toDF("id", "body")
    val f1 = PipelineOps.curate(corpus, emptyBench, "id", "body")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(f1 == Map(1L -> "kept", 2L -> "kept"), s"got $f1")
    // all-junk corpus: every doc fails quality; no pairs, no clusters
    val junk = Seq((1L, "x"), (2L, "y y"), (3L, "")).toDF("id", "body")
    val f2 = PipelineOps.curate(junk, emptyBench, "id", "body")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(f2 == Map(1L -> "quality", 2L -> "quality", 3L -> "quality"),
      s"got $f2")
  }

  test("tokenEntropy matches hand-computed entropy on exact-power cases") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a a b b"),   // H = 1 bit, ttr 0.5
      (2L, "c c c c"),   // H = 0,     ttr 0.25
      (3L, "x y z w"))   // H = 2 bits, ttr 1.0
      .toDF("id", "body")
    val got = TextOps.tokenEntropy(docs, "id", "body")
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got(1L) == ((4L, 2L, 0.5, 1.0)), s"got ${got(1L)}")
    assert(got(2L) == ((4L, 1L, 0.25, 0.0)), s"got ${got(2L)}")
    assert(got(3L) == ((4L, 4L, 1.0, 2.0)), s"got ${got(3L)}")
  }

  test("epochOrder is a dense per-epoch permutation, stable within and distinct across epochs") {
    val s = spark
    import s.implicits._
    val rows = (0L until 300L).map(i => Tuple1(i)).toDF("item")
    def order(epoch: String): Seq[Long] =
      PipelineOps.epochOrder(rows, "item", epoch)
        .orderBy("rank").select("doc_id").collect().map(_.getLong(0)).toSeq
    val e1 = order("ep1")
    // dense permutation: every item exactly once, ranks 0..n-1
    assert(e1.sorted == (0L until 300L))
    val ranks = PipelineOps.epochOrder(rows, "item", "ep1")
      .select("rank").collect().map(_.getLong(0)).sorted.toSeq
    assert(ranks == (0L until 300L))
    // same epoch → identical order; different epoch → a different one
    assert(order("ep1") == e1)
    val e2 = order("ep2")
    assert(e2.sorted == (0L until 300L))
    assert(e2 != e1, "ep2 must re-permute the corpus")
    // and it is genuinely shuffled, not id order
    assert(e1 != (0L until 300L).toSeq, "ep1 left the corpus in id order")
  }

  test("lineDedup removes the planted boilerplate line, keeps order, counts occurrences") {
    val s = spark
    import s.implicits._
    val banner = "subscribe to our newsletter"
    val docs = Seq(
      (1L, s"$banner\nunique first line\nsecond thought"),
      (2L, s"opening words\n$banner\nclosing words"),
      (3L, s"standalone content\n$banner"),
      // the banner twice in ONE doc: df counts the doc once, but both
      // occurrences are removed and n_removed = 2
      (4L, s"$banner\nmiddle bit\n$banner"),
      (5L, "entirely banner-free\ntwo lines"))
      .toDF("id", "body")
    // banner df = 4/5 = 0.8 > 0.7; every other line df = 1/5
    val out = DedupOps.lineDedup(docs, "id", "body", sep = "\n", dfFrac = 0.7)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(out(1L) == (("unique first line\nsecond thought", 1L)), out(1L))
    assert(out(2L) == (("opening words\nclosing words", 1L)), out(2L))
    assert(out(3L) == (("standalone content", 1L)), out(3L))
    assert(out(4L) == (("middle bit", 2L)), out(4L))
    assert(out(5L) == (("entirely banner-free\ntwo lines", 0L)), out(5L))
    // raising the threshold above the banner's df keeps everything
    val strict = DedupOps.lineDedup(docs, "id", "body", sep = "\n",
      dfFrac = 0.9).agg(sum("n_removed")).collect()(0).getLong(0)
    assert(strict == 0L, s"dfFrac=0.9 should remove nothing, removed $strict")
  }

  test("entry-point guards refuse colliding column names loudly") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a\nb", "x")).toDF("id", "body", "hv")
    val e1 = intercept[IllegalArgumentException](
      DedupOps.lineDedup(docs, "id", "body"))
    assert(e1.getMessage.contains("hv"))
    val series = Seq(("k", 1L, 1L, 1.0)).toDF("k", "at", "seq", "bucket")
    val e2 = intercept[IllegalArgumentException](
      graft.operators.TemporalOps.resampleFill(series, "k", "at", "bucket",
        stepUs = 10L, tieBreak = "seq"))
    assert(e2.getMessage.contains("bucket"))
    val evs = Seq(("k", 1L, "A", "B")).toDF("k", "at", "st", "next_st")
    val e3 = intercept[IllegalArgumentException](
      graft.operators.TemporalOps.transitionMatrix(evs, "k", "at", "st", "at"))
    assert(e3.getMessage.contains("next_st"))
    val corpus = Seq((1L, "t", "train")).toDF("id", "body", "split")
    val e4 = intercept[IllegalArgumentException](
      TextOps.leakageSafeSplit(corpus, "id",
        Seq((1L, 2L)).toDF("da", "db")))
    assert(e4.getMessage.contains("split"))
  }

  test("driver contract: QDef names unique, every oracle keyed to a query, no-oracle set is the documented one") {
    val defs = SparkEntry.all
    assert(defs.map(_.name).distinct.size == defs.size,
      s"duplicate QDef names: ${defs.map(_.name).diff(defs.map(_.name).distinct)}")
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"oracles without a query: ${os -- qs}")
    // the engine-hash-dependent queries (LSH signatures, sketches, ANN)
    // are the ONLY ones allowed to skip the DuckDB oracle — adding a new
    // query without an oracle must be a deliberate act, not a typo. (BPE
    // left this set in r10: the merge loop is chained-CTE-expressible;
    // each remaining member's generation stage has an oracle-checked
    // verify sibling or a pinned recall/accuracy ScalaTest. q_pq_search
    // joined in r13: IVFADC retrieval is recall-pinned vs the exact
    // knnSearch in PqSpec, with its encode/ADC stages oracle-checked via
    // q_pq_encode_verify / q_pq_adc_verify. q_distinct_incr joined in
    // r14: DataSketches HLL bytes are not DuckDB-expressible; its
    // merged-increments ≡ from-scratch estimate equality and ≤2%-of-
    // exact accuracy are pinned in RelationalSpec. q_quantiles_incr
    // joined in r15: DataSketches KLL bytes likewise; its exact-regime
    // merged ≡ from-scratch equality and compacting-regime rank-error
    // band vs the exact quantiles are pinned in RelationalSpec.)
    val noOracle = qs -- os
    assert(noOracle == Set("q_dedup_minhash",
      "q_dedup_simhash", "q_distinct_users_approx", "q_quantiles_approx",
      "q_similarity_ann", "q_similarity_ivf", "q_similarity_pq",
      "q_pq_search", "q_distinct_incr", "q_quantiles_incr"),
      s"unexpected no-oracle set: $noOracle")
  }

  test("rollingDistinct reports trailing-window actives, explicit zeros, no future buckets") {
    val s = spark
    import s.implicits._
    // activity (key, bucket): a@0, b@0, a@2, c@5, d@9 — step 10, window 3
    val acts = Seq(("a", 5L), ("b", 8L), ("a", 25L), ("c", 55L), ("a", 27L),
      ("d", 95L)).toDF("k", "at")
    val got = graft.operators.TemporalOps
      .rollingDistinct(acts, "k", "at", stepUs = 10L, windowBuckets = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // bucket 8's trailing window {6,7,8} has NO activity → explicit 0
    // (a calendar-axis consumer must see zero, not a missing row);
    // buckets past the last activity (9) are not invented
    assert(got == Map(0L -> 2L, 1L -> 2L, 2L -> 2L, 3L -> 1L,
      4L -> 1L, 5L -> 1L, 6L -> 1L, 7L -> 1L, 8L -> 0L, 9L -> 1L),
      s"got $got")
  }

  test("transitionMatrix counts the planted chain with deterministic tie-break") {
    val s = spark
    import s.implicits._
    val evs = Seq(
      // key "x": A→B→B→C; key "y": A→C; tie at t=5 for "y" resolved by
      // seq ascending (so the observed order is A then C)
      ("x", 1L, 1L, "A"), ("x", 2L, 2L, "B"), ("x", 3L, 3L, "B"),
      ("x", 4L, 4L, "C"),
      ("y", 5L, 1L, "A"), ("y", 5L, 2L, "C"))
      .toDF("k", "at", "seq", "st")
    val got = graft.operators.TemporalOps
      .transitionMatrix(evs, "k", "at", "st", tieBreak = "seq")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got == Map(
      ("A", "B") -> ((1L, 0.5)), ("A", "C") -> ((1L, 0.5)),
      ("B", "B") -> ((1L, 0.5)), ("B", "C") -> ((1L, 0.5))),
      s"got $got")
  }

  test("lineDedup equals a sequential reference on generated corpora") {
    val s = spark
    import s.implicits._
    val segPool = Vector("header", "footer", "cookie notice", "unique-α",
      "body text", "", "  spaced  ", "nav|bar")
    val docGen: Gen[String] = Gen.chooseNum(0, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(segPool)).map(_.mkString("\n")))
    for (trial <- 1 to 5) {
      val corpus = Gen.listOfN(12, docGen).sample.get.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      val dfFrac = 0.4
      // sequential reference — NOTE split(_, -1): Spark keeps trailing
      // empty segments, Java's default limit 0 drops them
      def segs(t: String) = t.split(java.util.regex.Pattern.quote("\n"), -1).toSeq
      val dfreq = corpus.flatMap { case (i, t) => segs(t).distinct.map(_ -> i) }
        .groupBy(_._1).view.mapValues(_.size).toMap
      val maxDf = math.floor(corpus.size * dfFrac).toLong
      val heavy = dfreq.filter(_._2 > maxDf).keySet
      val expect = corpus.map { case (i, t) =>
        val ss = segs(t)
        val kept = ss.filterNot(heavy)
        i -> ((kept.mkString("\n"), (ss.size - kept.size).toLong))
      }.toMap
      val got = DedupOps.lineDedup(corpus.toDF("id", "body"), "id", "body",
          sep = "\n", dfFrac = dfFrac)
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
        .toMap
      assert(got == expect, s"trial $trial: got $got\nexpected $expect")
    }
  }

  test("resampleFill equals a sequential reference on generated series") {
    val s = spark
    import s.implicits._
    val obsGen: Gen[(String, Long, Double)] = for {
      k <- Gen.oneOf("a", "b", "c")
      t <- Gen.chooseNum(0L, 400L)
      v <- Gen.chooseNum(-50, 50).map(_ / 4.0)
    } yield (k, t, v)
    for (trial <- 1 to 5) {
      val step = Seq(7L, 50L)(trial % 2)
      val raw = Gen.listOfN(40, obsGen).sample.get.zipWithIndex
        .map { case ((k, t, v), i) => (k, t, i.toLong, v) }
      // sequential reference: last obs per (key, bucket) by (ts, seq)
      // desc, grid over [min, max] bucket, forward fill
      val expect = raw.groupBy(_._1).flatMap { case (k, obs) =>
        val byBucket = obs.groupBy(o => o._2 / step).view
          .mapValues(_.maxBy(o => (o._2, o._3))._4).toMap
        val (mn, mx) = (byBucket.keys.min, byBucket.keys.max)
        var carried = 0.0
        (mn to mx).map { b =>
          val hit = byBucket.contains(b)
          if (hit) carried = byBucket(b)
          (k, b) -> ((carried, hit))
        }
      }
      val got = graft.operators.TemporalOps.resampleFill(
          raw.toDF("k", "at", "seq", "v"), "k", "at", "v",
          stepUs = step, tieBreak = "seq")
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getBoolean(3)))).toMap
      assert(got == expect, s"trial $trial (step $step): got $got\nexpected $expect")
    }
  }

  test("rollingDistinct and cohortRetention equal brute-force references on generated activity") {
    val s = spark
    import s.implicits._
    val actGen: Gen[(String, Long)] = for {
      k <- Gen.oneOf((1 to 8).map(i => s"u$i"))
      t <- Gen.chooseNum(0L, 300L)
    } yield (k, t)
    for (trial <- 1 to 4) {
      val acts = Gen.listOfN(60, actGen).sample.get
      val df = acts.toDF("k", "at")
      // rollingDistinct, step 10, window 4 — brute force over buckets
      val ub = acts.map { case (k, t) => (k, t / 10) }.distinct
      val mxb = ub.map(_._2).max
      val expRoll = (ub.map(_._2).min to mxb).map { b =>
        b -> ub.filter { case (_, ab) => ab <= b && ab > b - 4 }
          .map(_._1).distinct.size.toLong
      }.toMap // zeros included: every bucket in [min, max] is reported
      val gotRoll = graft.operators.TemporalOps
        .rollingDistinct(df, "k", "at", stepUs = 10L, windowBuckets = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotRoll == expRoll, s"trial $trial roll: $gotRoll vs $expRoll")
      // cohortRetention with day-granularity buckets (stepUs=µs-day not
      // configurable — feed epoch-day×day_µs timestamps)
      val dayUs = 86400000000L
      val days = acts.map { case (k, t) => (k, t * dayUs) }.toDF("k", "at")
      val perUser = acts.map { case (k, t) => (k, t) }.groupBy(_._1)
        .view.mapValues(_.map(_._2).distinct).toMap
      val expCohort = perUser.toSeq.flatMap { case (_, ds) =>
        val c = ds.min
        ds.map(d => ((c + 3) / 7, (d - c) / 7)).distinct
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val gotCohort = graft.operators.TemporalOps
        .cohortRetention(days, "k", "at")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      assert(gotCohort == expCohort,
        s"trial $trial cohort: $gotCohort vs $expCohort")
    }
  }

  test("leakageSafeSplit keeps clusters whole and leaves singletons on the plain split") {
    val s = spark
    import s.implicits._
    val docs = (1L to 200L).map(i => (i, s"doc $i")).toDF("id", "body")
    // two planted near-dup clusters, members chosen so a doc-level split
    // would scatter them (they're arbitrary ids — the point is the
    // ATOMIC assignment, whatever split the anchor hashes to)
    val pairs = Seq((1L, 50L), (50L, 120L), (7L, 9L)).toDF("da", "db")
    val split = TextOps.leakageSafeSplit(docs, "id", pairs)
    val byId = split.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(byId.size == 200)
    // every cluster member shares its cluster's anchor and split
    assert(Seq(1L, 50L, 120L).map(byId(_)).distinct.size == 1,
      s"cluster {1,50,120} split apart: ${Seq(1L, 50L, 120L).map(byId(_))}")
    assert(Seq(7L, 9L).map(byId(_)).distinct.size == 1,
      s"cluster {7,9} split apart: ${Seq(7L, 9L).map(byId(_))}")
    assert(byId(1L)._1 == 1L && byId(7L)._1 == 7L, "anchor must be the min id")
    // zero cross-split pairs — the contamination check comes back empty
    val leaks = pairs
      .join(split.select(col("id").as("da"), col("split").as("sa")), Seq("da"))
      .join(split.select(col("id").as("db"), col("split").as("sb")), Seq("db"))
      .filter(col("sa") =!= col("sb")).count()
    assert(leaks == 0L, s"$leaks near-dup pairs straddle a split boundary")
    // singletons are bit-identical to the plain doc-keyed md5 split
    val plain = docs.withColumn("bucket",
      conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100)
      .withColumn("psplit", when(col("bucket") < 90, "train")
        .when(col("bucket") < 95, "val").otherwise("test"))
      .select("id", "psplit").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val clustered = Set(1L, 50L, 120L, 7L, 9L)
    docs.collect().map(_.getLong(0)).filterNot(clustered).foreach { i =>
      assert(byId(i)._2 == plain(i), s"singleton $i moved: ${byId(i)._2} vs ${plain(i)}")
      assert(byId(i)._1 == i, s"singleton $i must anchor on itself")
    }
  }

  test("resampleFill fills gaps forward, resolves in-bucket ties, stays inside each key's span") {
    val s = spark
    import s.implicits._
    val obs = Seq(
      // key "a": buckets 10 and 13 observed → 11, 12 carried from bucket 10
      ("a", 10L * 100 + 5, 7L, 1.0),
      ("a", 13L * 100 + 1, 8L, 2.0),
      // in-bucket tie: bucket 10 has a LATER observation that must win
      ("a", 10L * 100 + 50, 9L, 1.5),
      // key "b": single observation → single-row grid, no fill
      ("b", 20L * 100, 1L, 9.0))
      .toDF("k", "at", "seq", "v")
    val got = graft.operators.TemporalOps
      .resampleFill(obs, "k", "at", "v", stepUs = 100L, tieBreak = "seq")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getBoolean(3)))).toMap
    assert(got == Map(
      ("a", 10L) -> ((1.5, true)),  // later in-bucket obs wins
      ("a", 11L) -> ((1.5, false)), // carried
      ("a", 12L) -> ((1.5, false)), // carried
      ("a", 13L) -> ((2.0, true)),
      ("b", 20L) -> ((9.0, true))   // no rows beyond the key's span
    ), s"got $got")
    // a NULL value is NO observation (asofJoin's payload contract): it
    // neither wins its bucket nor extends the span
    val withNull = Seq(
      ("a", java.lang.Long.valueOf(1005L), java.lang.Long.valueOf(1L),
        java.lang.Double.valueOf(3.0)),
      ("a", java.lang.Long.valueOf(1099L), java.lang.Long.valueOf(2L),
        null.asInstanceOf[java.lang.Double]), // later in-bucket but NULL
      ("a", java.lang.Long.valueOf(1200L), java.lang.Long.valueOf(3L),
        null.asInstanceOf[java.lang.Double])) // would extend span to 12
      .toDF("k", "at", "seq", "v")
    val gotNull = graft.operators.TemporalOps
      .resampleFill(withNull, "k", "at", "v", stepUs = 100L, tieBreak = "seq")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getBoolean(3)))).toMap
    assert(gotNull == Map(("a", 10L) -> ((3.0, true))), s"got $gotNull")
  }

  test("cohortRetention builds the planted weekly retention matrix") {
    val s = spark
    import s.implicits._
    // integer-ts activity log (epoch µs): user → active days
    val us = 86400000000L // one day in µs
    def day(d: Long) = d * us
    val acts = Seq(
      // cohort A: first active day 0 (epoch week of day 0 starts day -3)
      (1L, day(0)), (1L, day(1)), (1L, day(8)),   // weeks 0 and 1
      (2L, day(2)), (2L, day(16)),                // weeks 0 and 2
      // cohort B: first active day 7
      (3L, day(7)), (3L, day(14)), (3L, day(15))) // weeks 0 and 1
      .toDF("who", "at")
    val got = graft.operators.TemporalOps.cohortRetention(acts, "who", "at")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // epoch day 0 is a Thursday → Monday-aligned week index of day 0 is 0
    // (days -3..3), of day 7 is 1 (days 4..10)... day(0..2) → week 0;
    // day(7,8) → week 1; day(14..16) → week 2
    // cohort of users 1,2 = week 0; cohort of user 3 = week 1
    assert(got == Map(
      (0L, 0L) -> 2L, // users 1 (d0,d1) and 2 (d2) in their first week
      (0L, 1L) -> 1L, // user 1 returns on day 8 (offset (8-0)/7 = 1)
      (0L, 2L) -> 1L, // user 2 returns on day 16 (offset 2)
      (1L, 0L) -> 1L, // user 3 first active day 7
      (1L, 1L) -> 1L  // user 3 returns days 14,15 (offset 1) — once
    ), s"got $got")
  }

  test("temperatureMixture up-weights the low-resource source as alpha falls") {
    val s = spark
    import s.implicits._
    // 9:1 size skew: 90 docs of 10 tokens in "big", 10 in "small"
    val docs = ((0 until 90).map(i => (i.toLong, "w " * 10, "big")) ++
      (100 until 110).map(i => (i.toLong, "w " * 10, "small")))
      .toDF("id", "body", "src")
    def rates(alpha: Double): Map[String, Double] =
      graft.operators.PipelineOps
        .temperatureMixture(docs, "id", "body", "src",
          alpha = alpha, budgetFraction = 0.5)
        .collect().map(r => r.getString(0) -> r.getDouble(5)).toMap
    // alpha = 1 is proportional sampling: both sources at the budget rate
    val prop = rates(1.0)
    assert(math.abs(prop("big") - 0.5) < 1e-3 &&
      math.abs(prop("small") - 0.5) < 1e-3, s"alpha=1 must be flat: $prop")
    // alpha < 1: the small source's rate must rise above the big one's,
    // matching the closed-form q(s) ∝ size^alpha rule
    val t = rates(0.3)
    assert(t("small") > t("big"), s"expected up-weighting: $t")
    val (wb, ws) = (math.pow(900.0, 0.3), math.pow(100.0, 0.3))
    val expSmall = math.min(1.0, 1000.0 * 0.5 * (ws / (wb + ws)) / 100.0)
    assert(math.abs(t("small") - expSmall) < 1e-3,
      s"small-source rate ${t("small")} vs closed form $expSmall")
    // the manifest accounts every doc exactly once
    val m = graft.operators.PipelineOps
      .temperatureMixture(docs, "id", "body", "src", 0.3, 0.5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    assert(m.map(_._2).sum == 100 && m.map(_._3).sum == 1000, s"got ${m.toSeq}")
  }

  test("corpusDelta equals a sequential diff on generated snapshot pairs") {
    val s = spark
    import s.implicits._
    val textGen: Gen[String] = Gen.oneOf("alpha", "beta", "gamma", "delta")
    for (trial <- 1 to 5) {
      val ids = (0L until 20L).toSeq
      val before = ids.filter(_ => Gen.prob(0.8).sample.get)
        .map(i => i -> textGen.sample.get).toMap
      val after = ids.filter(_ => Gen.prob(0.8).sample.get)
        .map(i => i -> textGen.sample.get).toMap
      val expect = (before.keySet ++ after.keySet).flatMap { i =>
        (before.get(i), after.get(i)) match {
          case (None, Some(_)) => Some(i -> "added")
          case (Some(_), None) => Some(i -> "removed")
          case (Some(b), Some(a)) if b != a => Some(i -> "changed")
          case _ => None
        }
      }.toMap
      val got = graft.operators.PipelineOps.corpusDelta(
          before.toSeq.toDF("k", "t"), after.toSeq.toDF("k", "t"), "k", "t")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == expect, s"trial $trial: got $got\nexpected $expect")
    }
  }

  test("temperatureMixture equals a sequential reference on generated corpora") {
    val s = spark
    import s.implicits._
    def md5bucket(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % 10000
    }
    def r4(x: Double): Double = math.floor(x * 10000.0 + 0.5) / 10000.0
    val rowGen: Gen[(String, Int)] = for {
      src <- Gen.oneOf("s0", "s1", "s2")
      n <- Gen.chooseNum(1, 30)
    } yield (src, n)
    for (trial <- 1 to 5) {
      val alpha = Seq(0.3, 0.5, 1.0)(trial % 3)
      val rows = Gen.listOfN(40, rowGen).sample.get.zipWithIndex
        .map { case ((src, n), i) => (i.toLong, ("w " * n).trim, src) }
      // sequential reference mirroring the operator's arithmetic
      val perSource = rows.groupBy(_._3).view
        .mapValues(_.map(_._2.split("\\s+").count(_.nonEmpty).toLong).sum)
        .toMap
      val corpusTok = perSource.values.sum
      // exact-decimal weight total at scale 6 (Det.dsum's grid)
      val wTotal = perSource.values
        .map(t => BigDecimal(math.pow(t.toDouble, alpha))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
      val expect = rows.groupBy(_._3).map { case (src, docs) =>
        val tokTotal = perSource(src)
        val w = math.pow(tokTotal.toDouble, alpha)
        val rate = math.min(1.0,
          corpusTok.toDouble * 0.5 * (w / wTotal) / tokTotal.toDouble)
        val cut = math.floor(rate * 10000.0).toLong
        val sampled = docs.filter(d => md5bucket(d._1) < cut)
        src -> ((docs.size.toLong, sampled.size.toLong, tokTotal,
          sampled.map(_._2.split("\\s+").count(_.nonEmpty).toLong).sum,
          r4(rate)))
      }
      val got = graft.operators.PipelineOps
        .temperatureMixture(rows.toDF("id", "body", "src"), "id", "body",
          "src", alpha = alpha, budgetFraction = 0.5)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getDouble(5)))).toMap
      assert(got == expect,
        s"trial $trial (alpha $alpha): got $got\nexpected $expect")
    }
  }

  test("corpusDelta reports one row per changed fate, unchanged dropped") {
    val s = spark
    import s.implicits._
    val before = Seq((1L, "same"), (2L, "old text"), (3L, "goes away"))
      .toDF("k", "t")
    val after = Seq((1L, "same"), (2L, "new text"), (4L, "brand new"))
      .toDF("k", "t")
    val got = graft.operators.PipelineOps
      .corpusDelta(before, after, "k", "t")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2L -> "changed", 3L -> "removed", 4L -> "added"),
      s"got $got")
    val e = intercept[IllegalArgumentException](
      graft.operators.PipelineOps.corpusDelta(before, after, "nope", "t"))
    assert(e.getMessage.contains("no column 'nope'"))
  }

  test("corpusDelta classifies NULL text by presence, not hash nullness") {
    val s = spark
    import s.implicits._
    // ADVICE r9: md5(NULL) is NULL, so keying added/removed on hash
    // nullness misread a doc PRESENT with NULL text as added/removed.
    // Presence flags + null-safe compare give join-key semantics:
    //   1: NULL in both          -> unchanged (dropped)
    //   2: NULL -> value         -> changed
    //   3: value -> NULL         -> changed
    //   4: NULL, only in after   -> added
    //   5: NULL, only in before  -> removed
    val before = Seq(1L -> Option.empty[String], 2L -> Option.empty[String],
      3L -> Some("text"), 5L -> Option.empty[String]).toDF("k", "t")
    val after = Seq(1L -> Option.empty[String], 2L -> Some("text"),
      3L -> Option.empty[String], 4L -> Option.empty[String]).toDF("k", "t")
    val got = graft.operators.PipelineOps
      .corpusDelta(before, after, "k", "t")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2L -> "changed", 3L -> "changed",
      4L -> "added", 5L -> "removed"), s"got $got")
  }

  test("influenceRelation is column-parameterized and weights parallel edges with multiplicity") {
    // the r18 shared-prefix entry point on an arbitrary frame: one row
    // per EDGE ROW (parallel edges keep one row each — their duplicate
    // weight is pageRank's multiplicity semantics), w = 1/outdeg(src)
    val s = spark
    import s.implicits._
    val edges = Seq(("u", "v"), ("u", "v"), ("u", "w"), ("w", "u"))
      .toDF("frm", "dst")
    val got = graft.operators.GraphOps
      .influenceRelation(edges, "frm", "dst")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .sorted.toSeq
    assert(got == Seq(("u", "v", 1.0 / 3), ("u", "v", 1.0 / 3),
      ("u", "w", 1.0 / 3), ("w", "u", 1.0)), s"got $got")
  }
}
