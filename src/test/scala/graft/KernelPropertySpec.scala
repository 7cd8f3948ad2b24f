package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.TextKernels

/** Property-based parity: the native kernels must equal their declarative
  * renderings on ARBITRARY inputs, not just the corpus — degenerate
  * whitespace, empty strings, repeated tokens, unicode, mismatched float
  * arrays. Inputs are generated, evaluation runs through real Spark
  * projections (both paths), equality is bitwise. */
class KernelPropertySpec extends SparkSpec {

  private val word: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('ä', 'ß', '中', '.')))
      .map(_.mkString)
  private val sep: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf(" ", "\t", "\n", "  ")).map(_.mkString)
  private val text: Gen[String] = for {
    words <- Gen.listOfN(8, word)
    seps <- Gen.listOfN(8, sep)
    lead <- Gen.oneOf("", " ", "\n")
  } yield lead + words.zip(seps).map { case (w, s) => w + s }.mkString

  test("text kernels equal the declarative pipelines on generated strings") {
    val s = spark
    import s.implicits._
    val samples = (Gen.listOfN(60, text)
      .pureApply(Gen.Parameters.default, Seed(1)) ++
      Seq("", " ", "\t\n", "a", "a b", "a b c", "x x x x x")).toDF("text")
    // declarative references (same as KernelSpec)
    def toksC(c: org.apache.spark.sql.Column) =
      filter(split(lower(c), "\\s+"), t => length(t) > 0)
    val hofShingles = graft.functions.bindOnce(toksC(col("text")), l =>
      when(size(l) >= 3,
        transform(sequence(lit(1), size(l) - 2),
          i => xxhash64(concat_ws(" ", element_at(l, i), element_at(l, i + 1),
            element_at(l, i + 2)))))
        .otherwise(array().cast("array<bigint>")))
    val rows = samples.select(
      TextKernels.shingleHashes64(col("text")).as("native"),
      hofShingles.as("hof"),
      TextKernels.shingleSet64(col("text")).as("nset"),
      array_sort(array_distinct(hofShingles)).as("hset"),
      TextKernels.simHash64(col("text")).as("nsim"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"shingles differ: $r")
      assert(r.getSeq[Long](2) == r.getSeq[Long](3), s"shingle sets differ: $r")
    }
  }

  test("NGramSet64 and MinShingleMd5 equal their declarative renderings on generated strings") {
    val s = spark
    import s.implicits._
    val samples = (Gen.listOfN(60, text)
      .pureApply(Gen.Parameters.default, Seed(2)) ++
      Seq("", " ", "\t\n", "a", "a b", "a b c", "x x x x x")).toDF("text")
    def toksC(c: org.apache.spark.sql.Column) =
      filter(split(lower(c), "\\s+"), t => length(t) > 0)
    def hofNgrams(n: Int) =
      array_sort(graft.functions.bindOnce(toksC(col("text")), l =>
        when(size(l) >= n,
          array_distinct(transform(sequence(lit(1), size(l) - (n - 1)),
            i => xxhash64(concat_ws(" ", slice(l, i, lit(n)))))))
          .otherwise(array().cast("array<bigint>"))))
    val rows = samples.select(
      TextKernels.ngramSet64(col("text"), 2).as("n2"),
      hofNgrams(2).as("h2"),
      TextKernels.ngramSet64(col("text"), 5).as("n5"),
      hofNgrams(5).as("h5"),
      TextKernels.minShingleMd5Col(col("text")).as("nfp"),
      graft.operators.TextOps.fingerprintDeclarative(col("text")).as("hfp"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"2-gram sets differ: $r")
      assert(r.getSeq[Long](2) == r.getSeq[Long](3), s"5-gram sets differ: $r")
      assert(r.getString(4) == r.getString(5), s"fingerprints differ: $r")
    }
  }

  test("DotF equals the declarative fold on generated float arrays (incl. empty)") {
    val s = spark
    import s.implicits._
    val arr: Gen[Array[Float]] = for {
      n <- Gen.oneOf(0, 1, 7, 64)
      xs <- Gen.listOfN(n, Gen.chooseNum(-1e18f, 1e18f))
    } yield xs.toArray
    val pairs = Gen.listOfN(50, for {
      a <- arr
      b <- Gen.listOfN(a.length, Gen.chooseNum(-1e18f, 1e18f)).map(_.toArray)
    } yield (a, b)).pureApply(Gen.Parameters.default, Seed(3))
    val df = pairs.toDF("a", "b")
    val hof = aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    df.select(graft.functions.DotF.dotf(col("a"), col("b")).as("n"), hof.as("h"))
      .collect().foreach { r =>
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(1)))
      }
  }

  test("TextStats kernels equal the declarative folds on generated strings") {
    val s = spark
    import s.implicits._
    // short alphabet forces repeated tokens and bigrams (runs > 1, the
    // entropy fold's interesting regime)
    val repWord: Gen[String] = Gen.oneOf("aa", "bb", "cc", "ä")
    val repText: Gen[String] = for {
      words <- Gen.listOfN(12, repWord)
      seps <- Gen.listOfN(12, sep)
    } yield words.zip(seps).map { case (w, sp) => w + sp }.mkString
    val samples = (Gen.listOfN(40, repText)
      .pureApply(Gen.Parameters.default, Seed(4)) ++
      Gen.listOfN(30, text).pureApply(Gen.Parameters.default, Seed(5)) ++
      Seq("", " ", "x", "x x x x", "a b a b a")).toDF("text")
    val e = samples.select(
      graft.functions.TextStats.tokenEntropyStats(col("text")).as("n"),
      graft.operators.TextOps.tokenEntropyStatsDeclarative(col("text")).as("h"))
      .filter(not(col("n") <=> col("h")))
      .count()
    assert(e == 0)
    val r = samples.select(
      graft.functions.TextStats.tokenRepetitionStats(col("text")).as("n"),
      graft.operators.PipelineOps.repetitionStatsDeclarative(col("text")).as("h"))
      .filter(col("n.n_tok") =!= col("h.n_tok") ||
        col("n.n_uniq") =!= col("h.n_uniq") ||
        col("n.n_bi") =!= col("h.b.n_bi") ||
        col("n.n_uniq_bi") =!= col("h.b.n_uniq_bi"))
      .count()
    assert(r == 0)
  }

  test("VecNormalize equals the rendering on generated vectors; zero/empty go NULL") {
    val s = spark
    import s.implicits._
    val vecGen: Gen[Array[Float]] = for {
      n <- Gen.oneOf(1, 3, 64)
      xs <- Gen.listOfN(n, Gen.chooseNum(-1e6f, 1e6f))
    } yield xs.toArray
    val vecs = Gen.listOfN(50, vecGen).pureApply(Gen.Parameters.default, Seed(6)) ++
      Seq(Array.empty[Float], Array(0f, 0f, 0f)) // -> NULL by contract
    val nrm = sqrt(graft.functions.DotF.dotf(col("v"), col("v")))
    val hof = when(nrm > 0,
      transform(col("v"), x => x.cast("double") / nrm))
    val bad = vecs.toDF("v").select(
      graft.functions.VecNormalize.vecNormalize(col("v")).as("n"),
      hof.as("h"))
      .filter(not(col("n") <=> col("h")))
      .count()
    assert(bad == 0)
  }

  test("ListPairs equals the declarative rendering on generated lists (incl. empty/singleton)") {
    val s = spark
    import s.implicits._
    val listGen: Gen[Array[Long]] = for {
      n <- Gen.oneOf(0, 1, 2, 3, 7, 40)
      // chooseNum duplicates freely at small ranges — duplicates exercise
      // the (min, max) tie behavior (da == db pairs)
      xs <- Gen.listOfN(n, Gen.chooseNum(-5L, 5L))
    } yield xs.toArray
    val lists = Gen.listOfN(60, listGen).pureApply(Gen.Parameters.default, Seed(7))
    val hof = flatten(transform(col("ds"), (x, i) =>
      transform(slice(col("ds"), i + 2, size(col("ds"))), y =>
        struct(least(x, y).as("da"), greatest(x, y).as("db")))))
    val bad = lists.toDF("ds").select(
      graft.functions.ListPairs.listPairs(col("ds")).as("n"), hof.as("h"))
      .filter(not(col("n") === col("h")))
      .count()
    assert(bad == 0)
  }

  test("LshBuckets equals the literal bucketCols rendering on generated vectors") {
    val s = spark
    import s.implicits._
    val dim = 16
    val vecGen: Gen[Array[Float]] =
      Gen.listOfN(dim, Gen.chooseNum(-10f, 10f)).map(_.toArray)
    // a wrong-length vector exercises the null-dot path: every plane dot
    // nulls, the rendering's otherwise-branch gives all-zero buckets and
    // the kernel must agree
    val vecs = Gen.listOfN(50, vecGen)
      .pureApply(Gen.Parameters.default, Seed(8)) :+ Array.fill(3)(1f)
    val (tables, planesPer) = (4, 3)
    val ps = graft.operators.SimilarityOps.planesFor(tables * planesPer, dim)
    val bc = spark.sparkContext.broadcast(ps)
    val literal = array(graft.operators.SimilarityOps
      .bucketCols(col("v"), tables, planesPer, dim): _*)
    val bad = vecs.toDF("v").select(
      graft.functions.LshBuckets
        .lshBuckets(col("v"), bc, tables, planesPer).as("n"),
      literal.as("h"))
      .filter(not(col("n") === col("h")))
      .count()
    assert(bad == 0)
  }

  test("ArgTopDot equals the literal rendering on generated vectors (incl. ties)") {
    val s = spark
    import s.implicits._
    val dim = 6
    val vecGen: Gen[Array[Float]] =
      Gen.listOfN(dim, Gen.chooseNum(-100f, 100f)).map(_.toArray)
    val vecs = Gen.listOfN(60, vecGen).pureApply(Gen.Parameters.default, Seed(9))
    // centroids from the same generator, as exact doubles, plus a
    // duplicated row and an all-zero row: duplicates force exact dot ties
    // (tie order is the contract), zero ties against nothing but itself
    val baseC = Gen.listOfN(5, vecGen).pureApply(Gen.Parameters.default, Seed(10))
      .map(_.map(_.toDouble))
    val cents = (baseC :+ baseC(2).clone() :+ Array.fill(dim)(0.0)).toArray
    val bc = spark.sparkContext.broadcast(cents)
    val structs = array(cents.zipWithIndex.toSeq.map { case (c, i) =>
      struct(graft.functions.DotF.dotf(col("v"), typedLit(c.toSeq)).as("d"),
        lit(i).as("i"))
    }: _*)
    val k = 4
    val literal = transform(
      slice(reverse(array_sort(structs)), 1, k), st => st.getField("i"))
    val bad = vecs.toDF("v").select(
      graft.functions.ArgTopDot.argTopDot(col("v"), bc, k).as("n"),
      literal.as("h"))
      .filter(not(col("n") === col("h")))
      .count()
    assert(bad == 0)
  }

  test("PQ kernels equal their declarative renderings on generated vectors (incl. ties)") {
    val s = spark
    import s.implicits._
    val (m, ksub, dsub) = (2, 4, 3)
    val dim = m * dsub
    val vecGen: Gen[Array[Float]] =
      Gen.listOfN(dim, Gen.chooseNum(-10f, 10f)).map(_.toArray)
    val vecs = Gen.listOfN(60, vecGen)
      .pureApply(Gen.Parameters.default, Seed(11)) :+ Array.fill(dim)(0f)
    // duplicate one centroid per subspace: exact-equal distances force the
    // tie, and the contract (smaller code wins) must match the struct-min
    // rendering's lexicographic order
    val baseC = Gen.listOfN(ksub - 1,
      Gen.listOfN(dsub, Gen.chooseNum(-10.0, 10.0)))
        .pureApply(Gen.Parameters.default, Seed(12))
      .map(_.toArray)
    val cb: Array[Array[Array[Double]]] =
      Array.tabulate(m)(_ => (baseC :+ baseC(1).clone()).toArray)
    val bc = spark.sparkContext.broadcast(cb)
    // declarative argmin-L2 per subspace: left-to-right squared-diff fold
    // (the kernel's exact accumulation order), struct-min tie-break
    def sq(sub: Int, code: Int) = {
      val xs = slice(col("v"), sub * dsub + 1, dsub)
      aggregate(zip_with(xs, typedLit(cb(sub)(code).toSeq),
        (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
        lit(0.0), (acc, x) => acc + x)
    }
    val literalCodes = array((0 until m).map(sub =>
      array_min(array((0 until ksub).map(c0 =>
        struct(sq(sub, c0).as("d"), lit(c0).as("i"))): _*)).getField("i")): _*)
    // declarative ADC: reconstruct from the codes by literal codebook
    // lookup, then the shared DotF (same left-to-right order as the kernel)
    val cbLit = typedLit(cb.map(_.map(_.toSeq).toSeq).toSeq)
    val codesK = graft.functions.PqKernels.pqEncode(col("v"), bc)
    val recon = flatten(transform(codesK,
      (c, i) => element_at(element_at(cbLit, i + 1), c + 1)))
    val bad = vecs.toDF("v").select(
      codesK.as("n"), literalCodes.as("h"),
      graft.functions.PqKernels.pqAdcDot(codesK, col("v"), bc).as("nadc"),
      graft.functions.DotF.dotf(col("v"), recon).as("hadc"))
      .filter(not(col("n") === col("h")) or not(col("nadc") <=> col("hadc")))
      .count()
    assert(bad == 0)
  }

  test("FreqItemsAgg guarantees hold on generated streams at arbitrary split points") {
    // Misra-Gries invariants on ARBITRARY streams, not the planted
    // fixture: for any generated multiset and any 2-way split, both the
    // one-shot sketch and the bytes-merged split sketches must (a)
    // retain every item with true count > maxError, (b) bound every
    // candidate's true count in [lb, ub], (c) report the exact stream
    // length. Streams are skew-mixed so the 32-entry map purges.
    val s = spark
    import s.implicits._
    import graft.functions.FreqItems
    val streamGen: Gen[List[String]] = for {
      nHot <- Gen.choose(1, 6)
      hotCounts <- Gen.listOfN(nHot, Gen.choose(20, 60))
      nBg <- Gen.choose(50, 150)
    } yield hotCounts.zipWithIndex.flatMap { case (c, i) =>
        List.fill(c)(s"h$i") } ++ (0 until nBg).map(i => s"b$i").toList
    (0 until 5).foreach { trial =>
      val items = streamGen.pureApply(Gen.Parameters.default, Seed(trial.toLong))
      val exact = items.groupBy(identity).view
        .mapValues(_.size.toLong).toMap
      val df = items.zipWithIndex.map(_.swap).toDF("i", "v")
        .repartition(4)
      def sketchOf(d: org.apache.spark.sql.DataFrame): Array[Byte] = d
        .agg(FreqItems.freqItemsAgg(col("v"), 32)).head()
        .getAs[Array[Byte]](0)
      val oneShot = sketchOf(df)
      val split = items.size / 3
      val merged = FreqItems.mergeBytes(
        sketchOf(df.filter(col("i") < split)),
        sketchOf(df.filter(col("i") >= split)))
      for ((bytes, label) <- Seq(oneShot -> "one-shot", merged -> "merged")) {
        val (n, maxErr, cands) = FreqItems.decode(bytes, threshold = 1L)
        assert(n == items.size.toLong, s"trial $trial $label: length $n")
        val cm = cands.map(c => c.item -> c).toMap
        exact.filter(_._2 > maxErr).foreach { case (it, cnt) =>
          val c = cm.getOrElse(it, fail(
            s"trial $trial $label: $it (count $cnt > maxErr $maxErr) lost"))
          assert(c.lb <= cnt && cnt <= c.ub,
            s"trial $trial $label: $it exact $cnt outside [${c.lb},${c.ub}]")
        }
        cands.foreach { c =>
          val cnt = exact.getOrElse(c.item, 0L)
          assert(c.lb <= cnt && cnt <= c.ub,
            s"trial $trial $label: bound violation for ${c.item}")
        }
      }
    }
  }

  test("FreqItemsAgg keeps stream length and error through a purge-emptied sketch") {
    // 200 distinct strings purge a 32-entry map down to no active items;
    // the sketch still owes its stream length and error offset to
    // serialize and to every merge it takes part in
    val s = spark
    import s.implicits._
    import graft.functions.FreqItems
    def sketchOf(vs: Seq[String]): Array[Byte] = vs.toDF("v").coalesce(1)
      .agg(FreqItems.freqItemsAgg(col("v"), 32)).head().getAs[Array[Byte]](0)
    val purged = sketchOf((0 until 200).map(i => s"d$i"))
    val (n, maxErr, cands) = FreqItems.decode(purged, threshold = 1L)
    assert(n == 200L && maxErr > 0L && cands.isEmpty, s"len=$n maxErr=$maxErr")
    val one = sketchOf(Seq("x"))
    for (merged <- Seq(FreqItems.mergeBytes(one, purged),
        FreqItems.mergeBytes(purged, one))) {
      val (mn, mErr, mc) = FreqItems.decode(merged, threshold = 1L)
      assert(mn == 201L, s"merged length $mn")
      assert(mErr == maxErr, s"merged error $mErr")
      val x = mc.find(_.item == "x").getOrElse(fail("x lost"))
      assert(x.lb <= 1L && 1L <= x.ub)
    }
  }
}
