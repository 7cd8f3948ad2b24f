package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._

import graft.operators.PipelineOps

/** The config-driven build runner (graft.Run): spec parsing, artifact
  * layout, store round-trip vs the direct library composition, and the
  * no-clobber contract. */
class RunSpec extends SparkSpec {

  private def words(prefix: String, n: Int): Seq[String] =
    (0 until n).map(i => f"$prefix$i%02d")
  private def clean(prefix: String): String =
    ("the" +: words(prefix, 31) :+ "and").mkString(" ")

  test("Run.execute builds fates/report/manifest/windows matching the direct composition") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-run").toFile.getAbsolutePath
    val nearDupOfB =
      ("the" +: (words("beta", 28) ++ words("zeta", 3)) :+ "and").mkString(" ")
    val corpus = Seq(
      (1L, "too short"),          // quality
      (2L, clean("alpha")),       // kept
      (3L, clean("alpha")),       // exact_dup
      (4L, clean("beta")),        // kept
      (5L, nearDupOfB),           // near_dup
      (6L, clean("gamma")))       // contaminated
      .toDF("id", "body")
    val bench = Seq(
      (100L, (words("bench", 5) ++ words("gamma", 8) ++ words("bench2", 5))
        .mkString(" ")))
      .toDF("id", "body")
    corpus.write.parquet(s"$dir/corpus")
    bench.write.parquet(s"$dir/bench")

    val spec = Run.parseSpec(
      s"""{"corpus": "$dir/corpus", "benchmark": "$dir/bench",
         | "out": "$dir/build", "id": "id", "text": "body",
         | "cap": 16, "formatter": "plain", "chunksPerPart": 2}"""
        .stripMargin)
    assert(spec.cap == 16L && spec.formatter == "plain" &&
      spec.minJaccard == 0.1 && spec.contamN == 8 && !spec.overwrite)

    val summary = Run.execute(s, spec)

    // the summary attests the on-disk artifacts
    val j = new ObjectMapper().readTree(summary)
    assert(j.get("n_windows").asLong > 0)
    val fateCounts = (0 until j.get("fates").size).map { i =>
      val f = j.get("fates").get(i)
      f.get("fate").asText -> f.get("n_docs").asLong
    }.toMap
    assert(fateCounts == Map("quality" -> 1L, "kept" -> 2L,
      "exact_dup" -> 1L, "near_dup" -> 1L, "contaminated" -> 1L),
      s"fates: $fateCounts")
    // the written SUMMARY.json is the returned string
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/build/SUMMARY.json")),
      StandardCharsets.UTF_8) == summary)

    // manifest: one row per corpus doc; kept docs packed, dropped NULL
    val manifest = s.read.parquet(s"$dir/build/manifest")
    assert(manifest.count() == 6)
    assert(manifest.filter(col("fate") === "kept" &&
      col("chunk").isNotNull).count() == 2)
    assert(manifest.filter(col("fate") =!= "kept" &&
      col("chunk").isNull).count() == 4)

    // window store round-trip == the direct sorted library composition
    val direct = PipelineOps.trainReadyExamples(corpus, bench, "id", "body",
        cap = 16L, formatter = "plain")
      .collect().map(_.toString).toSeq
    val storedRows = PipelineOps.readWindows(s, s"$dir/build/windows",
        chunksPerPart = 2L)
      .select("chunk", "n_segs", "n_tokens", "doc_ids", "doc_starts",
        "chunk_text", "is_partial")
      .orderBy("chunk")
      .collect().map(_.toString).toSeq
    assert(storedRows == direct, s"store: $storedRows\nvs direct: $direct")

    // corpus stats: the heavy-token artifact equals the direct
    // sketch-prefiltered pass over the same corpus
    val heavyStored = s.read.parquet(s"$dir/build/stats/heavy_tokens")
      .orderBy(desc("n"), col("token"))
      .collect().map(_.toString).toSeq
    val heavyDirect = graft.operators.TextOps
      .frequentTokens(corpus, "body", minShare = 0.005)
      .collect().map(_.toString).toSeq
    assert(heavyStored == heavyDirect && heavyStored.nonEmpty,
      s"stats artifact diverged: $heavyStored vs $heavyDirect")

    // resume (ADVICE r13): a re-run without overwrite SKIPS completed
    // stages (read-back, not rewrite) and rebuilds only a partial one —
    // simulate a crash mid-manifest by dropping its _SUCCESS marker
    val fatesMod =
      new java.io.File(s"$dir/build/fates/_SUCCESS").lastModified()
    assert(new java.io.File(s"$dir/build/manifest/_SUCCESS").delete())
    val summary2 = Run.execute(s, spec)
    assert(summary2 == summary,
      "resume must re-attest the identical summary from disk")
    assert(new java.io.File(s"$dir/build/fates/_SUCCESS").lastModified()
      == fatesMod, "completed fates stage must not be rewritten on resume")
    assert(s.read.parquet(s"$dir/build/manifest").count() == 6)

    // resume guard (ADVICE r14): a CHANGED spec on the same out dir must
    // refuse to resume (stale stages would silently mix into the build)
    // instead of skipping stages built under different thresholds…
    val changed = spec.copy(minJaccard = 0.5)
    val ex = intercept[IllegalArgumentException](Run.execute(s, changed))
    assert(ex.getMessage.contains("refusing to resume"), ex.getMessage)
    // …while overwrite=true rebuilds and re-stamps the new fingerprint,
    // after which the changed spec resumes cleanly
    Run.execute(s, changed.copy(overwrite = true))
    Run.execute(s, changed)

    // an ingest whose shape differs from the build's must refuse too
    // (the increment would be fated under different thresholds than the
    // standing artifacts were built with)
    corpus.limit(1).write.mode("overwrite").parquet(s"$dir/inc0")
    val badIngest = Run.parseSpec(
      s"""{"mode": "ingest", "increment": "$dir/inc0",
         | "benchmark": "$dir/bench", "out": "$dir/build",
         | "id": "id", "text": "body", "cap": 16, "formatter": "plain",
         | "chunksPerPart": 2, "minJaccard": 0.1}""".stripMargin)
    val ex2 = intercept[IllegalArgumentException](Run.execute(s, badIngest))
    assert(ex2.getMessage.contains("shape differs"), ex2.getMessage)
  }

  test("Run ingest mode appends an increment matching the direct incremental composition (plain)") {
    ingestRoundTrip("plain")
  }

  test("Run ingest mode matches the direct composition under the span formatter") {
    ingestRoundTrip("span")
  }

  private def ingestRoundTrip(formatter: String): Unit = {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-run-ing").toFile
      .getAbsolutePath
    val nearDupOfB =
      ("the" +: (words("beta", 28) ++ words("zeta", 3)) :+ "and").mkString(" ")
    val prior = Seq(
      (1L, "too short"),          // quality
      (2L, clean("alpha")),       // kept
      (4L, clean("beta")),        // kept
      (6L, clean("delta")))       // kept
      .toDF("id", "body")
    val inc = Seq(
      (11L, clean("alpha")),      // exact_dup of prior doc 2 (hash table)
      (12L, nearDupOfB),          // near_dup of prior doc 4 (postings)
      (13L, clean("gamma")),      // contaminated (bench 8-gram)
      (14L, "tiny"),              // quality
      (15L, clean("kappa")))      // kept
      .toDF("id", "body")
    val bench = Seq(
      (100L, (words("bench", 5) ++ words("gamma", 8) ++ words("bench2", 5))
        .mkString(" ")))
      .toDF("id", "body")
    prior.write.parquet(s"$dir/prior")
    inc.write.parquet(s"$dir/inc")
    bench.write.parquet(s"$dir/bench")

    val pinnedBefore = s.sparkContext.getPersistentRDDs.keySet
    val buildSpec = Run.parseSpec(
      s"""{"corpus": "$dir/prior", "benchmark": "$dir/bench",
         | "out": "$dir/build", "id": "id", "text": "body",
         | "cap": 16, "formatter": "$formatter", "chunksPerPart": 2}"""
        .stripMargin)
    Run.execute(s, buildSpec)
    val storeBefore = PipelineOps
      .readWindows(s, s"$dir/build/windows", chunksPerPart = 2L)
      .collect().map(_.toString).toSet

    val ingSpec = Run.parseSpec(
      s"""{"mode": "ingest", "increment": "$dir/inc",
         | "benchmark": "$dir/bench", "out": "$dir/build",
         | "id": "id", "text": "body",
         | "cap": 16, "formatter": "$formatter", "chunksPerPart": 2}"""
        .stripMargin)
    val summary = Run.execute(s, ingSpec)
    // a build plus an ingest leaves nothing pinned: every block either
    // job pinned is released before Run.execute returns
    val left = s.sparkContext.getPersistentRDDs.keySet -- pinnedBefore
    assert(left.isEmpty, s"build + ingest left RDDs pinned: $left")

    // increment fates: every planted fate decided from the persisted
    // artifacts alone (the prior corpus is gone from this path)
    val j = new ObjectMapper().readTree(summary)
    val fateCounts = (0 until j.get("increment_fates").size).map { i =>
      val f = j.get("increment_fates").get(i)
      f.get("fate").asText -> f.get("n_docs").asLong
    }.toMap
    assert(fateCounts == Map("exact_dup" -> 1L, "near_dup" -> 1L,
      "contaminated" -> 1L, "quality" -> 1L, "kept" -> 1L),
      s"increment fates: $fateCounts")

    // manifest on disk == the direct chained composition re-deriving
    // postings/hashes from the prior corpus (independent artifact path)
    val direct = PipelineOps.trainReadyIncremental(
      PipelineOps.trainReady(prior, bench, "id", "body", cap = 16.0,
        formatter = formatter),
      prior, inc, bench, "id", "body", cap = 16.0, formatter = formatter)
      .collect().map(_.toString).toSet
    val stored = s.read.parquet(s"$dir/build/manifest")
      .collect().map(_.toString).toSet
    assert(stored == direct,
      s"manifest diverged:\nonly stored: ${stored -- direct}\n" +
        s"only direct: ${direct -- stored}")

    // window store: every packed doc's manifest chunk is the first
    // window holding its id; totals agree; pre-boundary windows intact
    val win = PipelineOps
      .readWindows(s, s"$dir/build/windows", chunksPerPart = 2L)
      .localCheckpoint(true)
    val firstWin = win
      .select(col("chunk"), explode(split(col("doc_ids"), ",")).as("d"))
      .groupBy("d").agg(min("chunk").as("w_chunk"))
    val manifest = s.read.parquet(s"$dir/build/manifest")
    val misaligned = manifest.filter(col("chunk").isNotNull)
      .join(firstWin, manifest("doc_id").cast("string") === firstWin("d"))
      .filter(col("chunk") =!= col("w_chunk"))
      .count()
    assert(misaligned == 0, "manifest chunk != first window in store")
    val tokStore = win.agg(sum("n_tokens")).head().getLong(0)
    val tokManifest = manifest
      .agg(sum(when(col("chunk").isNotNull, col("n_tok"))))
      .head().getLong(0)
    assert(tokStore == tokManifest,
      s"store tokens $tokStore != manifest tokens $tokManifest")
    val after = win.collect().map(_.toString).toSet
    val priorIntact = storeBefore.filter(after.contains)
    // full windows of the prior build (all but the partial tail) survive
    assert(priorIntact.size >= storeBefore.size - 1,
      s"ingest rewrote prior full windows: kept ${priorIntact.size}" +
        s" of ${storeBefore.size}")
    win.unpersist()
  }

  test("Run ingest advances the corpus profile: two ingests == from-scratch build") {
    // VERDICT r14 #3: the standing profile (token sketch bytes, length
    // KLL, content HLL) must move with the corpus — after two ingests
    // the merged artifacts' estimates equal a from-scratch build's over
    // the union. Tiny corpora sit in every sketch's exact regime, so
    // the equalities are exact, not banded.
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-run-prof").toFile
      .getAbsolutePath
    val prior = Seq((1L, clean("alpha"), "web"), (2L, clean("beta"), "web"))
      .toDF("id", "body", "src")
    val inc1 = Seq((11L, clean("gamma"), "web"),
      (12L, clean("alpha"), "books")) // 12 duplicates doc 1's content
      .toDF("id", "body", "src")
    val inc2 = Seq((21L, clean("delta") + " extra tail tokens", "books"))
      .toDF("id", "body", "src")
    val bench = Seq((100L, words("bench", 20).mkString(" ")))
      .toDF("id", "body")
    prior.write.parquet(s"$dir/prior")
    inc1.write.parquet(s"$dir/inc1")
    inc2.write.parquet(s"$dir/inc2")
    bench.write.parquet(s"$dir/bench")
    prior.unionByName(inc1).unionByName(inc2)
      .write.parquet(s"$dir/union")

    def spec(json: String) = Run.parseSpec(json)
    Run.execute(s, spec(
      s"""{"corpus": "$dir/prior", "benchmark": "$dir/bench",
         | "out": "$dir/build", "id": "id", "text": "body",
         | "cap": 16, "formatter": "plain", "chunksPerPart": 2,
         | "profileSource": "src"}""".stripMargin))
    val ingSummaries = Seq("inc1", "inc2").map { inc =>
      Run.execute(s, spec(
        s"""{"mode": "ingest", "increment": "$dir/$inc",
           | "benchmark": "$dir/bench", "out": "$dir/build",
           | "id": "id", "text": "body",
           | "cap": 16, "formatter": "plain", "chunksPerPart": 2,
           | "profileSource": "src"}""".stripMargin))
    }
    val scratchSummary = Run.execute(s, spec(
      s"""{"corpus": "$dir/union", "benchmark": "$dir/bench",
         | "out": "$dir/scratch", "id": "id", "text": "body",
         | "cap": 16, "formatter": "plain", "chunksPerPart": 2,
         | "profileSource": "src"}""".stripMargin))

    // the summary attests the advanced ON-DISK profile: the second
    // ingest's profile object equals the from-scratch build's exactly
    val m = new ObjectMapper()
    val profIng = m.readTree(ingSummaries.last).get("profile")
    val profScr = m.readTree(scratchSummary).get("profile")
    assert(profIng != null && profIng == profScr,
      s"summary profile diverged: $profIng vs $profScr")
    assert(profIng.get("n_tokens").asLong >
      m.readTree(ingSummaries.head).get("profile").get("n_tokens").asLong,
      "profile token count must grow across ingests")

    // token sketch: decoded stream + candidate counts identical
    def decodeSk(out: String) = {
      val bytes = s.read.parquet(s"$out/stats/token_sketch")
        .head().getAs[Array[Byte]]("sk")
      val (n, err, cands) = graft.functions.FreqItems.decode(bytes, 1L)
      (n, err, cands.map(c => c.item -> c.est).toMap)
    }
    val (nA, errA, candsA) = decodeSk(s"$dir/build")
    val (nB, errB, candsB) = decodeSk(s"$dir/scratch")
    assert(nA == nB && errA == 0L && errB == 0L && candsA == candsB,
      s"token profile diverged: ($nA, $errA) vs ($nB, $errB); " +
        s"only merged: ${candsA.toSet -- candsB.toSet}; " +
        s"only scratch: ${candsB.toSet -- candsA.toSet}")

    // length quantiles + distinct content: estimates identical
    import graft.operators.RelationalOps
    def lenQ(out: String) = RelationalOps.quantileSketchEstimate(
        s.read.parquet(s"$out/stats/len_quantiles"), "grp",
        Seq(0.25, 0.5, 0.95))
      .collect().map(_.toString).toSeq
    assert(lenQ(s"$dir/build") == lenQ(s"$dir/scratch"),
      s"length profile diverged: ${lenQ(s"$dir/build")} vs " +
        s"${lenQ(s"$dir/scratch")}")
    def dc(out: String) = RelationalOps.distinctSketchEstimate(
        s.read.parquet(s"$out/stats/distinct_content"), "grp")
      .collect().map(_.toString).toSeq
    assert(dc(s"$dir/build") == dc(s"$dir/scratch"),
      s"content profile diverged: ${dc(s"$dir/build")} vs " +
        s"${dc(s"$dir/scratch")}")
    // the duplicate content (docs 1 and 12) must collapse in the count
    val est = RelationalOps.distinctSketchEstimate(
      s.read.parquet(s"$dir/build/stats/distinct_content"), "grp")
      .head().getLong(1)
    assert(est == 4L, s"expected 4 distinct contents over 5 docs, got $est")

    // the PER-SOURCE profile: a source absent from the build ("books",
    // first seen in inc1) appears as a new group, groups merge like the
    // global profile (advanced ≡ from-scratch), and the per-source
    // distinct counts see the CROSS-source duplicate as distinct within
    // "books" (doc 12 duplicates web's doc 1, not another books doc)
    def srcD(out: String) = RelationalOps.distinctSketchEstimate(
        s.read.parquet(s"$out/stats/source_distinct"), "grp")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(srcD(s"$dir/build") == srcD(s"$dir/scratch") &&
      srcD(s"$dir/build") == Map("web" -> 3L, "books" -> 2L),
      s"per-source distinct diverged: ${srcD(s"$dir/build")} vs " +
        s"${srcD(s"$dir/scratch")}")
    def srcL(out: String) = RelationalOps.quantileSketchEstimate(
        s.read.parquet(s"$out/stats/source_len"), "grp", Seq(0.5))
      .collect().map(_.toString).sorted.toSeq
    assert(srcL(s"$dir/build") == srcL(s"$dir/scratch"),
      s"per-source length profile diverged")

    // mode=stats: the EXACT refresh as its own job — stats/* rebuilt
    // from the current corpus, everything else untouched
    val manifestBefore = s.read.parquet(s"$dir/build/manifest")
      .collect().map(_.toString).toSet
    val statsSummary = Run.execute(s, spec(
      s"""{"mode": "stats", "corpus": "$dir/union",
         | "benchmark": "$dir/bench", "out": "$dir/build",
         | "id": "id", "text": "body",
         | "cap": 16, "formatter": "plain", "chunksPerPart": 2,
         | "profileSource": "src"}""".stripMargin))
    val heavyRefreshed = s.read
      .parquet(s"$dir/build/stats/heavy_tokens")
      .orderBy(desc("n"), col("token")).collect().map(_.toString).toSeq
    val heavyDirect = graft.operators.TextOps.frequentTokens(
      s.read.parquet(s"$dir/union"), "body", minShare = 0.005)
      .collect().map(_.toString).toSeq
    assert(heavyRefreshed == heavyDirect && heavyRefreshed.nonEmpty,
      "exact stats refresh must equal a direct pass over the union")
    assert(s.read.parquet(s"$dir/build/manifest")
      .collect().map(_.toString).toSet == manifestBefore,
      "stats refresh must not touch the manifest")
    assert(m.readTree(statsSummary).get("profile") == profScr,
      "re-baselined profile must equal the from-scratch build's")
  }

  test("Run profile advance is staged, stamped, and retry-idempotent (ADVICE r15)") {
    // the in-place overwrite could destroy the standing sketch on a
    // crash mid-write, and a retried ingest double-merged the increment
    // into any artifact that survived. Now each advance writes to
    // <path>__advance, verifies, swaps, and stamps the increment path —
    // a RETRIED ingest must leave the profile exactly as the first run
    // did (the appends double, documented; the profile must not).
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-run-retry").toFile
      .getAbsolutePath
    val prior = Seq((1L, clean("alpha"), "web"), (2L, clean("beta"), "web"))
      .toDF("id", "body", "src")
    val inc = Seq((11L, clean("gamma"), "books")).toDF("id", "body", "src")
    val bench = Seq((100L, words("bench", 20).mkString(" ")))
      .toDF("id", "body")
    prior.write.parquet(s"$dir/prior")
    inc.write.parquet(s"$dir/inc")
    bench.write.parquet(s"$dir/bench")
    def spec(json: String) = Run.parseSpec(json)
    Run.execute(s, spec(
      s"""{"corpus": "$dir/prior", "benchmark": "$dir/bench",
         | "out": "$dir/build", "id": "id", "text": "body",
         | "cap": 16, "formatter": "plain", "chunksPerPart": 2,
         | "profileSource": "src"}""".stripMargin))
    val ingestJson =
      s"""{"mode": "ingest", "increment": "$dir/inc",
         | "benchmark": "$dir/bench", "out": "$dir/build",
         | "id": "id", "text": "body",
         | "cap": 16, "formatter": "plain", "chunksPerPart": 2,
         | "profileSource": "src"}""".stripMargin
    val m = new ObjectMapper()
    val first = m.readTree(Run.execute(s, spec(ingestJson)))

    // the swapped-in artifacts carry the increment stamp; no staging
    // directory lingers after the swap
    val statsDir = new java.io.File(s"$dir/build/stats")
    for (a <- Seq("token_sketch", "len_quantiles", "distinct_content",
        "source_distinct", "source_len")) {
      assert(Files.exists(
        java.nio.file.Paths.get(s"$dir/build/stats/$a/_advanced_from")),
        s"$a must carry the increment stamp after the swap")
      assert(Files.readString(
        java.nio.file.Paths.get(s"$dir/build/stats/$a/_advanced_from"))
        == s"$dir/inc", s"$a stamp must name the increment path")
    }
    assert(!statsDir.listFiles().exists(_.getName.endsWith("__advance")),
      "no staging directory may survive a successful swap")

    // RETRY of the same increment: every profile artifact's bytes stay
    // IDENTICAL (stamped skip — no double-merge), and the summary's
    // profile object matches the first run's
    def profileBytes(): Map[String, Seq[String]] =
      Seq("token_sketch", "len_quantiles", "distinct_content",
        "source_distinct", "source_len").map { a =>
        a -> s.read.parquet(s"$dir/build/stats/$a")
          .collect().map(_.toSeq.map {
            case b: Array[Byte] =>
              java.util.Base64.getEncoder.encodeToString(b)
            case x => String.valueOf(x)
          }.mkString("|")).sorted.toSeq
      }.toMap
    val bytesAfterFirst = profileBytes()
    val retry = m.readTree(Run.execute(s, spec(ingestJson)))
    assert(profileBytes() == bytesAfterFirst,
      "a retried ingest must not double-merge the profile")
    assert(retry.get("profile") == first.get("profile"),
      s"retry profile diverged: ${retry.get("profile")} vs " +
        s"${first.get("profile")}")
    // (the append artifacts DO double on a blind retry — documented in
    // executeIngest's scaladoc; the grown manifest proves the test
    // really re-ran the ingest rather than short-circuiting)
    assert(s.read.parquet(s"$dir/build/manifest")
      .filter(col("doc_id") === 11L).count() > 1L,
      "retry must have appended (the profile skip is the only idempotent leg)")
  }

  test("Run maintains the ANN artifacts: build trains + baselines, ingest appends + gates drift") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-run-ann").toFile
      .getAbsolutePath
    def cluster(base: Array[Float], ids: Range, wiggle: Float) =
      ids.map { i =>
        (i.toLong, Array.tabulate(3)(j =>
          base(j) + (if (j == (i % 3)) wiggle * (1 + i % 3) else 0f)))
      }
    val corpus = Seq((1L, clean("alpha")), (2L, clean("beta")))
      .toDF("id", "body")
    val inc = Seq((11L, clean("gamma"))).toDF("id", "body")
    val bench = Seq((100L, words("bench", 20).mkString(" ")))
      .toDF("id", "body")
    corpus.write.parquet(s"$dir/corpus")
    inc.write.parquet(s"$dir/inc")
    bench.write.parquet(s"$dir/bench")
    (cluster(Array(1f, 0f, 0f), 0 until 20, 0.05f) ++
      cluster(Array(0f, 1f, 0f), 20 until 40, 0.05f))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/vecs")
    cluster(Array(1f, 0f, 0f), 100 until 110, 0.05f)
      .toDF("vec_id", "embedding").write.parquet(s"$dir/vecsInc")
    cluster(Array(0f, 0f, 1f), 200 until 210, 0.05f)
      .toDF("vec_id", "embedding").write.parquet(s"$dir/vecsDrift")

    val annCfg = """"vectors": "%s", "nlist": 2,
                   | "pq": true, "pqM": 3, "pqKsub": 4""".stripMargin
    Run.execute(s, Run.parseSpec(
      s"""{"corpus": "$dir/corpus", "benchmark": "$dir/bench",
         | "out": "$dir/build", "id": "id", "text": "body",
         | "cap": 16, "formatter": "plain", "chunksPerPart": 2,
         | ${annCfg.format(s"$dir/vecs")}}""".stripMargin))
    assert(s.read.parquet(s"$dir/build/ann/quantizer").count() == 2)
    assert(s.read.parquet(s"$dir/build/ann/assignment").count() == 40)
    assert(s.read.parquet(s"$dir/build/ann/codebook").count() == 12) // m*ksub
    assert(s.read.parquet(s"$dir/build/ann/codes").count() == 40)
    val base = s.read.parquet(s"$dir/build/ann/baseline").head()
    assert(base.getAs[Long]("n_vecs") == 40L)
    val pqBase = s.read.parquet(s"$dir/build/ann/pq_baseline").head()

    def ingest(vecs: String, inc: String = "inc") =
      Run.execute(s, Run.parseSpec(
        s"""{"mode": "ingest", "increment": "$dir/$inc",
           | "benchmark": "$dir/bench", "out": "$dir/build",
           | "id": "id", "text": "body", "cap": 16,
           | "formatter": "plain", "chunksPerPart": 2,
           | ${annCfg.format(vecs)}}""".stripMargin))
    val m = new ObjectMapper()
    val okSummary = m.readTree(ingest(s"$dir/vecsInc"))
    val okDrift = okSummary.get("ann_drift")
    assert(okDrift != null && !okDrift.get("retrain").asBoolean,
      s"in-distribution vector ingest must not flag retrain: $okDrift")
    assert(!okSummary.get("pq_drift").get("retrain").asBoolean,
      s"in-distribution PQ ingest must not flag retrain: $okSummary")
    assert(s.read.parquet(s"$dir/build/ann/assignment").count() == 50,
      "assignment must grow by the increment")
    assert(s.read.parquet(s"$dir/build/ann/codes").count() == 50,
      "codes must grow by the increment")
    // a drifted vector batch trips the gate but the append still lands
    // (the warning is the cue; the freeze decision is the operator's)
    inc.select(col("id") + 100, col("body")).toDF("id", "body")
      .write.parquet(s"$dir/inc2")
    val badSummary = m.readTree(ingest(s"$dir/vecsDrift", "inc2"))
    val badDrift = badSummary.get("ann_drift")
    assert(badDrift.get("retrain").asBoolean &&
      badDrift.get("mean_qerr").asDouble > 0.5,
      s"orthogonal vector ingest must flag retrain: $badDrift")
    assert(badSummary.get("pq_drift").get("retrain").asBoolean,
      s"orthogonal PQ ingest must flag retrain: $badSummary")
    assert(s.read.parquet(s"$dir/build/ann/assignment").count() == 60)
    // baselines are never silently moved by an ingest
    assert(s.read.parquet(s"$dir/build/ann/baseline").head() == base)
    assert(s.read.parquet(s"$dir/build/ann/pq_baseline").head() == pqBase)

    // mode=compact: the append-mode artifacts (two ingests = 3
    // file-sets each) collapse to size-targeted files,
    // content-identical, and the build keeps working afterwards
    def rowsOf(t: String) = s.read.parquet(s"$dir/build/$t")
      .collect().map(_.toString).sorted.toSeq
    def filesOf(t: String) = new java.io.File(s"$dir/build/$t")
      .listFiles().count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
    val targets = Seq("manifest", "index/hashes", "index/postings",
      "ann/assignment", "ann/codes")
    val beforeRows = targets.map(t => t -> rowsOf(t)).toMap
    val beforeFiles = targets.map(t => t -> filesOf(t)).toMap
    assert(beforeFiles("manifest") > 1, s"fixture: $beforeFiles")
    val compactSummary = Run.execute(s, Run.parseSpec(
      s"""{"mode": "compact", "out": "$dir/build"}"""))
    targets.foreach { t =>
      assert(rowsOf(t) == beforeRows(t), s"compact changed '$t' content")
      assert(filesOf(t) <= beforeFiles(t), s"compact grew '$t' files")
    }
    assert(filesOf("manifest") == 1,
      s"tiny manifest must compact to one file, got ${filesOf("manifest")}")
    val cj = m.readTree(compactSummary)
    assert(cj.get("compacted").size == targets.size, compactSummary)
    // the compacted build still ingests
    inc.select(col("id") + 200, col("body")).toDF("id", "body")
      .write.parquet(s"$dir/inc3")
    ingest(s"$dir/vecsInc", "inc3")
    assert(s.read.parquet(s"$dir/build/ann/assignment").count() == 70)
  }

  test("Run mode=audit: clean build+ingest audits ok; each planted corruption is flagged by its own check") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-run-audit").toFile
      .getAbsolutePath
    def cluster(base: Array[Float], ids: Range, wiggle: Float) =
      ids.map { i =>
        (i.toLong, Array.tabulate(3)(j =>
          base(j) + (if (j == (i % 3)) wiggle * (1 + i % 3) else 0f)))
      }
    val corpus = Seq((1L, clean("alpha")), (2L, clean("beta")))
      .toDF("id", "body")
    val inc = Seq((11L, clean("gamma"))).toDF("id", "body")
    val bench = Seq((100L, words("bench", 20).mkString(" ")))
      .toDF("id", "body")
    corpus.write.parquet(s"$dir/corpus")
    inc.write.parquet(s"$dir/inc")
    bench.write.parquet(s"$dir/bench")
    (cluster(Array(1f, 0f, 0f), 0 until 20, 0.05f) ++
      cluster(Array(0f, 1f, 0f), 20 until 40, 0.05f))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/vecs")
    cluster(Array(1f, 0f, 0f), 100 until 110, 0.05f)
      .toDF("vec_id", "embedding").write.parquet(s"$dir/vecsInc")

    val annCfg = """"vectors": "%s", "nlist": 2,
                   | "pq": true, "pqM": 3, "pqKsub": 4""".stripMargin
    Run.execute(s, Run.parseSpec(
      s"""{"corpus": "$dir/corpus", "benchmark": "$dir/bench",
         | "out": "$dir/build", "id": "id", "text": "body",
         | "cap": 16, "formatter": "plain", "chunksPerPart": 2,
         | ${annCfg.format(s"$dir/vecs")}}""".stripMargin))
    Run.execute(s, Run.parseSpec(
      s"""{"mode": "ingest", "increment": "$dir/inc",
         | "benchmark": "$dir/bench", "out": "$dir/build",
         | "id": "id", "text": "body", "cap": 16,
         | "formatter": "plain", "chunksPerPart": 2,
         | ${annCfg.format(s"$dir/vecsInc")}}""".stripMargin))

    val m = new ObjectMapper()
    // only `out` is required in an audit spec — the directory is judged
    // against ITS OWN stored fingerprint (chunksPerPart/nlist/pq here
    // all differ from the audit spec's defaults)
    def audit(out: String) =
      m.readTree(Run.execute(s, Run.parseSpec(
        s"""{"mode": "audit", "out": "$out"}""")))
    def failed(j: com.fasterxml.jackson.databind.JsonNode): Map[String, String] =
      (0 until j.get("checks").size).map(j.get("checks").get)
        .filter(!_.get("ok").asBoolean)
        .map(c => c.get("check").asText -> c.get("detail").asText).toMap

    // 1. the clean post-ingest directory audits ok, every family present
    val clean1 = audit(s"$dir/build")
    assert(clean1.get("ok").asBoolean, s"clean dir must audit ok: $clean1")
    val names = (0 until clean1.get("checks").size)
      .map(clean1.get("checks").get(_).get("check").asText).toSet
    Seq("staging_leftover", "stage_complete", "fingerprint",
      "manifest_unique", "hashes_count", "postings_docs", "postings_unique",
      "cluster_labels", "windows_tokens", "windows_chunks", "profile_stamps",
      "profile_readable", "ann_quantizer", "ann_assignment", "ann_baseline",
      "ann_codes", "ann_codebook").foreach(n =>
      assert(names.contains(n), s"missing check '$n' in $names"))
    // the returned summary is the written AUDIT.json, and the audit
    // wrote NOTHING else (read-only contract)
    assert(m.readTree(Files.readString(
      java.nio.file.Paths.get(s"$dir/build/AUDIT.json"))) == clean1)
    val mtimes = new java.io.File(s"$dir/build").listFiles()
      .filter(_.getName != "AUDIT.json")
      .map(f => f.getName -> f.lastModified()).toMap
    audit(s"$dir/build")
    new java.io.File(s"$dir/build").listFiles()
      .filter(_.getName != "AUDIT.json").foreach(f =>
        assert(f.lastModified() == mtimes(f.getName),
          s"audit touched '${f.getName}'"))

    // corruptions, each on its own COPY of the clean build
    def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      val st = java.nio.file.Files.walk(from)
      try st.iterator().asScala.foreach { p =>
        val t = to.resolve(from.relativize(p))
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
      } finally st.close()
    }
    def corrupt(name: String)(f: String => Unit): Map[String, String] = {
      val c = s"$dir/c_$name"
      copyTree(java.nio.file.Paths.get(s"$dir/build"),
        java.nio.file.Paths.get(c))
      f(c)
      val j = audit(c)
      assert(!j.get("ok").asBoolean, s"'$name' corruption must fail: $j")
      failed(j)
    }

    // 2. a blindly-retried ingest's double append → manifest_unique,
    // plus the two balances the duplicate row throws off (the hash
    // table count and the packed-token conservation law)
    val dup = corrupt("dup") { c =>
      s.read.parquet(s"$c/manifest").limit(1).write.mode("append")
        .parquet(s"$c/manifest")
    }
    assert(dup.keySet ==
      Set("manifest_unique", "hashes_count", "windows_tokens"), s"$dup")
    assert(dup("manifest_unique").contains("1 duplicated row"), s"$dup")

    // 3. an interrupted staged swap → staging_leftover names it
    val stray = corrupt("stray") { c =>
      Files.createDirectories(
        java.nio.file.Paths.get(s"$c/stats/len_quantiles__advance"))
    }
    assert(stray.keySet == Set("staging_leftover") &&
      stray("staging_leftover").contains("len_quantiles__advance"),
      s"$stray")

    // 4. a crashed write (missing _SUCCESS) → stage_complete names it
    val partial = corrupt("partial") { c =>
      assert(new java.io.File(s"$c/fates/_SUCCESS").delete())
    }
    assert(partial.keySet == Set("stage_complete") &&
      partial("stage_complete").contains("fates"), s"$partial")

    // 5. codes/assignment divergence (a half-landed ANN append) →
    // ann_codes, with the row counts in the detail
    val diverged = corrupt("codes") { c =>
      val keep = s.read.parquet(s"$c/ann/codes").limit(30)
        .localCheckpoint(true)
      keep.write.mode("overwrite").parquet(s"$c/ann/codes")
    }
    assert(diverged.keySet == Set("ann_codes") &&
      diverged("ann_codes").contains("30 code rows != 50"), s"$diverged")

    // 6. a foreign / pre-fingerprint dir → fingerprint flags the missing
    // provenance, and the shape-dependent checks report SKIPPED instead
    // of judging the (healthy) directory against the audit spec's
    // defaults (ADVICE r16) — so the failure set is EXACTLY the
    // fingerprint line
    val nofpJson = {
      val c = s"$dir/c_nofp"
      copyTree(java.nio.file.Paths.get(s"$dir/build"),
        java.nio.file.Paths.get(c))
      assert(new java.io.File(s"$c/_spec_fingerprint.json").delete())
      val j = audit(c)
      assert(!j.get("ok").asBoolean, s"nofp corruption must fail: $j")
      j
    }
    assert(failed(nofpJson).keySet == Set("fingerprint"), s"$nofpJson")
    val skipped = (0 until nofpJson.get("checks").size)
      .map(nofpJson.get("checks").get)
      .filter(c => c.has("skipped") && c.get("skipped").asBoolean)
      .map(_.get("check").asText).toSet
    assert(skipped == Set("windows_chunks", "ann_quantizer", "ann_codes",
      "ann_codebook"), s"skipped set: $skipped")

    // 7. uneven profile advance (stamp on one artifact only) →
    // profile_stamps
    val uneven = corrupt("stamps") { c =>
      assert(new java.io.File(
        s"$c/stats/len_quantiles/_advanced_from").delete())
    }
    assert(uneven.keySet == Set("profile_stamps") &&
      uneven("profile_stamps").contains("len_quantiles"), s"$uneven")
  }

  test("Run compact leaves every reader byte-identical and chunk-range pruning still prunes (VERDICT r15 #6)") {
    // compact rewrites the append-mode artifacts' FILES; nothing a
    // reader can observe may change. Pinned against an uncompacted COPY
    // of the same build: full and chunk-range window reads, the profile
    // sketch estimates, and — the strongest probe — a THIRD ingest run
    // on both directories producing identical manifests and window
    // totals (the increment's fates flow through the compacted hash
    // table and posting index). Plus the plan pin: a chunk-range read
    // of the store still prunes part directories after the compact.
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-run-compact").toFile
      .getAbsolutePath
    val prior = Seq((1L, clean("alpha"), "web"), (2L, clean("beta"), "web"),
      (3L, clean("gamma"), "web")).toDF("id", "body", "src")
    val inc1 = Seq((11L, clean("delta"), "books"),
      (12L, clean("alpha"), "books")) // exact dup of doc 1 via the index
      .toDF("id", "body", "src")
    val inc2 = Seq((21L, clean("epsil"), "web"),
      (22L, ("the" +: ((0 until 28).map(i => f"beta$i%02d") ++
        Seq("zz00", "zz01", "zz02")) :+ "and").mkString(" "), "forums"))
      .toDF("id", "body", "src") // 22 near-dups doc 2 via the postings
    val inc3 = Seq((31L, clean("zetaa"), "web"),
      (32L, clean("gamma"), "forums")) // exact dup of doc 3
      .toDF("id", "body", "src")
    val bench = Seq((100L, words("bench", 20).mkString(" ")))
      .toDF("id", "body")
    prior.write.parquet(s"$dir/prior")
    inc1.write.parquet(s"$dir/inc1"); inc2.write.parquet(s"$dir/inc2")
    inc3.write.parquet(s"$dir/inc3")
    bench.write.parquet(s"$dir/bench")
    def spec(out: String, json: String) = Run.parseSpec(json
      .replace("OUT", out))
    def buildJson = s"""{"corpus": "$dir/prior", "benchmark": "$dir/bench",
      | "out": "OUT", "id": "id", "text": "body",
      | "cap": 16, "formatter": "plain", "chunksPerPart": 2,
      | "profileSource": "src"}""".stripMargin
    def ingestJson(inc: String) =
      s"""{"mode": "ingest", "increment": "$dir/$inc",
         | "benchmark": "$dir/bench", "out": "OUT", "id": "id",
         | "text": "body", "cap": 16, "formatter": "plain",
         | "chunksPerPart": 2, "profileSource": "src"}""".stripMargin
    Run.execute(s, spec(s"$dir/build", buildJson))
    Run.execute(s, spec(s"$dir/build", ingestJson("inc1")))
    Run.execute(s, spec(s"$dir/build", ingestJson("inc2")))

    // uncompacted reference copy, then compact the original
    def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      val st = Files.walk(from)
      try st.iterator().asScala.foreach { p =>
        val t = to.resolve(from.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t)
      } finally st.close()
    }
    copyTree(java.nio.file.Paths.get(s"$dir/build"),
      java.nio.file.Paths.get(s"$dir/copy"))
    Run.execute(s, Run.parseSpec(s"""{"mode": "compact", "out": "$dir/build"}"""))
    assert(new java.io.File(s"$dir/build/manifest").listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")) == 1,
      "fixture: three file-sets must have compacted to one")

    // reader parity: full window read, chunk-range read, sketch estimates
    def windows(out: String, from: Option[Long], until: Option[Long]) =
      PipelineOps.readWindows(s, s"$out/windows", 2L, from, until)
        .orderBy("chunk").collect().map(_.toString).toSeq
    assert(windows(s"$dir/build", None, None) ==
      windows(s"$dir/copy", None, None), "full window read diverged")
    assert(windows(s"$dir/build", Some(2L), Some(5L)) ==
      windows(s"$dir/copy", Some(2L), Some(5L)),
      "chunk-range window read diverged")
    assert(windows(s"$dir/build", Some(2L), Some(5L)).nonEmpty,
      "fixture: the probed chunk range must be non-empty")
    import graft.operators.RelationalOps
    def est(out: String) = (
      RelationalOps.distinctSketchEstimate(
        s.read.parquet(s"$out/stats/source_distinct"), "grp")
        .collect().map(_.toString).sorted.toSeq,
      RelationalOps.quantileSketchEstimate(
        s.read.parquet(s"$out/stats/len_quantiles"), "grp", Seq(0.5, 0.95))
        .collect().map(_.toString).toSeq)
    assert(est(s"$dir/build") == est(s"$dir/copy"),
      "sketch estimates diverged after compact")

    // the strongest probe: the SAME third ingest on the compacted and
    // uncompacted dirs yields identical manifests (fates flow through
    // the compacted hash/posting indexes), window stores, and summaries
    val sumCompacted = Run.execute(s, spec(s"$dir/build", ingestJson("inc3")))
    val sumCopy = Run.execute(s, spec(s"$dir/copy", ingestJson("inc3")))
    val m = new ObjectMapper()
    assert(m.readTree(sumCompacted).get("increment_fates") ==
      m.readTree(sumCopy).get("increment_fates") &&
      m.readTree(sumCompacted).get("profile") ==
        m.readTree(sumCopy).get("profile"),
      s"post-compact ingest diverged:\n$sumCompacted\nvs\n$sumCopy")
    def manifestRows(out: String) = s.read.parquet(s"$out/manifest")
      .collect().map(_.toString).sorted.toSeq
    assert(manifestRows(s"$dir/build") == manifestRows(s"$dir/copy"),
      "manifests diverged after an ingest on the compacted dir")
    assert(manifestRows(s"$dir/build")
      .exists(_.contains("exact_dup")), "fixture: inc3 must plant a dup")
    assert(windows(s"$dir/build", None, None) ==
      windows(s"$dir/copy", None, None),
      "window stores diverged after the post-compact ingest")

    // plan pin: a chunk-range read of the compacted store prunes part
    // directories (the range filter sits in PartitionFilters, not a
    // post-scan row filter over every part)
    val plan = PipelineOps.readWindows(s, s"$dir/build/windows", 2L,
        fromChunk = Some(4L))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("part"),
      s"chunk-range read must prune on the part column:\n$plan")
  }

  test("Run standing cluster labels: build persists, ingests advance, two ingests == from-scratch re-cluster (VERDICT r16 #2)") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-run-labels").toFile
      .getAbsolutePath
    def nearDupOf(prefix: String, tail: String): String =
      ("the" +: (words(prefix, 28) ++ words(tail, 3)) :+ "and").mkString(" ")
    // prior corpus WITH a near-dup pair, so the build's label table is
    // non-empty from the start
    val prior = Seq((1L, clean("alpha")), (2L, clean("beta")),
      (3L, nearDupOf("beta", "zz"))).toDF("id", "body")
    // inc1: one doc joins the STANDING {2,3} cluster, one clean
    val inc1 = Seq((11L, nearDupOf("beta", "qq")), (12L, clean("delta")))
      .toDF("id", "body")
    // inc2: a new-only in-batch cluster, plus a doc joining the (now
    // 3-member) standing cluster through the PREVIOUS increment's member
    val inc2 = Seq((21L, clean("eta")), (22L, nearDupOf("eta", "yy")),
      (23L, nearDupOf("beta", "qx"))).toDF("id", "body")
    val bench = Seq((100L, words("bench", 20).mkString(" ")))
      .toDF("id", "body")
    prior.write.parquet(s"$dir/prior")
    inc1.write.parquet(s"$dir/inc1"); inc2.write.parquet(s"$dir/inc2")
    bench.write.parquet(s"$dir/bench")
    def json(mode: String, extra: String) =
      s"""{$extra "benchmark": "$dir/bench", "out": "$dir/build",
         | "id": "id", "text": "body", "cap": 16,
         | "formatter": "plain", "chunksPerPart": 2, "mode": "$mode"}"""
        .stripMargin
    Run.execute(s, Run.parseSpec(json("build",
      s""""corpus": "$dir/prior",""")))
    def labels() = s.read.parquet(s"$dir/build/index/cluster_labels")
      .collect().map(_.toString).sorted.toSeq
    def scratch(c: org.apache.spark.sql.DataFrame) =
      graft.operators.DedupOps.connectedComponents(
        graft.operators.DedupOps.ngramJaccardPairs(
          c.select(col("id").as("doc_id"), col("body").as("text")),
          "doc_id", "text", 0.1), "da", "db")
        .collect().map(_.toString).sorted.toSeq
    // build: persisted labels == from-scratch CC, and the near_dup fate
    // agrees with them bit-for-bit (doc 3 dropped, rep 2 kept)
    assert(labels() == scratch(prior), "build labels != from-scratch")
    val fates0 = s.read.parquet(s"$dir/build/fates")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fates0(2L) == "kept" && fates0(3L) == "near_dup", s"$fates0")

    Run.execute(s, Run.parseSpec(json("ingest",
      s""""increment": "$dir/inc1",""")))
    assert(labels() == scratch(prior.unionByName(inc1)),
      "labels after ingest 1 != from-scratch over the union")
    Run.execute(s, Run.parseSpec(json("ingest",
      s""""increment": "$dir/inc2",""")))
    assert(labels() == scratch(
      prior.unionByName(inc1).unionByName(inc2)),
      "labels after ingest 2 != from-scratch over the union")
    // frozen-prior fates landed off the SAME contracted runs: joiners of
    // the standing cluster drop, the new-only cluster keeps its rep
    val m = s.read.parquet(s"$dir/build/manifest")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(11L) == "near_dup" && m(12L) == "kept" &&
      m(21L) == "kept" && m(22L) == "near_dup" && m(23L) == "near_dup",
      s"ingest fates diverged: $m")
    // the post-ingest directory audits clean (cluster_labels balance +
    // the shared advance stamp included)
    val audit = new ObjectMapper().readTree(Run.execute(s,
      Run.parseSpec(s"""{"mode": "audit", "out": "$dir/build"}""")))
    assert(audit.get("ok").asBoolean, s"audit failed: $audit")
    // a stats refresh AFTER ingests must carry the advance stamp onto
    // the rebuilt artifacts — otherwise the wiped stats stamps diverge
    // from the label table's and the coherence check flags a healthy
    // directory (found by the r17 sf0.1 lifecycle drive)
    prior.unionByName(inc1).unionByName(inc2)
      .write.parquet(s"$dir/whole")
    Run.execute(s, Run.parseSpec(json("stats",
      s""""corpus": "$dir/whole",""")))
    val audit2 = new ObjectMapper().readTree(Run.execute(s,
      Run.parseSpec(s"""{"mode": "audit", "out": "$dir/build"}""")))
    assert(audit2.get("ok").asBoolean,
      s"audit failed after a stats refresh: $audit2")
    // planted corruption: an orphan label row -> the cluster_labels
    // check flags it
    Seq((999L, 999L)).toDF("doc_id", "cluster_rep")
      .write.mode("append").parquet(s"$dir/build/index/cluster_labels")
    val bad = new ObjectMapper().readTree(Run.execute(s,
      Run.parseSpec(s"""{"mode": "audit", "out": "$dir/build"}""")))
    assert(!bad.get("ok").asBoolean)
    val failedChecks = (0 until bad.get("checks").size)
      .map(bad.get("checks").get)
      .filter(!_.get("ok").asBoolean)
      .map(_.get("check").asText).toSet
    assert(failedChecks == Set("cluster_labels"), s"$failedChecks")
  }

  test("Run df-cap tier guard: a 50k-crossing ingest flags until mode=recluster re-baselines == from-scratch (VERDICT r16 #3)") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-run-tier").toFile
      .getAbsolutePath
    def nearDupOf(prefix: String, tail: String): String =
      ("the" +: (words(prefix, 28) ++ words(tail, 3)) :+ "and").mkString(" ")
    // a REAL crossing: 49,702 prior docs (cap clamps at 100) + a 900-doc
    // increment -> 50,602 union (cap floor(101.2) = 101). Filler docs are
    // 4 unique tokens each so the pair index stays trivial; the planted
    // beta cluster is what the label artifact must keep exact across the
    // crossing and the recluster.
    val prior = ((0 until 49700).map(i =>
      (i.toLong, s"w${i}a w${i}b w${i}c w${i}d")) ++
      Seq((60001L, clean("beta")), (60002L, nearDupOf("beta", "zz"))))
      .toDF("id", "body")
    val inc = ((0 until 899).map(i =>
      (70000L + i, s"x${i}a x${i}b x${i}c x${i}d")) ++
      Seq((79000L, nearDupOf("beta", "qq")))).toDF("id", "body")
    val inc2 = Seq((80001L, clean("theta")), (80002L, clean("iota")))
      .toDF("id", "body")
    val inc3 = Seq((80011L, clean("kappa")), (80012L, clean("mu")))
      .toDF("id", "body")
    val bench = Seq((100L, words("bench", 20).mkString(" ")))
      .toDF("id", "body")
    prior.write.parquet(s"$dir/prior")
    inc.write.parquet(s"$dir/inc"); inc2.write.parquet(s"$dir/inc2")
    inc3.write.parquet(s"$dir/inc3")
    bench.write.parquet(s"$dir/bench")
    val m = new ObjectMapper()
    def run(json: String) = m.readTree(Run.execute(s, Run.parseSpec(json)))
    def base(mode: String, extra: String) =
      s"""{$extra "benchmark": "$dir/bench", "out": "$dir/build",
         | "id": "id", "text": "body", "cap": 64,
         | "formatter": "plain", "mode": "$mode"}""".stripMargin
    run(base("build", s""""corpus": "$dir/prior","""))
    // the build recorded its cap baseline
    val cap0 = m.readTree(Files.readString(
      java.nio.file.Paths.get(s"$dir/build/index/_df_cap.json")))
    assert(cap0.get("docs").asLong == 49702L &&
      cap0.get("cap").asLong == 100L, s"$cap0")

    // the crossing ingest flags (summary + the baseline stays put)
    val s1 = run(base("ingest", s""""increment": "$dir/inc","""))
    val g1 = s1.get("df_cap")
    assert(g1.get("crossed").asBoolean &&
      g1.get("base_cap").asLong == 100L &&
      g1.get("union_cap").asLong == 101L &&
      g1.get("union_docs").asLong == 50602L, s"$g1")
    // a LATER ingest still flags — the degradation persists until the
    // recovery runs, it is not a one-shot warning
    val s2 = run(base("ingest", s""""increment": "$dir/inc2","""))
    assert(s2.get("df_cap").get("crossed").asBoolean, s"${s2.get("df_cap")}")

    // recovery: recluster re-derives the labels from the posting index
    // under the CURRENT cap and re-baselines the guard
    val rc = run(base("recluster", ""))
    assert(rc.get("docs").asLong == 50604L && rc.get("cap").asLong == 101L,
      s"$rc")
    val scratch = graft.operators.DedupOps.connectedComponents(
      graft.operators.DedupOps.ngramJaccardPairs(
        prior.unionByName(inc).unionByName(inc2)
          .select(col("id").as("doc_id"), col("body").as("text")),
        "doc_id", "text", 0.1), "da", "db")
      .collect().map(_.toString).sorted.toSeq
    assert(s.read.parquet(s"$dir/build/index/cluster_labels")
      .collect().map(_.toString).sorted.toSeq == scratch,
      "reclustered labels != from-scratch under the union cap")
    // the guard is quiet again, and the post-recluster directory audits
    // clean (stamp carried onto the rebuilt table)
    val s3 = run(base("ingest", s""""increment": "$dir/inc3","""))
    assert(!s3.get("df_cap").get("crossed").asBoolean,
      s"${s3.get("df_cap")}")
    val audit = run(s"""{"mode": "audit", "out": "$dir/build"}""")
    assert(audit.get("ok").asBoolean, s"$audit")
  }

  test("Run mode=repair: planted corruption -> audit flags -> repair -> audit clean, content == pre-crash (VERDICT r16 #4)") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-run-repair").toFile
      .getAbsolutePath
    def cluster(base: Array[Float], ids: Range, wiggle: Float) =
      ids.map { i =>
        (i.toLong, Array.tabulate(3)(j =>
          base(j) + (if (j == (i % 3)) wiggle * (1 + i % 3) else 0f)))
      }
    val corpus = Seq((1L, clean("alpha")), (2L, clean("beta")))
      .toDF("id", "body")
    val inc = Seq((11L, clean("gamma"))).toDF("id", "body")
    val bench = Seq((100L, words("bench", 20).mkString(" ")))
      .toDF("id", "body")
    corpus.write.parquet(s"$dir/corpus")
    inc.write.parquet(s"$dir/inc")
    bench.write.parquet(s"$dir/bench")
    (cluster(Array(1f, 0f, 0f), 0 until 20, 0.05f) ++
      cluster(Array(0f, 1f, 0f), 20 until 40, 0.05f))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/vecs")
    cluster(Array(1f, 0f, 0f), 100 until 110, 0.05f)
      .toDF("vec_id", "embedding").write.parquet(s"$dir/vecsInc")
    val m = new ObjectMapper()
    def exec(json: String) = m.readTree(Run.execute(s, Run.parseSpec(json)))
    exec(s"""{"corpus": "$dir/corpus", "benchmark": "$dir/bench",
      | "out": "$dir/build", "id": "id", "text": "body", "cap": 16,
      | "formatter": "plain", "chunksPerPart": 2,
      | "vectors": "$dir/vecs", "nlist": 2}""".stripMargin)
    exec(s"""{"mode": "ingest", "increment": "$dir/inc",
      | "benchmark": "$dir/bench", "out": "$dir/build", "id": "id",
      | "text": "body", "cap": 16, "formatter": "plain",
      | "chunksPerPart": 2, "vectors": "$dir/vecsInc",
      | "nlist": 2}""".stripMargin)
    def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      val st = java.nio.file.Files.walk(from)
      try st.iterator().asScala.foreach { p =>
        val t = to.resolve(from.relativize(p))
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
      } finally st.close()
    }
    def snap(c: String, art: String): Seq[String] =
      s.read.parquet(s"$c/$art").collect().map(_.toString).sorted.toSeq
    def auditOk(c: String): Boolean =
      exec(s"""{"mode": "audit", "out": "$c"}""").get("ok").asBoolean
    def repair(c: String) = exec(s"""{"mode": "repair", "out": "$c"}""")

    // 0. a clean directory repairs to ZERO actions and stays clean
    assert(auditOk(s"$dir/build"))
    val r0 = repair(s"$dir/build")
    assert(r0.get("n_actions").asInt == 0 && r0.get("manual").size == 0,
      s"$r0")
    assert(auditOk(s"$dir/build"), "repair dirtied a clean dir")

    def planted(name: String)(corrupt: String => Unit)(
        expectAction: String): String = {
      val c = s"$dir/r_$name"
      copyTree(java.nio.file.Paths.get(s"$dir/build"),
        java.nio.file.Paths.get(c))
      corrupt(c)
      assert(!auditOk(c), s"'$name' corruption must fail the audit")
      val r = repair(c)
      val acts = (0 until r.get("actions").size).map(r.get("actions").get)
        .map(_.get("action").asText)
      assert(acts.contains(expectAction), s"'$name': $r")
      assert(auditOk(c), s"'$name' not clean after repair")
      c
    }

    // 1. double-appended manifest rows (one identical, one with the
    // second-append's shifted rank) -> deduped, first-append rows kept
    val preManifest = snap(s"$dir/build", "manifest")
    val c1 = planted("dup") { c =>
      val t = s.read.parquet(s"$c/manifest").localCheckpoint(true)
      t.limit(1).write.mode("append").parquet(s"$c/manifest")
      t.filter(col("rank").isNotNull).limit(1)
        .withColumn("rank", col("rank") + lit(100L))
        .write.mode("append").parquet(s"$c/manifest")
    }("deduped_manifest")
    assert(snap(c1, "manifest") == preManifest,
      "repaired manifest != pre-crash rows")

    // 2. crash between delete and move of a staged profile advance ->
    // the swap completes, estimates equal pre-crash
    val preLq = graft.operators.RelationalOps.quantileSketchEstimate(
      s.read.parquet(s"$dir/build/stats/len_quantiles"), "grp", Seq(0.5))
      .collect().map(_.toString).toSeq
    val c2 = planted("swapgap") { c =>
      java.nio.file.Files.move(
        java.nio.file.Paths.get(s"$c/stats/len_quantiles"),
        java.nio.file.Paths.get(s"$c/stats/len_quantiles__advance"))
    }("completed_swap")
    assert(graft.operators.RelationalOps.quantileSketchEstimate(
      s.read.parquet(s"$c2/stats/len_quantiles"), "grp", Seq(0.5))
      .collect().map(_.toString).toSeq == preLq,
      "completed swap changed the sketch")

    // 3. superseded staging beside an intact original -> rolled back
    val c3 = planted("stale") { c =>
      copyTree(java.nio.file.Paths.get(s"$c/stats/len_quantiles"),
        java.nio.file.Paths.get(s"$c/stats/len_quantiles__advance"))
    }("rolled_back_swap")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"$c3/stats/len_quantiles__advance")))

    // 4. a partial (no _SUCCESS) write -> quarantined, data preserved
    val c4 = planted("partial") { c =>
      assert(new java.io.File(s"$c/fates/_SUCCESS").delete())
    }("quarantined_partial")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$c4/fates")) &&
      java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(s"$c4/_quarantine/fates")),
      "partial dir not quarantined with data preserved")

    // 5. a double-appended ANN assignment (row-identical retry) ->
    // deduped back to exactly the pre-crash relation
    val preAssign = snap(s"$dir/build", "ann/assignment")
    val c5 = planted("annDup") { c =>
      s.read.parquet(s"$c/ann/assignment").localCheckpoint(true)
        .write.mode("append").parquet(s"$c/ann/assignment")
    }("deduped_ann")
    assert(snap(c5, "ann/assignment") == preAssign,
      "repaired assignment != pre-crash rows")

    // 6. a double-appended posting index (df-inflating, r17's
    // postings_unique check) -> deduped back to the pre-crash relation
    val prePost = snap(s"$dir/build", "index/postings")
    val c6 = planted("postDup") { c =>
      s.read.parquet(s"$c/index/postings").localCheckpoint(true)
        .write.mode("append").parquet(s"$c/index/postings")
    }("deduped_postings")
    assert(snap(c6, "index/postings") == prePost,
      "repaired postings != pre-crash rows")

    // repair is idempotent: a second pass on every repaired copy is a
    // no-op
    Seq(c1, c2, c3, c4, c5, c6).foreach { c =>
      val again = repair(c)
      assert(again.get("n_actions").asInt == 0, s"second repair acted: $again")
    }
  }

  test("Run mode=retrain closes the drift loop: trip -> retrain -> re-ingest no longer trips, rebuilt == from-scratch") {
    // VERDICT r15 #2: the drift gates DETECT invalidation; this is the
    // scheduled RECOVERY. Train on two clusters, trip the gate with an
    // orthogonal third, retrain on the current corpus (now including
    // the drifted vectors), and the SAME increment re-ingested scores
    // in-distribution. The rebuilt index must equal a from-scratch
    // build's bit-for-bit (the library's determinism), including what a
    // search over it returns.
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-run-retrain").toFile
      .getAbsolutePath
    // per-dim jitter with 11 distinct values — a ksub=4 codebook cannot
    // reconstruct exactly, so the PQ baselines stay measurably nonzero
    // (an exactly-zero baseline trips on ANY positive distortion by the
    // documented zero-baseline rule, which is not what this test pins)
    def cluster(base: Array[Float], ids: Range, wiggle: Float) =
      ids.map { i =>
        (i.toLong, Array.tabulate(3)(j =>
          base(j) + wiggle * (((i * 7 + j * 3) % 11) - 5) / 5f))
      }
    val corpus = Seq((1L, clean("alpha")), (2L, clean("beta")))
      .toDF("id", "body")
    val inc = Seq((11L, clean("gamma"))).toDF("id", "body")
    val bench = Seq((100L, words("bench", 20).mkString(" ")))
      .toDF("id", "body")
    corpus.write.parquet(s"$dir/corpus")
    inc.write.parquet(s"$dir/inc")
    bench.write.parquet(s"$dir/bench")
    val vecsBuild = cluster(Array(1f, 0f, 0f), 0 until 20, 0.25f) ++
      cluster(Array(0f, 1f, 0f), 20 until 40, 0.25f)
    val vecsDrift = cluster(Array(0f, 0f, 1f), 200 until 220, 0.25f)
    vecsBuild.toDF("vec_id", "embedding").write.parquet(s"$dir/vecs")
    vecsDrift.toDF("vec_id", "embedding").write.parquet(s"$dir/vecsDrift")
    (vecsBuild ++ vecsDrift).toDF("vec_id", "embedding")
      .write.parquet(s"$dir/vecsAll")

    // nlist=3: after the drifted cluster joins the corpus, a retrained
    // quantizer has a centroid to give it — the recovery is observable
    val annCfg = """"vectors": "%s", "nlist": 3,
                   | "pq": true, "pqM": 3, "pqKsub": 4""".stripMargin
    Run.execute(s, Run.parseSpec(
      s"""{"corpus": "$dir/corpus", "benchmark": "$dir/bench",
         | "out": "$dir/build", "id": "id", "text": "body",
         | "cap": 16, "formatter": "plain", "chunksPerPart": 2,
         | ${annCfg.format(s"$dir/vecs")}}""".stripMargin))
    val m = new ObjectMapper()
    def ingest(vecs: String, inc: String) = m.readTree(Run.execute(s,
      Run.parseSpec(
        s"""{"mode": "ingest", "increment": "$dir/$inc",
           | "benchmark": "$dir/bench", "out": "$dir/build",
           | "id": "id", "text": "body", "cap": 16,
           | "formatter": "plain", "chunksPerPart": 2,
           | ${annCfg.format(vecs)}}""".stripMargin)))

    // 1. the drifted increment TRIPS both gates
    val tripped = ingest(s"$dir/vecsDrift", "inc")
    assert(tripped.get("ann_drift").get("retrain").asBoolean &&
      tripped.get("pq_drift").get("retrain").asBoolean,
      s"fixture: the orthogonal increment must trip both gates: $tripped")

    // 2. retrain on the CURRENT vector corpus (build ∪ increment)
    val retrainJson = m.readTree(Run.execute(s, Run.parseSpec(
      s"""{"mode": "retrain", "benchmark": "$dir/bench",
         | "out": "$dir/build", "id": "id", "text": "body",
         | "cap": 16, "formatter": "plain", "chunksPerPart": 2,
         | ${annCfg.format(s"$dir/vecsAll")}}""".stripMargin)))
    assert(retrainJson.get("n_vecs").asLong == 60L, s"$retrainJson")
    assert(Files.exists(
      java.nio.file.Paths.get(s"$dir/build/RETRAIN.json")))
    assert(!new java.io.File(s"$dir/build").listFiles()
      .exists(_.getName == "ann__retrain"),
      "no staging directory may survive a successful retrain swap")
    assert(s.read.parquet(s"$dir/build/ann/assignment").count() == 60,
      "retrain re-assigns the whole current corpus")

    // 3. rebuilt ≡ from-scratch (checked BEFORE the re-ingest appends
    // the increment's assignment rows a second time): a fresh build
    // over the SAME current
    // corpus produces bit-identical ANN artifacts, and a search through
    // both returns identical rows
    Run.execute(s, Run.parseSpec(
      s"""{"corpus": "$dir/corpus", "benchmark": "$dir/bench",
         | "out": "$dir/scratch", "id": "id", "text": "body",
         | "cap": 16, "formatter": "plain", "chunksPerPart": 2,
         | ${annCfg.format(s"$dir/vecsAll")}}""".stripMargin))
    def annRows(out: String, t: String): Seq[String] =
      s.read.parquet(s"$out/ann/$t").collect().map(_.toSeq.map {
        case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
        case x => String.valueOf(x)
      }.mkString("|")).sorted.toSeq
    for (t <- Seq("quantizer", "assignment", "baseline", "codebook",
        "codes", "pq_baseline"))
      assert(annRows(s"$dir/build", t) == annRows(s"$dir/scratch", t),
        s"retrained '$t' must equal the from-scratch build's")
    val queries = cluster(Array(0f, 0f, 1f), 900 until 903, 0.2f)
      .toDF("vec_id", "embedding")
    val all = s.read.parquet(s"$dir/vecsAll")
    def searchVia(out: String): Seq[String] =
      graft.operators.SimilarityOps.ivfSearch(queries, all,
        "vec_id", "embedding", k = 3, nlist = 3, nprobe = 1,
        precomputedCentroids =
          Some(s.read.parquet(s"$out/ann/quantizer")))
        .collect().map(_.toString).sorted.toSeq
    assert(searchVia(s"$dir/build") == searchVia(s"$dir/scratch") &&
      searchVia(s"$dir/build").nonEmpty,
      "search through the retrained index must match the from-scratch build")

    // 4. the SAME increment re-ingested no longer trips either gate
    // (fresh doc ids so the text leg appends cleanly)
    inc.select(col("id") + 100, col("body")).toDF("id", "body")
      .write.parquet(s"$dir/inc2")
    val calm = ingest(s"$dir/vecsDrift", "inc2")
    assert(!calm.get("ann_drift").get("retrain").asBoolean,
      s"post-retrain re-ingest must score in-distribution: $calm")
    assert(!calm.get("pq_drift").get("retrain").asBoolean,
      s"post-retrain PQ re-ingest must score in-distribution: $calm")

    // 5. guardrails: retrain refuses a build with no ANN artifacts, and
    // a pq flag that disagrees with what the build carries
    val e1 = intercept[IllegalArgumentException](Run.execute(s,
      Run.parseSpec(
        s"""{"mode": "retrain", "benchmark": "$dir/bench",
           | "out": "$dir/nosuch", "id": "id", "text": "body",
           | "cap": 16, "formatter": "plain", "chunksPerPart": 2,
           | ${annCfg.format(s"$dir/vecsAll")}}""".stripMargin)))
    assert(e1.getMessage.contains("no trained quantizer"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](Run.execute(s,
      Run.parseSpec(
        s"""{"mode": "retrain", "benchmark": "$dir/bench",
           | "out": "$dir/build", "id": "id", "text": "body",
           | "cap": 16, "formatter": "plain", "chunksPerPart": 2,
           | "vectors": "$dir/vecsAll", "nlist": 3}""".stripMargin)))
    assert(e2.getMessage.contains("shape") ||
      e2.getMessage.contains("codebook"), e2.getMessage)
  }

  test("Run fault injection (ingest): crash at every seam -> audit flags -> repair rolls back -> retried ingest == uninterrupted (VERDICT r17 #4)") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-run-fault").toFile
      .getAbsolutePath
    def nearDupOf(prefix: String, tail: String): String =
      ("the" +: (words(prefix, 28) ++ words(tail, 3)) :+ "and").mkString(" ")
    def cluster(base: Array[Float], ids: Range, wiggle: Float) =
      ids.map { i =>
        (i.toLong, Array.tabulate(3)(j =>
          base(j) + (if (j == (i % 3)) wiggle * (1 + i % 3) else 0f)))
      }
    // a corpus with a real near-dup cluster (the label advance must have
    // work to do), sources (per-source profile), and vectors (ann
    // appends) — so every journal-covered artifact actually mutates
    val corpus = Seq(
      (1L, clean("alpha"), "web"), (2L, clean("beta"), "web"),
      (3L, nearDupOf("beta", "zz"), "books"), (4L, clean("gamma"), "web"))
      .toDF("id", "body", "src")
    val inc = Seq(
      (11L, nearDupOf("beta", "qq"), "web"), // touches the beta cluster
      (12L, clean("delta"), "forums"))
      .toDF("id", "body", "src")
    val bench = Seq((100L, words("bench", 20).mkString(" ")))
      .toDF("id", "body")
    corpus.write.parquet(s"$dir/corpus")
    inc.write.parquet(s"$dir/inc")
    bench.write.parquet(s"$dir/bench")
    cluster(Array(1f, 0f, 0f), 0 until 20, 0.05f)
      .toDF("vec_id", "embedding").write.parquet(s"$dir/vecs")
    cluster(Array(1f, 0f, 0f), 100 until 110, 0.05f)
      .toDF("vec_id", "embedding").write.parquet(s"$dir/vecsInc")
    val m = new ObjectMapper()
    def exec(json: String) = m.readTree(Run.execute(s, Run.parseSpec(json)))
    def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      val st = java.nio.file.Files.walk(from)
      try st.iterator().asScala.foreach { p =>
        val t = to.resolve(from.relativize(p))
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
      } finally st.close()
    }
    exec(s"""{"corpus": "$dir/corpus", "benchmark": "$dir/bench",
      | "out": "$dir/base", "id": "id", "text": "body", "cap": 16,
      | "formatter": "plain", "chunksPerPart": 2,
      | "vectors": "$dir/vecs", "nlist": 2,
      | "profileSource": "src"}""".stripMargin)
    def ingestJson(out: String, failAt: String) =
      s"""{"mode": "ingest", "increment": "$dir/inc",
         | "benchmark": "$dir/bench", "out": "$out", "id": "id",
         | "text": "body", "cap": 16, "formatter": "plain",
         | "chunksPerPart": 2, "vectors": "$dir/vecsInc", "nlist": 2,
         | "profileSource": "src"${
        if (failAt.isEmpty) "" else s""", "failAt": "$failAt""""
      }}""".stripMargin
    // the golden run: the same ingest, uninterrupted
    copyTree(java.nio.file.Paths.get(s"$dir/base"),
      java.nio.file.Paths.get(s"$dir/golden"))
    exec(ingestJson(s"$dir/golden", ""))
    def rows(c: String, art: String): Seq[String] =
      s.read.parquet(s"$c/$art").collect().map(_.toString).sorted.toSeq
    def estimates(c: String): Seq[String] = {
      import graft.operators.RelationalOps
      RelationalOps.quantileSketchEstimate(
          s.read.parquet(s"$c/stats/len_quantiles"), "grp", Seq(0.5, 0.9))
        .collect().map(_.toString).sorted.toSeq ++
      RelationalOps.distinctSketchEstimate(
          s.read.parquet(s"$c/stats/distinct_content"), "grp")
        .collect().map(_.toString).sorted.toSeq ++
      RelationalOps.distinctSketchEstimate(
          s.read.parquet(s"$c/stats/source_distinct"), "grp")
        .collect().map(_.toString).sorted.toSeq
    }
    val arts = Seq("manifest", "index/hashes", "index/postings",
      "index/cluster_labels", "windows", "ann/assignment")
    val golden = arts.map(a => a -> rows(s"$dir/golden", a)).toMap
    val goldenEst = estimates(s"$dir/golden")
    def auditOk(c: String): Boolean =
      exec(s"""{"mode": "audit", "out": "$c"}""").get("ok").asBoolean

    // every seam of the ingest path, in execution order — including the
    // staged-swap interior seams of a profile advance and of the label
    // advance (after staging write / between delete and move)
    val seams = Seq(
      "ingest:after_journal",
      "ingest:after_manifest_append",
      "ingest:after_windows",
      "ingest:mid_index_append",
      "ingest:mid_profile_advance",
      "advance:staged:stats/len_quantiles",
      "advance:swap:stats/distinct_content",
      "advance:staged:stats/source_distinct",
      "ingest:before_label_advance",
      "advance:staged:index/cluster_labels",
      "advance:swap:index/cluster_labels",
      "ingest:after_ann_append",
      // ADVICE r18: the SUMMARY write now sits INSIDE the journal span
      // (SUMMARY lands, then the journal retracts) — a crash between
      // the two must roll back like any other seam, restoring the
      // pre-ingest SUMMARY from the journal's backup set
      "ingest:after_summary")
    seams.foreach { seam =>
      val c = s"$dir/f_${seam.replaceAll("[^a-zA-Z0-9]", "_")}"
      copyTree(java.nio.file.Paths.get(s"$dir/base"),
        java.nio.file.Paths.get(c))
      val e = intercept[Run.InjectedFault](
        Run.execute(s, Run.parseSpec(ingestJson(c, seam))))
      assert(e.getMessage.contains(seam), s"$seam: ${e.getMessage}")
      // the journal is pending -> the audit must flag the crash, and a
      // blind re-run (no repair) must REFUSE rather than double-append
      // over the partial state and destroy the rollback record
      assert(!auditOk(c), s"$seam: audit passed on a crashed ingest")
      val eRefuse = intercept[IllegalArgumentException](
        Run.execute(s, Run.parseSpec(ingestJson(c, ""))))
      assert(eRefuse.getMessage.contains("pending ingest journal"),
        s"$seam: ${eRefuse.getMessage}")
      val r = exec(s"""{"mode": "repair", "out": "$c"}""")
      val acts = (0 until r.get("actions").size).map(r.get("actions").get)
        .map(_.get("action").asText)
      assert(acts.contains("rolled_back_ingest"), s"$seam: $r")
      assert(auditOk(c), s"$seam: audit failed after repair")
      // rolled back == the pre-ingest directory, then the retried
      // ingest lands exactly the uninterrupted result
      arts.foreach(a => assert(rows(c, a) == rows(s"$dir/base", a),
        s"$seam: '$a' not restored to pre-ingest state"))
      // the SUMMARY is part of the rollback contract (ADVICE r18): a
      // repaired directory must carry the PRE-ingest summary, never the
      // crashed ingest's (the after_summary seam crashes with the new
      // one already on disk)
      def summaryOf(c: String): String =
        java.nio.file.Files.readString(
          java.nio.file.Paths.get(c, "SUMMARY.json"))
      assert(summaryOf(c) == summaryOf(s"$dir/base"),
        s"$seam: SUMMARY.json not restored to the pre-ingest summary")
      exec(ingestJson(c, ""))
      arts.foreach(a => assert(rows(c, a) == golden(a),
        s"$seam: retried ingest diverged from uninterrupted on '$a'"))
      // the ingest summary embeds its own out path — normalize it
      assert(summaryOf(c).replace(c, "OUT") ==
        summaryOf(s"$dir/golden").replace(s"$dir/golden", "OUT"),
        s"$seam: retried ingest's SUMMARY diverged from uninterrupted")
      assert(estimates(c) == goldenEst,
        s"$seam: retried profile estimates diverged")
      assert(auditOk(c), s"$seam: audit failed after the retried ingest")
    }
  }

  test("Run fault injection (recluster/retrain/compact/build): staged-swap seams crash -> repair resolves -> retried job completes (VERDICT r17 #4)") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-run-fault2").toFile
      .getAbsolutePath
    def nearDupOf(prefix: String, tail: String): String =
      ("the" +: (words(prefix, 28) ++ words(tail, 3)) :+ "and").mkString(" ")
    def cluster(base: Array[Float], ids: Range, wiggle: Float) =
      ids.map { i =>
        (i.toLong, Array.tabulate(3)(j =>
          base(j) + (if (j == (i % 3)) wiggle * (1 + i % 3) else 0f)))
      }
    val corpus = Seq(
      (1L, clean("alpha")), (2L, clean("beta")),
      (3L, nearDupOf("beta", "zz"))).toDF("id", "body")
    val bench = Seq((100L, words("bench", 20).mkString(" ")))
      .toDF("id", "body")
    corpus.write.parquet(s"$dir/corpus")
    bench.write.parquet(s"$dir/bench")
    cluster(Array(1f, 0f, 0f), 0 until 20, 0.05f)
      .toDF("vec_id", "embedding").write.parquet(s"$dir/vecs")
    val m = new ObjectMapper()
    def exec(json: String) = m.readTree(Run.execute(s, Run.parseSpec(json)))
    def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      val st = java.nio.file.Files.walk(from)
      try st.iterator().asScala.foreach { p =>
        val t = to.resolve(from.relativize(p))
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
      } finally st.close()
    }
    def base(mode: String, out: String, extra: String) =
      s"""{$extra "benchmark": "$dir/bench", "out": "$out",
         | "id": "id", "text": "body", "cap": 16, "formatter": "plain",
         | "chunksPerPart": 2, "mode": "$mode"}""".stripMargin
    exec(base("build", s"$dir/build",
      s""""corpus": "$dir/corpus", "vectors": "$dir/vecs", "nlist": 2,"""))
    def auditOk(c: String): Boolean =
      exec(s"""{"mode": "audit", "out": "$c"}""").get("ok").asBoolean
    def rows(c: String, art: String): Seq[String] =
      s.read.parquet(s"$c/$art").collect().map(_.toString).sorted.toSeq

    // driver: copy the build, crash the job at the seam, repair, retry,
    // then the target artifact matches the uninterrupted run's
    def drill(name: String, seam: String, jobJson: String => String,
        expectAction: String, art: String, auditFlags: Boolean = true)
        : Unit = {
      val c = s"$dir/g_$name"
      copyTree(java.nio.file.Paths.get(s"$dir/build"),
        java.nio.file.Paths.get(c))
      val g = s"$dir/g_${name}_golden"
      copyTree(java.nio.file.Paths.get(s"$dir/build"),
        java.nio.file.Paths.get(g))
      exec(jobJson(g)) // uninterrupted
      val e = intercept[Run.InjectedFault](
        Run.execute(s, Run.parseSpec(
          jobJson(c).dropRight(1) + s""", "failAt": "$seam"}""")))
      assert(e.getMessage.contains(seam), s"$name: ${e.getMessage}")
      if (auditFlags)
        assert(!auditOk(c), s"$name: audit passed on the crash state")
      val r = exec(s"""{"mode": "repair", "out": "$c"}""")
      val acts = (0 until r.get("actions").size).map(r.get("actions").get)
        .map(_.get("action").asText)
      if (expectAction.nonEmpty)
        assert(acts.contains(expectAction), s"$name: $r")
      assert(auditOk(c), s"$name: audit failed after repair")
      exec(jobJson(c)) // the retried job (idempotent over the repaired state)
      assert(rows(c, art) == rows(g, art),
        s"$name: retried job diverged from uninterrupted on '$art'")
      assert(auditOk(c), s"$name: audit failed after the retried job")
    }

    def reclusterJson(out: String) = base("recluster", out,
      """"nlist": 2,""")
    // staged: original intact -> repair rolls the staging back
    drill("rc_staged", "recluster:staged", reclusterJson,
      "rolled_back_swap", "index/cluster_labels")
    // swap gap: original deleted -> repair completes the swap and
    // re-baselines from the staging's _recluster_docs marker
    drill("rc_swap", "recluster:swap", reclusterJson,
      "completed_swap", "index/cluster_labels")
    // before_dfcap: the move landed, only the re-baseline is missing —
    // invisible to the audit (the stale baseline only over-fires the
    // tier guard, the safe direction); the retried job rewrites it
    drill("rc_dfcap", "recluster:before_dfcap", reclusterJson,
      "", "index/cluster_labels", auditFlags = false)

    def retrainJson(out: String) = base("retrain", out,
      s""""vectors": "$dir/vecs", "nlist": 2,""")
    drill("rt_staged", "retrain:staged", retrainJson,
      "rolled_back_swap", "ann/assignment")
    drill("rt_swap", "retrain:swap", retrainJson,
      "completed_swap", "ann/assignment")

    def compactJson(out: String) = base("compact", out, """"nlist": 2,""")
    drill("cp_staged", "compact:staged:manifest", compactJson,
      "rolled_back_swap", "manifest")
    drill("cp_swap", "compact:swap:manifest", compactJson,
      "completed_swap", "manifest")

    // build seam: crash between the df-cap baseline write and the label
    // write — the resume build (same spec, overwrite=false) redoes stage
    // 0 and rewrites BOTH, landing the golden build exactly
    val bj = base("build", s"$dir/g_build",
      s""""corpus": "$dir/corpus", "vectors": "$dir/vecs", "nlist": 2,""")
    val e = intercept[Run.InjectedFault](Run.execute(s, Run.parseSpec(
      bj.dropRight(1) + s""", "failAt": "build:after_dfcap"}""")))
    assert(e.getMessage.contains("build:after_dfcap"))
    assert(Files.exists(java.nio.file.Paths.get(
        s"$dir/g_build/index/_df_cap.json")) &&
      !Files.exists(java.nio.file.Paths.get(
        s"$dir/g_build/index/cluster_labels/_SUCCESS")),
      "the seam must land between the baseline and the labels")
    exec(bj) // resume
    assert(rows(s"$dir/g_build", "index/cluster_labels") ==
      rows(s"$dir/build", "index/cluster_labels"),
      "resumed build labels diverged")
    assert(auditOk(s"$dir/g_build"), "resumed build failed the audit")
  }

  test("Run build stage 0 refuses a from-corpus label rebuild on an already-ingested directory (ADVICE r17)") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-run-stale").toFile
      .getAbsolutePath
    val corpus = Seq((1L, clean("alpha")), (2L, clean("beta")))
      .toDF("id", "body")
    val inc = Seq((11L, clean("gamma"))).toDF("id", "body")
    val bench = Seq((100L, words("bench", 20).mkString(" ")))
      .toDF("id", "body")
    corpus.write.parquet(s"$dir/corpus")
    inc.write.parquet(s"$dir/inc")
    bench.write.parquet(s"$dir/bench")
    val m = new ObjectMapper()
    def exec(json: String) = m.readTree(Run.execute(s, Run.parseSpec(json)))
    def buildJson = s"""{"corpus": "$dir/corpus",
      | "benchmark": "$dir/bench", "out": "$dir/build", "id": "id",
      | "text": "body", "cap": 16, "formatter": "plain",
      | "chunksPerPart": 2}""".stripMargin
    exec(buildJson)
    exec(s"""{"mode": "ingest", "increment": "$dir/inc",
      | "benchmark": "$dir/bench", "out": "$dir/build", "id": "id",
      | "text": "body", "cap": 16, "formatter": "plain",
      | "chunksPerPart": 2}""".stripMargin)
    // simulate the pre-r17 upgrade path: the label artifact is missing
    // but the manifest already holds ingested docs — a resume build
    // would re-derive labels from the ORIGINAL corpus and silently omit
    // prior<->prior clusters among ingested docs
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      val st = java.nio.file.Files.walk(p)
      try st.iterator().asScala.toVector.reverseIterator
        .foreach(java.nio.file.Files.delete)
      finally st.close()
    }
    rmTree(java.nio.file.Paths.get(s"$dir/build/index/cluster_labels"))
    val e = intercept[IllegalArgumentException](
      Run.execute(s, Run.parseSpec(buildJson)))
    assert(e.getMessage.contains("recluster") &&
      e.getMessage.contains("taken ingests"), e.getMessage)
    // the recovery the refusal names actually works: recluster derives
    // from the posting index (covers ALL ingested docs) and the next
    // resume build is a no-op pass over completed stages
    exec(s"""{"mode": "recluster", "benchmark": "$dir/bench",
      | "out": "$dir/build", "id": "id", "text": "body", "cap": 16,
      | "formatter": "plain", "chunksPerPart": 2}""".stripMargin)
    val scratch = graft.operators.DedupOps.connectedComponents(
      graft.operators.DedupOps.ngramJaccardPairs(
        corpus.unionByName(inc)
          .select(col("id").as("doc_id"), col("body").as("text")),
        "doc_id", "text", 0.1), "da", "db")
      .collect().map(_.toString).sorted.toSeq
    assert(s.read.parquet(s"$dir/build/index/cluster_labels")
      .collect().map(_.toString).sorted.toSeq == scratch,
      "reclustered labels != from-scratch over the full ingested union")
  }
}
