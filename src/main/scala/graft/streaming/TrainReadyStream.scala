package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{DedupOps, PipelineOps, Pins}

/** Streaming ingest twin of the COMPOSED build
  * ([[graft.operators.PipelineOps.trainReadyIncremental]]) — the
  * packWindows pattern applied to the end-to-end pipeline (VERDICT r12
  * brief #4): per micro-batch, new documents are fated against the
  * STANDING corpus's persisted artifacts (content-hash table, shingle
  * posting index, manifest), the formatter/pack/rank stages run over
  * the increment with the pack cursor and epoch-rank block continued,
  * and the standing artifacts advance by exactly the increment.
  *
  * WHY foreachBatch, not a single streaming plan: the composed build's
  * near-dup stage runs connected components — a driver-side iteration
  * over a checkpointed edge list — which cannot live inside one
  * incremental streaming plan. Per-micro-batch batch semantics
  * (`foreachBatch`, Structured Streaming's escape hatch for exactly
  * this) gives batch ≡ stream parity BY CONSTRUCTION: feeding batches
  * B1, B2, … as micro-batches yields the same manifest as chaining
  * `trainReadyIncremental` over the same batch split (pinned in
  * graft.StreamingWindowSpec against the planted-fates fixture).
  *
  * State discipline: the cursor holds exactly the standing artifacts
  * `graft.Run` persists — manifest, hash table, posting index, near-dup
  * cluster-label table (as eagerly-checkpointed frames; the label table
  * advances per ingest by the same contracted upsert that fates the
  * batch — VERDICT r16 #2), the prior doc count (one long), and
  * the corpus PROFILE (r15: the three mergeable sketch artifacts —
  * token frequent-items bytes held driver-side at kilobyte size,
  * length-KLL and content-HLL as 1-row checkpointed frames). Every
  * ingest builds the successors, then releases the superseded blocks —
  * pinned storage is ∝ the artifacts' size, NEVER ∝ the number of
  * ingests (asserted in the spec). A production deployment writes the
  * same artifacts to tables (the README walkthrough) instead of
  * holding them as checkpoint blocks; the per-batch algebra —
  * `hashes ∪ md5(batch)`, [[DedupOps.ngramPostingsAppend]],
  * `manifest ∪ increment rows`, the profile bytes-merges — is
  * identical.
  */
final class TrainReadyCursor private (
    bench: DataFrame, id: String, text: String, cap: Double,
    epoch: String, formatter: String, startRateBp: Int, meanSpan: Int,
    fimRateBp: Int, minJaccard: Double, contamN: Int,
    profileSrc: Option[String],
    initManifest: DataFrame, initHashes: DataFrame,
    initPostings: DataFrame, initClusterLabels: DataFrame,
    initDocCount: Long, initClusteredDocs: Long,
    initTokenSketch: Array[Byte], initLenQuantiles: DataFrame,
    initDistinctContent: DataFrame,
    initSourceDistinct: Option[DataFrame],
    initSourceLen: Option[DataFrame],
    initCapTierCrossed: Boolean = false) {

  // Each standing artifact is a checkpointed frame pinned outside any
  // scope: the cursor owns it and releases it once its successor has
  // materialized (see [[graft.operators.Pins]]).
  private var manifestC = Pins.checkpoint(initManifest)
  private var hashesC = Pins.checkpoint(initHashes)
  private var postingsC = Pins.checkpoint(initPostings)
  private var labelsC = Pins.checkpoint(initClusterLabels)
  private var nPrior: Long = initDocCount
  // the df-cap tier guard's baseline (VERDICT r17 #2 — graft.Run's
  // `_df_cap.json`, in-cursor): the doc count the standing label table
  // was last FULLY derived under. Never advanced by an ingest — only a
  // re-cluster (close → mode=recluster → reopen, or a fresh apply())
  // re-baselines it.
  private val clusteredDocs: Long = initClusteredDocs
  // may start TRUE (ADVICE r18): overRun latches it when the directory
  // carries no `_df_cap.json` baseline — the guard cannot prove no tier
  // was crossed before the open, so the operator cue stays up instead
  // of being silently re-baselined to the current count.
  private var crossed: Boolean = initCapTierCrossed
  private var tokenSk: Array[Byte] = initTokenSketch
  private var lenQC = Pins.checkpoint(initLenQuantiles)
  private var distCC = Pins.checkpoint(initDistinctContent)
  private var srcDC = initSourceDistinct.map(Pins.checkpoint)
  private var srcLC = initSourceLen.map(Pins.checkpoint)

  /** The standing manifest (one row per doc ever ingested: fate +
    * formatted n_tok + chunk + rank) as of the last completed ingest. */
  def manifest: DataFrame = synchronized { manifestC }

  /** Docs in the standing corpus (the near-dup df cap's denominator). */
  def docCount: Long = synchronized { nPrior }

  /** The doc count the standing label table was last FULLY derived
    * under — the tier guard's baseline (graft.Run's `_df_cap.json`
    * docs field, in-cursor). */
  def clusteredDocCount: Long = clusteredDocs

  /** TRUE once any ingest has moved the corpus across a df-cap tier
    * relative to [[clusteredDocCount]] (VERDICT r17 #2): the standing
    * pair/label artifacts are then no longer exactly union-equivalent,
    * and every later ingest keeps the flag up (it is the operator's
    * cue, not a one-shot event). Recovery: stop the stream, re-derive
    * the labels under the current cap — `mode=recluster` when the
    * cursor mirrors a Run directory, then [[TrainReadyCursor.overRun]]
    * to reopen (StreamingWindowSpec pins reopen ≡ from-scratch labels);
    * or a fresh [[TrainReadyCursor.apply]] over the delivered corpus,
    * whose constructor re-clusters from scratch. */
  def capTierCrossed: Boolean = synchronized { crossed }

  /** The STANDING near-dup cluster-label table `(doc_id, cluster_rep)` —
    * `graft.Run`'s `index/cluster_labels` artifact, in-cursor (VERDICT
    * r16 #2): advanced per ingest by the supernode-contraction upsert
    * whose run also fates the batch, so after any number of ingests it
    * equals a from-scratch [[graft.operators.DedupOps.connectedComponents]]
    * over the union's pairs bit-for-bit (pinned in
    * graft.StreamingWindowSpec). */
  def clusterLabels: DataFrame = synchronized { labelsC }

  /** The standing token profile — serialized frequent-items bytes over
    * every token ever delivered (decode with
    * [[graft.functions.FreqItems.decode]], compare builds with
    * [[graft.operators.TextOps.tokenDivergenceSketch]]). */
  def tokenSketch: Array[Byte] = synchronized { tokenSk }

  /** The standing length profile — [[graft.operators.RelationalOps
    * .quantileSketch]] table (grp = "all") over per-doc token counts. */
  def lenQuantiles: DataFrame = synchronized { lenQC }

  /** The standing distinct-content profile —
    * [[graft.operators.RelationalOps.distinctSketch]] table
    * (grp = "all") over content hashes. */
  def distinctContent: DataFrame = synchronized { distCC }

  /** The standing PER-SOURCE distinct-content profile (grp = the
    * configured `profileSource` column's values) — `graft.Run`'s
    * `stats/source_distinct` dimension, in-cursor (VERDICT r15 #5).
    * None when the cursor was opened without a profileSource. */
  def sourceDistinct: Option[DataFrame] = synchronized { srcDC }

  /** The standing PER-SOURCE length profile — `stats/source_len`'s
    * twin: a per-source [[graft.operators.RelationalOps.quantileSketch]]
    * table over per-doc token counts. */
  def sourceLen: Option[DataFrame] = synchronized { srcLC }

  /** Ingest one batch: fate against the standing artifacts, continue
    * the pack cursor and rank block, advance the artifacts. Returns the
    * NEW standing manifest (prior rows frozen — manifest in ≡ manifest
    * out, so ingests chain). Empty batches are a no-op. */
  def ingest(batch: DataFrame): DataFrame = synchronized {
    // the checkpointed batch carries the source column only when the
    // per-source profile is configured; the pipeline stages below see
    // exactly (id, text) either way
    val b = Pins.checkpoint(batch
      .select((col(id) +: col(text) +: profileSrc.map(col).toSeq): _*))
    val n = b.count()
    if (n == 0L) { Pins.release(b); return manifestC }
    // df-cap tier guard (VERDICT r17 #2 — graft.Run's executeIngest
    // guard, in-cursor): chained ≡ from-scratch for the standing label
    // table holds exactly while the corpus-relative df cap equals the
    // one the table was derived under. A long-lived cursor crossing
    // 50k/500k docs would otherwise degrade the artifact silently —
    // warn loudly, latch [[capTierCrossed]], keep ingesting (fates
    // still land under the standing artifacts, same as Run).
    val capBase = DedupOps.dfCapFor(clusteredDocs)
    val capUnion = DedupOps.dfCapFor(nPrior + n)
    if (capBase != capUnion) {
      crossed = true
      System.err.println("[cursor] WARNING: this ingest moves the " +
        s"corpus across a df-cap tier (cap $capBase at the last full " +
        s"cluster over $clusteredDocs docs -> cap $capUnion at the " +
        s"union's ${nPrior + n}): the standing pair/label artifacts " +
        "are no longer exactly union-equivalent. The cursor proceeds " +
        "(fates land under the standing artifacts); stop the stream " +
        "and re-cluster under the current cap (mode=recluster + " +
        "overRun reopen, or a fresh apply()) — see capTierCrossed.")
    }
    // successors first (eager), then release the superseded blocks —
    // the order that keeps every ingest's cost ∝ increment without a
    // window where the standing state is unmaterialized.
    //
    // Near-dup fates + the standing-label advance share ONE contracted
    // propagation run (VERDICT r16 #2, mirroring graft.Run's ingest):
    // the batch's pairs against the standing postings advance the label
    // state, and the frozen-prior fate bits are read off the upsert.
    // The composed build runs in one scope: everything it pins (the pair
    // kernel's increment postings and buckets, the CC rounds, the fate
    // barrier, the formatted token counts) is released with it, after
    // the successor checkpoints below have materialized.
    val ((upsert, built), build) = Pins.scoped {
      val upsert = DedupOps.connectedComponentsIncremental(labelsC,
        DedupOps.ngramJaccardPairsIncremental(
          b.select(col(id).as("doc_id"), col(text).as("text")),
          "doc_id", "text", postingsC, nPrior, minJaccard),
        "da", "db")
      val nd = DedupOps.nearDupFromLabelUpsert(upsert,
        b.select(col(id).as("doc_id")))
      (upsert, PipelineOps.trainReadyIncremental(
        manifestC, bench.limit(0), b.select(col(id), col(text)), bench,
        id, text, cap, epoch,
        formatter, startRateBp, meanSpan, fimRateBp, minJaccard, contamN,
        precomputedPostings = Some(postingsC),
        precomputedHashes = Some(hashesC),
        priorDocCount = Some(nPrior), sorted = false,
        precomputedNearDup = Some(nd)))
    }
    val newManifest = Pins.checkpoint(built)
    val newHashes = Pins.checkpoint(hashesC
      .unionByName(b.select(md5(col(text).cast("binary")).as("h"))))
    val newPostings = Pins.checkpoint(DedupOps
      .ngramPostingsAppend(postingsC, b, id, text))
    // standing-label advance: untouched rows ∪ the upsert — the same
    // apply graft.Run stages to index/cluster_labels
    val newLabels = Pins.checkpoint(labelsC
      .join(upsert.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(upsert.select("doc_id", "cluster_rep")))
    // profile advance — the Run ingest's bytes-merges, in-cursor: token
    // bytes merge on the driver (kilobytes), the two 1-row sketch
    // tables through the library merge entry points
    val newTokenSk = graft.functions.FreqItems.mergeBytes(tokenSk,
      graft.operators.TextOps.tokenSketchBytes(b, text)
        .head().getAs[Array[Byte]]("sk"))
    val newLenQ = Pins.checkpoint(graft.operators.RelationalOps
      .quantileSketchMerge(lenQC, TrainReadyCursor.lenSketch(b, id, text),
        "grp"))
    val newDistC = Pins.checkpoint(graft.operators.RelationalOps
      .distinctSketchMerge(distCC, TrainReadyCursor.contentSketch(b, text),
        "grp"))
    // per-source profile advance (when configured): same group-keyed
    // merges as graft.Run's stats/source_* artifacts — new sources
    // appear as new groups, existing ones merge
    val newSrcD = profileSrc.map { src =>
      Pins.checkpoint(graft.operators.RelationalOps.distinctSketchMerge(
        srcDC.get, TrainReadyCursor.sourceContentSketch(b, src, text),
        "grp"))
    }
    val newSrcL = profileSrc.map { src =>
      Pins.checkpoint(graft.operators.RelationalOps.quantileSketchMerge(
        srcLC.get, TrainReadyCursor.sourceLenSketch(b, src, text),
        "grp"))
    }
    build.release()
    (Seq(manifestC, hashesC, postingsC, labelsC, lenQC, distCC, b) ++
      srcDC ++ srcLC).foreach(Pins.release)
    manifestC = newManifest
    hashesC = newHashes
    postingsC = newPostings
    labelsC = newLabels
    tokenSk = newTokenSk
    lenQC = newLenQ
    distCC = newDistC
    srcDC = newSrcD
    srcLC = newSrcL
    nPrior += n
    newManifest
  }

  /** Wire a STREAMING `(id, text)` frame into this cursor: one
    * [[ingest]] per micro-batch. The returned query's progress IS the
    * cursor's: after `processAllAvailable()`, [[manifest]] reflects
    * every delivered batch. */
  def attach(stream: DataFrame): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        ingest(batch); ()
      }
      .start()
}

object TrainReadyCursor {

  /** Per-batch length-profile sketch (grp = "all"), shared by ingest
    * and bootstrap. */
  private def lenSketch(d: DataFrame, id: String, text: String): DataFrame =
    graft.operators.RelationalOps.quantileSketch(
      graft.operators.TextOps.tokenCounts(d, id, text)
        .withColumn("grp", lit("all")), "grp", "n_tok")

  /** Per-batch content-hash distinct sketch (grp = "all"). */
  private def contentSketch(d: DataFrame, text: String): DataFrame =
    graft.operators.RelationalOps.distinctSketch(
      d.select(lit("all").as("grp"),
        md5(col(text).cast("binary")).as("h")), "grp", "h")

  /** Per-batch PER-SOURCE content-hash distinct sketch (grp = the
    * source column's values) — `graft.Run`'s stats/source_distinct. */
  private def sourceContentSketch(d: DataFrame, src: String,
      text: String): DataFrame =
    graft.operators.RelationalOps.distinctSketch(
      d.select(col(src).cast("string").as("grp"),
        md5(col(text).cast("binary")).as("h")), "grp", "h")

  /** Per-batch PER-SOURCE length sketch — stats/source_len's shape:
    * tokenCounts keyed by the source column gives the (grp, n_tok)
    * relation directly, no join. */
  private def sourceLenSketch(d: DataFrame, src: String,
      text: String): DataFrame =
    graft.operators.RelationalOps.quantileSketch(
      graft.operators.TextOps.tokenCounts(d, src, text)
        .select(col("doc_id").cast("string").as("grp"), col("n_tok")),
      "grp", "n_tok")

  /** Open a cursor over a standing build: `priorManifest` is a
    * [[graft.operators.PipelineOps.trainReady]] /
    * `trainReadyIncremental` output over `priorCorpus`, built with the
    * SAME cap/epoch/formatter/rate parameters passed here (the
    * same-config rule of the batch incremental). An EMPTY pair
    * bootstraps from nothing — the first micro-batch becomes the
    * initial build. The standing artifacts (hash table + posting index
    * + the three profile sketches over `priorCorpus`) are derived once
    * here and then advanced incrementally per ingest, never
    * re-derived.
    *
    * `profileSource` (VERDICT r15 #5) names a source column present in
    * BOTH `priorCorpus` and every ingested batch: the cursor then also
    * maintains the per-source profile dimension (`graft.Run`'s
    * stats/source_distinct + source_len), advanced per ingest by the
    * same group-keyed bytes-merges as the global profile. */
  def apply(priorManifest: DataFrame, priorCorpus: DataFrame,
      bench: DataFrame, id: String, text: String, cap: Double = 4096.0,
      epoch: String = "ep1", formatter: String = "span",
      startRateBp: Int = 500, meanSpan: Int = 3, fimRateBp: Int = 9000,
      minJaccard: Double = 0.1, contamN: Int = 8,
      profileSource: Option[String] = None): TrainReadyCursor = {
    val prior = priorCorpus.select(
      (col(id).as("doc_id") +: col(text).as("text") +:
        profileSource.map(col).toSeq): _*)
    // the prior corpus's pair and propagation blocks are freed once the
    // constructor's own checkpoint of the label table has materialized
    val (labels, bootstrap) = Pins.scoped(DedupOps.connectedComponents(
      DedupOps.ngramJaccardPairs(prior, "doc_id", "text", minJaccard),
      "da", "db"))
    val nPrior = priorCorpus.count()
    val cursor = new TrainReadyCursor(bench, id, text, cap, epoch,
      formatter,
      startRateBp, meanSpan, fimRateBp, minJaccard, contamN,
      profileSrc = profileSource,
      initManifest = priorManifest
        .select("doc_id", "fate", "n_tok", "chunk", "rank"),
      initHashes = prior
        .select(md5(col("text").cast("binary")).as("h")),
      initPostings = DedupOps.ngramPostings(prior, "doc_id", "text"),
      initClusterLabels = labels,
      initDocCount = nPrior,
      // the labels above are derived from scratch over the prior corpus
      // right here, so the tier baseline IS the prior count
      initClusteredDocs = nPrior,
      initTokenSketch = graft.operators.TextOps
        .tokenSketchBytes(prior, "text").head().getAs[Array[Byte]]("sk"),
      initLenQuantiles = lenSketch(prior, "doc_id", "text"),
      initDistinctContent = contentSketch(prior, "text"),
      initSourceDistinct = profileSource.map(src =>
        sourceContentSketch(prior, src, "text")),
      initSourceLen = profileSource.map(src =>
        sourceLenSketch(prior, src, "text")))
    bootstrap.release()
    cursor
  }

  /** Open a cursor OVER A `graft.Run` BUILD DIRECTORY — the streaming
    * continuation of the batch lifecycle: every standing artifact
    * bootstraps from the persisted build/ingest state (manifest, hash
    * table, posting index, the r17 `index/cluster_labels` table, the
    * three profile sketches, the per-source dimension when configured)
    * instead of being re-derived, so opening over a 100 TB build costs
    * parquet scans of the artifacts, never a corpus pass or a
    * re-cluster. The df-cap tier baseline comes from the build's
    * `index/_df_cap.json` (VERDICT r17 #2) — so a cursor opened over a
    * directory whose ingests already crossed a tier flags on its FIRST
    * ingest, exactly like `Run.executeIngest` would.
    *
    * Same-config rule (as [[apply]]): cap/formatter/rates/minJaccard/
    * contamN must be the ones the directory was built with (the batch
    * incremental's contract). ENFORCED since r19 (ADVICE r18): the
    * passed id/text/cap/formatter/minJaccard/contamN are validated
    * against the stored `_spec_fingerprint.json` and a mismatch fails
    * fast, mirroring `Run.executeIngest`'s checkIngestFingerprint; a
    * pre-fingerprint directory opens with a loud warning. A directory
    * with no `index/_df_cap.json` tier baseline opens with
    * [[TrainReadyCursor.capTierCrossed]] LATCHED TRUE (the guard cannot
    * rule out an already-crossed tier) — run `mode=recluster` to create
    * the baseline and reopen clean.
    *
    * The cursor advances IN-MEMORY state only; it never writes back to
    * `out`. The recovery handoff on a tier crossing is therefore:
    * ingest the same batches into the directory (`mode=ingest` — the
    * batch twin), stop the cursor, run `mode=recluster`, and reopen
    * with `overRun` — StreamingWindowSpec pins reopened labels ≡
    * from-scratch over the full ingested union. */
  def overRun(out: String, bench: DataFrame, id: String = "doc_id",
      text: String = "text", cap: Double = 4096.0,
      epoch: String = "ep1", formatter: String = "span",
      startRateBp: Int = 500, meanSpan: Int = 3, fimRateBp: Int = 9000,
      minJaccard: Double = 0.1, contamN: Int = 8,
      profileSource: Option[String] = None): TrainReadyCursor = {
    val s = bench.sparkSession
    import java.nio.file.{Files, Paths}
    def done(art: String): Boolean =
      Files.exists(Paths.get(out, art, "_SUCCESS"))
    Seq("manifest", "index/hashes", "index/postings",
      "index/cluster_labels", "stats/token_sketch", "stats/len_quantiles",
      "stats/distinct_content").foreach { a =>
      require(done(a), s"'$out/$a' is missing or incomplete — overRun " +
        "opens a completed graft.Run build directory (for a pre-label " +
        "directory run \"mode\": \"recluster\" first; it creates " +
        "index/cluster_labels from the posting index)")
    }
    profileSource.foreach { _ =>
      Seq("stats/source_distinct", "stats/source_len").foreach(a =>
        require(done(a), s"'$out/$a' is missing — the build was not " +
          "run with a profileSource; open without one or re-run " +
          "\"mode\": \"stats\" with the source configured"))
    }
    // Same-config rule, ENFORCED (ADVICE r18): the scaladoc has always
    // stated that cap/formatter/minJaccard/contamN must be the ones the
    // directory was built with, but nothing checked — a reopen with a
    // mismatched cap or formatter silently corrupted the continuation
    // semantics that Run.executeIngest's checkIngestFingerprint refuses.
    // Validate against the stored `_spec_fingerprint.json` (the shape
    // node records every one of these); a pre-fingerprint directory gets
    // the same loud warning as the batch ingest path.
    val fpPath = Paths.get(out, "_spec_fingerprint.json")
    if (Files.exists(fpPath)) {
      val shape = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Files.readString(fpPath)).get("shape")
      def fail(field: String, disk: Any, passed: Any): Nothing =
        throw new IllegalArgumentException(
          s"overRun($out): '$field' differs from the build that wrote " +
            s"this directory (on disk: $disk, passed: $passed) — a " +
            "cursor must continue the standing artifacts under the SAME " +
            "config they were built with (the batch incremental's " +
            "contract; see _spec_fingerprint.json).")
      if (shape.get("id").asText != id) fail("id", shape.get("id").asText, id)
      if (shape.get("text").asText != text)
        fail("text", shape.get("text").asText, text)
      if (shape.get("cap").asDouble != cap)
        fail("cap", shape.get("cap").asDouble, cap)
      if (shape.get("formatter").asText != formatter)
        fail("formatter", shape.get("formatter").asText, formatter)
      if (shape.get("minJaccard").asDouble != minJaccard)
        fail("minJaccard", shape.get("minJaccard").asDouble, minJaccard)
      if (shape.get("contamN").asInt != contamN)
        fail("contamN", shape.get("contamN").asInt, contamN)
    } else
      System.err.println(s"[cursor] WARNING: '$out' has no spec " +
        "fingerprint (built before fingerprinting?) — cannot verify " +
        "this cursor's cap/formatter/thresholds match the build's.")
    val manifest = s.read.parquet(s"$out/manifest")
    val nDocs = manifest.count()
    val capPath = Paths.get(out, "index", "_df_cap.json")
    // Missing baseline (ADVICE r18): the guard cannot prove the
    // directory's past ingests never crossed a tier — previously it
    // silently baselined to the CURRENT count, exactly the blind state
    // the batch side's `df_cap_baseline` audit check refuses. Keep the
    // open working (pre-r17 dirs are legitimate) but LATCH the crossing
    // flag so the operator cue survives; mode=recluster creates the real
    // baseline and clears the condition on reopen.
    val capMissing = !Files.exists(capPath)
    val clusteredDocs =
      if (!capMissing)
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(Files.readString(capPath)).get("docs").asLong
      else {
        System.err.println(s"[cursor] WARNING: '$out' has no " +
          "index/_df_cap.json baseline (pre-r17 build?) — the tier " +
          "guard cannot rule out an already-crossed tier, so " +
          "capTierCrossed starts TRUE; run \"mode\": \"recluster\" to " +
          "create the real baseline and reopen.")
        nDocs
      }
    new TrainReadyCursor(bench, id, text, cap, epoch, formatter,
      startRateBp, meanSpan, fimRateBp, minJaccard, contamN,
      profileSrc = profileSource,
      initManifest = manifest
        .select("doc_id", "fate", "n_tok", "chunk", "rank"),
      initHashes = s.read.parquet(s"$out/index/hashes"),
      // Run persists the RAW append-only store (doc_id, sh64); the
      // cursor's in-memory index carries the denormalized df (the
      // ngramPostings shape its append/pair kernels consume) — re-count
      // it here once, the same index-wide pass a from-scratch apply()
      // pays inside ngramPostings
      initPostings = s.read.parquet(s"$out/index/postings")
        .select("doc_id", "sh64")
        .withColumn("df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("sh64"))),
      initClusterLabels = s.read.parquet(s"$out/index/cluster_labels")
        .select("doc_id", "cluster_rep"),
      initDocCount = nDocs,
      initClusteredDocs = clusteredDocs,
      initTokenSketch = s.read.parquet(s"$out/stats/token_sketch")
        .head().getAs[Array[Byte]]("sk"),
      initLenQuantiles = s.read.parquet(s"$out/stats/len_quantiles"),
      initDistinctContent = s.read.parquet(s"$out/stats/distinct_content"),
      initSourceDistinct = profileSource.map(_ =>
        s.read.parquet(s"$out/stats/source_distinct")),
      initSourceLen = profileSource.map(_ =>
        s.read.parquet(s"$out/stats/source_len")),
      initCapTierCrossed = capMissing)
  }
}
