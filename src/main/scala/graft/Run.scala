package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{PipelineOps, Pins}

/** Config-driven END-TO-END build runner — the one command a user of the
  * reference points at a corpus to get the full training-data build this
  * library exists for: curation fates, the per-fate audit report, the
  * per-doc build manifest, and the partitioned window store a trainer
  * reads, all under one output directory.
  *
  *   spark-submit --class graft.Run <jar> spec.json
  *
  * Spec (JSON object; `corpus`, `benchmark`, `out` required — every other
  * key has the library default):
  * {{{
  * {
  *   "corpus":   "/data/crawl.parquet",      // (id, text[, source]) parquet
  *   "benchmark": "/data/benchmarks.parquet", // decontamination grams source
  *   "out":      "/data/build1",
  *   "id": "doc_id", "text": "text",          // column names in BOTH inputs
  *   "cap": 4096,                             // context window, tokens
  *   "formatter": "span",                     // span | fim | plain
  *   "chunksPerPart": 4096,                   // window-store part granularity
  *   "minJaccard": 0.1, "contamN": 8,         // curation thresholds
  *   "scrubPii": false,                       // add redaction columns to fates
  *   "mixtureSource": "source",               // optional: temperature mixture
  *   "mixtureAlpha": 0.3, "mixtureBudgetFraction": 0.5,
  *   "vectors": "/data/embeddings.parquet",    // optional: ANN artifacts
  *   "vecId": "vec_id", "vec": "embedding", "nlist": 16,
  *   "pq": false, "pqM": 8, "pqKsub": 16,      // optional: IVFADC codes too
  *   "profileSource": "source",               // optional: per-source profile
  *   "overwrite": false                       // false = resume; true = rebuild
  * }
  * }}}
  *
  * With `"vectors"` set, a build additionally persists the ANN
  * artifacts under `out/ann` (trained quantizer, full assignment,
  * training-distortion baseline) and an ingest — where `"vectors"`
  * names the INCREMENT's vector parquet — appends assignment rows
  * against the frozen quantizer and reports the measured drift row
  * (`ann_drift` in the summary; retrain=true warns loudly).
  *
  * Maintenance modes: `"mode": "stats"` (exact stats refresh,
  * [[executeStats]]), `"mode": "compact"` (small-file compaction of
  * the append-mode artifacts, [[executeCompact]]), `"mode": "retrain"`
  * (rebuild the frozen ANN artifacts on the current vector corpus after
  * a drift-gate trip, [[executeRetrain]]), and `"mode": "recluster"`
  * (rebuild the standing cluster-label table from the posting index
  * after a df-cap tier crossing, [[executeRecluster]] — r17) — each
  * leaves every other artifact untouched — plus `"mode": "audit"`
  * ([[executeAudit]]), the read-only consistency fsck that finds the
  * half-advanced states the failure contracts describe before an
  * operator trusts (or ingests into) the directory, and
  * `"mode": "repair"` ([[executeRepair]] — r17), its write arm: each
  * mechanically safe recovery the contracts document, executed.
  *
  * Stage order and artifact layout (each stage consumes the PERSISTED
  * output of the one before it; with `overwrite=false` a re-run SKIPS
  * every stage whose `_SUCCESS`-marked directory already exists and
  * reads it back — a failed build genuinely resumes from the first
  * unfinished stage, a partial directory is rewritten, and the
  * expensive curation indexes are built exactly once):
  *   1. `out/fates`    — [[PipelineOps.curate]] manifest (doc_id, fate
  *      [, redaction columns]); the near-dup pair index and benchmark
  *      gram sketch are built here and ONLY here.
  *   2. `out/report`   — [[PipelineOps.curationReport]] over the persisted
  *      fates: docs/tokens/share per fate (also echoed into SUMMARY.json).
  *   3. `out/manifest` — [[PipelineOps.trainReady]] build manifest
  *      (doc_id, fate, n_tok, chunk, rank), fed `precomputedFates` from
  *      the stage-1 scan.
  *   4. `out/windows`  — [[PipelineOps.trainReadyExamples]] windows built
  *      UNSORTED (no terminal range exchange — VERDICT r12 #2) and laid
  *      into the chunk-partitioned store via [[PipelineOps.writeWindows]];
  *      read back with [[PipelineOps.readWindows]].
  *   5. `out/SUMMARY.json` — config echo + per-fate counts + window/token
  *      totals (counted from the persisted store, so the summary attests
  *      what is ON DISK, not what the plan promised).
  *
  * The build additionally persists the STANDING index artifacts an
  * ingest fates against: `out/index/hashes` (content-hash table),
  * `out/index/postings` (raw `(doc_id, sh64)` shingle pairs; df is
  * re-attached at read by counting rows, so the on-disk index is
  * append-only and every ingest write stays ∝ increment), and — r17 —
  * `out/index/cluster_labels` (the near-dup cluster-label table,
  * `(doc_id, cluster_rep)` over docs with ≥1 pair; each ingest advances
  * it by the supernode-contraction upsert and derives the increment's
  * near-dup fates from the same run, so after any number of ingests the
  * standing labels equal a from-scratch re-cluster of the union
  * bit-for-bit — RunSpec pins it across two ingests) — plus the
  * corpus-stats artifacts: `out/stats/heavy_tokens` (the exact ≥0.5%
  * token list via [[graft.operators.TextOps.frequentTokens]]'s
  * sketch-prefiltered pass: stop-list/boilerplate candidates, bounded
  * by the sketch's map size however large the corpus) and the STANDING
  * PROFILE of mergeable sketch bytes — `stats/token_sketch`
  * (frequent-items), `stats/len_quantiles` (KLL over per-doc token
  * counts), `stats/distinct_content` (HLL over content hashes).
  *
  * `"mode": "ingest"` + `"increment": <parquet>` appends a new batch to
  * an existing build directory ([[executeIngest]]): fates from the
  * persisted artifacts only, manifest rows appended, window store
  * advanced via the boundary-part dynamic overwrite (exactly one part
  * directory re-read), indexes appended — the batch twin of
  * [[graft.streaming.TrainReadyCursor]], with the artifacts on disk
  * instead of in checkpoint blocks. The profile sketches ADVANCE per
  * ingest by a bytes-merge with the increment's own sketches (VERDICT
  * r14 #3) — estimates over the merged bytes equal a from-scratch
  * build's, so the corpus profile never needs a re-scan; only the
  * exact `stats/heavy_tokens` list stays a build snapshot (exact
  * counts need candidate counts over the whole corpus). For an exact
  * refresh, `"mode": "stats"` + `"corpus": <current corpus>` rebuilds
  * the `out/stats` artifacts alone ([[executeStats]]) — the one corpus-wide pass,
  * as an explicit schedulable job.
  *
  * Scale shape: identical to the library entry points it composes — the
  * runner adds no collect, no extra shuffle, and no driver-side loop; its
  * only driver-side data is the ≤6-row fate report and the 1-row window
  * total.
  */
object Run {

  final case class Spec(
      corpus: String, benchmark: String, out: String,
      id: String, text: String, cap: Long, formatter: String,
      chunksPerPart: Long, minJaccard: Double, contamN: Int,
      scrubPii: Boolean, mixtureSource: Option[String],
      mixtureAlpha: Double, mixtureBudgetFraction: Double,
      overwrite: Boolean, mode: String, increment: Option[String],
      vectors: Option[String], vecId: String, vec: String, nlist: Int,
      pq: Boolean, pqM: Int, pqKsub: Int, profileSource: Option[String],
      failAt: Option[String])

  /** Parse a spec JSON string (defaults applied here, not in consumers). */
  def parseSpec(json: String): Spec = {
    val n = new ObjectMapper().readTree(json)
    def req(k: String): String = {
      val v = n.get(k)
      require(v != null && v.isTextual && v.asText.nonEmpty,
        s"spec is missing required string field '$k'")
      v.asText
    }
    def opt(k: String): Option[JsonNode] = Option(n.get(k))
    val mode = opt("mode").map(_.asText).getOrElse("build")
    require(
      Set("build", "ingest", "stats", "compact", "retrain", "audit",
        "recluster", "repair")(mode),
      "mode must be build | ingest | stats | compact | retrain | audit " +
        s"| recluster | repair, got '$mode'")
    val increment = opt("increment").map(_.asText).filter(_.nonEmpty)
    require(mode != "ingest" || increment.isDefined,
      "mode 'ingest' requires an 'increment' parquet path")
    require(mode != "retrain" ||
        opt("vectors").map(_.asText).exists(_.nonEmpty),
      "mode 'retrain' requires 'vectors' (the CURRENT full vector corpus)")
    Spec(
      corpus = opt("corpus").map(_.asText)
        .getOrElse { require(
          mode == "ingest" || mode == "compact" || mode == "retrain" ||
            mode == "audit" || mode == "recluster" || mode == "repair",
          "spec is missing required string field 'corpus'"); "" },
      benchmark = opt("benchmark").map(_.asText)
        .getOrElse { require(mode == "compact" || mode == "audit" ||
          mode == "recluster" || mode == "repair",
          "spec is missing required string field 'benchmark'"); "" },
      out = req("out"),
      id = opt("id").map(_.asText).getOrElse("doc_id"),
      text = opt("text").map(_.asText).getOrElse("text"),
      cap = opt("cap").map(_.asLong).getOrElse(4096L),
      formatter = opt("formatter").map(_.asText).getOrElse("span"),
      chunksPerPart = opt("chunksPerPart").map(_.asLong).getOrElse(4096L),
      minJaccard = opt("minJaccard").map(_.asDouble).getOrElse(0.1),
      contamN = opt("contamN").map(_.asInt).getOrElse(8),
      scrubPii = opt("scrubPii").exists(_.asBoolean),
      mixtureSource = opt("mixtureSource").map(_.asText).filter(_.nonEmpty),
      mixtureAlpha = opt("mixtureAlpha").map(_.asDouble).getOrElse(0.3),
      mixtureBudgetFraction =
        opt("mixtureBudgetFraction").map(_.asDouble).getOrElse(0.5),
      overwrite = opt("overwrite").exists(_.asBoolean),
      mode = mode, increment = increment,
      vectors = opt("vectors").map(_.asText).filter(_.nonEmpty),
      vecId = opt("vecId").map(_.asText).getOrElse("vec_id"),
      vec = opt("vec").map(_.asText).getOrElse("embedding"),
      nlist = opt("nlist").map(_.asInt).getOrElse(16),
      pq = opt("pq").exists(_.asBoolean),
      pqM = opt("pqM").map(_.asInt).getOrElse(8),
      pqKsub = opt("pqKsub").map(_.asInt).getOrElse(16),
      profileSource =
        opt("profileSource").map(_.asText).filter(_.nonEmpty),
      failAt = opt("failAt").map(_.asText).filter(_.nonEmpty))
  }

  /** Thrown by [[faultPoint]] — distinguishable from a real failure so
    * the crash-contract tests assert they killed the run at the intended
    * seam and nothing else. */
  final class InjectedFault(point: String) extends RuntimeException(
    s"[fault-injection] planted crash at '$point'")

  /** Fault-injection hook (VERDICT r17 #4): a spec carrying
    * `"failAt": "<point>"` aborts the run AT that named seam — after the
    * journal write, between appends, after a staging write, between the
    * destructive delete and the move of a staged swap, between
    * per-artifact profile advances. Each seam is a distinct crash state
    * the failure contracts describe; RunSpec loops over every point and
    * proves the full recovery chain (crash → audit flags → repair →
    * audit clean → the retried job chains correctly) against the REAL
    * interrupted states instead of hand-planted approximations. No-op
    * (and dead-code-free: one Option comparison) in production specs. */
  private def faultPoint(spec: Spec, point: String): Unit =
    if (spec.failAt.contains(point)) throw new InjectedFault(point)

  /** Execute the spec ([[executeBuild]] or [[executeIngest]] by
    * `spec.mode`); returns the SUMMARY.json content (also written to
    * `spec.out/SUMMARY.json`). Separated from [[main]] so tests drive it
    * with their own session and read the same summary a user would.
    * Every block a mode pins is released before it returns. */
  def execute(s: SparkSession, spec: Spec): String = {
    val (summary, pins) = Pins.scoped(spec.mode match {
      case "ingest" => executeIngest(s, spec)
      case "stats" => executeStats(s, spec)
      case "compact" => executeCompact(s, spec)
      case "retrain" => executeRetrain(s, spec)
      case "audit" => executeAudit(s, spec)
      case "recluster" => executeRecluster(s, spec)
      case "repair" => executeRepair(s, spec)
      case _ => executeBuild(s, spec)
    })
    pins.release()
    summary
  }

  /** `"mode": "compact"` — maintenance for the APPEND-mode artifacts:
    * every ingest adds one file-set to `out/manifest` and the index
    * directories (and `out/ann/assignment` + `codes` when present), so
    * a year of daily ingests is hundreds of tiny file-sets per
    * directory — the classic small-files tax on every later scan.
    * Rewrites each append-mode artifact into ~128 MB-targeted files,
    * content-identical: the staged row count is verified BEFORE the
    * swap, and a partial staged write refuses to replace the original.
    * The window store is NOT touched (its part directories are already
    * chunk-partitioned and rewritten whole by ingests), nor are the
    * single-write stats/ann baselines. The swap (delete + move) is not
    * atomic: on a crash between the two, the staged `<dir>__compact`
    * holds the full verified data — move it into place to finish. */
  private def executeCompact(s: SparkSession, spec: Spec): String = {
    val targets = Seq("manifest", "index/hashes", "index/postings",
      "ann/assignment", "ann/codes")
    val results = targets.flatMap { t =>
      val path = s"${spec.out}/$t"
      if (!stageDone(path)) None else Some(t -> compactDir(s, spec, t, path))
    }
    val lines = results.map { case (t, (fb, fa, rows)) =>
      s"""{"artifact":"${esc(t)}","files_before":$fb,""" +
        s""""files_after":$fa,"rows":$rows}"""
    }.mkString("[", ",", "]")
    val summary =
      s"""{"mode":"compact","out":"${esc(spec.out)}","compacted":$lines}"""
    Files.write(Paths.get(spec.out, "COMPACT.json"),
      summary.getBytes(StandardCharsets.UTF_8))
    summary
  }

  /** Compact one parquet directory; returns (files before, files
    * after, rows). See [[executeCompact]] for the swap contract. */
  private def compactDir(s: SparkSession, spec: Spec, artifact: String,
      path: String): (Long, Long, Long) = {
    import scala.jdk.CollectionConverters._
    def dataFiles(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val st = Files.walk(p)
      try st.iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
      }.toVector
      finally st.close()
    }
    val dir = Paths.get(path)
    val before = dataFiles(dir)
    val bytes = before.map(Files.size).sum
    val target =
      math.max(1L, (bytes + (128L << 20) - 1) / (128L << 20)).toInt
    val nBefore = s.read.parquet(path).count()
    val staging = path + "__compact"
    s.read.parquet(path).repartition(target)
      .write.mode("overwrite").parquet(staging)
    val nStaged = s.read.parquet(staging).count()
    require(nStaged == nBefore,
      s"compaction of '$path' staged $nStaged rows != $nBefore — " +
        s"refusing the swap; staged data left at '$staging'")
    faultPoint(spec, s"compact:staged:$artifact")
    rmTree(dir)
    faultPoint(spec, s"compact:swap:$artifact")
    Files.move(Paths.get(staging), dir)
    (before.size.toLong, dataFiles(dir).size.toLong, nBefore)
  }

  /** `"mode": "retrain"` — the RECOVERY arm of the ANN drift gate
    * (VERDICT r15 #2): the ingest gates DETECT a drifted frozen
    * quantizer/codebook; this job is the scheduled response. `vectors`
    * names the CURRENT full vector corpus (original ∪ every ingested
    * increment — the `mode=stats` convention applied to vectors): the
    * quantizer retrains on it, the whole corpus re-assigns, the PQ
    * codebook (when the build carries one) retrains and re-encodes, and
    * BOTH distortion baselines re-measure — then the entire `out/ann`
    * directory swaps atomically from a fully-verified staging copy. The
    * old artifacts stay intact (and searchable) until the swap; a crash
    * before it loses nothing, a crash between the delete and the move
    * leaves the verified `out/ann__retrain` to move into place — the
    * [[executeCompact]] contract at directory scope. The stored build
    * fingerprint's `vectors` field is updated to the retrain corpus, so
    * later ingests verify against the artifacts' true provenance.
    *
    * After a retrain, re-ingesting the very increment that tripped the
    * gate scores in-distribution (its cluster is now inside the trained
    * quantizer) — RunSpec pins the full loop trip → retrain → no-trip,
    * and rebuilt ≡ from-scratch artifact/search parity. */
  private def executeRetrain(s: SparkSession, spec: Spec): String = {
    require(stageDone(s"${spec.out}/ann/quantizer"),
      s"'${spec.out}/ann' has no trained quantizer — mode 'retrain' " +
        "rebuilds an existing ANN index (run a build with \"vectors\" first)")
    checkIngestFingerprint(spec) // same shape rule as stats: paths may
                                 // differ, thresholds/columns must not
    val hasPq = stageDone(s"${spec.out}/ann/codebook")
    require(hasPq == spec.pq,
      s"spec pq=${spec.pq} but the build ${if (hasPq) "has" else "lacks"} " +
        "a PQ codebook — retrain must rebuild exactly the artifacts the " +
        "build carries")
    val vecs = s.read.parquet(spec.vectors.get)
    val staging = s"${spec.out}/ann__retrain"
    if (Files.exists(Paths.get(staging))) rmTree(Paths.get(staging))

    // 1. fresh quantizer on the CURRENT corpus, then re-assign + re-baseline
    graft.operators.SimilarityOps
      .ivfTrain(vecs, spec.vecId, spec.vec, nlist = spec.nlist)
      .write.parquet(s"$staging/quantizer")
    val quant = s.read.parquet(s"$staging/quantizer")
    graft.operators.SimilarityOps
      .ivfAppend(vecs, spec.vecId, spec.vec, quant)
      .write.parquet(s"$staging/assignment")
    graft.operators.SimilarityOps
      .ivfQuantizationError(vecs, spec.vecId, spec.vec, quant)
      .write.parquet(s"$staging/baseline")
    // 2. the PQ artifacts, when the build carries them
    if (spec.pq) {
      graft.operators.PqOps.pqTrain(vecs, spec.vecId, spec.vec,
          m = spec.pqM, ksub = spec.pqKsub)
        .write.parquet(s"$staging/codebook")
      val cb = s.read.parquet(s"$staging/codebook")
      graft.operators.PqOps.pqEncode(vecs, spec.vecId, spec.vec, cb,
          m = spec.pqM, ksub = spec.pqKsub)
        .write.parquet(s"$staging/codes")
      graft.operators.PqOps.pqQuantizationError(vecs, spec.vecId,
          spec.vec, cb, m = spec.pqM, ksub = spec.pqKsub)
        .write.parquet(s"$staging/pq_baseline")
    }

    // 3. verify the staged index is complete and consistent BEFORE any
    // destructive step: nlist centroid rows, assignment == codes ==
    // the corpus's assignable (non-zero) vectors, baselines measured
    // over the same count
    val nAssigned = s.read.parquet(s"$staging/assignment").count()
    val nQuant = s.read.parquet(s"$staging/quantizer").count()
    val baseRow = s.read.parquet(s"$staging/baseline").head()
    require(nQuant == spec.nlist && nAssigned > 0 &&
        baseRow.getAs[Long]("n_vecs") == nAssigned,
      s"staged retrain inconsistent (quantizer $nQuant rows, assignment " +
        s"$nAssigned, baseline over ${baseRow.getAs[Long]("n_vecs")}) — " +
        s"refusing the swap; staged data left at '$staging'")
    if (spec.pq) {
      val nCodes = s.read.parquet(s"$staging/codes").count()
      require(nCodes == nAssigned,
        s"staged codes $nCodes != assignment $nAssigned — refusing the " +
          s"swap; staged data left at '$staging'")
    }

    // 4. the swap, then re-point the stored fingerprint's vectors field
    // (shape is unchanged — checked above; provenance is not)
    faultPoint(spec, "retrain:staged")
    rmTree(Paths.get(s"${spec.out}/ann"))
    faultPoint(spec, "retrain:swap")
    Files.move(Paths.get(staging), Paths.get(s"${spec.out}/ann"))
    val fpp = fingerprintPath(spec.out)
    if (Files.exists(fpp)) {
      val prior = new ObjectMapper().readTree(Files.readString(fpp))
      val priorCorpus = prior.get("corpus").asText
      Files.writeString(fpp,
        buildFingerprint(spec.copy(corpus = priorCorpus)))
    }

    val pqJson = if (!spec.pq) "" else {
      val pb = s.read.parquet(s"${spec.out}/ann/pq_baseline").head()
      s""","pq_baseline_mean":${pb.getAs[Double]("mean_qerr")}"""
    }
    val summary =
      s"""{"mode":"retrain","vectors":"${esc(spec.vectors.get)}",""" +
        s""""out":"${esc(spec.out)}","n_vecs":$nAssigned,""" +
        s""""baseline_mean":${baseRow.getAs[Double]("mean_qerr")}""" +
        pqJson + "}"
    Files.write(Paths.get(spec.out, "RETRAIN.json"),
      summary.getBytes(StandardCharsets.UTF_8))
    summary
  }

  /** `"mode": "audit"` — the read-only consistency fsck over a build
    * directory, the sixth arm of the lifecycle (build / ingest / stats /
    * compact / retrain / audit). The ingest scaladoc's failure contract
    * says "clean the partial appends first" and every staged swap says
    * "move the staging into place to finish" — this job is how an
    * operator FINDS those states before trusting (or re-ingesting into)
    * an index that a crashed job may have left half-advanced. It never
    * writes anything except `out/AUDIT.json`.
    *
    * Checks, each reported as its own line (`ok` per check, `ok`
    * overall; a check that itself errors reports as a failure with the
    * error text, and never stops the remaining checks):
    *   - `staging_leftover`   no `*__compact` / `*__advance` /
    *     `ann__retrain` staging directory anywhere under `out` (each is
    *     a verified swap the crash contract says to finish by hand)
    *   - `stage_complete`     every artifact directory that EXISTS
    *     carries `_SUCCESS` (a dir without one is a partial write)
    *   - `fingerprint`        `_spec_fingerprint.json` present
    *   - `manifest_unique`    no doc appears twice in `out/manifest`
    *     (the signature of a blindly-retried ingest's double append)
    *   - `hashes_count`       `index/hashes` rows == manifest rows (the
    *     build and every ingest append exactly one hash per doc)
    *   - `postings_docs`      every `index/postings` doc_id exists in
    *     the manifest (no orphan shingle rows from a partial append;
    *     the reverse direction is legitimately sparse — short docs
    *     shingle to nothing)
    *   - `windows_tokens`     window-store token total == the
    *     manifest's packed token total (sum of n_tok over chunked
    *     docs) — the packing conservation law
    *   - `windows_chunks`     chunk ids are contiguous from 0 and every
    *     row sits in its own part directory (`part ==
    *     floor(chunk / chunksPerPart)`) — the layout the reader's
    *     chunk-range pruning depends on
    *   - `profile_stamps`     the mergeable profile artifacts'
    *     `_advanced_from` stamps agree (mixed stamps = a crash landed
    *     between per-artifact advances: finish or re-stage the lagging
    *     ones before the next ingest)
    *   - `profile_readable`   the three sketch artifacts decode and
    *     yield estimates
    *   - `ann_*` (when `ann/quantizer` exists) quantizer rows == the
    *     build's nlist with lists 0..nlist-1; assignment vec_ids
    *     unique with every list id in range; baseline present,
    *     measured over ≥1 and ≤ assignment-count vectors; codes (when
    *     present) row-count AND id-set equal to the assignment;
    *     codebook rows == the build's m×ksub
    *
    * Shape params (chunksPerPart, nlist, pqM, pqKsub, vecId) are read
    * from the stored build fingerprint — the audit judges the directory
    * against what BUILT it, not against this spec's defaults. With NO
    * stored fingerprint (pre-fingerprint or foreign dir), the
    * shape-dependent checks (`windows_chunks`, `ann_quantizer`, the
    * assignment list-range arm, `ann_codes`, `ann_codebook`) report as
    * SKIPPED (`"skipped": true`, `ok` unaffected) instead of judging a
    * possibly healthy directory against defaults that were never the
    * build's (ADVICE r16) — the `fingerprint` check already flags the
    * missing provenance, so the audit still fails overall. Only `out`
    * is required in an audit spec.
    *
    * Cost: one scan per artifact, aggregate-only (counts, distinct
    * counts, one anti-join per id-set comparison); nothing corpus-sized
    * is shuffled except the postings/codes id-set comparisons
    * (distinct-then-join on the id key, heavily combinable) and the
    * `postings_unique` distinct over `(doc_id, sh64)` — the one
    * index-row-sized exchange here, hash-only columns, accepted because
    * duplicate postings silently corrupt every later re-counted df
    * (r17); measured at the stats/compact maintenance band (22 s at
    * 600k docs). The audit is schedulable at the same cadence as
    * `mode=compact`. */
  private def executeAudit(s: SparkSession, spec: Spec): String = {
    val out = spec.out
    require(Files.isDirectory(Paths.get(out)),
      s"audit target '$out' is not a directory")

    // shape params from the stored fingerprint (fall back to the spec)
    val fpNode: Option[JsonNode] = {
      val p = fingerprintPath(out)
      if (Files.exists(p)) Some(new ObjectMapper().readTree(Files.readString(p)))
      else None
    }
    val shape = fpNode.map(_.get("shape"))
    def shapeInt(k: String, dflt: Int): Int =
      shape.flatMap(n => Option(n.get(k))).map(_.asInt).getOrElse(dflt)
    def shapeLong(k: String, dflt: Long): Long =
      shape.flatMap(n => Option(n.get(k))).map(_.asLong).getOrElse(dflt)
    def shapeStr(k: String, dflt: String): String =
      shape.flatMap(n => Option(n.get(k))).map(_.asText).getOrElse(dflt)
    val chunksPerPart = shapeLong("chunksPerPart", spec.chunksPerPart)
    val nlist = shapeInt("nlist", spec.nlist)
    val pqM = shapeInt("pqM", spec.pqM)
    val pqKsub = shapeInt("pqKsub", spec.pqKsub)
    val vecId = shapeStr("vecId", spec.vecId)

    val findings = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Boolean, String, Boolean)] // +skipped
    def check(name: String, artifact: String)(body: => Option[String]): Unit =
      findings += (try body match {
        case None => (name, artifact, true, "", false)
        case Some(detail) => (name, artifact, false, detail, false)
      } catch {
        case e: Exception =>
          (name, artifact, false, s"check errored: ${e.getMessage}", false)
      })
    // a shape-dependent check with no stored fingerprint: running it
    // against the audit spec's defaults would judge a healthy directory
    // corrupt (or error outright on a differing vecId column), so it
    // reports indeterminate instead (ADVICE r16); the fingerprint check
    // fails the audit overall either way
    def checkShaped(name: String, artifact: String)(
        body: => Option[String]): Unit =
      if (fpNode.isDefined) check(name, artifact)(body)
      else findings += ((name, artifact, true,
        "skipped: no stored fingerprint — the build's shape params are " +
          "unknown and the spec's defaults may not be the build's", true))

    // 1. interrupted staged swaps anywhere under out
    check("staging_leftover", ".") {
      import scala.jdk.CollectionConverters._
      val st = Files.walk(Paths.get(out))
      val stray =
        try st.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          Files.isDirectory(p) && (n.endsWith("__compact") ||
            n.endsWith("__advance") || n.endsWith("__recluster") ||
            n.endsWith("__repair") || n == "ann__retrain") &&
            // quarantined trees are already-adjudicated debris, not an
            // interrupted swap (mode=repair moves partials there)
            !Paths.get(out).relativize(p).toString.startsWith("_quarantine")
        }.map(p => Paths.get(out).relativize(p).toString).toVector
        finally st.close()
      if (stray.isEmpty) None
      else Some(s"interrupted staged swap(s): ${stray.mkString(", ")} — " +
        "each holds fully verified data; move it into place (or delete " +
        "it to retry the producing job), or run \"mode\": \"repair\"")
    }

    // 1b. a pending ingest journal = a crashed ingest (its appends are
    // partial and its rewrite artifacts may be half-advanced); a backup
    // dir WITHOUT the journal is setup debris from a crash before any
    // mutation — both are mode=repair's arm 0
    check("ingest_pending", JournalName) {
      if (Files.exists(Paths.get(out, JournalName)))
        Some("a crashed ingest left its journal — run \"mode\": " +
          "\"repair\" to roll the partial ingest back to the " +
          "pre-ingest state, then re-run the ingest")
      else if (Files.exists(Paths.get(out, BackupName)))
        Some(s"leftover '$BackupName' with no journal (crash during " +
          "journal setup; nothing was mutated) — \"mode\": \"repair\" " +
          "removes it")
      else None
    }

    // 1c. a label table with no df-cap baseline cannot be tier-guarded:
    // every ingest would silently re-baseline to its own prior count
    // (readDfCapDocs fallback) and cumulative cap crossings go
    // undetected — exactly the degradation the guard exists to catch
    // (ADVICE r17; build stage 0 now writes the baseline FIRST, so this
    // state only arises from a pre-r18 crash or manual deletion)
    check("df_cap_baseline", "index/_df_cap.json") {
      if (stageDone(s"$out/index/cluster_labels") &&
          !Files.exists(dfCapPath(out)))
        Some("index/cluster_labels present with no index/_df_cap.json " +
          "baseline — the ingest tier guard is blind; run \"mode\": " +
          "\"recluster\" to re-derive the labels and re-baseline")
      else None
    }

    // 2. every artifact directory that exists is _SUCCESS-complete
    val knownDirs = Seq("fates", "report", "manifest", "windows",
      "index/hashes", "index/postings", "index/cluster_labels",
      "stats/heavy_tokens",
      "stats/token_sketch", "stats/len_quantiles", "stats/distinct_content",
      "stats/source_distinct", "stats/source_len", "ann/quantizer",
      "ann/assignment", "ann/baseline", "ann/codebook", "ann/codes",
      "ann/pq_baseline")
    check("stage_complete", ".") {
      val partial = knownDirs.filter(d =>
        Files.isDirectory(Paths.get(out, d)) && !stageDone(s"$out/$d"))
      if (partial.isEmpty) None
      else Some(s"partial (no _SUCCESS) artifact dir(s): " +
        partial.mkString(", ") + " — a crashed write; rebuild or remove")
    }

    check("fingerprint", "_spec_fingerprint.json") {
      if (fpNode.isDefined) None
      else Some("no stored spec fingerprint (pre-fingerprint or foreign " +
        "build dir) — resume/ingest shape guards cannot verify provenance")
    }

    def done(d: String) = stageDone(s"$out/$d")

    // 3. manifest uniqueness (the double-appended-ingest signature)
    if (done("manifest")) {
      val manifest = s.read.parquet(s"$out/manifest")
      check("manifest_unique", "manifest") {
        val r = manifest
          .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("d"))
          .head()
        val (n, d) = (r.getAs[Long]("n"), r.getAs[Long]("d"))
        if (n == d) None
        else Some(s"$n manifest rows over $d distinct doc_ids — " +
          s"${n - d} duplicated row(s); a failed ingest was likely " +
          "re-run without cleaning its partial appends")
      }
      // 4. one content hash per manifest doc
      if (done("index/hashes")) check("hashes_count", "index/hashes") {
        val nh = s.read.parquet(s"$out/index/hashes").count()
        val nm = manifest.count()
        if (nh == nm) None
        else Some(s"$nh hash rows != $nm manifest rows — the hash table " +
          "and manifest have diverged (partial append on one side)")
      }
      // 5. no orphan postings
      if (done("index/postings")) check("postings_docs", "index/postings") {
        val orphans = s.read.parquet(s"$out/index/postings")
          .select("doc_id").distinct()
          .join(manifest.select("doc_id"), Seq("doc_id"), "left_anti")
          .count()
        if (orphans == 0L) None
        else Some(s"$orphans posting doc_id(s) missing from the " +
          "manifest — orphan shingle rows from a partial append")
      }
      // 5b. duplicate postings (r17): the shingle kernel emits a per-doc
      // SET, so the raw index holds at most one row per (doc, shingle)
      // by construction — duplicates are a double-appended ingest, and
      // they silently inflate every df the readers re-count from rows
      if (done("index/postings"))
        check("postings_unique", "index/postings") {
          val r = s.read.parquet(s"$out/index/postings")
            .agg(count(lit(1)).as("n"),
              countDistinct(col("doc_id"), col("sh64")).as("d")).head()
          val (n, dn) = (r.getAs[Long]("n"), r.getAs[Long]("d"))
          if (n == dn) None
          else Some(s"$n posting rows over $dn distinct (doc, shingle) " +
            s"pairs — ${n - dn} double-appended row(s) inflating the " +
            "re-counted dfs; a failed ingest was likely re-run without " +
            "cleaning its partial appends")
        }
      // 5c. label/manifest balance (r17): every labeled doc exists in
      // the manifest, at most one label per doc, and every cluster rep
      // is itself a member labeled with itself (the connectedComponents
      // invariant an advance must preserve)
      if (done("index/cluster_labels"))
        check("cluster_labels", "index/cluster_labels") {
          val labels = s.read.parquet(s"$out/index/cluster_labels")
          val r = labels.agg(count(lit(1)).as("n"),
            countDistinct(col("doc_id")).as("d")).head()
          val (n, dn) = (r.getAs[Long]("n"), r.getAs[Long]("d"))
          val orphans = labels.select("doc_id").distinct()
            .join(manifest.select("doc_id"), Seq("doc_id"), "left_anti")
            .count()
          val badReps = labels.select(col("cluster_rep").as("doc_id"))
            .distinct()
            .join(labels.filter(col("doc_id") === col("cluster_rep"))
              .select("doc_id"), Seq("doc_id"), "left_anti")
            .count()
          if (n != dn)
            Some(s"$n label rows over $dn distinct doc_ids — " +
              s"${n - dn} duplicated label(s); a label advance was " +
              "applied twice outside the stamp guard")
          else if (orphans != 0L)
            Some(s"$orphans labeled doc_id(s) missing from the " +
              "manifest — the label table and manifest have diverged")
          else if (badReps != 0L)
            Some(s"$badReps cluster rep(s) not labeled with " +
              "themselves — not a connectedComponents output (corrupt " +
              "or hand-edited advance)")
          else None
        }
      // 6-7. the window store vs the manifest it packed
      if (done("windows")) {
        val windows = PipelineOps.readWindows(s, s"$out/windows",
          chunksPerPart)
        check("windows_tokens", "windows") {
          val wt = windows
            .agg(coalesce(sum("n_tokens"), lit(0L)).as("t"))
            .head().getAs[Long]("t")
          val mt = manifest
            .agg(coalesce(sum(when(col("chunk").isNotNull, col("n_tok"))),
              lit(0L)).as("t"))
            .head().getAs[Long]("t")
          if (wt == mt) None
          else Some(s"window store holds $wt tokens but the manifest " +
            s"packed $mt — the store and manifest have diverged")
        }
        checkShaped("windows_chunks", "windows") {
          // the RAW store read — readWindows projects `part` away, and
          // this check is precisely about the physical layout
          val r = s.read.parquet(s"$out/windows")
            .agg(countDistinct(col("chunk")).as("d"),
              coalesce(max(col("chunk")), lit(-1L)).as("m"),
              coalesce(sum(when(col("part") =!=
                floor(col("chunk") / chunksPerPart.toDouble), 1L)
                .otherwise(0L)), lit(0L)).as("misplaced"))
            .head()
          val (d, m, mis) = (r.getAs[Long]("d"), r.getAs[Long]("m"),
            r.getAs[Long]("misplaced"))
          if (d != m + 1)
            Some(s"chunk ids not contiguous: ${m + 1 - d} missing chunk " +
              s"id(s) below max $m")
          else if (mis != 0L)
            Some(s"$mis window row(s) in the wrong part directory " +
              s"(part != floor(chunk / $chunksPerPart)) — chunk-range " +
              "pruning would miss them")
          else None
        }
      }
    }

    // 8. per-ingest advance coherence + readability — the staged-swap
    // artifacts must all carry the SAME increment stamp (the label table
    // advances through the same machinery since r17)
    val profileDirs = Seq("stats/token_sketch", "stats/len_quantiles",
      "stats/distinct_content", "stats/source_distinct", "stats/source_len",
      "index/cluster_labels")
      .filter(done)
    if (profileDirs.nonEmpty) {
      check("profile_stamps", "stats") {
        val stamps = profileDirs.map { d =>
          val p = Paths.get(out, d, "_advanced_from")
          d -> (if (Files.exists(p)) Some(Files.readString(p)) else None)
        }
        if (stamps.map(_._2).distinct.size <= 1) None
        else Some("profile artifacts advanced unevenly: " +
          stamps.map { case (d, t) =>
            s"$d=${t.getOrElse("<build>")}" }.mkString(", ") +
          " — a crash landed between per-artifact advances; finish the " +
          "lagging ones (re-run the ingest: advanced artifacts skip via " +
          "their stamp) before the next ingest")
      }
      check("profile_readable", "stats") {
        import graft.operators.RelationalOps
        val issues = scala.collection.mutable.ArrayBuffer.empty[String]
        if (done("stats/token_sketch")) {
          val sk = s.read.parquet(s"$out/stats/token_sketch")
            .head().getAs[Array[Byte]]("sk")
          val (nTok, _, _) =
            graft.functions.FreqItems.decode(sk, Long.MaxValue)
          if (nTok < 0) issues += "token_sketch decoded a negative stream"
        }
        if (done("stats/len_quantiles"))
          RelationalOps.quantileSketchEstimate(
            s.read.parquet(s"$out/stats/len_quantiles"), "grp", Seq(0.5))
            .collect()
        if (done("stats/distinct_content"))
          RelationalOps.distinctSketchEstimate(
            s.read.parquet(s"$out/stats/distinct_content"), "grp")
            .collect()
        if (issues.isEmpty) None else Some(issues.mkString("; "))
      }
    }

    // 9. the ANN index family
    if (done("ann/quantizer")) {
      val quant = s.read.parquet(s"$out/ann/quantizer")
      checkShaped("ann_quantizer", "ann/quantizer") {
        val r = quant.agg(count(lit(1)).as("n"),
          countDistinct(col("list")).as("d"),
          coalesce(max(col("list")), lit(-1)).as("m")).head()
        val (n, d, m) = (r.getAs[Long]("n"), r.getAs[Long]("d"),
          r.getAs[Int]("m"))
        if (n == nlist && d == n && m == nlist - 1) None
        else Some(s"quantizer has $n rows / $d distinct lists / max " +
          s"list $m, expected $nlist rows with lists 0..${nlist - 1}")
      }
      if (done("ann/assignment")) {
        val assign = s.read.parquet(s"$out/ann/assignment")
        // the duplicate-id arm is shape-free and always runs; the
        // list-range arm needs the build's nlist, so without a stored
        // fingerprint it is folded into the shape-skip set
        check("ann_assignment", "ann/assignment") {
          val r = assign.agg(count(lit(1)).as("n"),
            countDistinct(col("vec_id")).as("d"),
            coalesce(sum(when(col("l") < 0 || col("l") >= nlist, 1L)
              .otherwise(0L)), lit(0L)).as("oor")).head()
          val (n, d, oor) = (r.getAs[Long]("n"), r.getAs[Long]("d"),
            r.getAs[Long]("oor"))
          if (n != d)
            Some(s"$n assignment rows over $d distinct vec_ids — " +
              s"${n - d} duplicated row(s); a failed ANN ingest was " +
              "likely re-run without cleaning its partial appends")
          else if (fpNode.isDefined && oor != 0L)
            Some(s"$oor assignment row(s) reference a list id outside " +
              s"0..${nlist - 1} — assigned against a DIFFERENT quantizer")
          else None
        }
        check("ann_baseline", "ann/baseline") {
          if (!done("ann/baseline"))
            Some("assignment exists but the training-distortion baseline " +
              "is missing — the ingest drift gate cannot run")
          else {
            val b = s.read.parquet(s"$out/ann/baseline").head()
            val nb = b.getAs[Long]("n_vecs")
            val na = assign.count()
            if (nb >= 1 && nb <= na) None
            else Some(s"baseline measured over $nb vectors vs $na " +
              "assigned — the baseline must cover the training corpus " +
              "(>= 1, <= the standing assignment)")
          }
        }
        if (done("ann/codes")) checkShaped("ann_codes", "ann/codes") {
          val codes = s.read.parquet(s"$out/ann/codes")
            .select(col(vecId).as("vec_id"))
          val nc = codes.count()
          val na = assign.count()
          if (nc != na)
            Some(s"$nc code rows != $na assignment rows — the PQ codes " +
              "and IVF assignment have diverged (partial append on one " +
              "side)")
          else {
            val unmatched = codes
              .join(assign.select("vec_id"), Seq("vec_id"), "left_anti")
              .count()
            if (unmatched == 0L) None
            else Some(s"$unmatched code row(s) for vec_ids absent from " +
              "the assignment — encoded and assigned sets have diverged")
          }
        }
      }
      if (done("ann/codebook")) checkShaped("ann_codebook", "ann/codebook") {
        val n = s.read.parquet(s"$out/ann/codebook").count()
        if (n == pqM.toLong * pqKsub) None
        else Some(s"codebook has $n rows, expected m x ksub = " +
          s"${pqM.toLong * pqKsub}")
      }
    }

    val ok = findings.forall(_._3)
    val lines = findings.map { case (name, artifact, o, detail, skip) =>
      s"""{"check":"${esc(name)}","artifact":"${esc(artifact)}",""" +
        s""""ok":$o,"detail":"${esc(detail)}"""" +
        (if (skip) ""","skipped":true""" else "") + "}"
    }.mkString("[", ",", "]")
    val summary =
      s"""{"mode":"audit","out":"${esc(out)}","ok":$ok,"checks":$lines}"""
    Files.write(Paths.get(out, "AUDIT.json"),
      summary.getBytes(StandardCharsets.UTF_8))
    summary
  }

  /** The df-cap baseline record `out/index/_df_cap.json` (VERDICT r16
    * #3): the doc count (and the clamp of it,
    * [[graft.operators.DedupOps.dfCapFor]]) the standing pair-derived
    * artifacts were last FULLY derived under — written by the build's
    * label stage and by [[executeRecluster]], never by an ingest. The
    * chained-increments ≡ from-scratch guarantee of the incremental
    * dedup family holds exactly while this cap equals the current
    * union's; every ingest compares the two and warns loudly on a
    * crossing (the guard, [[executeIngest]]). */
  private def dfCapPath(out: String) =
    Paths.get(out, "index", "_df_cap.json")

  private def writeDfCap(out: String, docs: Long): Unit = {
    Files.createDirectories(Paths.get(out, "index"))
    Files.writeString(dfCapPath(out),
      s"""{"docs":$docs,"cap":${graft.operators.DedupOps.dfCapFor(docs)}}""")
  }

  private def readDfCapDocs(out: String): Option[Long] =
    if (!Files.exists(dfCapPath(out))) None
    else Some(new ObjectMapper()
      .readTree(Files.readString(dfCapPath(out))).get("docs").asLong)

  /** `"mode": "recluster"` — the RECOVERY arm of the df-cap tier guard
    * (VERDICT r16 #3), the dedup analogue of `mode=retrain`: when
    * ingests have moved the corpus across a cap tier (the guard in every
    * ingest summary), the standing `index/cluster_labels` table — whose
    * chained advances are exact only under an unchanged cap — is
    * re-derived FROM SCRATCH under the current cap, from the persisted
    * raw posting index (one index scan,
    * [[graft.operators.DedupOps.ngramJaccardPairsFromPostings]] — the
    * corpus is never re-read or re-shingled), and `_df_cap.json`
    * re-baselines to the current doc count so the guard goes quiet
    * until the NEXT crossing. Historical manifest FATES stay frozen by
    * design (the frozen-prior contract: a prior doc's fate is never
    * revisited) — the recluster re-baselines the label artifact that
    * future ingests fate against. Staged-swap crash contract as
    * [[executeRetrain]]: a leftover `cluster_labels__recluster` holds
    * the fully built table — move it into place (or `mode=repair`).
    * Only `out` is needed beyond the build's shape fields (the doc
    * count comes off the manifest). */
  private def executeRecluster(s: SparkSession, spec: Spec): String = {
    checkIngestFingerprint(spec) // same shape rule: minJaccard etc. must
                                 // match the artifacts being rebuilt
    val out = spec.out
    require(stageDone(s"$out/index/postings") && stageDone(s"$out/manifest"),
      s"'$out' has no posting index + manifest — recluster rebuilds an " +
        "existing build's label artifact")
    val nDocs = s.read.parquet(s"$out/manifest").count()
    val run = graft.operators.DedupOps.connectedComponentsManaged(
      graft.operators.DedupOps.ngramJaccardPairsFromPostings(
        s.read.parquet(s"$out/index/postings"), nDocs, spec.minJaccard),
      "da", "db")
    val staging = s"$out/index/cluster_labels__recluster"
    if (Files.exists(Paths.get(staging))) rmTree(Paths.get(staging))
    run.labels.write.parquet(staging)
    run.release()
    val nLabels = s.read.parquet(staging).count()
    // carry the stats artifacts' advance stamp onto the rebuilt table so
    // the audit's per-ingest coherence check stays meaningful (the
    // reclustered table covers exactly the same corpus state)
    val stampSrc = Paths.get(out, "stats/token_sketch", "_advanced_from")
    if (Files.exists(stampSrc))
      Files.copy(stampSrc, Paths.get(staging, "_advanced_from"))
    // the doc count this staging was derived under, persisted INSIDE the
    // staging (ADVICE r17): when a crash lands between the delete and
    // the move, mode=repair completes the swap — and must re-baseline
    // the tier guard to THIS count, not the manifest's at repair time
    // (an ingest may have run in the window; it warned about the missing
    // label dir but appended to the manifest, so the rebuilt labels do
    // not cover it — repair compares and reports manual on a mismatch).
    Files.writeString(Paths.get(staging, "_recluster_docs"),
      nDocs.toString)
    faultPoint(spec, "recluster:staged")
    // also the creation path for a pre-label (pre-r17) build dir: with
    // no standing table the swap is just the move
    if (Files.exists(Paths.get(s"$out/index/cluster_labels")))
      rmTree(Paths.get(s"$out/index/cluster_labels"))
    faultPoint(spec, "recluster:swap")
    Files.move(Paths.get(staging), Paths.get(s"$out/index/cluster_labels"))
    faultPoint(spec, "recluster:before_dfcap")
    writeDfCap(out, nDocs)
    val summary =
      s"""{"mode":"recluster","out":"${esc(out)}","docs":$nDocs,""" +
        s""""cap":${graft.operators.DedupOps.dfCapFor(nDocs)},""" +
        s""""n_labels":$nLabels}"""
    Files.write(Paths.get(out, "RECLUSTER.json"),
      summary.getBytes(StandardCharsets.UTF_8))
    summary
  }

  /** `"mode": "repair"` — the WRITE arm of the fsck (VERDICT r16 #4):
    * `mode=audit` finds the half-advanced states the failure contracts
    * describe; this job closes the loop by executing each contract's
    * documented recovery instead of leaving it "by hand". It performs
    * ONLY mechanically safe actions and reports everything else as
    * `manual` with guidance:
    *
    *   - a pending ingest journal (`_ingest_pending.json`, r18): the
    *     crashed ingest is ROLLED BACK byte-exact — unrecorded files in
    *     the append artifacts deleted, the replaced window parts and
    *     rewrite artifacts restored from the journal's backups — after
    *     which the SAME ingest re-runs as if the crash never happened
    *     (ingest itself refuses to run over a pending journal); an
    *     orphan `_ingest_backup` without the journal is setup debris
    *     from a crash before any mutation — deleted
    *   - interrupted staged swaps (`*__compact` / `*__advance` /
    *     `*__recluster` / `ann__retrain`): COMPLETED (staging moved into
    *     place) when the original is gone and the staging is
    *     `_SUCCESS`-complete — the crash landed between the delete and
    *     the move, past verification; ROLLED BACK (staging deleted) when
    *     the original still exists — the producing job re-runs from
    *     intact state; QUARANTINED when the original is gone but the
    *     staging is itself partial (nothing trustworthy remains — manual)
    *   - `_SUCCESS`-less partial artifact directories: QUARANTINED to
    *     `out/_quarantine/` (never deleted — the operator may forensic
    *     them), with the producing mode named for the rebuild
    *   - a double-appended manifest (the blindly-retried-ingest
    *     signature): DEDUPED by a staged rewrite keeping each doc's
    *     FIRST-append row (the one whose pack/rank offsets agree with
    *     the prior totals — the lower rank; duplicate dropped-doc rows
    *     are identical), verified to exactly one row per doc before the
    *     swap
    *   - duplicated `ann/assignment` / `ann/codes` / `index/postings`
    *     rows (the same retry against the frozen artifacts/kernels is
    *     deterministic, so true double-appends are row-identical):
    *     DEDUPED via a verified staged `distinct()`; rows that do NOT
    *     collapse to one per key diverged for another reason — manual
    *   - everything else the audit can flag (hash-table/manifest
    *     imbalance, window-store divergence, baseline/codebook shape) is
    *     NOT mechanically reversible from the artifacts alone — reported
    *     `manual` with the applicable recovery (`mode=stats`,
    *     `mode=retrain`, `mode=recluster`, restore-from-copy)
    *
    * Idempotent: a clean directory repairs to zero actions; re-running
    * after a repair finds nothing. The test bar (RunSpec): each planted
    * corruption → audit flags → repair → audit CLEAN, content ≡
    * pre-crash. */
  private def executeRepair(s: SparkSession, spec: Spec): String = {
    import scala.jdk.CollectionConverters._
    val out = spec.out
    require(Files.isDirectory(Paths.get(out)),
      s"repair target '$out' is not a directory")
    val actions = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String)]
    val manual = scala.collection.mutable.ArrayBuffer
      .empty[(String, String)]

    def quarantine(p: java.nio.file.Path): String = {
      val qRoot = Paths.get(out, "_quarantine")
      Files.createDirectories(qRoot)
      val base = Paths.get(out).relativize(p).toString.replace("/", "__")
      var target = qRoot.resolve(base)
      var i = 1
      while (Files.exists(target)) { target = qRoot.resolve(s"${base}_$i"); i += 1 }
      Files.move(p, target)
      Paths.get(out).relativize(target).toString
    }

    // 0. a crashed ingest's journal: mechanical rollback to the exact
    // pre-ingest state (VERDICT r17 #4) — unrecorded files in the
    // append artifacts are the crashed ingest's partial appends
    // (deleted), the replaced window parts and rewrite artifacts are
    // restored from the journal's backups, and any __advance staging of
    // a journal-covered artifact is superseded debris (the restore wins
    // — dropped here so arm 1 never adjudicates it against the restored
    // original). Runs FIRST: every later arm must see the rolled-back
    // state, not the crash state.
    val journalP = Paths.get(out, JournalName)
    val backupP = Paths.get(out, BackupName)
    if (Files.exists(journalP)) {
      val j = new ObjectMapper().readTree(Files.readString(journalP))
      val partIdxLo = j.get("partIdx").asLong
      val files = j.get("files")
      var deleted = 0
      files.fieldNames().forEachRemaining { a =>
        val arr = files.get(a)
        val keep = (0 until arr.size).map(arr.get(_).asText).toSet
        val dir = Paths.get(out, a)
        listFileNames(dir).filterNot(keep).foreach { f =>
          Files.delete(dir.resolve(f)); deleted += 1
        }
        // a crash MID-write also leaves the committer's _temporary tree
        val tmp = dir.resolve("_temporary")
        if (Files.exists(tmp)) rmTree(tmp)
      }
      val windows = Paths.get(out, "windows")
      if (Files.isDirectory(windows)) {
        windowPartsFrom(out, partIdxLo)
          .foreach(p => rmTree(windows.resolve(p)))
        val tmp = windows.resolve("_temporary")
        if (Files.exists(tmp)) rmTree(tmp)
      }
      val wb = backupP.resolve("windows_parts")
      listDirNames(wb).foreach(p =>
        copyTree(wb.resolve(p), windows.resolve(p)))
      ingestRewriteArtifacts.foreach { a =>
        val b = backupP.resolve(a.replace("/", "__"))
        val cur = Paths.get(out, a)
        val stagingA = Paths.get(out, a + "__advance")
        if (Files.isDirectory(b)) {
          if (Files.exists(stagingA)) rmTree(stagingA)
          if (Files.exists(cur)) rmTree(cur)
          copyTree(b, cur)
        }
      }
      // SUMMARY.json (ADVICE r18): the commit order is SUMMARY-then-
      // journal-retract, so a journal-covered crash may have landed the
      // NEW summary — restore the backed-up pre-ingest one (or drop the
      // crash-written one if the directory had none, which only a
      // foreign pre-SUMMARY dir could produce).
      val summaryB = backupP.resolve("SUMMARY.json")
      val summaryCur = Paths.get(out, "SUMMARY.json")
      if (Files.isRegularFile(summaryB))
        Files.copy(summaryB, summaryCur,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      else Files.deleteIfExists(summaryCur)
      val increment = Option(j.get("increment")).map(_.asText).getOrElse("")
      Files.delete(journalP)
      if (Files.exists(backupP)) rmTree(backupP)
      actions += (("rolled_back_ingest", JournalName,
        s"a crashed ingest of '$increment' was rolled back to the " +
          s"pre-ingest state ($deleted partial append file(s) deleted, " +
          "replaced window parts and rewrite artifacts restored from " +
          "the journal's backups) — re-run the ingest; it will land as " +
          "if the crash never happened"))
    } else if (Files.exists(backupP)) {
      // backup without journal: the crash hit DURING journal setup —
      // backups precede the journal file, which precedes any mutation,
      // so the directory itself is untouched and the backup is debris
      rmTree(backupP)
      actions += (("removed_backup_debris", BackupName,
        "leftover ingest backup with no journal (crash during journal " +
          "setup — nothing was mutated); deleted"))
    }

    // 1. interrupted staged swaps: complete, roll back, or quarantine
    val st = Files.walk(Paths.get(out))
    val staged =
      try st.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isDirectory(p) && (n.endsWith("__compact") ||
          n.endsWith("__advance") || n.endsWith("__recluster") ||
          n.endsWith("__repair") || n == "ann__retrain") &&
          !Paths.get(out).relativize(p).toString.startsWith("_quarantine")
      }.toVector
      finally st.close()
    staged.foreach { p =>
      val rel = Paths.get(out).relativize(p).toString
      val original = p.resolveSibling(
        p.getFileName.toString
          .replaceAll("__(compact|advance|recluster|repair|retrain)$", ""))
      // a staged write is trustworthy only when its own markers are
      // complete (ann__retrain is a directory TREE — its children carry
      // the markers)
      val verified =
        if (p.getFileName.toString == "ann__retrain")
          Seq("quantizer", "assignment", "baseline")
            .forall(c => stageDone(s"$p/$c"))
        else stageDone(p.toString)
      if (Files.exists(original))
        // the original survived — the crash hit before the destructive
        // half, so the staging is superseded debris: roll back
        { rmTree(p); actions += (("rolled_back_swap", rel,
          s"original '${Paths.get(out).relativize(original)}' intact — " +
            "staging deleted; re-run the producing job")) }
      else if (verified) {
        Files.move(p, original)
        // a completed RECLUSTER swap must also re-baseline the tier
        // guard (executeRecluster writes _df_cap.json after its move, so
        // a crash between the two leaves the guard firing on a directory
        // whose labels are current — r17 self-review). The baseline is
        // the staging's own _recluster_docs marker — the doc count the
        // table was DERIVED under — never the manifest at repair time:
        // an ingest run inside the crash window warns about the missing
        // label dir yet appends to the manifest, and the rebuilt labels
        // do not cover those docs (ADVICE r17), so a count mismatch is
        // reported manual with the recovery named instead of silencing
        // the guard against a baseline the labels don't honor.
        val extra =
          if (p.getFileName.toString == "cluster_labels__recluster" &&
              stageDone(s"$out/manifest")) {
            val nManifest = s.read.parquet(s"$out/manifest").count()
            val marker = Paths.get(original.toString, "_recluster_docs")
            val derivedUnder =
              if (Files.exists(marker))
                Files.readString(marker).trim.toLong
              else nManifest // pre-marker staging: the pre-r18 behavior
            if (nManifest > derivedUnder) {
              manual += (("index/cluster_labels",
                s"the completed recluster was derived under " +
                  s"$derivedUnder docs but the manifest now holds " +
                  s"$nManifest — an ingest ran between the recluster " +
                  "crash and this repair, and the rebuilt labels do not " +
                  "cover it; re-run \"mode\": \"recluster\""))
              "; _df_cap.json NOT re-baselined (manifest advanced past " +
                "the recluster — see the manual entry)"
            } else {
              writeDfCap(out, derivedUnder)
              s"; _df_cap.json re-baselined to $derivedUnder docs (the " +
                "staging's derivation count)"
            }
          } else ""
        actions += (("completed_swap",
          Paths.get(out).relativize(original).toString,
          s"moved '$rel' into place — the crash landed between the " +
            s"delete and the move, past verification$extra"))
      }
      else {
        val q = quarantine(p)
        manual += ((rel, s"staging incomplete AND original missing — " +
          s"quarantined to '$q'; rebuild with the producing mode"))
      }
    }

    // 2. partial (no _SUCCESS) artifact directories → quarantine
    val knownDirs = Seq("fates", "report", "manifest", "windows",
      "index/hashes", "index/postings", "index/cluster_labels",
      "stats/heavy_tokens", "stats/token_sketch", "stats/len_quantiles",
      "stats/distinct_content", "stats/source_distinct", "stats/source_len",
      "ann/quantizer", "ann/assignment", "ann/baseline", "ann/codebook",
      "ann/codes", "ann/pq_baseline")
    knownDirs.foreach { d =>
      val p = Paths.get(out, d)
      if (Files.isDirectory(p) && !stageDone(p.toString)) {
        val q = quarantine(p)
        actions += (("quarantined_partial", d,
          s"no _SUCCESS (crashed write) — moved to '$q'; rebuild via " +
            (if (d.startsWith("stats/")) "\"mode\": \"stats\""
             else if (d.startsWith("ann/")) "\"mode\": \"retrain\""
             else if (d == "index/cluster_labels") "\"mode\": \"recluster\""
             else "a resume build (overwrite=false rebuilds partial stages)")))
      }
    }

    // 3. double-appended manifest → keep each doc's first-append row
    if (stageDone(s"$out/manifest")) {
      val manifest = s.read.parquet(s"$out/manifest")
      val r = manifest
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("d"))
        .head()
      val (n, d) = (r.getAs[Long]("n"), r.getAs[Long]("d"))
      if (n != d) {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id")
          .orderBy(col("rank").asc_nulls_last, col("chunk").asc_nulls_last)
        val deduped = manifest.withColumn("__rk", row_number().over(w))
          .filter(col("__rk") === 1).drop("__rk")
        val staging = s"$out/manifest__repair"
        deduped.write.mode("overwrite").parquet(staging)
        val nStaged = s.read.parquet(staging).count()
        require(nStaged == d,
          s"manifest dedup staged $nStaged rows != $d distinct docs — " +
            s"refusing the swap; staged data left at '$staging'")
        rmTree(Paths.get(s"$out/manifest"))
        Files.move(Paths.get(staging), Paths.get(s"$out/manifest"))
        actions += (("deduped_manifest", "manifest",
          s"${n - d} double-appended row(s) removed (kept each doc's " +
            "first-append row). NOTE: if the retried ingest also " +
            "re-appended index/ann rows, those balances stay flagged " +
            "by the audit — see its manual guidance."))
      }
    }

    // 4. duplicated appends on the key-unique artifacts — row-identical
    // by determinism (a retry against the same frozen artifacts/kernels
    // computes the same rows), so a verified distinct() reverses them;
    // anything else is manual. The codes id column comes from the
    // stored fingerprint when present (the audit's rule: judge the
    // directory against what BUILT it).
    val codesId = {
      val p = fingerprintPath(out)
      if (!Files.exists(p)) spec.vecId
      else Option(new ObjectMapper().readTree(Files.readString(p))
          .at("/shape/vecId"))
        .filter(!_.isMissingNode).map(_.asText).getOrElse(spec.vecId)
    }
    Seq(
      ("ann/assignment", Seq("vec_id"), "deduped_ann",
        "restore from a copy or rebuild with \"mode\": \"retrain\""),
      ("ann/codes", Seq(codesId), "deduped_ann",
        "restore from a copy or rebuild with \"mode\": \"retrain\""),
      ("index/postings", Seq("doc_id", "sh64"), "deduped_postings",
        "restore from a copy, or rebuild the index with an " +
          "overwrite build over the full corpus"))
      .foreach { case (art, keys, actionName, recovery) =>
        if (stageDone(s"$out/$art")) {
          val t = s.read.parquet(s"$out/$art")
          val r = t.agg(count(lit(1)).as("n"),
            countDistinct(col(keys.head), keys.tail.map(col): _*).as("d"))
            .head()
          val (n, d) = (r.getAs[Long]("n"), r.getAs[Long]("d"))
          if (n != d) {
            val staging = s"$out/${art}__repair"
            t.distinct().write.mode("overwrite").parquet(staging)
            val nStaged = s.read.parquet(staging).count()
            if (nStaged == d) {
              rmTree(Paths.get(s"$out/$art"))
              Files.move(Paths.get(staging), Paths.get(s"$out/$art"))
              actions += ((actionName, art,
                s"${n - d} double-appended row(s) removed (row-identical " +
                  "retry appends)"))
            } else {
              rmTree(Paths.get(staging))
              manual += ((art, s"$n rows over $d distinct keys do NOT " +
                "collapse to one row per key — the duplicates differ " +
                s"(appended against different artifacts?); $recovery"))
            }
          }
        }
      }

    // close the loop (the scaladoc's promise): whatever the audit still
    // flags AFTER the mechanical arms is genuinely non-reversible from
    // the artifacts alone — surface each residual failure as a manual
    // entry carrying the applicable recovery, so REPAIR.json alone tells
    // the operator everything left to do (the audit also re-lands
    // out/AUDIT.json reflecting the post-repair state)
    val residual = new ObjectMapper().readTree(executeAudit(s, spec))
    val resChecks = residual.get("checks")
    (0 until resChecks.size).map(resChecks.get)
      .filter(!_.get("ok").asBoolean).foreach { c =>
        val name = c.get("check").asText
        val recovery = name match {
          case "hashes_count" =>
            "the hash table cannot be rebuilt from the manifest (it " +
              "needs the texts) — restore from a copy, or rebuild the " +
              "indexes with an overwrite build over the full corpus"
          case "windows_tokens" | "windows_chunks" =>
            "the window store diverged — restore from a copy, or " +
              "rebuild with an overwrite build"
          case n if n.startsWith("ann_") =>
            "rebuild the ANN artifacts with \"mode\": \"retrain\" on " +
              "the current vector corpus"
          case n if n.startsWith("profile_") =>
            "re-run the failed ingest (advanced artifacts skip via " +
              "their stamp), or refresh with \"mode\": \"stats\""
          case "cluster_labels" =>
            "rebuild the label table with \"mode\": \"recluster\""
          case "df_cap_baseline" =>
            "the doc count the labels were derived under is not " +
              "recoverable from the artifacts — \"mode\": \"recluster\" " +
              "re-derives the labels under the current cap and " +
              "re-baselines the tier guard"
          case "postings_docs" | "postings_unique" =>
            "restore from a copy, or rebuild the indexes with an " +
              "overwrite build over the full corpus"
          case "manifest_unique" =>
            "duplicates did not collapse to one row per doc — restore " +
              "the manifest from a copy"
          case "fingerprint" =>
            "no stored provenance — re-stamp by re-running the " +
              "original build spec, or verify provenance out-of-band"
          case _ => "see the audit detail"
        }
        manual += ((s"$name (${c.get("artifact").asText})",
          s"${c.get("detail").asText} -> $recovery"))
      }

    val actionLines = actions.map { case (a, art, detail) =>
      s"""{"action":"${esc(a)}","artifact":"${esc(art)}",""" +
        s""""detail":"${esc(detail)}"}"""
    }.mkString("[", ",", "]")
    val manualLines = manual.map { case (art, detail) =>
      s"""{"artifact":"${esc(art)}","detail":"${esc(detail)}"}"""
    }.mkString("[", ",", "]")
    val summary =
      s"""{"mode":"repair","out":"${esc(out)}",""" +
        s""""n_actions":${actions.size},"actions":$actionLines,""" +
        s""""manual":$manualLines}"""
    Files.write(Paths.get(out, "REPAIR.json"),
      summary.getBytes(StandardCharsets.UTF_8))
    summary
  }

  /** `"mode": "stats"` — the EXACT stats refresh the ingest scaladoc
    * promises, as its own job: rebuild every `out/stats` artifact (the exact
    * heavy-token list AND the three profile sketches, re-baselined) from
    * `corpus` WITHOUT touching any other artifact. Run it against the
    * whole current corpus (original ∪ ingested increments) when the
    * estimate-grade advanced profile isn't enough — the one corpus-wide
    * pass this design confines to an explicit, schedulable job instead
    * of hiding inside every ingest. The build fingerprint's shape must
    * match (same text column / tokenization semantics); the corpus path
    * legitimately differs from the build's (it now includes increments),
    * so the stored fingerprint is NOT updated. */
  private def executeStats(s: SparkSession, spec: Spec): String = {
    checkIngestFingerprint(spec) // shape-only comparison, same as ingest
    val corpus = s.read.parquet(spec.corpus)
    // an exact refresh covers at least everything the last increment
    // advance did, so the rebuilt artifacts CARRY the standing advance
    // stamp forward (the pre-refresh artifacts are stamp-coherent, so
    // any one of them is the source) — otherwise a stats refresh after
    // an ingest would wipe the stats stamps while index/cluster_labels
    // keeps its own, and the audit's coherence check would flag a
    // healthy directory (found by the r17 sf0.1 lifecycle drive)
    val stamp: Option[String] = {
      val p = Paths.get(spec.out, "stats/token_sketch", "_advanced_from")
      if (Files.exists(p)) Some(Files.readString(p)) else None
    }
    def rebuild(path: String)(build: => DataFrame): Unit = {
      build.write.mode("overwrite").parquet(path)
      stamp.foreach(t =>
        Files.writeString(Paths.get(path, "_advanced_from"), t))
    }
    rebuild(s"${spec.out}/stats/heavy_tokens") {
      graft.operators.TextOps.frequentTokens(corpus, spec.text,
        minShare = 0.005)
    }
    rebuild(s"${spec.out}/stats/token_sketch") {
      graft.operators.TextOps.tokenSketchBytes(corpus, spec.text)
    }
    rebuild(s"${spec.out}/stats/len_quantiles") {
      graft.operators.RelationalOps.quantileSketch(
        graft.operators.TextOps.tokenCounts(corpus, spec.id, spec.text)
          .withColumn("grp", lit("all")),
        "grp", "n_tok")
    }
    rebuild(s"${spec.out}/stats/distinct_content") {
      graft.operators.RelationalOps.distinctSketch(
        corpus.select(lit("all").as("grp"),
          md5(col(spec.text).cast("binary")).as("h")),
        "grp", "h")
    }
    spec.profileSource.foreach { src =>
      rebuild(s"${spec.out}/stats/source_distinct") {
        graft.operators.RelationalOps.distinctSketch(
          corpus.select(col(src).cast("string").as("grp"),
            md5(col(spec.text).cast("binary")).as("h")),
          "grp", "h")
      }
      rebuild(s"${spec.out}/stats/source_len") {
        graft.operators.RelationalOps.quantileSketch(
          graft.operators.TextOps.tokenCounts(corpus, src, spec.text)
            .select(col("doc_id").cast("string").as("grp"),
              col("n_tok")),
          "grp", "n_tok")
      }
    }
    val nHeavy = s.read.parquet(s"${spec.out}/stats/heavy_tokens").count()
    val summary =
      s"""{"mode":"stats","corpus":"${esc(spec.corpus)}",""" +
        s""""out":"${esc(spec.out)}","n_heavy_tokens":$nHeavy""" +
        profileSummary(s, spec.out).map("," + _).getOrElse("") + "}"
    Files.write(Paths.get(spec.out, "STATS.json"),
      summary.getBytes(StandardCharsets.UTF_8))
    summary
  }

  /** A stage directory counts as DONE only with its `_SUCCESS` marker —
    * a partial write (crash mid-stage) is clobbered and retried. */
  private def stageDone(path: String): Boolean =
    Files.exists(Paths.get(path, "_SUCCESS"))

  /** Recursive delete — the destructive half of every staged swap. */
  private def rmTree(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .iterator().asScala.foreach(Files.delete)
    finally st.close()
  }

  /** Canonical fingerprint strings the resume/ingest guard compares
    * (ADVICE r14). `shape` covers every spec field that determines the
    * persisted artifacts' content given the same inputs (thresholds,
    * formatter, cap, column names, mixture, store granularity) plus the
    * benchmark path (an ingest must decontaminate against the SAME
    * benchmark its standing artifacts were built with); `build`
    * additionally pins the corpus path. */
  private def shapeFingerprint(spec: Spec): String =
    s"""{"benchmark":"${esc(spec.benchmark)}","id":"${esc(spec.id)}",""" +
      s""""text":"${esc(spec.text)}","cap":${spec.cap},""" +
      s""""formatter":"${esc(spec.formatter)}",""" +
      s""""chunksPerPart":${spec.chunksPerPart},""" +
      s""""minJaccard":${spec.minJaccard},"contamN":${spec.contamN},""" +
      s""""scrubPii":${spec.scrubPii},""" +
      s""""mixtureSource":${spec.mixtureSource
        .map(m => "\"" + esc(m) + "\"").getOrElse("null")},""" +
      s""""mixtureAlpha":${spec.mixtureAlpha},""" +
      s""""mixtureBudgetFraction":${spec.mixtureBudgetFraction},""" +
      s""""vecId":"${esc(spec.vecId)}","vec":"${esc(spec.vec)}",""" +
      s""""nlist":${spec.nlist},"pq":${spec.pq},""" +
      s""""pqM":${spec.pqM},"pqKsub":${spec.pqKsub},""" +
      s""""profileSource":${spec.profileSource
        .map(p => "\"" + esc(p) + "\"").getOrElse("null")}}"""

  private def buildFingerprint(spec: Spec): String =
    s"""{"corpus":"${esc(spec.corpus)}","vectors":${spec.vectors
      .map(v => "\"" + esc(v) + "\"").getOrElse("null")},""" +
      s""""shape":${shapeFingerprint(spec)}}"""

  private def fingerprintPath(out: String) =
    Paths.get(out, "_spec_fingerprint.json")

  /** Resume guard (ADVICE r14): skip-on-`_SUCCESS` is only sound when
    * the on-disk stages were built from THIS spec — a re-run with a
    * changed corpus/threshold/formatter on the same out dir would
    * otherwise silently mix stale stages into the build (the prior
    * errorifexists default made that impossible). A build refuses to
    * resume over a missing or differing fingerprint; `overwrite=true`
    * rebuilds and re-stamps. */
  private def checkBuildFingerprint(spec: Spec): Unit = {
    val fp = buildFingerprint(spec)
    val p = fingerprintPath(spec.out)
    if (!spec.overwrite && Files.exists(p)) {
      val prior = Files.readString(p)
      require(prior == fp,
        s"out dir '${spec.out}' was built from a DIFFERENT spec — " +
          s"refusing to resume (stale stages would silently mix into " +
          s"this build).\n  on disk: $prior\n  this run: $fp\n" +
          "Set \"overwrite\": true to rebuild, or use a fresh out dir.")
    } else if (!spec.overwrite &&
        Seq("fates", "report", "manifest", "windows")
          .exists(d => stageDone(s"${spec.out}/$d"))) {
      throw new IllegalArgumentException(
        s"out dir '${spec.out}' has completed stages but no spec " +
          "fingerprint (built before fingerprinting, or foreign) — " +
          "refusing to resume over unverifiable stages. Set " +
          "\"overwrite\": true to rebuild, or use a fresh out dir.")
    }
    Files.createDirectories(Paths.get(spec.out))
    Files.writeString(p, fp)
  }

  /** Ingest twin of [[checkBuildFingerprint]]: the increment's fates and
    * windows must extend the standing artifacts under the same shape
    * (thresholds/formatter/cap/benchmark); the corpus path legitimately
    * differs. A pre-fingerprint build dir gets a loud warning, not a
    * refusal — ingest writes are append-shaped and the operator may know
    * the build's provenance out-of-band. */
  private def checkIngestFingerprint(spec: Spec): Unit = {
    val p = fingerprintPath(spec.out)
    if (Files.exists(p)) {
      val prior = Files.readString(p)
      val shape = shapeFingerprint(spec)
      require(prior.endsWith(s""""shape":$shape}"""),
        s"ingest spec shape differs from the build that wrote " +
          s"'${spec.out}' — the increment would be fated/packed under " +
          s"different thresholds than the standing artifacts.\n" +
          s"  on disk: $prior\n  this run shape: $shape")
    } else
      System.err.println(s"[run] WARNING: '${spec.out}' has no spec " +
        "fingerprint (built before fingerprinting?) — cannot verify " +
        "this ingest's thresholds match the build's.")
  }

  private def executeBuild(s: SparkSession, spec: Spec): String = {
    // Resume semantics (ADVICE r13): with `overwrite=false` (the
    // default) a completed stage directory is SKIPPED and read back —
    // re-running a failed build genuinely resumes from the first
    // unfinished stage instead of erroring on the first directory the
    // previous attempt wrote; a partial directory (no _SUCCESS) is
    // rewritten. `overwrite=true` rebuilds every stage from scratch.
    // Resume is only legal from the SAME spec (ADVICE r14):
    checkBuildFingerprint(spec)
    def stage(path: String)(build: => DataFrame): Unit =
      if (spec.overwrite || !stageDone(path))
        build.write.mode("overwrite").parquet(path)
    val corpus = s.read.parquet(spec.corpus)
    val bench = s.read.parquet(spec.benchmark)

    // 0. the STANDING near-dup cluster-label table (VERDICT r16 #2) —
    // the one pair build + propagation run of the whole build, persisted
    // as its own artifact so every later ingest ADVANCES it (supernode
    // contraction, [[graft.operators.DedupOps.connectedComponentsIncremental]])
    // instead of re-clustering, and derives the increment's near-dup
    // fates from the same run. Built through the managed handle so the
    // propagation rounds' checkpoint blocks are freed as soon as the
    // artifact lands. Scale note: the table holds only docs with ≥1
    // near-dup pair — a vanishing fraction of the corpus (0.8% on the
    // test corpus) — so the per-ingest staged rewrite below stays ∝
    // near-dup volume, never ∝ corpus.
    if (spec.overwrite || !stageDone(s"${spec.out}/index/cluster_labels")) {
      // Deriving labels from spec.corpus is only union-equivalent while
      // the corpus IS the union: on a resume build over a directory that
      // has already taken ingests (manifest larger than the corpus — the
      // pre-r17 upgrade path), a from-corpus rebuild would silently omit
      // every cluster among previously-ingested docs (prior↔prior pairs
      // are never re-derived by later ingests) AND re-baseline the tier
      // guard to a stale count — refuse and point at the recovery that
      // covers all ingested docs (ADVICE r17).
      val nCorpus = corpus.count()
      if (!spec.overwrite && stageDone(s"${spec.out}/manifest")) {
        val nManifest = s.read.parquet(s"${spec.out}/manifest").count()
        require(nManifest <= nCorpus,
          s"'${spec.out}' has a manifest of $nManifest docs but the spec " +
            s"corpus holds only $nCorpus — this directory has taken " +
            "ingests, so a from-corpus label build would omit clusters " +
            "among previously-ingested docs. Run \"mode\": \"recluster\" " +
            "instead: it derives index/cluster_labels from the posting " +
            "index, which covers every ingested doc.")
      }
      // the df-cap baseline the labels (and every pair-derived artifact)
      // are about to be derived under — the ingest tier guard's
      // reference. Written BEFORE the labels parquet (ADVICE r17): a
      // crash between the two leaves a baseline without labels (the
      // resume build redoes this stage and rewrites both), never labels
      // without a baseline (which no resume would repair — stage 0 is
      // skipped once the labels are _SUCCESS-complete).
      writeDfCap(spec.out, nCorpus)
      faultPoint(spec, "build:after_dfcap")
      val run = graft.operators.DedupOps.connectedComponentsManaged(
        graft.operators.DedupOps.ngramJaccardPairs(
          corpus.select(col(spec.id).as("doc_id"),
            col(spec.text).as("text")),
          "doc_id", "text", spec.minJaccard),
        "da", "db")
      run.labels.write.mode("overwrite")
        .parquet(s"${spec.out}/index/cluster_labels")
      run.release()
    }
    val clusterLabels = s.read.parquet(s"${spec.out}/index/cluster_labels")

    // 1. curation fates — the near-dup stage reads the persisted label
    // table (stage 0), so fates and standing labels agree bit-for-bit
    stage(s"${spec.out}/fates") {
      PipelineOps.curate(corpus, bench, spec.id, spec.text,
        spec.minJaccard, spec.contamN, scrubPii = spec.scrubPii,
        precomputedLabels = Some(clusterLabels))
    }
    val fates = s.read.parquet(s"${spec.out}/fates")
      .select("doc_id", "fate")

    // 1b. the STANDING index artifacts an ingest fates against
    // (content-hash table + RAW shingle postings — df is re-attached at
    // read time by counting rows, the [[DedupOps.ngramPostingsAppend]]
    // "never trust the denormalized column" rule taken to its on-disk
    // conclusion: every ingest write stays ∝ increment, append-only)
    stage(s"${spec.out}/index/hashes") {
      corpus.select(md5(col(spec.text).cast("binary")).as("h"))
    }
    stage(s"${spec.out}/index/postings") {
      corpus
        .select(col(spec.id).as("doc_id"),
          explode(graft.functions.TextKernels.shingleSet64(col(spec.text)))
            .as("sh64"))
    }

    // 1c. corpus stats: the heavy-token list (stop-list/boilerplate
    // candidates) through the frequent-items sketch + exact verify —
    // a bounded artifact (≤ the sketch's map size) however large the
    // corpus, priced by one token pass with no token-keyed shuffle
    stage(s"${spec.out}/stats/heavy_tokens") {
      graft.operators.TextOps.frequentTokens(corpus, spec.text,
        minShare = 0.005)
    }

    // 1d. the STANDING corpus profile (VERDICT r14 #3) — the mergeable
    // sketch BYTES behind the stats. The exact heavy-token list above
    // is a build snapshot (exact counts need a corpus scan); these
    // three ADVANCE per ingest by bytes-merge, so an estimate-grade
    // profile always covers the whole corpus at cost ∝ increment:
    //   stats/token_sketch      frequent-items bytes, token stream
    //   stats/len_quantiles     KLL bytes, per-doc token counts
    //   stats/distinct_content  HLL bytes, content hashes
    stage(s"${spec.out}/stats/token_sketch") {
      graft.operators.TextOps.tokenSketchBytes(corpus, spec.text)
    }
    stage(s"${spec.out}/stats/len_quantiles") {
      graft.operators.RelationalOps.quantileSketch(
        graft.operators.TextOps.tokenCounts(corpus, spec.id, spec.text)
          .withColumn("grp", lit("all")),
        "grp", "n_tok")
    }
    stage(s"${spec.out}/stats/distinct_content") {
      graft.operators.RelationalOps.distinctSketch(
        corpus.select(lit("all").as("grp"),
          md5(col(spec.text).cast("binary")).as("h")),
        "grp", "h")
    }

    // 1d-bis. optional PER-SOURCE profile (`"profileSource"` names the
    // corpus's source column): the mixture pipeline's watch table —
    // distinct-content and length-quantile sketches keyed by source,
    // advanced per ingest like the global profile. Per-source token
    // sketches are deliberately omitted (|sources| × maxMapSize maps;
    // run tokenDivergence per source pair when needed).
    spec.profileSource.foreach { src =>
      stage(s"${spec.out}/stats/source_distinct") {
        graft.operators.RelationalOps.distinctSketch(
          corpus.select(col(src).cast("string").as("grp"),
            md5(col(spec.text).cast("binary")).as("h")),
          "grp", "h")
      }
      stage(s"${spec.out}/stats/source_len") {
        // tokenCounts keyed by the SOURCE column: one row per doc,
        // labeled by source — exactly the (grp, n_tok) relation the
        // per-group sketch folds, no join
        graft.operators.RelationalOps.quantileSketch(
          graft.operators.TextOps.tokenCounts(corpus, src, spec.text)
            .select(col("doc_id").cast("string").as("grp"),
              col("n_tok")),
          "grp", "n_tok")
      }
    }

    // 1e. optional ANN artifacts (`"vectors"` in the spec, r15): the
    // trained coarse quantizer, the full-corpus assignment (the
    // standing index postings), and the training-time distortion
    // BASELINE the ingest drift gate compares against — the README
    // re-train policy, operational. An ingest appends to the
    // assignment against the FROZEN quantizer and reports the measured
    // drift row in its summary.
    spec.vectors.foreach { vp =>
      val vecs = s.read.parquet(vp)
      stage(s"${spec.out}/ann/quantizer") {
        graft.operators.SimilarityOps.ivfTrain(vecs, spec.vecId,
          spec.vec, nlist = spec.nlist)
      }
      val quant = s.read.parquet(s"${spec.out}/ann/quantizer")
      stage(s"${spec.out}/ann/assignment") {
        graft.operators.SimilarityOps.ivfAppend(vecs, spec.vecId,
          spec.vec, quant)
      }
      stage(s"${spec.out}/ann/baseline") {
        graft.operators.SimilarityOps.ivfQuantizationError(vecs,
          spec.vecId, spec.vec, quant)
      }
      // `"pq": true` — the memory-bound IVFADC index alongside: the
      // trained codebook, the corpus's PQ codes (what ivfPqSearch
      // scans), and the reconstruction-distortion baseline pqDrift
      // gates against
      if (spec.pq) {
        stage(s"${spec.out}/ann/codebook") {
          graft.operators.PqOps.pqTrain(vecs, spec.vecId, spec.vec,
            m = spec.pqM, ksub = spec.pqKsub)
        }
        val cb = s.read.parquet(s"${spec.out}/ann/codebook")
        stage(s"${spec.out}/ann/codes") {
          graft.operators.PqOps.pqEncode(vecs, spec.vecId, spec.vec, cb,
            m = spec.pqM, ksub = spec.pqKsub)
        }
        stage(s"${spec.out}/ann/pq_baseline") {
          graft.operators.PqOps.pqQuantizationError(vecs, spec.vecId,
            spec.vec, cb, m = spec.pqM, ksub = spec.pqKsub)
        }
      }
    }

    // 2. per-fate audit over the persisted fates
    stage(s"${spec.out}/report") {
      PipelineOps.curationReport(fates, corpus, spec.id, spec.text)
    }
    val report = s.read.parquet(s"${spec.out}/report")
      .orderBy("fate").collect() // bounded at fate cardinality (≤6 rows)

    // 3. per-doc build manifest from the same persisted fates
    stage(s"${spec.out}/manifest") {
      PipelineOps.trainReady(corpus, bench, spec.id, spec.text,
        cap = spec.cap.toDouble, formatter = spec.formatter,
        minJaccard = spec.minJaccard, contamN = spec.contamN,
        precomputedFates = Some(fates),
        mixtureSource = spec.mixtureSource,
        mixtureAlpha = spec.mixtureAlpha,
        mixtureBudgetFraction = spec.mixtureBudgetFraction)
    }

    // 4. the window store — unsorted build into the chunk-partitioned
    // layout (the store IS the order; no terminal range exchange)
    if (spec.overwrite || !stageDone(s"${spec.out}/windows"))
      PipelineOps.writeWindows(
        PipelineOps.trainReadyExamples(corpus, bench, spec.id, spec.text,
          cap = spec.cap, formatter = spec.formatter,
          minJaccard = spec.minJaccard, contamN = spec.contamN,
          precomputedFates = Some(fates),
          mixtureSource = spec.mixtureSource,
          mixtureAlpha = spec.mixtureAlpha,
          mixtureBudgetFraction = spec.mixtureBudgetFraction,
          sorted = false),
        s"${spec.out}/windows", spec.chunksPerPart, mode = "overwrite")

    // 5. summary attesting what landed on disk
    val wtot = PipelineOps.readWindows(s, s"${spec.out}/windows",
        spec.chunksPerPart)
      .agg(count(lit(1)).as("n"),
        coalesce(sum("n_tokens"), lit(0L)).as("t"))
      .head()
    val fateLines = report.map(r =>
      s"""{"fate":"${esc(r.getAs[String]("fate"))}","n_docs":${
        r.getAs[Long]("n_docs")},"tok_total":${
        r.getAs[Long]("tok_total")}}""").mkString("[", ",", "]")
    val summary =
      s"""{"corpus":"${esc(spec.corpus)}","out":"${esc(spec.out)}",""" +
        s""""cap":${spec.cap},"formatter":"${esc(spec.formatter)}",""" +
        s""""chunksPerPart":${spec.chunksPerPart},""" +
        s""""fates":$fateLines,""" +
        s""""n_windows":${wtot.getAs[Long]("n")},""" +
        s""""n_window_tokens":${wtot.getAs[Long]("t")}""" +
        profileSummary(s, spec.out).map("," + _).getOrElse("") + "}"
    Files.write(Paths.get(spec.out, "SUMMARY.json"),
      summary.getBytes(StandardCharsets.UTF_8))
    summary
  }

  // ---- crash-safe ingest journal (VERDICT r17 #4) -------------------
  //
  // The append artifacts (manifest, indexes, ann) were the one part of
  // the lifecycle a crash left NON-retryable: "clean the partial appends
  // first" was an instruction to the operator, not a mechanical
  // recovery. The journal closes that: before its FIRST mutation, an
  // ingest records the append artifacts' exact file inventories, backs
  // up the small rewrite artifacts (profile sketches + label table —
  // the label advance already rewrites the whole table per ingest, so
  // the copy is the same order of cost), the pre-ingest SUMMARY.json
  // (ADVICE r18 — the summary write sits INSIDE the journal's span, see
  // the commit-order comment in executeIngest) and the window part
  // directories the boundary overwrite will replace, and only then
  // mutates. The journal file is written LAST (journal-present implies
  // backups complete) and deleted FIRST on success (journal-absent
  // implies the ingest committed; a leftover backup dir alone is
  // debris). A crash
  // anywhere in between leaves `_ingest_pending.json`, which
  // `mode=audit` flags and `mode=repair` rolls back MECHANICALLY:
  // unrecorded files in the append artifacts are deleted, the replaced
  // window parts and rewrite artifacts are restored byte-for-byte, and
  // the directory is again exactly its pre-ingest self — the retried
  // ingest then lands as if the crash never happened (RunSpec loops
  // fault injections over every seam and pins retried ≡ uninterrupted).

  private val JournalName = "_ingest_pending.json"
  private val BackupName = "_ingest_backup"

  /** The artifacts an ingest APPENDS to (rolled back by file
    * inventory). */
  private val ingestAppendArtifacts =
    Seq("manifest", "index/hashes", "index/postings",
      "ann/assignment", "ann/codes")

  /** The artifacts an ingest REWRITES via staged swap (rolled back by
    * full pre-ingest backup — each is small: kilobyte sketch bytes, or
    * the near-dup label table whose per-ingest advance already rewrites
    * it whole). */
  private val ingestRewriteArtifacts =
    Seq("stats/token_sketch", "stats/len_quantiles",
      "stats/distinct_content", "stats/source_distinct",
      "stats/source_len", "index/cluster_labels")

  /** Top-level regular-file names of `dir` (empty when absent). The
    * append artifacts are flat parquet directories, so one level is the
    * whole inventory; underscore markers (_SUCCESS) are recorded too —
    * append rewrites them under the SAME name, so they survive the
    * unrecorded-file rollback. */
  private def listFileNames(dir: java.nio.file.Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val st = Files.list(dir)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(_.getFileName.toString).toVector
      finally st.close()
    }
  }

  private def listDirNames(dir: java.nio.file.Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val st = Files.list(dir)
      try st.iterator().asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString).toVector
      finally st.close()
    }
  }

  private def copyTree(src: java.nio.file.Path,
      dst: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val st = Files.walk(src)
    try st.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else {
        Files.createDirectories(t.getParent)
        Files.copy(p, t)
      }
    } finally st.close()
  }

  /** Window part dirs the boundary overwrite may REPLACE — partition
    * values are PART INDICES (`floor(chunk / chunksPerPart)`, see
    * [[PipelineOps.writeWindows]]), so the threshold is the boundary's
    * part index, not a chunk number. Non-numeric `part=` names (e.g. a
    * Hive `__HIVE_DEFAULT_PARTITION__` dir, or foreign debris) are
    * SKIPPED rather than thrown on (ADVICE r18): this runs inside
    * repair's rollback too, where an unhandled NumberFormatException
    * would abort the rollback MID-restore — strictly worse than leaving
    * one odd directory alone. The store's own writer only ever emits
    * numeric indices, so a skipped name is never ours to roll back. */
  private def windowPartsFrom(out: String, partIdxLo: Long): Seq[String] =
    listDirNames(Paths.get(out, "windows"))
      .filter(_.startsWith("part="))
      .filter(_.stripPrefix("part=").toLongOption.exists(_ >= partIdxLo))

  /** Write the pre-mutation journal: backups first, journal file LAST. */
  private def writeIngestJournal(spec: Spec, partIdxLo: Long): Unit = {
    val out = spec.out
    val backup = Paths.get(out, BackupName)
    // debris from a crash DURING a previous journal setup (no journal
    // file was written, so no mutation happened) — replace it
    if (Files.exists(backup)) rmTree(backup)
    // SUMMARY.json rides in the backup set (ADVICE r18): the commit
    // point is now SUMMARY-then-journal-retract, so the journal's
    // rollback must be able to restore the PRE-ingest summary — without
    // it, a repair would leave the new appends rolled back under a
    // summary describing state that no longer exists.
    val summaryP = Paths.get(out, "SUMMARY.json")
    if (Files.isRegularFile(summaryP)) {
      Files.createDirectories(backup)
      Files.copy(summaryP, backup.resolve("SUMMARY.json"))
    }
    ingestRewriteArtifacts
      .filter(a => Files.isDirectory(Paths.get(out, a)))
      .foreach(a => copyTree(Paths.get(out, a),
        backup.resolve(a.replace("/", "__"))))
    val parts = windowPartsFrom(out, partIdxLo)
    parts.foreach(p => copyTree(Paths.get(out, "windows", p),
      backup.resolve("windows_parts").resolve(p)))
    val files = ingestAppendArtifacts.map { a =>
      s""""${esc(a)}":[${listFileNames(Paths.get(out, a))
        .map(f => s""""${esc(f)}"""").mkString(",")}]"""
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(out, JournalName),
      s"""{"increment":"${esc(spec.increment.getOrElse(""))}",""" +
        s""""partIdx":$partIdxLo,""" +
        s""""parts":[${parts.map(p => s""""${esc(p)}"""").mkString(",")}],""" +
        s""""files":$files}""")
  }

  /** Commit point: journal file first (its absence marks the ingest
    * committed), then the backups. */
  private def clearIngestJournal(out: String): Unit = {
    Files.deleteIfExists(Paths.get(out, JournalName))
    val backup = Paths.get(out, BackupName)
    if (Files.exists(backup)) rmTree(backup)
  }

  /** Ingest an increment into an existing [[executeBuild]] directory —
    * the daily-ingest twin: new docs are fated against the PERSISTED
    * artifacts only (prior manifest + hash table + raw postings; the
    * prior corpus is never re-read), the increment's manifest rows are
    * APPENDED to `out/manifest` (history on disk is never rewritten),
    * the window store advances by the boundary-part dynamic overwrite
    * reading exactly ONE part directory, and the index artifacts grow
    * append-only. Every write in this path is ∝ increment + one part.
    * `out/report` is a batch-build artifact (it needs the raw corpus) —
    * the ingest summary carries the increment's per-fate counts instead,
    * with tok_total measured in FORMATTED manifest tokens (n_tok; 0 for
    * dropped docs), unlike the build report's raw-token accounting.
    * Mixture sampling is a batch-build decision
    * ([[PipelineOps.trainReadyIncremental]] has no mixture stage), so an
    * ingest spec must not set `mixtureSource`.
    *
    * Failure/retry contract (ADVICE r15, closed mechanically in r18):
    * the profile advance is staged, verified, swapped, and stamped per
    * increment ([[advanceArtifact]]) — crash-safe and retry-idempotent.
    * The APPEND artifacts (manifest, index/hashes, index/postings,
    * ann/assignment, ann/codes) and the window boundary overwrite are
    * covered by the PRE-MUTATION JOURNAL (`_ingest_pending.json` +
    * `_ingest_backup/`, VERDICT r17 #4): a crash at ANY point after the
    * journal lands is rolled back byte-exact by `"mode": "repair"`
    * (partial appends deleted by file inventory, replaced window parts
    * and rewrite artifacts restored from backup), after which re-running
    * the SAME ingest lands as if the crash never happened — RunSpec
    * fault-injects every seam and pins retried ≡ uninterrupted. Never
    * re-run a crashed ingest against an un-repaired directory: the
    * journal's presence fails `mode=audit` until the rollback runs. */
  private def executeIngest(s: SparkSession, spec: Spec): String = {
    require(spec.mixtureSource.isEmpty,
      "mode 'ingest' does not support mixtureSource (a batch-build stage)")
    // a pending journal marks a CRASHED ingest whose partial appends are
    // still on disk — re-running over them would double rows AND
    // overwrite the journal's pre-ingest record with the crash state,
    // destroying the rollback. Refuse; the recovery is one repair away.
    require(!Files.exists(Paths.get(spec.out, JournalName)),
      s"'${spec.out}' carries a pending ingest journal ($JournalName) — " +
        "a previous ingest crashed mid-write. Run \"mode\": \"repair\" " +
        "to roll it back to the pre-ingest state, then re-run this " +
        "ingest.")
    checkIngestFingerprint(spec)
    val out = spec.out
    val inc = s.read.parquet(spec.increment.get)
    val bench = s.read.parquet(spec.benchmark)
    val manifest = s.read.parquet(s"$out/manifest")
    val nPrior = manifest.count()
    val priorTok = manifest
      .agg(coalesce(sum(when(col("chunk").isNotNull, col("n_tok"))),
        lit(0L)).as("t"))
      .head().getAs[Long]("t")
    // df-cap tier guard (VERDICT r16 #3): chained ≡ from-scratch for the
    // incremental dedup family (pairs, and therefore the standing label
    // table) holds exactly while the corpus-relative df cap is the one
    // the standing artifacts were derived under. Compare the baseline
    // cap (_df_cap.json — the doc count at the last build/recluster)
    // with the post-ingest union's; a crossing degrades silently
    // otherwise, so it warns LOUDLY, lands in the summary, and keeps
    // firing on every later ingest until `"mode": "recluster"`
    // re-baselines the label artifact under the current cap.
    val nInc = inc.count()
    val clusteredDocs = readDfCapDocs(out).getOrElse(nPrior)
    val capBase = graft.operators.DedupOps.dfCapFor(clusteredDocs)
    val capUnion = graft.operators.DedupOps.dfCapFor(nPrior + nInc)
    val capCrossed = capBase != capUnion
    if (capCrossed)
      System.err.println("[run] WARNING: this ingest moves the corpus " +
        s"across a df-cap tier (cap $capBase at the last full cluster " +
        s"over $clusteredDocs docs -> cap $capUnion at the union's " +
        s"${nPrior + nInc}): the standing pair/label artifacts are no " +
        "longer exactly union-equivalent. The ingest proceeds (fates " +
        "land under the standing artifacts); schedule " +
        "\"mode\": \"recluster\" to re-derive index/cluster_labels from " +
        "the posting index under the current cap and re-baseline the " +
        "guard.")
    val hashes = s.read.parquet(s"$out/index/hashes")
    // the RAW append-only store goes straight in: the incremental pair
    // derivation counts the candidate docs' df itself from the raw rows
    // (restricted scan; r16 — the prior full-index df WINDOW here was
    // the ingest path's one corpus-sized shuffle)
    val postings = s.read.parquet(s"$out/index/postings")

    // near-dup fates + the standing cluster-label advance share ONE
    // contracted propagation run (VERDICT r16 #2): the increment's pairs
    // advance `index/cluster_labels` via supernode contraction, and the
    // frozen-prior fate bits are read off the same upsert
    // ([[graft.operators.DedupOps.nearDupFromLabelUpsert]]). The pair
    // list and the contracted run materialize EAGERLY here (checkpointed
    // inside the CC entry point), so they read the PRE-ingest postings —
    // the appends below never feed back into this ingest's fates. A
    // pre-r17 build dir (no label artifact) falls back to the in-call
    // derivation with a loud warning.
    val labelsPath = s"$out/index/cluster_labels"
    val labelRun: Option[graft.operators.DedupOps.CcRun] =
      if (stageDone(labelsPath)) {
        val pairs = graft.operators.DedupOps.ngramJaccardPairsIncremental(
          inc.select(col(spec.id).as("doc_id"),
            col(spec.text).as("text")),
          "doc_id", "text", postings, nPrior, spec.minJaccard)
        Some(graft.operators.DedupOps
          .connectedComponentsIncrementalManaged(
            s.read.parquet(labelsPath), pairs, "da", "db"))
      } else {
        System.err.println(s"[run] WARNING: '$labelsPath' absent " +
          "(pre-label build?) — ingest fates fall back to the in-call " +
          "derivation and the standing label table is not advanced; " +
          "run \"mode\": \"recluster\" to create it — it derives the " +
          "table from the posting index, which covers every ingested " +
          "doc (a resume build would derive from the ORIGINAL corpus " +
          "and silently omit clusters among previously-ingested docs — " +
          "ADVICE r17; build stage 0 now refuses that path).")
        None
      }
    val nd = labelRun.map(run =>
      graft.operators.DedupOps.nearDupFromLabelUpsert(run.labels,
        inc.select(col(spec.id).as("doc_id"))))
    val built = PipelineOps.trainReadyIncremental(
      manifest, bench.limit(0), inc, bench, spec.id, spec.text,
      cap = spec.cap.toDouble, formatter = spec.formatter,
      minJaccard = spec.minJaccard, contamN = spec.contamN,
      precomputedPostings = Some(postings),
      precomputedHashes = Some(hashes),
      priorDocCount = Some(nPrior), sorted = false,
      precomputedNearDup = nd)
    // the increment's rows only — prior rows pass through the build
    // bit-identical and are ALREADY on disk. Materialized eagerly so
    // the append below never reads the path it writes.
    val incRows = Pins.checkpoint(built
      .join(inc.select(col(spec.id).as("doc_id")), Seq("doc_id"),
        "left_semi"))

    // the crash-safe journal: inventories + backups land BEFORE the
    // first mutation (everything above is read-only — the label run and
    // incRows are eager checkpoints over PRE-ingest state), so from here
    // to [[clearIngestJournal]] any crash is mechanically rolled back by
    // mode=repair and the ingest retried clean.
    val boundary = priorTok / spec.cap
    val partLo = boundary / spec.chunksPerPart * spec.chunksPerPart
    writeIngestJournal(spec, boundary / spec.chunksPerPart)
    faultPoint(spec, "ingest:after_journal")

    incRows.write.mode("append").parquet(s"$out/manifest")
    faultPoint(spec, "ingest:after_manifest_append")

    // window store: the increment's formatted streams continue the
    // pack cursor; only the boundary part is read (then checkpointed,
    // freeing the store for its own dynamic overwrite)
    val incKept = inc
      .select(col(spec.id).as("doc_id"), col(spec.text).as("text"))
      .join(incRows.filter(col("chunk").isNotNull).select("doc_id"),
        Seq("doc_id"), "left_semi")
    val region = Pins.checkpoint(PipelineOps.readWindows(
      s, s"$out/windows", spec.chunksPerPart, fromChunk = Some(partLo)))
    PipelineOps.writeWindowsIngest(
      PipelineOps.packExamplesTokensIncremental(region,
        PipelineOps.formattedToks(incKept, spec.formatter,
          startRateBp = 500, meanSpan = 3, fimRateBp = 9000),
        "doc_id", "t", spec.cap, sorted = false,
        priorTokens = Some(priorTok)),
      s"$out/windows", boundary, spec.chunksPerPart)
    faultPoint(spec, "ingest:after_windows")

    // index advance — append-only
    inc.select(md5(col(spec.text).cast("binary")).as("h"))
      .write.mode("append").parquet(s"$out/index/hashes")
    faultPoint(spec, "ingest:mid_index_append")
    inc.select(col(spec.id).as("doc_id"),
        explode(graft.functions.TextKernels.shingleSet64(col(spec.text)))
          .as("sh64"))
      .write.mode("append").parquet(s"$out/index/postings")

    // corpus-profile advance (VERDICT r14 #3): the three mergeable
    // sketch artifacts move forward by a bytes-merge with the
    // increment's own sketch — after any number of ingests the profile
    // estimates equal a from-scratch build's over the whole corpus
    // (RunSpec pins it across two ingests). The exact
    // stats/heavy_tokens list stays a BUILD snapshot: an exact refresh
    // re-runs the stats stage; the estimate-grade token profile is the
    // advanced token_sketch bytes. Standing state is collected or
    // checkpointed BEFORE each overwrite so no write reads the path it
    // replaces. A pre-profile build dir (missing artifacts) is warned
    // about, not failed — ingest appends stay valid without it.
    advanceProfile(s, spec, inc)

    // standing cluster-label advance (VERDICT r16 #2): apply the upsert
    // — fresh rows for every member of a touched cluster plus every
    // newly labeled doc; untouched standing rows pass through. Staged,
    // verified, stamped, and swapped exactly like the profile artifacts
    // (crash-safe, retry-idempotent); the rewrite is ∝ the label table,
    // which holds only docs with ≥1 near-dup pair — a vanishing corpus
    // fraction. The upsert's checkpoint blocks are released once the
    // swap lands.
    faultPoint(spec, "ingest:before_label_advance")
    labelRun.foreach { run =>
      advanceArtifact(s, spec, labelsPath, spec.increment.getOrElse("")) {
        standing =>
          standing
            .join(run.labels.select("doc_id"), Seq("doc_id"), "left_anti")
            .unionByName(run.labels.select("doc_id", "cluster_rep"))
      }
      run.release()
    }

    // ANN ingest (optional, r15): `"vectors"` names the INCREMENT's
    // vector parquet — append its assignment rows to the standing index
    // against the FROZEN quantizer, then gate the freeze with the
    // measured drift row (summary `ann_drift`; a tripped threshold
    // warns loudly and is the operator's cue to schedule a retrain +
    // index rebuild, per the README policy).
    val annDrift: Option[String] = spec.vectors.map { vp =>
      val vecs = s.read.parquet(vp)
      val quant = s.read.parquet(s"$out/ann/quantizer")
      graft.operators.SimilarityOps
        .ivfAppend(vecs, spec.vecId, spec.vec, quant)
        .write.mode("append").parquet(s"$out/ann/assignment")
      faultPoint(spec, "ingest:after_ann_append")
      val drift = graft.operators.SimilarityOps.ivfDrift(vecs, spec.vecId,
        spec.vec, quant, s.read.parquet(s"$out/ann/baseline")).head()
      if (drift.getAs[Boolean]("retrain"))
        System.err.println("[run] WARNING: ANN ingest mean distortion " +
          s"${drift.getAs[Double]("mean_qerr")} exceeds 1.5x the " +
          s"training baseline ${drift.getAs[Double]("baseline_mean")} — " +
          "the frozen quantizer has drifted; plan a retrain + index " +
          "rebuild and re-baseline.")
      val ivfJson =
        s""""ann_drift":{"n_vecs":${drift.getAs[Long]("n_vecs")},""" +
          s""""mean_qerr":${drift.getAs[Double]("mean_qerr")},""" +
          s""""max_qerr":${drift.getAs[Double]("max_qerr")},""" +
          s""""baseline_mean":${drift.getAs[Double]("baseline_mean")},""" +
          s""""retrain":${drift.getAs[Boolean]("retrain")}}"""
      if (!spec.pq) ivfJson
      else {
        val cb = s.read.parquet(s"$out/ann/codebook")
        graft.operators.PqOps
          .pqEncode(vecs, spec.vecId, spec.vec, cb,
            m = spec.pqM, ksub = spec.pqKsub)
          .write.mode("append").parquet(s"$out/ann/codes")
        val pd = graft.operators.PqOps.pqDrift(vecs, spec.vecId,
          spec.vec, cb, s.read.parquet(s"$out/ann/pq_baseline"),
          m = spec.pqM, ksub = spec.pqKsub).head()
        if (pd.getAs[Boolean]("retrain"))
          System.err.println("[run] WARNING: PQ ingest reconstruction " +
            s"distortion ${pd.getAs[Double]("mean_qerr")} exceeds 1.5x " +
            s"the training baseline " +
            s"${pd.getAs[Double]("baseline_mean")} — plan a codebook " +
            "retrain + re-encode and re-baseline.")
        ivfJson +
          s""","pq_drift":{"n_vecs":${pd.getAs[Long]("n_vecs")},""" +
          s""""mean_qerr":${pd.getAs[Double]("mean_qerr")},""" +
          s""""max_qerr":${pd.getAs[Double]("max_qerr")},""" +
          s""""baseline_mean":${pd.getAs[Double]("baseline_mean")},""" +
          s""""retrain":${pd.getAs[Boolean]("retrain")}}"""
      }
    }

    val incFates = incRows.groupBy("fate")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum("n_tok"), lit(0L)).as("tok_total"))
      .orderBy("fate").collect()
    val wtot = PipelineOps.readWindows(s, s"$out/windows",
        spec.chunksPerPart)
      .agg(count(lit(1)).as("n"),
        coalesce(sum("n_tokens"), lit(0L)).as("t"))
      .head()
    val fateLines = incFates.map(r =>
      s"""{"fate":"${esc(r.getAs[String]("fate"))}","n_docs":${
        r.getAs[Long]("n_docs")},"tok_total":${
        r.getAs[Long]("tok_total")}}""").mkString("[", ",", "]")
    val summary =
      s"""{"mode":"ingest","increment":"${esc(spec.increment.get)}",""" +
        s""""out":"${esc(out)}","cap":${spec.cap},""" +
        s""""formatter":"${esc(spec.formatter)}",""" +
        s""""chunksPerPart":${spec.chunksPerPart},""" +
        s""""increment_fates":$fateLines,""" +
        s""""n_windows":${wtot.getAs[Long]("n")},""" +
        s""""n_window_tokens":${wtot.getAs[Long]("t")},""" +
        s""""df_cap":{"clustered_docs":$clusteredDocs,""" +
        s""""base_cap":$capBase,"union_docs":${nPrior + nInc},""" +
        s""""union_cap":$capUnion,"crossed":$capCrossed}""" +
        profileSummary(s, out).map("," + _).getOrElse("") +
        annDrift.map("," + _).getOrElse("") + "}"
    // commit: every artifact advanced — the new SUMMARY lands FIRST,
    // the journal is retracted LAST (ADVICE r18). The previous order
    // (retract, then write SUMMARY) left a narrow window where a crash
    // produced a fully-committed ingest with NO journal and a STALE
    // summary: a blind re-run of the same ingest then passed the
    // pending-journal guard and double-appended every append artifact.
    // With this order the journal's presence covers the WHOLE mutation
    // span including the summary write — a crash anywhere before the
    // retract is rolled back by mode=repair (which restores the
    // pre-ingest SUMMARY from the journal's backup set), and a
    // journal-free directory is always a fully-committed one whose
    // SUMMARY matches its artifacts.
    Files.write(Paths.get(out, "SUMMARY.json"),
      summary.getBytes(StandardCharsets.UTF_8))
    faultPoint(spec, "ingest:after_summary")
    clearIngestJournal(out)
    summary
  }

  /** Advance the mergeable corpus-profile artifacts by the increment's
    * sketches (see the build's stage 1d and the ingest call site). Each
    * standing artifact is tiny (one row / one group); merges run at
    * kilobyte cost on the driver or through a checkpointed frame.
    *
    * Durability (ADVICE r15): each artifact advances by a STAGED
    * write-then-swap ([[advanceArtifact]]) — the prior in-place
    * overwrite could destroy the standing sketch on a crash mid-write
    * (recoverable only by a full `mode=stats` re-scan), and a blind
    * retry of a failed ingest would double-merge the increment into any
    * artifact that did survive. The swap plus the per-increment stamp
    * make the profile advance both crash-safe and retry-idempotent. */
  private def advanceProfile(s: SparkSession, spec: Spec,
      inc: DataFrame): Unit = {
    val out = spec.out
    val tag = spec.increment.getOrElse("")
    import graft.operators.{RelationalOps, TextOps}

    val skPath = s"$out/stats/token_sketch"
    if (stageDone(skPath)) advanceArtifact(s, spec, skPath, tag) { standing =>
      val sBytes = standing.head().getAs[Array[Byte]]("sk")
      val incSk = TextOps.tokenSketchBytes(inc, spec.text)
        .head().getAs[Array[Byte]]("sk")
      s.createDataFrame(java.util.List.of(
          org.apache.spark.sql.Row(
            graft.functions.FreqItems.mergeBytes(sBytes, incSk))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("sk",
            org.apache.spark.sql.types.BinaryType, nullable = false))))
    } else warnNoProfile(skPath)
    // "between per-artifact profile advances" — the half-advanced state
    // the profile_stamps audit check describes
    faultPoint(spec, "ingest:mid_profile_advance")

    val lqPath = s"$out/stats/len_quantiles"
    if (stageDone(lqPath)) advanceArtifact(s, spec, lqPath, tag) { standing =>
      RelationalOps.quantileSketchMerge(standing,
        RelationalOps.quantileSketch(
          TextOps.tokenCounts(inc, spec.id, spec.text)
            .withColumn("grp", lit("all")), "grp", "n_tok"),
        "grp")
    } else warnNoProfile(lqPath)

    val dcPath = s"$out/stats/distinct_content"
    if (stageDone(dcPath)) advanceArtifact(s, spec, dcPath, tag) { standing =>
      RelationalOps.distinctSketchMerge(standing,
        RelationalOps.distinctSketch(
          inc.select(lit("all").as("grp"),
            md5(col(spec.text).cast("binary")).as("h")), "grp", "h"),
        "grp")
    } else warnNoProfile(dcPath)

    // per-source profile advance (when the build carries one): new
    // sources appear as new groups, existing ones merge
    spec.profileSource.foreach { src =>
      val sdPath = s"$out/stats/source_distinct"
      if (stageDone(sdPath)) advanceArtifact(s, spec, sdPath, tag) { standing =>
        RelationalOps.distinctSketchMerge(standing,
          RelationalOps.distinctSketch(
            inc.select(col(src).cast("string").as("grp"),
              md5(col(spec.text).cast("binary")).as("h")), "grp", "h"),
          "grp")
      } else warnNoProfile(sdPath)
      val slPath = s"$out/stats/source_len"
      if (stageDone(slPath)) advanceArtifact(s, spec, slPath, tag) { standing =>
        RelationalOps.quantileSketchMerge(standing,
          RelationalOps.quantileSketch(
            TextOps.tokenCounts(inc, src, spec.text)
              .select(col("doc_id").cast("string").as("grp"),
                col("n_tok")), "grp", "n_tok"),
          "grp")
      } else warnNoProfile(slPath)
    }
  }

  /** One staged profile-artifact advance (ADVICE r15). `merged` maps the
    * eagerly-checkpointed standing table to the advanced table; the
    * result lands in `<path>__advance`, is VERIFIED (readable, group
    * count no smaller than the standing table's — a merge never loses
    * groups), stamped with the increment path, and only then swapped
    * into place. Crash contract (same as [[executeCompact]]'s): before
    * the swap the original is intact and a retry redoes the merge; a
    * crash between the delete and the move leaves the fully verified
    * staged directory — move `<path>__advance` into place to finish.
    * A RETRY of an ingest whose advance already swapped finds its own
    * increment stamp and SKIPS the re-merge — the one double-merge
    * hazard the in-place overwrite had. (Appending artifacts — manifest,
    * indexes, ann — are NOT retry-idempotent; a failed ingest's partial
    * appends must be cleaned before re-running, see [[executeIngest]].) */
  private def advanceArtifact(s: SparkSession, spec: Spec, path: String,
      incrementTag: String)(merged: DataFrame => DataFrame): Unit = {
    val stampName = "_advanced_from"
    val stamp = Paths.get(path, stampName)
    val rel = path.stripPrefix(spec.out).stripPrefix("/")
    if (incrementTag.nonEmpty && Files.exists(stamp) &&
        Files.readString(stamp) == incrementTag) {
      System.err.println(s"[run] profile artifact '$path' was already " +
        s"advanced by '$incrementTag' — skipping the re-merge " +
        "(retried ingest).")
      return
    }
    val standing = Pins.checkpoint(s.read.parquet(path))
    try {
      val nStanding = standing.count()
      val staging = path + "__advance"
      merged(standing).write.mode("overwrite").parquet(staging)
      val nStaged = s.read.parquet(staging).count()
      require(nStaged >= nStanding,
        s"profile advance of '$path' staged $nStaged rows < standing " +
          s"$nStanding — refusing the swap; staged data left at " +
          s"'$staging'")
      Files.writeString(Paths.get(staging, stampName), incrementTag)
      faultPoint(spec, s"advance:staged:$rel")
      rmTree(Paths.get(path))
      faultPoint(spec, s"advance:swap:$rel")
      Files.move(Paths.get(staging), Paths.get(path))
    } finally Pins.release(standing)
  }

  private def warnNoProfile(path: String): Unit =
    System.err.println(s"[run] WARNING: profile artifact '$path' absent " +
      "(pre-profile build?) — ingest proceeds without advancing it; " +
      "re-run the build's stats stages to create it.")

  /** The standing profile, read back for SUMMARY.json — token stream
    * length off the frequent-items bytes, p50/p95 doc length off the
    * KLL bytes, distinct-content estimate off the HLL bytes. Attests
    * the ON-DISK artifacts (post-advance on ingest), same as the window
    * totals. None when a pre-profile build dir lacks the artifacts. */
  private def profileSummary(s: SparkSession, out: String): Option[String] = {
    import graft.operators.RelationalOps
    if (!stageDone(s"$out/stats/token_sketch") ||
        !stageDone(s"$out/stats/len_quantiles") ||
        !stageDone(s"$out/stats/distinct_content")) return None
    val sk = s.read.parquet(s"$out/stats/token_sketch")
      .head().getAs[Array[Byte]]("sk")
    val (nTok, _, _) = graft.functions.FreqItems.decode(sk, Long.MaxValue)
    val lq = RelationalOps.quantileSketchEstimate(
      s.read.parquet(s"$out/stats/len_quantiles"), "grp", Seq(0.5, 0.95))
      .head()
    val dc = RelationalOps.distinctSketchEstimate(
      s.read.parquet(s"$out/stats/distinct_content"), "grp")
      .head().getLong(1)
    Some(s""""profile":{"n_tokens":$nTok,"len_p50":${lq.getDouble(1)},""" +
      s""""len_p95":${lq.getDouble(2)},"distinct_content_est":$dc}""")
  }

  private def esc(x: String): String = x.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: graft.Run <spec.json>")
    val spec = parseSpec(new String(
      Files.readAllBytes(Paths.get(args(0))), StandardCharsets.UTF_8))
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("WARN")
    println(execute(spark, spec))
    spark.stop()
  }
}
