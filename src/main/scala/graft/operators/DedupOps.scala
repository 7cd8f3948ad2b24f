package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Det, QDef}
import graft.sources.Tables

/** Deduplication operators (north star of BASELINE.json; the reference has
  * none — its log is append-only bytes, `/root/reference/src/streams.ts:8-19`).
  *
  * Family, in increasing fuzziness:
  *  - exact        — group on a 128-bit content hash (never on the full
  *                   text: at 100 TB the shuffle carries 16-byte keys, not
  *                   documents);
  *  - keep-latest  — row_number over (entity, recency) — the CDC compaction
  *                   pattern;
  *  - n-gram Jaccard — inverted-index self-join on shingles (candidate
  *                   pairs share ≥1 shingle; hot shingles pruned by a
  *                   corpus-relative document-frequency cap so the join
  *                   cost stays O(Σ df²) with df bounded);
  *  - MinHash+LSH  — signature/banding: candidates collide in ≥1 of 16
  *                   bands of 4 minhashes; Jaccard is then ESTIMATED from
  *                   signature agreement (matching minhashes / 64) — no
  *                   second pass over shingles, no self-join. Total cost is
  *                   O(docs × perms) + one bucket-join: THE scalable
  *                   near-dup path at 100 TB, never O(docs²);
  *  - SimHash      — 64-bit sign-of-weighted-sum fingerprint; candidate
  *                   pairs from 6-band collisions (recall 1.0 for
  *                   Hamming ≤ 5 by pigeonhole), verified with
  *                   `bit_count(xor) <= 5`.
  *
  * Verified in graft.DedupSpec: MinHash/SimHash candidate pairs cover the
  * high-Jaccard ground truth from the exact n-gram query.
  */
object DedupOps {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")

  /** Documents spread over the session's shuffle partitioning by doc_id.
    * The test parquet is a single tiny file → a single scan partition, so
    * per-doc heavy compute (shingling, hashing, 64-way minhash) would run
    * on one core without this. The repartition ALSO pre-establishes the
    * HashPartitioning(doc_id) that the signature groupBy needs, so the
    * aggregate that follows adds no second shuffle. At 100 TB the scan has
    * thousands of partitions anyway and this decouples compute parallelism
    * from file layout. */
  private def docsSpread(s: SparkSession, d: String): DataFrame =
    docs(s, d).repartition(col("doc_id"))

  // Shingles travel as 64-bit hashes (native kernels in
  // graft.functions.TextKernels, parity-asserted in graft.KernelSpec):
  // downstream shuffles and joins carry 8-byte longs, never the ~30-byte
  // shingle strings. Collisions are immaterial — a false shared shingle
  // needs a 64-bit collision inside one candidate pair's ~50-shingle
  // neighborhood.

  /** Per-shingle buckets `(sh64, df, ds = list of docs containing it)`
    * with hot shingles pruned. One shuffle total: per-doc shingle SETS
    * come out of the native kernel (no global distinct needed — distinct
    * per (doc, shingle) IS per-doc dedup), and document frequency + the
    * doc list are one aggregation (no separate dfreq join).
    *
    * Cap policy — clamp(0.2% of docs, 100, 1000): the relative region
    * keeps small corpora exact (no real shingle is pruned below ~50k
    * docs), while the ABSOLUTE ceiling is the cost bound — per-shingle
    * pair generation is O(df²) and a collect_list row is O(df), so an
    * uncapped relative cap would let one stop-shingle produce a
    * million-entry bucket at 1B docs. Above the ceiling, pruning a
    * shingle shared by 1000+ documents costs no fidelity: it carries no
    * discriminative signal for near-dup detection. `floor` is explicit
    * because Spark's double→long cast truncates while DuckDB's CAST
    * rounds — the oracle mirrors the same floor. */
  private def shingleBuckets(rows: DataFrame, id: String, text: String): DataFrame = {
    val sh = rows
      .select(col(id).as("doc_id"),
        explode(graft.functions.TextKernels.shingleSet64(col(text))).as("sh64"))
    val cap = rows.agg(
      least(lit(1000L),
        greatest(lit(100L), floor(count(lit(1)) * 0.002).cast("long")))
        .as("max_df"))
    sh.groupBy("sh64")
      .agg(count(lit(1)).as("df"), collect_list("doc_id").as("ds"))
      .crossJoin(broadcast(cap))
      .filter(col("df") <= col("max_df"))
  }

  // G10: exact dedup via content hash.
  private def dedupExact(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("h")

  // G11: keep-latest per entity (events: latest event per user).
  private def dedupLatest(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(desc("ts"), desc("event_id"))
    Tables(s, d, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"))
      .orderBy("user_id")
  }

  // n-gram Jaccard near-dup: inverted index grouped into per-shingle doc
  // lists (df ≤ cap ensures each list holds ≤ cap ids), pairs generated
  // inside each list — a single exchange feeds pair generation AND per-doc
  // counts, instead of a self-join that re-executes the index subtree per
  // side. Exact Jaccard, cost O(Σ df²) with df bounded corpus-relatively.
  // LIBRARY ENTRY POINT — generic over any corpus (id + text columns).
  def ngramJaccardPairs(rows: DataFrame, id: String, text: String,
      minJaccard: Double): DataFrame = {
    // The index feeds BOTH pair generation and the two per-doc count legs;
    // left lazy, Catalyst executes the whole shingle+groupBy subtree once
    // per consumer (3×: confirmed in PLANS.md round 2). One eager
    // localCheckpoint bounds it to a single execution; the checkpoint is
    // the capped index (≤ one row per distinct shingle, lists ≤ cap) —
    // far smaller than the corpus at any scale.
    val grp = Pins.checkpoint(shingleBuckets(rows, id, text))
    pairsFromBuckets(grp, minJaccard)
  }

  /** The bucket→pair→Jaccard tail shared by [[ngramJaccardPairs]] and
    * [[ngramJaccardPairsFromPostings]]: `grp` is the CAPPED per-shingle
    * index `(sh64, df, ds)`, already checkpointed by the caller. */
  private def pairsFromBuckets(grp: DataFrame,
      minJaccard: Double): DataFrame = {
    val cnt = grp.select(explode(col("ds")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    // No broadcast hint on the candidate pair list: what exists here is
    // every pair sharing ≥1 surviving shingle (bounded by Σ df²/2 under the
    // cap), which on a dup-heavy corpus is orders of magnitude larger than
    // the post-Jaccard pair list and can blow past broadcast limits. AQE
    // still broadcasts at runtime when the aggregate is genuinely small;
    // forcing it here turns the operator's primary use case into an OOM.
    // pair generation through the ListPairs kernel (one primitive loop
    // per bucket; the declarative flatten/transform/slice rendering —
    // kept as KernelSpec's parity reference — copied the list suffix per
    // element and dispatched two interpreted lambdas per pair)
    val pairs = grp
      .select(explode(graft.functions.ListPairs.listPairs(col("ds"))).as("p"))
      .groupBy(col("p.da").as("da"), col("p.db").as("db"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(cnt.as("ca"), col("da") === col("ca.doc_id"))
      .join(cnt.as("cb"), col("db") === col("cb.doc_id"))
      .withColumn("jaccard",
        col("inter") / (col("ca.n") + col("cb.n") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("da"), col("db"), Det.r4(col("jaccard")).as("jaccard"))
      .orderBy("da", "db")
  }

  /** The corpus-relative df cap at `nDocs` documents — the ONE scalar
    * the near-dup family's union-equivalence guarantees are relative to
    * (clamped `floor(nDocs · 0.002)` ∈ [100, 1000]; below 50k docs the
    * cap pins at 100, above 500k at 1000, and in between it moves with
    * the corpus). Exposed so lifecycle guards ([[graft.Run]]'s ingest
    * tier check, r17) can detect a crossing WITHOUT re-deriving the
    * clamp inline and drifting from the operators' definition. */
  def dfCapFor(nDocs: Long): Long = {
    require(nDocs >= 0, s"nDocs must be >= 0, got $nDocs")
    math.min(1000L, math.max(100L, (nDocs.toDouble * 0.002).toLong))
  }

  /** [[ngramJaccardPairs]] re-derived from a PERSISTED raw posting index
    * `(doc_id, sh64)` instead of the corpus — the recovery path of the
    * df-cap tier guard (r17, `graft.Run` `"mode": "recluster"`): when
    * ingests have moved the union size across a cap tier, the standing
    * pair/label artifacts must be re-derived under the CURRENT cap, and
    * the posting index already holds every (doc, shingle) row — one
    * index scan instead of a corpus re-shingle. `nDocs` is the current
    * corpus size (the cap's denominator; `graft.Run` reads it off the
    * manifest). Row-for-row equal to `ngramJaccardPairs(corpus)` at the
    * same doc count (pinned in graft.DedupSpec); any denormalized `df`
    * column on the index is ignored — frequencies are recounted.
    *
    * LIBRARY ENTRY POINT — generic over any raw posting relation. */
  def ngramJaccardPairsFromPostings(postings: DataFrame, nDocs: Long,
      minJaccard: Double): DataFrame = {
    val grp = Pins.checkpoint(postings.select(col("doc_id"), col("sh64"))
      .groupBy("sh64")
      .agg(count(lit(1)).as("df"), collect_list("doc_id").as("ds"))
      .filter(col("df") <= dfCapFor(nDocs)))
    pairsFromBuckets(grp, minJaccard)
  }

  /** Verbatim-span duplicate pairs: documents sharing at least `minShared`
    * exact n-token runs — the EXACT SUBSTRING dedup of Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499), at token granularity. Distinct semantics from
    * [[ngramJaccardPairs]]: a document embedding one verbatim paragraph of
    * another fires here even when the rest differs completely (copy-paste
    * detection), while a token-bag rewrite scores high on Jaccard yet
    * shares no long run. Same scale shape as the Jaccard index: runs
    * travel as 64-bit hashes (8-byte shuffle keys, never text), per-run
    * doc lists carry the corpus-relative df cap (a boilerplate run shared
    * by 1000+ docs is navigation chrome, not a copy signal), pairs
    * generate inside buckets — cost O(Σ df²) with df bounded.
    *
    * LIBRARY ENTRY POINT — generic over any corpus (id + text columns);
    * the q_dedup_substring query binds the test table, graft.ApiSpec a
    * synthetic frame with a planted verbatim span. */
  def substringPairs(rows: DataFrame, id: String, text: String,
      n: Int, minShared: Int): DataFrame = {
    require(n >= 2 && minShared >= 1,
      s"need n >= 2 and minShared >= 1, got n=$n minShared=$minShared")
    // n-gram hashes per doc, deduped per doc: a run repeated INSIDE one
    // document is intra-doc repetition (q_repetition's signal), not
    // cross-doc duplication. NGramSet64 is the native single-pass kernel
    // (KernelSpec-parity with the declarative array_distinct(transform(...,
    // xxhash64(concat_ws(" ", slice(...)))))) — the declarative form built
    // one sliced string per position through interpreted lambdas, the
    // dominant allocation of this query (VERDICT r4).
    val gs = rows
      .select(col(id).as("doc_id"),
        graft.functions.TextKernels.ngramSet64(col(text), n).as("gs"))
      .select(col("doc_id"), explode(col("gs")).as("g64"))
    val cap = rows.agg(
      least(lit(1000L),
        greatest(lit(100L), floor(count(lit(1)) * 0.002).cast("long")))
        .as("max_df"))
    val buckets = gs.groupBy("g64")
      .agg(count(lit(1)).as("df"), collect_list("doc_id").as("ds"))
      .crossJoin(broadcast(cap))
      .filter(col("df") <= col("max_df") && col("df") > 1)
    buckets
      .select(explode(graft.functions.ListPairs.listPairs(col("ds"))).as("p"))
      .groupBy(col("p.da").as("da"), col("p.db").as("db"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("da", "db")
  }

  private def dedupSubstring(s: SparkSession, d: String): DataFrame =
    substringPairs(docsSpread(s, d), "doc_id", "text", n = 8, minShared = 1)

  /** The corpus's n-gram near-dup pair list, materialized once per
    * application ([[graft.sources.Materialize]]): FIVE queries consume the
    * identical list (the pair query itself, clusters, canonical selection,
    * edit-distance verification, contamination check). Recomputing the
    * shingle index per consumer multiplies the pipeline's dominant cost by
    * 5; materializing it is the storage-backed shared-intermediate pattern
    * a production pipeline uses — the pair list is a vanishing fraction of
    * the corpus, so consumers pay a tiny scan instead of the index build.
    * Read-back row order is not defined; consumers apply their own sort. */
  private[operators] def sharedNgramPairs(s: SparkSession, d: String): DataFrame =
    graft.sources.Materialize.table(s, s"ngram_pairs:$d") {
      ngramJaccardPairs(docsSpread(s, d), "doc_id", "text", minJaccard = 0.1)
    }

  /** Bench accounting hook: this module's memoized shared-intermediate
    * builds. [[graft.Bench]] times these before the query loop and reports
    * each as its own `_memo_*` line — otherwise the first consumer pays
    * the index build and its timing is incomparable across rounds. */
  def memoBuilds: Seq[(String, (SparkSession, String) => DataFrame)] =
    Seq("_memo_ngram_pairs" -> ((s, d) => sharedNgramPairs(s, d)),
      // signature/fingerprint aux tables (OracleAux): built once per JVM,
      // so their per-doc kernel cost reports here, not in the consumers'
      // q_dedup_*_verify timings (which measure the verification stage)
      "_memo_minhash_sigs" -> ((s, d) => minhashSigAux(s, d)),
      "_memo_simhash_fps" -> ((s, d) => simhashFpAux(s, d)),
      "_memo_ngram_postings" -> ((s, d) => ngramPostingsAux(s, d)),
      // standing cluster labels over the prior corpus: the persisted
      // artifact q_dedup_clusters_incr advances (its build cost is the
      // batch CC the incremental path exists to avoid re-paying)
      "_memo_cc_prior" -> ((s, d) => ccPriorLabels(s, d)))

  private def dedupNgramJaccard(s: SparkSession, d: String): DataFrame =
    sharedNgramPairs(s, d).orderBy("da", "db")

  // --- MinHash + LSH ---------------------------------------------------
  // Universal-hash family over 31-bit shingle hashes: h_i(x) = (a_i x + b_i)
  // mod p, p = 2^31 - 1 (Mersenne prime); a,b from a fixed LCG so the
  // signature is reproducible across runs and cluster sizes
  // (the permutation table lives in graft.functions.TextKernels).
  private val NumPerms = graft.functions.TextKernels.NumPerms
  private val BandRows = 4 // 16 bands × 4 rows → ~certain recall at j≥0.8

  // The signature (64 minhashes over word 3-shingles) depends only on its
  // own document: a NARROW per-row projection — no explode, no
  // aggregation, no shuffle — and the whole
  // tokenize→shingle→hash→64-permutation-min pass is ONE native kernel
  // call (graft.functions.TextKernels.minhashSig64); the declarative fold
  // it replaced evaluated ~3.3k interpreted lambdas per document. The
  // seed is [p,...,p]: empty docs keep it, which never collides with a
  // real band nor passes the estimate.

  /** Candidate pairs from LSH banding, verified by signature agreement:
    * ĵ = |{i : sig_a(i) = sig_b(i)}| / 64 is an unbiased Jaccard estimator
    * (each minhash matches with probability exactly j).
    *
    * LIBRARY ENTRY POINT — generic over any corpus: `rows` needs an id
    * column and a text column, nothing else (the q_dedup_minhash query
    * binds it to the test table; graft.ApiSpec binds it to a synthetic
    * non-corpus frame).
    *
    * Single-pass shape: the signature rides THROUGH the banding, and
    * collisions are grouped into buckets (`collect_list`) with pairs
    * generated and verified INSIDE each bucket — the signature subtree
    * executes exactly once. (A band self-join reads the subtree twice:
    * Spark's ReuseExchange does not fire across the join's aliased sides
    * here, and joining candidates back to `sigs` would run the shingling
    * three times.) One shuffle of 16 × (band_key, doc_id, 512-byte sig)
    * per doc; per-bucket work is O(k²) on k colliding docs — exactly the
    * collisions LSH promises to keep small. A degenerate corpus (millions
    * of identical docs → one hot bucket) would need a bucket-size cap or
    * pre-pass exact dedup; noted, not needed here. */
  def minhashPairs(rows: DataFrame, id: String, text: String,
      minEst: Double): DataFrame =
    minhashPairStream(minhashSignatures(rows, id, text))
      .filter(col("est") >= minEst)
      .select(col("da"), col("db"), Det.r4(col("est")).as("jaccard_est"))
      .distinct()
      .orderBy("da", "db")

  /** The signature stage: one kernel call per doc → `(doc_id, sig)`.
    * Sub-3-token docs keep the [p,...,p] seed signature; without this
    * guard any two of them would band-collide and "verify" at ĵ = 1.0. */
  private[graft] def minhashSignatures(rows: DataFrame, id: String,
      text: String): DataFrame =
    rows
      .select(col(id).as("doc_id"),
        graft.functions.TextKernels.minhashSig64(col(text)).as("sig"))
      .filter(element_at(col("sig"), 1) =!=
        graft.functions.TextKernels.MersenneP)

  /** The verification stage over a `(doc_id, sig)` frame: LSH banding →
    * bucket-grouped pair generation → signature-agreement estimate,
    * UN-thresholded `(da, db, est)` — a pure function of the signature
    * columns ([[graft.sources.OracleAux]] exploits exactly that). */
  private def minhashPairStream(sigs: DataFrame): DataFrame =
    bandedPairs(minhashBands(sigs))

  /** LSH banding of a `(doc_id, sig)` frame: 16 `(band_idx, band_key)`
    * rows per doc, the signature riding through. */
  private def minhashBands(sigs: DataFrame): DataFrame = {
    val nBands = NumPerms / BandRows
    sigs.select(col("doc_id"), col("sig"),
      posexplode(array((0 until nBands).map(bI =>
        xxhash64(concat_ws("_", (0 until BandRows).map(r =>
          element_at(col("sig"), bI * BandRows + r + 1)): _*))): _*))
        .as(Seq("band_idx", "band_key")))
  }

  /** Bucket-grouped pair generation + agreement estimate over banded
    * rows. Pair generation + signature verification run through the
    * MinhashBucketPairs kernel: one primitive loop per bucket (the
    * declarative rendering — KernelSpec's parity reference — dispatched
    * two interpreted lambdas per pair plus 64 zip_with lambda calls for
    * the agreement count); the est filter stays outside the kernel. */
  private def bandedPairs(bands: DataFrame): DataFrame =
    bands.groupBy("band_idx", "band_key")
      .agg(collect_list(struct(col("doc_id"), col("sig"))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode(graft.functions.BucketPairs
        .minhashBucketPairs(col("ms"))).as("pr"))
      .select(col("pr.da").as("da"), col("pr.db").as("db"),
        col("pr.est").as("est"))

  private def dedupMinhashLsh(s: SparkSession, d: String): DataFrame =
    minhashPairs(docsSpread(s, d), "doc_id", "text", minEst = 0.5)

  /** The corpus's signature table persisted for the oracle
    * ([[graft.sources.OracleAux]]) — also the production shape: signatures
    * are the expensive per-doc stage, computed once and reused across
    * banding configs. */
  private def minhashSigAux(s: SparkSession, d: String): DataFrame =
    graft.sources.OracleAux.table(s, d, "minhash_sigs") {
      minhashSignatures(docsSpread(s, d), "doc_id", "text")
    }

  /** Oracle-checked verification stage: banding + agreement COUNT over the
    * persisted signature table — DuckDB re-derives the same pairs from the
    * same parquet (grouping by the raw 4-element band slice where Spark
    * groups by its xxhash64; equivalent barring a 64-bit collision between
    * two live band tuples). n_agree ≥ 32 ⟺ est ≥ 0.5 exactly (est = k/64). */
  private def dedupMinhashVerify(s: SparkSession, d: String): DataFrame =
    minhashPairStream(minhashSigAux(s, d))
      .select(col("da"), col("db"),
        (col("est") * NumPerms).cast("int").as("n_agree"))
      .filter(col("n_agree") >= NumPerms / 2)
      .distinct()
      .orderBy("da", "db")

  // --- Incremental dedup (daily-ingest path) ----------------------------
  // A production corpus is not re-deduped from scratch per ingest: the
  // expensive per-doc artifacts (content hashes, minhash signatures) are
  // PERSISTED once for the standing corpus, and each increment dedups
  // against those tables plus itself. Cost per ingest is proportional to
  // the INCREMENT (its hashing/signing) plus the collision volume — never
  // to the corpus. The reference has no dedup surface at all (opaque
  // payloads, /root/reference/src/streams.ts:12-13).

  /** Exact-dup manifest for an increment against a persisted corpus hash
    * table `(h)` ([[dedupExact]]'s `h` column is exactly that artifact).
    * Each increment doc gets a fate: `dup_of_corpus` (hash already in the
    * corpus), `dup_in_batch` (first occurrence wins within the increment,
    * by id), or `unique`. The join is a plain equi-join on the 16-byte
    * hash — at 100 TB the hash table is a vanishing fraction of the
    * corpus and the shuffle carries increment-side rows only.
    *
    * `corpusHashes` must not include the increment's own rows (it is the
    * PRE-ingest index by construction).
    *
    * LIBRARY ENTRY POINT — generic over any (id, text) frame. */
  def exactDedupIncremental(newBatch: DataFrame, id: String, text: String,
      corpusHashes: DataFrame): DataFrame = {
    val w = Window.partitionBy("h").orderBy("doc_id")
    newBatch
      .select(col(id).as("doc_id"), md5(col(text).cast("binary")).as("h"))
      .join(corpusHashes.select(col("h")).distinct()
        .withColumn("in_corpus", lit(true)), Seq("h"), "left")
      .withColumn("rk", row_number().over(w))
      .select(col("doc_id"), col("h"),
        when(col("in_corpus"), "dup_of_corpus")
          .when(col("rk") > 1, "dup_in_batch")
          .otherwise("unique").as("fate"))
      .orderBy("doc_id")
  }

  /** Near-dup pairs for an increment against a persisted corpus signature
    * table ([[minhashSignatures]]' `(doc_id, sig)` shape — the artifact
    * the `minhash_sigs` aux/memo already materializes). Signatures are
    * computed for the INCREMENT only; the corpus participates through its
    * persisted signatures, and only in buckets the increment actually
    * touches (a band-key semi-join prunes the rest before any pair work).
    * Corpus×corpus pairs are historic — already adjudicated by earlier
    * ingests — so the result keeps exactly the pairs with ≥1 increment
    * doc. Shuffle ∝ increment bands + hot-bucket corpus rows, never the
    * corpus.
    *
    * `corpusSigs` must be disjoint from the increment's ids (it is the
    * PRE-ingest index by construction).
    *
    * LIBRARY ENTRY POINT — generic over any (id, text) frame. */
  def minhashPairsIncremental(newBatch: DataFrame, id: String, text: String,
      corpusSigs: DataFrame, minEst: Double): DataFrame = {
    val newSigs = minhashSignatures(newBatch, id, text)
    val newBands = minhashBands(newSigs)
    val hotKeys = newBands.select("band_idx", "band_key").distinct()
    val corpusHot = minhashBands(corpusSigs.select(col("doc_id"), col("sig")))
      .join(hotKeys, Seq("band_idx", "band_key"), "leftsemi")
    // The "≥1 increment doc" membership test is a single pass: two
    // left-join newness flags on the collision-bounded pair list, one
    // filter, one distinct. (The first formulation ran two semi-joins
    // against an eagerly localCheckpoint'd pair list and unioned them —
    // the checkpoint had no release path, so repeated per-ingest calls
    // accumulated pinned blocks in a long-lived session; ADVICE r8. One
    // linear DAG needs no materialization at all.)
    val newIds = newSigs.select(col("doc_id"))
    bandedPairs(corpusHot.unionByName(newBands))
      .filter(col("est") >= minEst)
      .select(col("da"), col("db"), Det.r4(col("est")).as("jaccard_est"))
      .join(newIds.select(col("doc_id").as("da"), lit(true).as("__na")),
        Seq("da"), "left")
      .join(newIds.select(col("doc_id").as("db"), lit(true).as("__nb")),
        Seq("db"), "left")
      .filter(col("__na").isNotNull || col("__nb").isNotNull)
      .select(col("da"), col("db"), col("jaccard_est"))
      .distinct()
      .orderBy("da", "db")
  }

  /** The corpus's UNCAPPED shingle inverted index with document
    * frequencies — `(doc_id, sh64, df)`, one row per (document, distinct
    * 3-shingle) with the shingle's corpus document frequency on every
    * posting. This is the persisted artifact
    * [[ngramJaccardPairsIncremental]] dedups increments against (the
    * n-gram analogue of the `minhash_sigs` signature table): production
    * pipelines build it once per standing corpus and append per ingest.
    * Uncapped ON PURPOSE — the df cap is corpus-size-relative, so it
    * must be applied at QUERY time against the current union size, not
    * frozen into the artifact.
    *
    * LIBRARY ENTRY POINT — generic over any (id, text) frame. */
  def ngramPostings(rows: DataFrame, id: String, text: String): DataFrame =
    rows
      .select(col(id).as("doc_id"),
        explode(graft.functions.TextKernels.shingleSet64(col(text)))
          .as("sh64"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("sh64")))

  /** Append an ingest batch to a persisted [[ngramPostings]] artifact,
    * returning the EXACT union index:
    * `ngramPostingsAppend(ngramPostings(prior), batch)` ≡
    * `ngramPostings(prior ∪ batch)` row-for-row (pinned in
    * graft.ApiSpec) — the maintenance operation that keeps the standing
    * inverted index true across ingests, so chained incremental dedup
    * calls (and the streaming composed-build cursor) never re-shingle
    * the corpus. Prior postings whose shingle the batch never touches
    * pass through with their df unchanged; postings on "hot" shingles
    * get the increment's document count added; the batch's own postings
    * enter at (increment df + prior df). Document frequencies are
    * re-derived by COUNTING rows, never by trusting the denormalized
    * column, so appends chain without drift.
    *
    * Shape at 100 TB: the df-bump join is increment-keyed (broadcast
    * for a daily batch) over a full-index projection; a production
    * store partitioned by shingle-hash bucket rewrites only the buckets
    * the batch touches (merge-on-read, like the window store's dynamic
    * partition overwrite).
    *
    * LIBRARY ENTRY POINT — generic over any (id, text) frame. */
  def ngramPostingsAppend(index: DataFrame, newBatch: DataFrame,
      id: String, text: String): DataFrame =
    mergePostings(index, newBatch
      .select(col(id).as("doc_id"),
        explode(graft.functions.TextKernels.shingleSet64(col(text)))
          .as("sh64")))

  /** [[ngramPostingsAppend]]'s merge core over an already-shingled
    * increment `(doc_id, sh64)` — split out so the q_postings_append
    * oracle can run both engines over the SAME persisted bytes
    * (the q_ivf_scan_verify pattern). */
  private[operators] def mergePostings(index: DataFrame,
      incPost: DataFrame): DataFrame = {
    val incDf = incPost.groupBy("sh64").agg(count(lit(1)).as("__inc_df"))
    val priorBumped = index
      .join(incDf, Seq("sh64"), "left")
      .select(col("doc_id"), col("sh64"),
        (col("df") + coalesce(col("__inc_df"), lit(0L))).as("df"))
    // prior df per hot shingle — collision-bounded (shingles present in
    // both the index and the batch)
    val priorDfHot = index.join(incDf.select("sh64"), Seq("sh64"))
      .groupBy("sh64").agg(count(lit(1)).as("__prior_df"))
    val incRows = incPost.join(incDf, Seq("sh64"))
      .join(priorDfHot, Seq("sh64"), "left")
      .select(col("doc_id"), col("sh64"),
        (col("__inc_df") + coalesce(col("__prior_df"), lit(0L))).as("df"))
    priorBumped.unionByName(incRows)
  }

  /** Near-dup n-gram-Jaccard pairs for an increment against a persisted
    * corpus index ([[ngramPostings]]' `(doc_id, sh64, df)` shape) —
    * EXACTLY the pairs `ngramJaccardPairs(prior ∪ increment)` would
    * report that involve ≥1 increment doc, computed at increment cost
    * (q_dedup_ngram_incr's oracle checks that equivalence end to end,
    * re-deriving the union pair list from scratch in DuckDB and
    * filtering to increment-touching pairs).
    *
    * The df cap is applied at the UNION size (`corpusDocCount` + the
    * increment — the caller tracks the corpus count as table metadata,
    * the one scalar this needs): for shingles the increment touches
    * ("hot"), the union df is the hot posting count itself; for a
    * candidate PRIOR doc's untouched shingles, union df = the
    * artifact's df + the increment's (0 for untouched) — so per-doc
    * surviving-shingle counts (the Jaccard denominators) are exact on
    * both sides of every pair.
    *
    * Shape at 100 TB: the corpus participates only through (a) index
    * lookups on hot shingles (a semi-join on the increment's shingle
    * set) and (b) the full postings of CANDIDATE prior docs (bounded by
    * collision volume) for their denominators. Shuffle ∝ increment +
    * collisions, never the corpus. Prior×prior pairs are historic —
    * already adjudicated by earlier ingests — and are never generated.
    *
    * `corpusIndex` is `(doc_id, sh64[, df])` and must not include the
    * increment's ids (it is the PRE-ingest index by construction). A
    * df'd index ([[ngramPostings]] / [[ngramPostingsAppend]] output)
    * uses its column; a RAW `(doc_id, sh64)` index — the append-only
    * artifact `graft.Run` keeps on disk — has the candidate docs' df
    * derived in-call by counting (one restricted index scan), so the
    * raw artifact never needs a corpus-wide df window re-attached at
    * ingest time (r16; raw ≡ df'd pinned in graft.DedupSpec).
    *
    * LIBRARY ENTRY POINT — generic over any (id, text) frame. */
  def ngramJaccardPairsIncremental(newBatch: DataFrame, id: String,
      text: String, corpusIndex: DataFrame, corpusDocCount: Long,
      minJaccard: Double): DataFrame = {
    require(corpusDocCount >= 0,
      s"corpusDocCount must be >= 0, got $corpusDocCount — and it must " +
        "EQUAL the pre-ingest corpus row count the index was built over: " +
        "the union df cap (and therefore the exact union-equivalence of " +
        "the reported pairs) is relative to this scalar, so a stale " +
        "metadata value silently moves the cap and changes the pair set " +
        "(a checked fallback is index.select(\"doc_id\").distinct.count)")
    // increment-sized; checkpointed because three legs consume it (the
    // df table, the union bucket build, the denominator count) — the
    // shingling kernel should run once per ingest, not thrice
    val newPost = Pins.checkpoint(newBatch
      .select(col(id).as("doc_id"),
        explode(graft.functions.TextKernels.shingleSet64(col(text)))
          .as("sh64")))
    val dfNew = newPost.groupBy("sh64").agg(count(lit(1)).as("dfn"))
    val capF = newBatch.agg(
      least(lit(1000L), greatest(lit(100L),
        floor((count(lit(1)) + lit(corpusDocCount)) * 0.002).cast("long")))
        .as("max_df"))
    // hot buckets: union postings restricted to shingles the increment
    // touches; their posting count IS the union df
    val priorHot = corpusIndex.select("doc_id", "sh64")
      .join(dfNew.select("sh64"), Seq("sh64"), "leftsemi")
    val buckets = Pins.checkpoint(priorHot.unionByName(newPost)
      .groupBy("sh64")
      .agg(count(lit(1)).as("df"), collect_list("doc_id").as("ds"))
      .crossJoin(broadcast(capF))
      .filter(col("df") <= col("max_df")))
    val pairs = buckets
      .select(explode(graft.functions.ListPairs.listPairs(col("ds"))).as("p"))
      .groupBy(col("p.da").as("da"), col("p.db").as("db"))
      .agg(count(lit(1)).as("inter"))
    val newIds = newBatch.select(col(id).as("doc_id")).distinct()
    val mixedPairs = pairs
      .join(newIds.select(col("doc_id").as("da"), lit(true).as("__na")),
        Seq("da"), "left")
      .join(newIds.select(col("doc_id").as("db"), lit(true).as("__nb")),
        Seq("db"), "left")
      .filter(col("__na").isNotNull || col("__nb").isNotNull)
      .select("da", "db", "inter")
    // Jaccard denominators: an increment doc's shingles are all hot, so
    // its surviving count comes from the capped hot buckets; a candidate
    // prior doc's count runs over its FULL postings with union df =
    // artifact df + increment df (0 where untouched)
    val cntNew = newPost
      .join(buckets.select("sh64"), Seq("sh64"), "leftsemi")
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    val priorCand = mixedPairs.select(col("da").as("doc_id"))
      .unionByName(mixedPairs.select(col("db").as("doc_id")))
      .distinct()
      .join(newIds, Seq("doc_id"), "left_anti")
    // candidate prior docs' postings WITH their corpus df. A df'd index
    // ([[ngramPostings]]) carries it; a RAW `(doc_id, sh64)` index —
    // the on-disk append-only artifact `graft.Run` persists — derives
    // it HERE, restricted to the candidate docs' shingles: one
    // semi-joined index scan + a collision-bounded aggregation, never
    // the full-index window the raw artifact would otherwise need
    // re-attached per ingest (r16: that window was executeIngest's one
    // corpus-sized SHUFFLE; scans scale, shuffles don't).
    val candWithDf =
      if (corpusIndex.columns.contains("df"))
        corpusIndex.select("doc_id", "sh64", "df")
          .join(priorCand, Seq("doc_id"), "leftsemi")
      else {
        val candPost = Pins.checkpoint(corpusIndex.select("doc_id", "sh64")
          .join(priorCand, Seq("doc_id"), "leftsemi"))
        val dfPrior = corpusIndex.select("sh64")
          .join(candPost.select("sh64").distinct(), Seq("sh64"), "leftsemi")
          .groupBy("sh64").agg(count(lit(1)).as("df"))
        candPost.join(dfPrior, Seq("sh64"))
      }
    val cntPrior = candWithDf
      .join(dfNew, Seq("sh64"), "left")
      .crossJoin(broadcast(capF))
      .filter(col("df") + coalesce(col("dfn"), lit(0L)) <= col("max_df"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    val cnt = cntNew.unionByName(cntPrior)
    mixedPairs
      .join(cnt.as("ca"), col("da") === col("ca.doc_id"))
      .join(cnt.as("cb"), col("db") === col("cb.doc_id"))
      .withColumn("jaccard",
        col("inter") / (col("ca.n") + col("cb.n") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("da"), col("db"), Det.r4(col("jaccard")).as("jaccard"))
      .orderBy("da", "db")
  }

  /** The 90%-corpus posting index, materialized once per application —
    * the standing artifact q_dedup_ngram_incr ingests against (the
    * `minhash_sigs` pattern: the bench line measures the INCREMENTAL
    * query, not a per-rep rebuild of the index it exists to reuse). */
  private[operators] def ngramPostingsAux(s: SparkSession,
      d: String): DataFrame =
    graft.sources.Materialize.table(s, s"ngram_postings:$d") {
      ngramPostings(docsSpread(s, d).filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text")
    }

  // --- q_postings_append: index-maintenance oracle (r13) ---------------
  /** The two persisted inputs of the append verification (the
    * q_ivf_scan_verify pattern): the standing 90% posting index and the
    * 10% increment's shingled postings — both engines merge the SAME
    * bytes, so the oracle checks the maintenance arithmetic (df bump +
    * hot-prior lookup + union) bit-for-bit. */
  private def appendPriorAux(s: SparkSession, d: String): DataFrame =
    graft.sources.OracleAux.table(s, d, "append_prior_postings") {
      ngramPostingsAux(s, d)
    }

  private def appendBatchAux(s: SparkSession, d: String): DataFrame =
    graft.sources.OracleAux.table(s, d, "append_batch_post") {
      docsSpread(s, d).filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          explode(graft.functions.TextKernels.shingleSet64(col("text")))
            .as("sh64"))
    }

  /** q_postings_append binding: the union index produced by the
    * maintenance op over the persisted prior index + increment postings;
    * DuckDB re-derives the whole union index from the identical bytes
    * with one COUNT window. */
  private def postingsAppendQuery(s: SparkSession, d: String): DataFrame =
    mergePostings(appendPriorAux(s, d), appendBatchAux(s, d))
      .orderBy("doc_id", "sh64")

  /** 10%-increment binding of [[ngramJaccardPairsIncremental]]: docs
    * with `doc_id % 10 = 0` ingest against the rest's persisted posting
    * index; the prior doc count (production: table metadata) is read
    * once. */
  private def dedupNgramIncr(s: SparkSession, d: String): DataFrame =
    ngramJaccardPairsIncremental(
      docsSpread(s, d).filter(col("doc_id") % 10 === 0), "doc_id", "text",
      ngramPostingsAux(s, d),
      corpusDocCount =
        docs(s, d).filter(col("doc_id") % 10 =!= 0).count(),
      minJaccard = 0.1)

  /** 10%-increment binding of [[exactDedupIncremental]]: docs with
    * `doc_id % 10 = 0` ingest against the rest's hash table. */
  private def dedupExactIncr(s: SparkSession, d: String): DataFrame =
    exactDedupIncremental(
      docs(s, d).filter(col("doc_id") % 10 === 0), "doc_id", "text",
      docs(s, d).filter(col("doc_id") % 10 =!= 0)
        .select(md5(col("text").cast("binary")).as("h")))

  /** 10%-increment binding of [[minhashPairsIncremental]]: the corpus
    * side reads the SAME persisted signature table as the verify query
    * (that file is the production artifact this path exists for). The
    * r4'd estimate recovers k/64 exactly (r4 error ≤ 5e-5 < 1/128), so
    * `n_agree` is integer-exact for the oracle. */
  private def dedupMinhashIncr(s: SparkSession, d: String): DataFrame =
    minhashPairsIncremental(
      docsSpread(s, d).filter(col("doc_id") % 10 === 0), "doc_id", "text",
      minhashSigAux(s, d).filter(col("doc_id") % 10 =!= 0), minEst = 0.5)
      .select(col("da"), col("db"),
        round(col("jaccard_est") * NumPerms).cast("int").as("n_agree"))
      .orderBy("da", "db")

  // --- SimHash ----------------------------------------------------------
  /** 64-bit SimHash per doc: bit k of the fingerprint is the sign of the
    * term-frequency-weighted sum over tokens of ±1 according to bit k of
    * xxhash64(token) — computed as the equivalent plain sum over token
    * OCCURRENCES (tf · ±1 over distinct tokens ≡ ±1 summed per
    * occurrence).
    *
    * Like [[minhashSignatures]], a fingerprint depends only on its own
    * document: a narrow per-row projection through the native single-pass
    * kernel ([[graft.functions.TextKernels.simHash64]]) — no explode, no
    * aggregation, no shuffle (the first formulation shuffled a 64-way bit
    * fan-out, tokens × 64 rows, through two aggregations; the declarative
    * fold that replaced it still evaluated ~7k interpreted lambdas per
    * document). */
  private[graft] def simhash(s: SparkSession, d: String): DataFrame =
    docsSpread(s, d)
      .select(col("doc_id"),
        graft.functions.TextKernels.simHash64(col("text")).as("simhash"))

  /** SimHash near-dup pairs: candidates collide in ≥1 of 6 bands
    * (4×11 + 2×10 bits) of the fingerprint — pigeonhole: ≤5 flipped bits
    * leave ≥1 of 6 bands intact, so recall is exactly 1.0 at the
    * Hamming ≤ 5 acceptance — then the full 64-bit Hamming distance
    * verifies with one `bit_count(xor)`. Band join shuffles (≤11-bit key,
    * 8-byte fingerprint) — never documents. Band width trades the recall
    * bound against candidate volume: at web scale one narrows acceptance
    * to Hamming ≤ 3 with 4×16-bit bands (the Manku WWW'07 regime) so band
    * keys stay selective; the 6-band split matches this corpus, whose true
    * near-dups sit at Hamming ≤ 5.
    *
    * LIBRARY ENTRY POINT — generic over any corpus (id + text columns);
    * the q_dedup_simhash query binds the test table, graft.ApiSpec a
    * synthetic frame. */
  def simhashPairs(rows: DataFrame, id: String, text: String,
      maxHamming: Int): DataFrame =
    simhashPairStream(simhashFingerprints(rows, id, text))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("da", "db")

  /** The fingerprint stage: one kernel call per doc → `(doc_id, simhash)`.
    * Token-less docs all hash to fingerprint 0 and would pair with each
    * other at Hamming 0 (a real doc hits 0 with probability 2^-64). */
  private[graft] def simhashFingerprints(rows: DataFrame, id: String,
      text: String): DataFrame =
    rows
      .select(col(id).as("doc_id"),
        graft.functions.TextKernels.simHash64(col(text)).as("simhash"))
      .filter(col("simhash") =!= 0L)

  /** Band layout shared with the oracle SQL: (start bit, width). */
  private[graft] val SimhashBands =
    Seq((0, 11), (11, 11), (22, 11), (33, 11), (44, 10), (54, 10))

  /** The verification stage over a `(doc_id, simhash)` frame: 6-band
    * bucketing → per-bucket pair generation → full 64-bit Hamming,
    * UN-thresholded `(da, db, hamming)` — a pure function of the
    * fingerprint columns. */
  private def simhashPairStream(fp: DataFrame): DataFrame =
    simhashBandedPairs(simhashBandRows(fp))

  /** 6-band bucketing of a `(doc_id, simhash)` frame: one `(band, bkey)`
    * row per band per doc, the fingerprint riding through. */
  private def simhashBandRows(fp: DataFrame): DataFrame =
    fp.select(col("doc_id"), col("simhash"),
      posexplode(array(SimhashBands.map { case (start, width) =>
        shiftright(col("simhash"), start).bitwiseAND(lit((1L << width) - 1))
      }: _*))
        .as(Seq("band", "bkey")))

  /** Bucket-grouped pair generation + full 64-bit Hamming over banded
    * rows. Same bucket-grouped single-pass shape as MinHash: the
    * fingerprint subtree executes once; pairs generate and verify inside
    * buckets through the kernel (one XOR + popcount per pair in a
    * primitive loop); the Hamming filter stays outside. */
  private def simhashBandedPairs(bands: DataFrame): DataFrame =
    bands.groupBy("band", "bkey")
      .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode(graft.functions.BucketPairs
        .simhashBucketPairs(col("ms"))).as("pr"))
      .select(col("pr.da").as("da"), col("pr.db").as("db"),
        col("pr.hamming").as("hamming"))

  /** Near-dup pairs for an increment against a persisted corpus
    * FINGERPRINT table ([[simhashFingerprints]]' `(doc_id, simhash)`
    * shape — the `simhash_fps` aux artifact) — the SimHash member of the
    * incremental family ([[exactDedupIncremental]] /
    * [[minhashPairsIncremental]] / [[ngramJaccardPairsIncremental]]):
    * the increment is fingerprinted fresh, the corpus participates only
    * through its persisted 8-byte fingerprints and only in bands the
    * increment actually touches (a band-key semi-join prunes the rest),
    * and only pairs with ≥1 increment doc are kept — corpus×corpus pairs
    * are historic. Shuffle ∝ increment bands + hot-bucket corpus rows.
    *
    * `corpusFps` must be disjoint from the increment's ids (it is the
    * PRE-ingest index by construction).
    *
    * LIBRARY ENTRY POINT — generic over any (id, text) frame. */
  def simhashPairsIncremental(newBatch: DataFrame, id: String,
      text: String, corpusFps: DataFrame, maxHamming: Int): DataFrame = {
    val newFp = simhashFingerprints(newBatch, id, text)
    val newBands = simhashBandRows(newFp)
    val hotKeys = newBands.select("band", "bkey").distinct()
    val corpusHot = simhashBandRows(
        corpusFps.select(col("doc_id"), col("simhash")))
      .join(hotKeys, Seq("band", "bkey"), "leftsemi")
    val newIds = newFp.select(col("doc_id"))
    simhashBandedPairs(corpusHot.unionByName(newBands))
      .filter(col("hamming") <= maxHamming)
      .join(newIds.select(col("doc_id").as("da"), lit(true).as("__na")),
        Seq("da"), "left")
      .join(newIds.select(col("doc_id").as("db"), lit(true).as("__nb")),
        Seq("db"), "left")
      .filter(col("__na").isNotNull || col("__nb").isNotNull)
      .select(col("da"), col("db"), col("hamming"))
      .distinct()
      .orderBy("da", "db")
  }

  /** 10%-increment binding of [[simhashPairsIncremental]]: the corpus
    * side reads the SAME persisted fingerprint table as the verify
    * query (fingerprints are pure functions of the text, so the fresh
    * increment fingerprints match the persisted bytes the oracle
    * reads). */
  private def dedupSimhashIncr(s: SparkSession, d: String): DataFrame =
    simhashPairsIncremental(
      docsSpread(s, d).filter(col("doc_id") % 10 === 0), "doc_id", "text",
      simhashFpAux(s, d).filter(col("doc_id") % 10 =!= 0), maxHamming = 5)

  private def dedupSimhash(s: SparkSession, d: String): DataFrame =
    simhashPairs(docsSpread(s, d), "doc_id", "text", maxHamming = 5)

  /** The corpus's fingerprint table persisted for the oracle
    * ([[graft.sources.OracleAux]]). */
  private def simhashFpAux(s: SparkSession, d: String): DataFrame =
    graft.sources.OracleAux.table(s, d, "simhash_fps") {
      simhashFingerprints(docsSpread(s, d), "doc_id", "text")
    }

  /** Oracle-checked verification stage: banding + Hamming over the
    * persisted fingerprint table — DuckDB re-derives the same pairs from
    * the same parquet with `>>`/`&`/`xor`/`bit_count` (both engines use
    * arithmetic shifts and two's-complement popcount on int64). */
  private def dedupSimhashVerify(s: SparkSession, d: String): DataFrame =
    simhashPairStream(simhashFpAux(s, d))
      .filter(col("hamming") <= 5)
      .distinct()
      .orderBy("da", "db")

  /** Near-dup CLUSTERS: connected components over the (exact) pair list,
    * each doc labeled with the smallest doc_id in its component — the step
    * that turns pairwise similarity into an actual keep/drop decision.
    *
    * Distributed min-label propagation to fixpoint: every iteration each
    * vertex takes the min of its own label and its neighbors' labels; the
    * driver loop only checks a convergence COUNT (one scalar per round,
    * never data) and runs O(component diameter) rounds — near-dup
    * components are tiny cliques, so 2-3 rounds in practice; the
    * MaxRounds bound is a runaway guard and non-convergence fails loudly.
    * This is the simple variant of the large-star/small-star
    * connected-components algorithm. */
  // LIBRARY ENTRY POINT — generic over ANY undirected edge list (the
  // q_dedup_clusters query feeds it the n-gram near-dup pairs; any
  // similarity pair source composes the same way). Returns one row per
  // vertex with the min-id representative of its component.
  def connectedComponents(edgeList: DataFrame, src: String, dst: String,
      maxRounds: Int = 50): DataFrame = {
    val edges = edgeList.select(col(src).as("da"), col(dst).as("db"))
    // materialize the edge list once — it is consumed every propagation
    // round, and lazily it would re-execute the whole upstream query per
    // round (and per convergence check). Superseded rounds are released
    // through Pins as soon as their successor is materialized; the final
    // round stays pinned with the caller's scope.
    val sym = Pins.checkpoint(edges.unionByName(
      edges.select(col("db").as("da"), col("da").as("db"))))
    // Round 1 FUSED into initialization (r19): every vertex's initial
    // label is itself, so the first round's neighbor-min is just
    // min(db) per da over the symmetrized edges and the "old label" is
    // the vertex id — no V-row identity frame to checkpoint, no V-row
    // join. Identical to running the generic round against identity
    // labels (sym is symmetrized, so distinct(da) IS the vertex set).
    var labelsCk = Pins.checkpoint(
      sym.groupBy(col("da").as("v")).agg(min("db").as("nbr"))
        .select(col("v"), least(col("v"), col("nbr")).as("label"),
          (col("nbr") < col("v")).as("__chg")))
    var labels = labelsCk.select("v", "label")
    var converged = labelsCk.filter(col("__chg")).count() == 0
    var rounds = 1
    // min-labels advance one hop per round → rounds needed ≈ component
    // diameter. The default suits near-dup graphs (tiny cliques); callers
    // with long-chain graphs raise maxRounds to their expected diameter.
    while (!converged && rounds < maxRounds) {
      // the round's second join already carries the OLD label (it feeds
      // `least`), so the did-this-vertex-move bit is computed IN the same
      // pass (`nbr < label` ⟺ least(label, nbr) ≠ label) and the
      // convergence check is a column scan of the just-checkpointed V-row
      // frame — r19, replacing a third V-row hash join + count per round
      val next = Pins.checkpoint(
        sym.join(labels, col("db") === col("v"))
          .groupBy(col("da").as("nv")).agg(min("label").as("nbr"))
          .join(labels, col("nv") === col("v"))
          .select(col("v"), least(col("label"), col("nbr")).as("label"),
            (col("nbr") < col("label")).as("__chg")))
      val changed = next.filter(col("__chg")).count()
      Pins.release(labelsCk) // the superseded round
      labelsCk = next
      labels = next.select("v", "label")
      converged = changed == 0
      rounds += 1
    }
    Pins.release(sym)
    // wrong labels must never be returned silently — a component with
    // diameter > MaxRounds means the input is not a near-dup graph
    require(converged,
      s"label propagation did not converge in $maxRounds rounds — " +
        "component diameter exceeds maxRounds; raise it for chain-shaped graphs")
    labels.select(col("v").as("doc_id"), col("label").as("cluster_rep"))
  }

  /** [[connectedComponents]] returning a [[CcRun]]: the label frame PLUS
    * the handle that frees the checkpointed blocks backing it — prefer
    * this form in long-lived sessions (the GraphOps RankRun lifecycle:
    * consume `labels`, then `release()`; after release the frame cannot
    * be recomputed). */
  def connectedComponentsManaged(edgeList: DataFrame, src: String,
      dst: String, maxRounds: Int = 50): CcRun = {
    val (labels, scope) = Pins.scoped(
      connectedComponents(edgeList, src, dst, maxRounds))
    new CcRun(labels, scope)
  }

  /** INCREMENTAL cluster-label maintenance — advance a STANDING
    * [[connectedComponents]] label table `(doc_id, cluster_rep)` by an
    * ingest batch's near-dup pairs WITHOUT re-clustering the corpus,
    * completing the incremental dedup family (the pair generators have
    * been incremental since r6/r14; the cluster/canonical stage still
    * required a corpus-wide re-label).
    *
    * Supernode contraction: each edge endpoint maps to its standing rep
    * when labeled (a standing cluster acts as ONE node — its rep) and to
    * itself when new, then [[connectedComponents]] runs over the mapped
    * edges — a graph ∝ the INCREMENT's pairs plus the touched reps,
    * never the corpus. Returned is the UPSERT set: fresh label rows for
    * every member of a touched standing cluster plus every newly labeled
    * doc. Applying it (standing rows for other docs kept as-is) yields
    * BIT-FOR-BIT the from-scratch [[connectedComponents]] over the union
    * edge list: a standing rep is already the min doc_id of its cluster,
    * so the contracted component's min over {touched reps, new ids} IS
    * the merged cluster's min over all members (DedupSpec pins merges,
    * new clusters, previously-unlabeled standing docs joining, and a
    * two-increment chain ≡ from-scratch; the q_dedup_clusters_incr gate
    * line proves the applied table against the recursive-CTE oracle).
    *
    * Cost ∝ increment: the standing table is consumed by two hash joins
    * keyed on doc_id / cluster_rep (label lookup, touched-member
    * expansion — the latter ∝ touched cluster sizes), and the label
    * propagation runs on the contracted graph. Same block-lifecycle
    * caveat as [[connectedComponents]]: the returned frame is backed by
    * pinned checkpoint blocks — long-lived sessions should use
    * [[connectedComponentsIncrementalManaged]] and `release()` after
    * consuming (a run-and-exit job can simply discard). Pair-set caveat
    * inherited from [[ngramJaccardPairsIncremental]]: standing pairs
    * were generated under the PRIOR df cap — a shingle whose union df
    * crosses the cap can drop a from-scratch candidate that the standing
    * list kept, so chained-increments ≡ from-scratch holds exactly while
    * the cap tier is unchanged (it is clamped to [100, 1000], so tiers
    * move only at 50k/500k-doc boundaries).
    *
    * LIBRARY ENTRY POINT — generic over any label table with
    * `(doc_id, cluster_rep)` and any two-column edge relation
    * (graft.ApiSpec exercises it on a synthetic non-corpus graph). */
  def connectedComponentsIncremental(standingLabels: DataFrame,
      newEdges: DataFrame, src: String, dst: String,
      maxRounds: Int = 50): DataFrame = {
    Seq("doc_id", "cluster_rep").foreach { c =>
      require(standingLabels.columns.contains(c),
        s"standing labels have no column '$c' (columns: " +
          s"${standingLabels.columns.mkString(", ")}) — pass a " +
          "connectedComponents output")
    }
    // consumed four times (two endpoint lookups, touched-member
    // expansion, rep anti-join) — materialize once
    val st = Pins.checkpoint(
      standingLabels.select(col("doc_id"), col("cluster_rep")))
    val e = newEdges.select(col(src).as("__ea"), col(dst).as("__eb"))
    val mapped = e
      .join(st.select(col("doc_id").as("__ea"),
        col("cluster_rep").as("__ra")), Seq("__ea"), "left")
      .join(st.select(col("doc_id").as("__eb"),
        col("cluster_rep").as("__rb")), Seq("__eb"), "left")
      .select(coalesce(col("__ra"), col("__ea")).as("__sa"),
        coalesce(col("__rb"), col("__eb")).as("__sb"))
    val superLabels = connectedComponents(mapped, "__sa", "__sb", maxRounds)
      .select(col("doc_id").as("__super"), col("cluster_rep").as("__rep"))
    // full fresh rows for every member of a touched standing cluster…
    val touched = st
      .join(superLabels.select(col("__super").as("cluster_rep"),
        col("__rep")), Seq("cluster_rep"))
      .select(col("doc_id"), col("__rep").as("cluster_rep"))
    // …plus supernodes that are NOT standing reps: genuinely new docs
    // and previously pair-free standing docs joining a cluster
    val fresh = superLabels
      .join(st.select(col("cluster_rep").as("__super")).distinct(),
        Seq("__super"), "left_anti")
      .select(col("__super").as("doc_id"), col("__rep").as("cluster_rep"))
    touched.unionByName(fresh)
  }

  /** [[connectedComponentsIncremental]] returning a [[CcRun]] — the
    * upsert frame plus the release handle for the blocks backing it
    * (the standing-label checkpoint and the contracted run's final
    * round). Prefer this form in long-lived sessions; consume the
    * upsert (write / apply / collect), then `release()`. */
  def connectedComponentsIncrementalManaged(standingLabels: DataFrame,
      newEdges: DataFrame, src: String, dst: String,
      maxRounds: Int = 50): CcRun = {
    val (upsert, scope) = Pins.scoped(connectedComponentsIncremental(
      standingLabels, newEdges, src, dst, maxRounds))
    new CcRun(upsert, scope)
  }

  /** The frozen-prior NEAR-DUP fate bits of an ingest batch, derived
    * from a [[connectedComponentsIncremental]] upsert — so ONE contracted
    * label-propagation run serves both the fate decision and the
    * standing-label advance (VERDICT r16 #2; previously every ingest ran
    * a second, throwaway [[connectedComponents]] over the increment's
    * pairs just to fate them).
    *
    * Returns `(doc_id, nd)` — one row per increment doc that is
    * `near_dup` under the frozen-prior rule: its post-apply cluster
    * contains ANY prior doc (the prior doc owns the cluster; its own
    * fate is frozen and never revisited), or it is not the min-id member
    * of a new-only cluster. Equivalent to the in-call derivation over
    * the increment-touching pair components (pinned in graft.ApiSpec):
    * contraction can only MERGE mixed-pair components THROUGH a standing
    * cluster, and such components carry a prior doc on both sides of the
    * merge — the nd bit is unchanged; new-only components contract to
    * themselves, so their min-id member is unchanged too.
    *
    * `newIds` is the increment's id set (one `doc_id` column); upsert
    * rows outside it are the prior members the rule keys on. */
  def nearDupFromLabelUpsert(upsert: DataFrame,
      newIds: DataFrame): DataFrame = {
    val members = upsert.join(
      newIds.select(col("doc_id")).withColumn("__new", lit(true)),
      Seq("doc_id"), "left")
    val stats = members.groupBy("cluster_rep").agg(
      max(when(col("__new").isNull, 1).otherwise(0)).as("has_prior"),
      min(when(col("__new").isNotNull, col("doc_id"))).as("min_new"))
    members.filter(col("__new").isNotNull)
      .join(stats, Seq("cluster_rep"))
      .filter(col("has_prior") === 1 || col("doc_id") =!= col("min_new"))
      .select(col("doc_id"), lit(true).as("nd"))
  }

  /** A completed connected-components run plus the handle that frees the
    * checkpointed blocks backing its frame — the GraphOps RankRun
    * pattern for the CC family (VERDICT r16 #5): `labels` (or the
    * incremental upsert) is backed by pinned localCheckpoint blocks
    * that `Dataset.unpersist()` cannot free. Lifecycle: consume the
    * frame (collect / write / count), then call [[release]]; after
    * release the frame CANNOT be recomputed (its lineage was truncated
    * by the checkpoints). Idempotent; releases only this run's blocks,
    * so concurrent runs on one session are safe. */
  final class CcRun private[operators] (val labels: DataFrame,
      scope: Pins.Scope) {
    /** Free the pinned blocks backing [[labels]]. Call after consuming. */
    def release(): Unit = scope.release()
  }

  private def dedupClusters(s: SparkSession, d: String): DataFrame =
    connectedComponents(sharedNgramPairs(s, d), "da", "db")
      .orderBy("doc_id")

  /** STANDING cluster labels over the prior (90%) corpus's pair list —
    * the persisted artifact the incremental cluster query advances.
    * Memoized: one prior pair-build + CC run per application, reported
    * as its own `_memo_cc_prior` bench line (the query's number then
    * measures the INCREMENT's cost, which is the operator's claim). */
  private[operators] def ccPriorLabels(s: SparkSession, d: String): DataFrame =
    graft.sources.Materialize.table(s, s"cc_prior_labels:$d") {
      connectedComponents(
        ngramJaccardPairs(docsSpread(s, d).filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", minJaccard = 0.1), "da", "db")
    }

  /** 10%-increment binding of [[connectedComponentsIncremental]]: the
    * increment's near-dup pairs (the q_dedup_ngram_incr path, postings-
    * backed) advance the standing labels; the APPLIED table (untouched
    * standing rows ∪ the upsert) is what the oracle re-derives from
    * scratch over the union — incremental ≡ from-scratch, DuckDB-checked. */
  private def dedupClustersIncr(s: SparkSession, d: String): DataFrame = {
    val standing = ccPriorLabels(s, d)
    val upsert = connectedComponentsIncremental(standing,
      dedupNgramIncr(s, d).select("da", "db"), "da", "db")
    standing.join(upsert.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(upsert)
      .orderBy("doc_id")
  }

  /** Canonical-document selection — the LAST step of a dedup pipeline:
    * given near-dup clusters, keep ONE representative per cluster, chosen
    * by quality (ties → smallest doc_id), and emit the keep/drop manifest
    * downstream stages filter on. Composition of two verified operators
    * (clusters × quality scores) joined on doc_id; the cluster table is a
    * vanishing fraction of the corpus, so both the join and the per-cluster
    * window are cheap at any scale (window groups = cluster sizes, tiny
    * cliques by construction). */
  private def canonicalOver(s: SparkSession, d: String,
      clusters: DataFrame): DataFrame = {
    val quality = TextOps.qualityScore(s, d).select(col("doc_id"), col("quality"))
    val w = Window.partitionBy("cluster_rep")
      .orderBy(desc("quality"), col("doc_id"))
    clusters.join(quality, Seq("doc_id"))
      .withColumn("rk", row_number().over(w))
      .select(col("doc_id"), col("cluster_rep"),
        col("quality"), (col("rk") === 1).as("keep"))
      .orderBy("doc_id")
  }

  private def dedupCanonical(s: SparkSession, d: String): DataFrame =
    canonicalOver(s, d, dedupClusters(s, d))

  /** DuckDB CTE chain computing the n-gram Jaccard pair list over `table`
    * — parameterized so composed oracles (q_curate) can run it over a CTE
    * subset instead of the full `documents` table. Exposes a final CTE
    * `njp` with columns (da, db, inter, na, nb) already filtered to
    * jaccard ≥ minJ. Splice as `WITH [RECURSIVE] ${ngramPairCtes(...)},
    * ...`. */
  private[operators] def ngramPairCtes(table: String, minJ: Double,
      pfx: String = ""): String =
    s"""${pfx}njw AS (SELECT doc_id,
       |  list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS l
       |  FROM $table),
       |${pfx}njs AS (SELECT DISTINCT doc_id,
       |  unnest([l[i] || ' ' || l[i+1] || ' ' || l[i+2]
       |          for i in generate_series(1, len(l) - 2)]) AS shingle
       |  FROM ${pfx}njw WHERE len(l) >= 3),
       |${pfx}njs2 AS (SELECT doc_id, shingle FROM ${pfx}njs WHERE shingle IN
       |  (SELECT shingle FROM ${pfx}njs GROUP BY 1 HAVING count(*) <=
       |    (SELECT least(1000, greatest(100, CAST(floor(count(*) * 0.002) AS BIGINT)))
       |     FROM $table))),
       |${pfx}njcnt AS (SELECT doc_id, count(*) AS n FROM ${pfx}njs2 GROUP BY 1),
       |${pfx}njp AS (SELECT da, db, inter, ca.n AS na, cb.n AS nb
       |  FROM (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
       |    FROM ${pfx}njs2 a JOIN ${pfx}njs2 b
       |      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |    GROUP BY 1, 2) p
       |  JOIN ${pfx}njcnt ca ON p.da = ca.doc_id
       |  JOIN ${pfx}njcnt cb ON p.db = cb.doc_id
       |  WHERE inter / (ca.n + cb.n - inter) >= $minJ)""".stripMargin

  /** DuckDB rendering of the n-gram Jaccard query (shared by the
    * edit-distance and cluster oracles, which consume its pairs). */
  private[operators] val ngramOracleSql: String =
    s"""WITH ${ngramPairCtes("documents", 0.1)}
       |SELECT da, db, floor((inter / (na + nb - inter)) * 10000 + 0.5) / 10000 AS jaccard
       | FROM njp ORDER BY da, db""".stripMargin

  /** Repeated-segment (line-level) dedup — the CCNet/RefinedWeb
    * boilerplate-removal pass: segments (split on `sep`) whose corpus
    * DOCUMENT frequency exceeds `dfFrac` of the corpus are removed from
    * every document, the remainder re-joined in original order. Headers,
    * navigation chrome, cookie banners — content repeated across a large
    * share of documents carries no training signal and inflates exact-dup
    * rates downstream.
    *
    * Shape at 100 TB: the blocklist is the set of segments MORE frequent
    * than `dfFrac × corpus` — heavy hitters, so its size is bounded by
    * construction (≤ total segment occurrences / (dfFrac × docs), and in
    * real corpora boilerplate is a tiny vocabulary). It is computed with
    * one hash-keyed aggregation (the shuffle carries 8-byte xxhash64 keys,
    * never segment text), collapsed to a single array row, and BROADCAST;
    * the removal pass is then a pure per-document projection (split →
    * filter → re-join) with no explode and no reassembly shuffle — each
    * document is touched exactly once, and per-doc segment order never
    * leaves the row. Total cost: one corpus pass for frequencies + one
    * corpus pass for removal + one count scan for the threshold (cache
    * `rows` if it is an expensive derived frame), one broadcast, zero
    * row-multiplying joins.
    *
    * Exactness stance matches the shingle ops: segments are keyed by
    * xxhash64, so two distinct segments colliding in 64 bits within one
    * corpus would merge their counts (~2^-64 per pair; immaterial).
    *
    * Returns (`id`, clean_text, n_removed) — n_removed counts removed
    * OCCURRENCES in that document.
    *
    * LIBRARY ENTRY POINT — generic over any corpus (id + text columns);
    * ApiSpec exercises it on a planted newline-separated corpus. */
  def lineDedup(rows: DataFrame, id: String, text: String,
      sep: String = "\n", dfFrac: Double = 0.5): DataFrame = {
    require(sep.nonEmpty, "sep must be non-empty")
    require(dfFrac > 0 && dfFrac < 1,
      s"dfFrac must be in (0, 1), got $dfFrac")
    // the removal pass crossJoins the corpus with the 1-row blocklist
    // frame (column hv) and projects __segs/__kept — a corpus already
    // carrying those names would hit an ambiguous-column error mid-plan
    val clash = rows.columns.toSeq.intersect(Seq("hv", "__segs", "__kept"))
    require(clash.isEmpty,
      s"corpus already contains internal columns $clash — rename before calling")
    val sepRe = java.util.regex.Pattern.quote(sep)
    val segs = rows.select(col(id).as("__id"),
      explode(split(col(text), sepRe)).as("ln"))
    // document frequency per segment hash: count_distinct(__id) makes a
    // doc with a segment repeated in-document count once, mirroring the
    // "share of DOCUMENTS containing it" definition
    val dfreq = segs.groupBy(xxhash64(col("ln")).as("h"))
      .agg(count_distinct(col("__id")).as("df"))
    // threshold from the same frame (no separate count() action — though
    // note this IS an extra scan of `rows` beyond the two documented
    // corpus passes; callers with expensive derived corpora should cache).
    // The multiply runs in DECIMAL via the double's shortest decimal
    // rendering (BigDecimal.valueOf): floor(N * 0.7) as a double product
    // is floor(6.9999…) = 6 at N=10 while a decimal reference (the
    // DuckDB oracle's literal) gets 7 — decimal-exact on both sides, and
    // the explicit floor also mirrors DuckDB (whose CAST rounds where
    // Spark's truncates)
    val thr = rows.agg(
      floor(count(lit(1)) * lit(java.math.BigDecimal.valueOf(dfFrac)))
        .cast("long").as("max_df"))
    val heavy = dfreq.crossJoin(broadcast(thr))
      .filter(col("df") > col("max_df"))
      .agg(sort_array(collect_list(col("h"))).as("hv"))
    rows.crossJoin(broadcast(heavy))
      .withColumn("__segs", split(col(text), sepRe))
      .withColumn("__kept",
        filter(col("__segs"), t => !array_contains(col("hv"), xxhash64(t))))
      .select(col(id),
        array_join(col("__kept"), sep).as("clean_text"),
        (size(col("__segs")) - size(col("__kept"))).cast("long")
          .as("n_removed"))
  }

  /** q_dedup_lines binding: the corpus's documents are single-line
    * (space-joined tokens), so `sep = " "` exercises the operator at token
    * granularity — the removed "segments" are the corpus's stop-tokens,
    * which is exactly the corpus-frequency vocabulary-pruning variant of
    * the same operator. 0.78 sits inside the corpus's token-DF spread
    * (top fracs ≈ 0.78-0.80 at both gate and bench SF), so the blocklist
    * is non-empty but far from total — 15 of 31 tokens at sf0.01, 3 of 31
    * at sf0.1. */
  private def dedupLines(s: SparkSession, d: String): DataFrame =
    lineDedup(docs(s, d), "doc_id", "text", sep = " ", dfFrac = 0.78)
      .orderBy("doc_id")

  lazy val defs: Seq[QDef] = Seq(
    QDef("q_dedup_lines", dedupLines, Some(
      // raw segment strings where Spark carries xxhash64 keys (equivalent
      // barring a 64-bit collision); string_agg skips the NULLs the left
      // join leaves on kept tokens, preserving position order
      """WITH thr AS (
        |  SELECT CAST(floor(count(*) * 0.78) AS BIGINT) AS max_df FROM documents),
        |toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents),
        |hv AS (SELECT tok FROM toks, thr
        |       GROUP BY tok, max_df
        |       HAVING count(DISTINCT doc_id) > max_df)
        |SELECT t.doc_id,
        |  coalesce(string_agg(CASE WHEN h.tok IS NULL THEN t.tok END,
        |                      ' ' ORDER BY t.pos), '') AS clean_text,
        |  count(h.tok) AS n_removed
        | FROM toks t LEFT JOIN hv h ON t.tok = h.tok
        | GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin)),
    QDef("q_dedup_exact", dedupExact, Some(
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
        | FROM documents GROUP BY 1 ORDER BY h""".stripMargin)),
    QDef("q_dedup_latest", dedupLatest, Some(
      """SELECT user_id, event_id, event_type FROM (
        | SELECT user_id, event_id, event_type,
        |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin)),
    QDef("q_dedup_ngram_jaccard", dedupNgramJaccard, Some(ngramOracleSql)),
    // the oracle carries gram STRINGS where Spark carries xxhash64 longs —
    // counts agree unless two distinct grams collide in 64 bits inside one
    // bucket (~2^-64 per bucket; immaterial)
    QDef("q_dedup_substring", dedupSubstring, Some(
      """WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS l
        |  FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |  unnest([array_to_string(l[i:i+7], ' ')
        |          for i in generate_series(1, len(l) - 7)]) AS gram
        |  FROM w WHERE len(l) >= 8),
        |k AS (SELECT gram FROM g GROUP BY 1 HAVING count(*) > 1 AND count(*) <=
        |  (SELECT least(1000, greatest(100, CAST(floor(count(*) * 0.002) AS BIGINT)))
        |   FROM documents))
        |SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n_shared
        | FROM g a JOIN k USING (gram)
        | JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        | GROUP BY 1, 2 HAVING count(*) >= 1 ORDER BY da, db""".stripMargin)),
    // xxhash64-based SIGNATURES — not expressible in DuckDB; verified by
    // graft.DedupSpec (pairs ⊇ high-Jaccard ground truth) + driver
    // rows-only check. Their VERIFICATION stages are oracle-checked via
    // the q_dedup_*_verify queries below (OracleAux).
    QDef("q_dedup_minhash", dedupMinhashLsh, None),
    QDef("q_dedup_simhash", dedupSimhash, None),
    // Banding/agreement over the persisted signature table: DuckDB groups
    // by the raw 4-element band slice where Spark groups by its xxhash64
    // (equivalent barring an in-bucket 64-bit collision); agreement is
    // counted position-by-position over the same 64-long signatures.
    QDef("q_dedup_minhash_verify", dedupMinhashVerify, Some {
      val glob = graft.sources.OracleAux.gateGlob("minhash_sigs")
      s"""WITH s AS (SELECT doc_id, sig FROM read_parquet('$glob')),
         |b AS (SELECT doc_id, sig, gs.b AS band,
         |        list_slice(sig, 4*gs.b+1, 4*gs.b+4) AS bkey
         |      FROM s, generate_series(0, 15) AS gs(b)),
         |cand AS (SELECT DISTINCT least(x.doc_id, y.doc_id) AS da,
         |                greatest(x.doc_id, y.doc_id) AS db
         |         FROM b x JOIN b y ON x.band = y.band AND x.bkey = y.bkey
         |              AND x.doc_id < y.doc_id)
         |SELECT c.da, c.db,
         |  CAST(len(list_filter(range(1, 65),
         |    i -> sa.sig[i] = sb.sig[i])) AS INT) AS n_agree
         |FROM cand c JOIN s sa ON sa.doc_id = c.da
         |            JOIN s sb ON sb.doc_id = c.db
         |WHERE n_agree >= 32 ORDER BY da, db""".stripMargin
    }),
    QDef("q_dedup_exact_incr", dedupExactIncr, Some(
      """WITH inc AS (SELECT doc_id, md5(text) AS h
        |  FROM documents WHERE doc_id % 10 = 0),
        |r AS (SELECT doc_id, h,
        |   ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rk,
        |   h IN (SELECT md5(text) FROM documents WHERE doc_id % 10 <> 0)
        |     AS in_corpus
        |  FROM inc)
        |SELECT doc_id, h,
        |  CASE WHEN in_corpus THEN 'dup_of_corpus'
        |       WHEN rk > 1 THEN 'dup_in_batch'
        |       ELSE 'unique' END AS fate
        | FROM r ORDER BY doc_id""".stripMargin)),
    // The incremental-vs-index path must equal the from-scratch UNION
    // pair list restricted to increment-touching pairs — DuckDB re-runs
    // the batch computation over the whole table and filters; Spark
    // computes it from the prior posting index at increment cost.
    QDef("q_dedup_ngram_incr", dedupNgramIncr, Some(
      s"""WITH ${ngramPairCtes("documents", 0.1)}
         |SELECT da, db,
         |  floor((inter / (na + nb - inter)) * 10000 + 0.5) / 10000 AS jaccard
         | FROM njp WHERE da % 10 = 0 OR db % 10 = 0
         | ORDER BY da, db""".stripMargin)),
    // Posting-index maintenance (r13): both engines merge the SAME
    // persisted prior-index + increment-posting bytes; DuckDB rebuilds
    // the union index with one COUNT window, so every df the append
    // arithmetic produces is checked bit-for-bit.
    QDef("q_postings_append", postingsAppendQuery, Some {
      val priGlob = graft.sources.OracleAux.gateGlob("append_prior_postings")
      val batGlob = graft.sources.OracleAux.gateGlob("append_batch_post")
      s"""WITH u AS (
         |  SELECT doc_id, sh64 FROM read_parquet('$priGlob')
         |  UNION ALL
         |  SELECT doc_id, sh64 FROM read_parquet('$batGlob'))
         |SELECT doc_id, sh64, COUNT(*) OVER (PARTITION BY sh64) AS df
         |FROM u ORDER BY doc_id, sh64""".stripMargin
    }),
    // The incremental LSH path over the same persisted signature table as
    // the verify query: DuckDB re-derives the increment/corpus split, the
    // hot-bucket restriction, and the >=1-increment-doc pair filter from
    // the identical bytes (band equality via the raw slice again).
    QDef("q_dedup_minhash_incr", dedupMinhashIncr, Some {
      val glob = graft.sources.OracleAux.gateGlob("minhash_sigs")
      s"""WITH s AS (SELECT doc_id, sig FROM read_parquet('$glob')),
         |b AS (SELECT doc_id, gs.b AS band,
         |        list_slice(sig, 4*gs.b+1, 4*gs.b+4) AS bkey
         |      FROM s, generate_series(0, 15) AS gs(b)),
         |nk AS (SELECT DISTINCT band, bkey FROM b WHERE doc_id % 10 = 0),
         |hb AS (SELECT b.doc_id, b.band, b.bkey FROM b JOIN nk USING (band, bkey)),
         |cand AS (SELECT DISTINCT least(x.doc_id, y.doc_id) AS da,
         |                greatest(x.doc_id, y.doc_id) AS db
         |         FROM hb x JOIN hb y ON x.band = y.band AND x.bkey = y.bkey
         |              AND x.doc_id < y.doc_id
         |         WHERE x.doc_id % 10 = 0 OR y.doc_id % 10 = 0)
         |SELECT c.da, c.db,
         |  CAST(len(list_filter(range(1, 65),
         |    i -> sa.sig[i] = sb.sig[i])) AS INT) AS n_agree
         |FROM cand c JOIN s sa ON sa.doc_id = c.da
         |            JOIN s sb ON sb.doc_id = c.db
         |WHERE n_agree >= 32 ORDER BY da, db""".stripMargin
    }),
    // The incremental SimHash path over the same persisted fingerprint
    // table: DuckDB re-derives the increment/corpus split, the
    // hot-bucket restriction, and the >=1-increment-doc pair filter.
    QDef("q_dedup_simhash_incr", dedupSimhashIncr, Some {
      val glob = graft.sources.OracleAux.gateGlob("simhash_fps")
      val bandVals = SimhashBands
        .map { case (st, w) => s"($st, $w)" }.mkString(", ")
      s"""WITH f AS (SELECT doc_id, simhash FROM read_parquet('$glob')),
         |bb(start, width) AS (VALUES $bandVals),
         |b AS (SELECT doc_id, start,
         |        (simhash >> start) & ((1::BIGINT << width) - 1) AS bkey
         |      FROM f, bb),
         |nk AS (SELECT DISTINCT start, bkey FROM b WHERE doc_id % 10 = 0),
         |hb AS (SELECT b.doc_id, b.start, b.bkey FROM b
         |       JOIN nk USING (start, bkey)),
         |cand AS (SELECT DISTINCT least(x.doc_id, y.doc_id) AS da,
         |                greatest(x.doc_id, y.doc_id) AS db
         |         FROM hb x JOIN hb y ON x.start = y.start
         |              AND x.bkey = y.bkey AND x.doc_id < y.doc_id
         |         WHERE x.doc_id % 10 = 0 OR y.doc_id % 10 = 0)
         |SELECT c.da, c.db,
         |  CAST(bit_count(xor(fa.simhash, fb.simhash)) AS INT) AS hamming
         |FROM cand c JOIN f fa ON fa.doc_id = c.da
         |            JOIN f fb ON fb.doc_id = c.db
         |WHERE hamming <= 5 ORDER BY da, db""".stripMargin
    }),
    // Banding/Hamming over the persisted fingerprint table: both engines
    // use arithmetic >> and two's-complement popcount on int64.
    QDef("q_dedup_simhash_verify", dedupSimhashVerify, Some {
      val glob = graft.sources.OracleAux.gateGlob("simhash_fps")
      val bandVals = SimhashBands
        .map { case (st, w) => s"($st, $w)" }.mkString(", ")
      s"""WITH f AS (SELECT doc_id, simhash FROM read_parquet('$glob')),
         |bb(start, width) AS (VALUES $bandVals),
         |b AS (SELECT doc_id, simhash, start,
         |        (simhash >> start) & ((1::BIGINT << width) - 1) AS bkey
         |      FROM f, bb),
         |cand AS (SELECT DISTINCT least(x.doc_id, y.doc_id) AS da,
         |                greatest(x.doc_id, y.doc_id) AS db
         |         FROM b x JOIN b y ON x.start = y.start AND x.bkey = y.bkey
         |              AND x.doc_id < y.doc_id)
         |SELECT c.da, c.db,
         |  CAST(bit_count(xor(fa.simhash, fb.simhash)) AS INT) AS hamming
         |FROM cand c JOIN f fa ON fa.doc_id = c.da
         |            JOIN f fb ON fb.doc_id = c.db
         |WHERE hamming <= 5 ORDER BY da, db""".stripMargin
    }),
    QDef("q_dedup_clusters", dedupClusters, Some {
      val pairSql = ngramOracleSql
      s"""WITH RECURSIVE sym AS (
         |  SELECT da AS a, db AS b FROM ($pairSql)
         |  UNION ALL
         |  SELECT db, da FROM ($pairSql)),
         |reach(v, r) AS (
         |  SELECT DISTINCT a, a FROM sym
         |  UNION
         |  SELECT s.b, r.r FROM reach r JOIN sym s ON s.a = r.v)
         |SELECT v AS doc_id, min(r) AS cluster_rep FROM reach
         | GROUP BY 1 ORDER BY 1""".stripMargin
    }, managed = QDef.scoped(dedupClusters)),
    // The INCREMENTAL cluster path: Spark advances standing prior-corpus
    // labels by the increment's pairs (supernode contraction); the oracle
    // re-derives the ENTIRE label table from scratch over the union's
    // pairs — the strongest possible check of incremental ≡ from-scratch,
    // and deliberately the SAME SQL as q_dedup_clusters (equality of the
    // applied table IS the operator's claim).
    QDef("q_dedup_clusters_incr", dedupClustersIncr, Some {
      val pairSql = ngramOracleSql
      s"""WITH RECURSIVE sym AS (
         |  SELECT da AS a, db AS b FROM ($pairSql)
         |  UNION ALL
         |  SELECT db, da FROM ($pairSql)),
         |reach(v, r) AS (
         |  SELECT DISTINCT a, a FROM sym
         |  UNION
         |  SELECT s.b, r.r FROM reach r JOIN sym s ON s.a = r.v)
         |SELECT v AS doc_id, min(r) AS cluster_rep FROM reach
         | GROUP BY 1 ORDER BY 1""".stripMargin
    }, managed = QDef.scoped(dedupClustersIncr)),
    QDef("q_dedup_canonical", dedupCanonical, Some {
      val pairSql = ngramOracleSql
      s"""WITH RECURSIVE sym AS (
         |  SELECT da AS a, db AS b FROM ($pairSql)
         |  UNION ALL
         |  SELECT db, da FROM ($pairSql)),
         |reach(v, r) AS (
         |  SELECT DISTINCT a, a FROM sym
         |  UNION
         |  SELECT s.b, r.r FROM reach r JOIN sym s ON s.a = r.v),
         |clusters AS (SELECT v AS doc_id, min(r) AS cluster_rep FROM reach
         |  GROUP BY 1),
         |q AS (${TextOps.qualityOracleSql})
         |SELECT c.doc_id, c.cluster_rep, q.quality,
         | (ROW_NUMBER() OVER (PARTITION BY c.cluster_rep
         |    ORDER BY q.quality DESC, c.doc_id) = 1) AS keep
         | FROM clusters c JOIN q USING (doc_id)
         | ORDER BY c.doc_id""".stripMargin
    }, managed = QDef.scoped(dedupCanonical))
  )
}
