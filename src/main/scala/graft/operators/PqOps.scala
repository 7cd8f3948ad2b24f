package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Det, QDef}
import graft.functions.DotF.dotf
import graft.functions.PqKernels
import graft.sources.Tables

/** Product quantization — the memory-bound member of the ANN family.
  *
  * LSH ([[SimilarityOps.annKnnJoin]]) and IVF ([[SimilarityOps.ivfKnnJoin]])
  * cut the CANDIDATE count; neither cuts the BYTES each candidate costs.
  * At 100 TB the indexed side of a k-NN join is billions of vectors, and
  * shuffling 256+ bytes of floats per candidate row dominates the join. PQ
  * (Jégou et al., TPAMI 2011) stores each indexed vector as `m` small
  * codes — 8 ints here vs 64 floats, a ~30× shrink of everything that
  * moves through the join — and scores candidates by asymmetric distance:
  * the raw query against each candidate's reconstruction, no decode
  * materialized. The classic IVFADC layout composes both families: the
  * IVF coarse quantizer bounds candidates, PQ bounds bytes, and a final
  * exact re-rank over the shortlist restores precision.
  *
  * Everything is deterministic end to end (hash-ranked seeds, exact
  * decimal means, fixed tie orders), so codebooks trained twice on the
  * same corpus — or trained once, persisted, and reloaded via
  * `precomputedCodebooks` — are bit-identical; the same
  * train-once/search-many artifact pattern as [[SimilarityOps.ivfTrain]]
  * and curate's `precomputedPairs`.
  *
  * The reference has no similarity surface (payloads are opaque bytes,
  * /root/reference/src/streams.ts:12-13); this extends the engine's
  * LLM-pipeline additions.
  */
object PqOps {

  private def emb(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "embeddings")

  /** Collected codebook as the kernels' `cb(sub)(code)(j)` shape. */
  private type Codebook = Array[Array[Array[Double]]]

  /** Per-subspace Lloyd iterations over the normalized corpus — all `m`
    * subspaces train in ONE Spark job per round: [[PqKernels.pqEncode]]
    * assigns every subspace's code in a single kernel call, positions
    * explode once, and the means group by (subspace, code, position).
    * Plain Euclidean k-means in each subspace (PQ centroids are NOT
    * renormalized — subvectors of unit vectors are not unit vectors).
    *
    * Deterministic: seeds are the first `ksub` hash-ranked vectors'
    * subvectors, means are exact decimals ([[Det.dsum]]), the encode
    * kernel's argmin tie order is fixed — so retraining reproduces the
    * same codebook at any parallelism, and an emptied code keeps its
    * previous centroid (same policy as the IVF trainer).
    *
    * At 100 TB the codebook trains on a hash-sample (`trainFraction`),
    * corpus-size-independent like the IVF quantizer; encode and search
    * stay full-corpus. */
  private def trainCodebook(ne: DataFrame, m: Int, ksub: Int, iters: Int,
      trainFraction: Double): Codebook = {
    require(trainFraction > 0 && trainFraction <= 1.0,
      s"trainFraction must be in (0, 1], got $trainFraction")
    val dim = SimilarityOps.vecDim(ne).getOrElse(
      throw new IllegalArgumentException(
        "cannot train a PQ codebook on an empty corpus"))
    require(dim % m == 0,
      s"vector dim $dim is not divisible by m=$m subspaces")
    val dsub = dim / m
    val trainNe =
      if (trainFraction >= 1.0) ne
      else ne.filter(pmod(xxhash64(col("vec_id")), lit(1000000L))
        < (trainFraction * 1000000L).toLong)

    val seeds = trainNe
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(ksub)
      .collect().map(_.getSeq[Double](1))
    require(seeds.length == ksub,
      s"training sample has fewer than ksub=$ksub vectors — " +
        "raise trainFraction or lower ksub")
    var cb: Codebook = Array.tabulate(m, ksub) { (s, c) =>
      seeds(c).slice(s * dsub, (s + 1) * dsub).toArray
    }

    val sc = ne.sparkSession.sparkContext
    var round = 0
    while (round < iters) {
      val bc = sc.broadcast(cb)
      val sub = (col("p") / dsub).cast("int")
      val means = trainNe
        .select(PqKernels.pqEncode(col("ne"), bc).as("codes"),
          posexplode(col("ne")).as(Seq("p", "v")))
        .select(sub.as("sub"), pmod(col("p"), lit(dsub)).cast("int").as("q"),
          element_at(col("codes"), sub + 1).as("code"), col("v"))
        .groupBy("sub", "code", "q")
        .agg((Det.dsum(col("v")) / count(lit(1))).as("m"))
        .groupBy("sub", "code")
        .agg(array_sort(collect_list(struct(col("q"), col("m")))).as("qm"))
        .select(col("sub"), col("code"),
          transform(col("qm"), x => x.getField("m")).as("c"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      // the collect above fully executed this round's assignment — release
      // the round's broadcast now rather than waiting on ContextCleaner
      bc.destroy()
      val next = cb.map(_.map(identity))
      means.foreach { case (s, c, cent) => next(s)(c) = cent.toArray }
      cb = next
      round += 1
    }
    cb
  }

  /** Train the PQ codebooks and return them as a persistable table
    * `(sub INT, code INT, centroid ARRAY<DOUBLE>)` — `m × ksub` rows, the
    * reusable artifact a production pipeline writes once and feeds back
    * into [[pqEncode]] / [[ivfPqKnnJoin]] via `precomputedCodebooks`
    * across queries and sessions. Training is deterministic, so
    * train-once-then-reuse is bit-identical to self-training (pinned in
    * graft.SimilaritySpec).
    *
    * LIBRARY ENTRY POINT — generic over any (id, array-of-float) frame. */
  def pqTrain(rows: DataFrame, id: String, vec: String, m: Int = 8,
      ksub: Int = 16, iters: Int = 3, trainFraction: Double = 1.0): DataFrame = {
    require(m >= 1 && ksub >= 2 && iters >= 1,
      s"bad PQ config: m=$m ksub=$ksub iters=$iters")
    val ne = SimilarityOps.normalizedVecs(rows, id, vec).localCheckpoint(true)
    val cb = trainCodebook(ne, m, ksub, iters, trainFraction)
    val s = rows.sparkSession
    import s.implicits._
    cb.zipWithIndex.flatMap { case (codes, sub) =>
      codes.zipWithIndex.map { case (cent, code) =>
        (sub, code, cent.toSeq)
      }
    }.toSeq.toDF("sub", "code", "centroid")
  }

  /** The codebook for an encode/search call: either validate + collect a
    * precomputed `(sub, code, centroid)` table ([[pqTrain]]'s persisted
    * output) or train in place. Mirrors
    * [[SimilarityOps.resolveCentroids]]: a malformed table fails loudly
    * here — silently dropping every row downstream is the failure mode
    * this guards against — and `iters`/`trainFraction` are UNUSED when
    * `precomputedCodebooks` is set. */
  private def resolveCodebook(ne: DataFrame, m: Int, ksub: Int, iters: Int,
      trainFraction: Double, precomputedCodebooks: Option[DataFrame],
      dim: => Option[Int]): Codebook =
    precomputedCodebooks match {
      case Some(ct) =>
        val rows = ct.select(col("sub").cast("int"), col("code").cast("int"),
            col("centroid"))
          .orderBy("sub", "code").collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
        require(rows.length == m * ksub &&
          rows.map(r => (r._1, r._2)).sameElements(
            for (s <- 0 until m; c <- 0 until ksub) yield (s, c)),
          s"precomputed codebook must carry (sub, code) = (0..${m - 1}, " +
            s"0..${ksub - 1}), got ${rows.length} rows")
        val dims = rows.map(_._3.length).distinct
        require(dims.length == 1,
          s"precomputed codebook has mixed centroid dimensions: " +
            dims.sorted.mkString(", "))
        dim.foreach { d =>
          require(d == m * dims.head,
            s"codebook reconstruction dim ${m * dims.head} (m=$m × dsub=" +
              s"${dims.head}) does not match vector dim $d")
        }
        val grouped = rows.grouped(ksub).toArray
        Array.tabulate(m, ksub)((s, c) => grouped(s)(c)._3.toArray)
      case None => trainCodebook(ne, m, ksub, iters, trainFraction)
    }

  /** Per-batch PQ reconstruction distortion against a FROZEN [[pqTrain]]
    * codebook — the [[SimilarityOps.ivfQuantizationError]] twin for the
    * product quantizer that [[ivfPqIndex]] freezes: ONE stats row
    * `(n_vecs, mean_qerr, max_qerr)` where a vector's qerr is
    * `1 − ⟨ne, recon(ne)⟩` — the ADC dot of the vector against its OWN
    * codes, computed by the exact same encode + ADC kernels the search
    * path runs, so the number measures precisely the quantity ADC
    * shortlist quality depends on (recon ≈ ne → qerr ≈ 0). Run over the
    * training corpus at train time (the persisted baseline), then per
    * ingest through [[pqDrift]]. Cost ∝ batch, zero joins/shuffles —
    * two broadcast-codebook codegen kernels and three aggregates.
    *
    * LIBRARY ENTRY POINT — generic over any (id, array-of-float) frame. */
  def pqQuantizationError(rows: DataFrame, id: String, vec: String,
      codebooks: DataFrame, m: Int = 8, ksub: Int = 16): DataFrame = {
    val ne = SimilarityOps.normalizedVecs(rows, id, vec)
    val cb = resolveCodebook(ne, m, ksub, iters = 1, trainFraction = 1.0,
      Some(codebooks), SimilarityOps.vecDim(ne))
    val bc = rows.sparkSession.sparkContext.broadcast(cb)
    ne.select((lit(1.0d) - PqKernels.pqAdcDot(
        PqKernels.pqEncode(col("ne"), bc), col("ne"), bc)).as("qerr"))
      .agg(count(lit(1)).as("n_vecs"),
        Det.r4(avg(col("qerr"))).as("mean_qerr"),
        Det.r4(max(col("qerr"))).as("max_qerr"))
  }

  /** The PQ codebook's re-train signal — [[SimilarityOps.ivfDrift]]'s
    * policy applied to the [[ivfPqIndex]] freeze: one ingest-stats row
    * `(n_vecs, mean_qerr, max_qerr, baseline_mean, ratio, retrain)`,
    * `retrain = mean_qerr > maxRatio × baseline_mean`. Same default and
    * same rationale (the MEAN is the trigger; see README's re-train
    * policy note). `baseline` is [[pqQuantizationError]] over the
    * training corpus, persisted next to the codebook.
    *
    * LIBRARY ENTRY POINT — generic over any (id, array-of-float) frame. */
  def pqDrift(increment: DataFrame, id: String, vec: String,
      codebooks: DataFrame, baseline: DataFrame, m: Int = 8,
      ksub: Int = 16, maxRatio: Double = 1.5): DataFrame =
    SimilarityOps.driftRow(
      pqQuantizationError(increment, id, vec, codebooks, m, ksub),
      baseline, maxRatio)

  /** Encode a corpus to PQ codes `(id, codes ARRAY<INT>)` — the compact
    * index a production pipeline persists next to the codebook: 8 codes
    * replace 64 floats per vector, and every later search session scans
    * codes, not vectors. Encoding is a single kernel projection (no
    * shuffle, no join).
    *
    * LIBRARY ENTRY POINT — generic over any (id, array-of-float) frame. */
  def pqEncode(rows: DataFrame, id: String, vec: String,
      codebooks: DataFrame, m: Int = 8, ksub: Int = 16): DataFrame = {
    val ne = SimilarityOps.normalizedVecs(rows, id, vec)
    val cb = resolveCodebook(ne, m, ksub, iters = 1, trainFraction = 1.0,
      Some(codebooks), SimilarityOps.vecDim(ne))
    val bc = rows.sparkSession.sparkContext.broadcast(cb)
    ne.select(col("vec_id").as(id),
      PqKernels.pqEncode(col("ne"), bc).as("codes"))
  }

  /** IVFADC k-NN self-join: IVF coarse lists bound the candidates, PQ
    * codes bound the bytes, exact re-rank restores precision.
    *
    * Shape: the indexed side is `(vb, list, codes)` — the embedding is
    * DROPPED before the join, so the shuffle moves `m` ints per candidate
    * instead of the vector (at 100 TB this is the difference between a
    * feasible and an infeasible index-side shuffle). The query side keeps
    * its raw vector (queries are the streamed, small side of the
    * asymmetric design). Candidates score by [[PqKernels.pqAdcDot]]
    * inside whole-stage codegen; the top `refineFactor·k` per query — and
    * only those — join back to real vectors for exact cosine re-ranking.
    * `refineFactor` trades recall for re-rank volume (FAISS's
    * IndexRefineFlat pattern); recall vs the exact join is asserted in
    * graft.SimilaritySpec.
    *
    * Output matches [[SimilarityOps.ivfKnnJoin]]: `(va, rk, vb, cos)`
    * with exact cosines on the survivors. `listShards` breaks the nlist
    * cap on the probe join's corpus-side parallelism exactly as
    * documented on [[SimilarityOps.ivfSearch]] (result invariant).
    *
    * LIBRARY ENTRY POINT — generic over any (id, array-of-float) frame. */
  def ivfPqKnnJoin(rows: DataFrame, id: String, vec: String, k: Int,
      m: Int = 8, ksub: Int = 16, nlist: Int = 16, nprobe: Int = 4,
      refineFactor: Int = 4, iters: Int = 3, trainFraction: Double = 1.0,
      precomputedCentroids: Option[DataFrame] = None,
      precomputedCodebooks: Option[DataFrame] = None,
      listShards: Int = 1): DataFrame = {
    require(k >= 1 && refineFactor >= 1 && nlist >= 2 &&
      nprobe >= 1 && nprobe <= nlist,
      s"bad IVFPQ config: k=$k refineFactor=$refineFactor nlist=$nlist " +
        s"nprobe=$nprobe")
    require(listShards >= 1, s"listShards must be >= 1, got $listShards")
    val ne = SimilarityOps.normalizedVecs(rows, id, vec).localCheckpoint(true)
    lazy val dim = SimilarityOps.vecDim(ne)
    val centroids = SimilarityOps.resolveCentroids(ne, nlist, iters,
      trainFraction, precomputedCentroids, dim)
    val cb = resolveCodebook(ne, m, ksub, iters, trainFraction,
      precomputedCodebooks, dim)

    val sc = rows.sparkSession.sparkContext
    // captured by the returned lazy plan — reclaimed by ContextCleaner
    // once the plan is garbage (same lifecycle note as ivfKnnJoin)
    val bcC = sc.broadcast(centroids.map(_.toArray))
    val bcCb = sc.broadcast(cb)

    // indexed side: list + codes only — the vector is gone before any join
    val indexed0 = ne.select(col("vec_id").as("vb"),
      graft.functions.ArgTopDot.argMaxDot(col("ne"), bcC).as("l"),
      PqKernels.pqEncode(col("ne"), bcCb).as("codes"))
    val probes0 = ne.select(col("vec_id").as("va"), col("ne").as("ea"),
      explode(graft.functions.ArgTopDot.argTopDot(
        col("ne"), bcC, nprobe)).as("l"))
    val (probes, indexed, joinKeys) =
      if (listShards == 1) (probes0, indexed0, Seq("l"))
      else (
        probes0.withColumn("sh",
          explode(sequence(lit(0L), lit(listShards.toLong - 1L)))),
        indexed0.withColumn("sh",
          pmod(xxhash64(col("vb")), lit(listShards.toLong))),
        Seq("l", "sh"))

    // each vb lives in exactly one list, so a (va, vb) candidate appears
    // at most once across the nprobe probes — no dedup aggregation needed.
    // The query vector is CONSUMED by the ADC projection inside the probe
    // join's pipeline and dropped before the ranking exchange (r19, guide
    // §2.3 "project before the exchange"): the window shuffle carries
    // (va, vb, adc) triples — 24 bytes/candidate — instead of duplicating
    // the query embedding onto every candidate row; the shortlist
    // survivors (refineFactor·k per query, not C·nprobe/nlist) rejoin the
    // raw vectors for the exact re-rank.
    val wAdc = Window.partitionBy("va").orderBy(desc("adc"), col("vb"))
    val shortlist = probes
      .join(indexed, joinKeys)
      .filter(col("va") =!= col("vb"))
      .select(col("va"), col("vb"),
        PqKernels.pqAdcDot(col("codes"), col("ea"), bcCb).as("adc"))
      .withColumn("rk", row_number().over(wAdc))
      .filter(col("rk") <= refineFactor * k)

    val wCos = Window.partitionBy("va").orderBy(desc("cos"), col("vb"))
    shortlist
      .join(ne.select(col("vec_id").as("va"), col("ne").as("ea")), Seq("va"))
      .join(ne.select(col("vec_id").as("vb"), col("ne").as("eb")), Seq("vb"))
      .select(col("va"), col("vb"), Det.r4(dotf(col("ea"), col("eb"))).as("cos"))
      .withColumn("rk", row_number().over(wCos))
      .filter(col("rk") <= k)
      .select(col("va"), col("rk"), col("vb"), col("cos"))
      .orderBy("va", "rk")
  }

  /** Build the persistable IVFADC corpus index `(<id>, list, codes)` —
    * the third standing artifact of the PQ retrieval family next to the
    * quantizer ([[SimilarityOps.ivfTrain]]) and the codebook
    * ([[pqTrain]]): assign + encode ONCE per corpus version, persist,
    * and every later [[ivfPqSearch]] session passes it back via
    * `precomputedIndex` — the session then never scans the corpus
    * vector column except to re-rank the shortlist survivors. Encoding
    * is deterministic, so build-once-then-reuse is bit-identical to
    * in-call derivation (pinned in graft.PqSpec).
    *
    * LIBRARY ENTRY POINT — generic over any (id, array-of-float) frame. */
  def ivfPqIndex(rows: DataFrame, id: String, vec: String,
      centroids: DataFrame, codebooks: DataFrame,
      m: Int = 8, ksub: Int = 16, nlist: Int = 16): DataFrame = {
    val ne = SimilarityOps.normalizedVecs(rows, id, vec)
    lazy val dim = SimilarityOps.vecDim(ne)
    val cs = SimilarityOps.resolveCentroids(ne, nlist, iters = 1,
      trainFraction = 1.0, Some(centroids), dim)
    val cb = resolveCodebook(ne, m, ksub, iters = 1, trainFraction = 1.0,
      Some(codebooks), dim)
    val sc = rows.sparkSession.sparkContext
    val bcC = sc.broadcast(cs.map(_.toArray))
    val bcCb = sc.broadcast(cb)
    ne.select(col("vec_id").as(id),
      graft.functions.ArgTopDot.argMaxDot(col("ne"), bcC).as("list"),
      PqKernels.pqEncode(col("ne"), bcCb).as("codes"))
  }

  /** IVFADC k-NN SEARCH — the TWO-FRAME retrieval shape
    * ([[ivfPqKnnJoin]] is the self-join dedup shape; this completes the
    * retrieval family next to [[SimilarityOps.knnSearch]] /
    * [[SimilarityOps.ivfSearch]] as its memory-bound member): top-k
    * CORPUS neighbors for every QUERY vector through the coarse-list
    * probe + asymmetric-distance shortlist + exact re-rank pipeline.
    * The quantizer and codebook belong to the CORPUS (train once via
    * [[SimilarityOps.ivfTrain]] / [[pqTrain]], persist, pass both
    * `precomputed*` tables — every later search session scans codes,
    * not vectors); queries stream against the standing index. No
    * self-exclusion: the two id spaces are the caller's (see
    * [[SimilarityOps.knnSearch]]).
    *
    * Shape at 100 TB: the indexed side is `(vb, list, codes)` — the
    * corpus embedding is DROPPED before the probe join, so the
    * candidate shuffle moves `m` ints per candidate instead of the
    * vector, and only the `refineFactor·k` shortlist survivors per
    * query rejoin real vectors for the exact cosine re-rank. Corpus-
    * side scan per query ≈ C·nprobe/nlist (the IVF lever), candidate
    * bytes ≈ m per row (the PQ lever). Recall ≥ its IVF ceiling ratio
    * vs the exact [[SimilarityOps.knnSearch]] is pinned in graft.PqSpec.
    * `listShards` breaks the nlist cap on the probe join's corpus-side
    * parallelism as documented on [[SimilarityOps.ivfSearch]].
    *
    * LIBRARY ENTRY POINT — generic over any two (id, vector) frames. */
  def ivfPqSearch(queries: DataFrame, corpus: DataFrame, id: String,
      vec: String, k: Int, m: Int = 8, ksub: Int = 16, nlist: Int = 16,
      nprobe: Int = 4, refineFactor: Int = 4, iters: Int = 3,
      trainFraction: Double = 1.0,
      precomputedCentroids: Option[DataFrame] = None,
      precomputedCodebooks: Option[DataFrame] = None,
      listShards: Int = 1,
      precomputedIndex: Option[DataFrame] = None): DataFrame = {
    require(k >= 1 && refineFactor >= 1 && nlist >= 2 &&
      nprobe >= 1 && nprobe <= nlist,
      s"bad IVFPQ config: k=$k refineFactor=$refineFactor nlist=$nlist " +
        s"nprobe=$nprobe")
    require(listShards >= 1, s"listShards must be >= 1, got $listShards")
    require(precomputedIndex.isEmpty ||
      (precomputedCentroids.nonEmpty && precomputedCodebooks.nonEmpty),
      "precomputedIndex requires precomputedCentroids and " +
        "precomputedCodebooks (the probe and ADC stages consume them)")
    // with a precomputed index ([[ivfPqIndex]]) the corpus vector column
    // is consumed ONLY by the survivor re-rank join — no corpus-wide
    // materialization, the search-session shape the index exists for
    val cne0 = SimilarityOps.normalizedVecs(corpus, id, vec)
    val cne =
      if (precomputedIndex.isEmpty) cne0.localCheckpoint(true) else cne0
    lazy val dim = SimilarityOps.vecDim(cne)
    val centroids = SimilarityOps.resolveCentroids(cne, nlist, iters,
      trainFraction, precomputedCentroids, dim)
    val cb = resolveCodebook(cne, m, ksub, iters, trainFraction,
      precomputedCodebooks, dim)
    val sc = queries.sparkSession.sparkContext
    // captured by the returned lazy plan — reclaimed by ContextCleaner
    // once the plan is garbage (same lifecycle note as ivfKnnJoin)
    val bcC = sc.broadcast(centroids.map(_.toArray))
    val bcCb = sc.broadcast(cb)

    // indexed corpus: list + codes only — the vector is gone before any
    // join (the PlanSpec no-vector-reaches-ADC pin covers this shape too)
    val indexed0 = precomputedIndex match {
      case Some(ix) => ix.select(col(id).as("vb"),
        col("list").cast("int").as("l"), col("codes"))
      case None => cne.select(col("vec_id").as("vb"),
        graft.functions.ArgTopDot.argMaxDot(col("ne"), bcC).as("l"),
        PqKernels.pqEncode(col("ne"), bcCb).as("codes"))
    }
    val probes0 = SimilarityOps.normalizedVecs(queries, id, vec)
      .select(col("vec_id").as("va"), col("ne").as("ea"),
        explode(graft.functions.ArgTopDot.argTopDot(
          col("ne"), bcC, nprobe)).as("l"))
    val (probes, indexed, joinKeys) =
      if (listShards == 1) (probes0, indexed0, Seq("l"))
      else (
        probes0.withColumn("sh",
          explode(sequence(lit(0L), lit(listShards.toLong - 1L)))),
        indexed0.withColumn("sh",
          pmod(xxhash64(col("vb")), lit(listShards.toLong))),
        Seq("l", "sh"))

    // each vb lives in exactly one list, so a (va, vb) candidate appears
    // at most once across the nprobe probes — no dedup aggregation needed.
    // Same r19 §2.3 projection as [[ivfPqKnnJoin]]: the query vector is
    // consumed by the ADC projection inside the probe join's pipeline and
    // dropped before the ranking exchange; only the shortlist survivors
    // rejoin the raw query vectors for the exact re-rank.
    val wAdc = Window.partitionBy("va").orderBy(desc("adc"), col("vb"))
    val shortlist = probes
      .join(indexed, joinKeys)
      .select(col("va"), col("vb"),
        PqKernels.pqAdcDot(col("codes"), col("ea"), bcCb).as("adc"))
      .withColumn("rk", row_number().over(wAdc))
      .filter(col("rk") <= refineFactor * k)

    val wCos = Window.partitionBy("va").orderBy(desc("cos"), col("vb"))
    shortlist
      .join(SimilarityOps.normalizedVecs(queries, id, vec)
        .select(col("vec_id").as("va"), col("ne").as("ea")), Seq("va"))
      .join(cne.select(col("vec_id").as("vb"), col("ne").as("eb")),
        Seq("vb"))
      .select(col("va"), col("vb"),
        Det.r4(dotf(col("ea"), col("eb"))).as("cos"))
      .withColumn("rk", row_number().over(wCos))
      .filter(col("rk") <= k)
      .select(col("va"), col("rk"), col("vb"), col("cos"))
      .orderBy("va", "rk")
  }

  // --- ADC oracle verification (q_pq_adc_verify) -----------------------
  /** 6-decimal deterministic rounding (same IEEE-only construction as
    * [[graft.Det.r4]]). Applied to the values PERSISTED for the ADC
    * verification tables: products of two ≤6-decimal doubles land exactly
    * on the decimal(38,12) grid, so the double→decimal cast is exact in
    * BOTH engines. Without it the engines disagree in the last decimal
    * places: Spark's double→decimal cast rounds the double's shortest
    * decimal rendering (`BigDecimal.valueOf`) while DuckDB rounds the
    * binary value — a ~1e-18-per-term divergence that a ranked shortlist
    * can amplify into a rank flip. */
  private def r6(c: Column): Column = floor(c * 1e6d + 0.5d) / 1e6d

  private val AdcProbes = 16
  private val AdcTopK = 10

  /** The three persisted artifacts the ADC verification runs over (the
    * [[graft.sources.OracleAux]] pattern, precedent `minhash_sigs`): the
    * r6-rounded codebook, the full corpus's PQ codes (encoded from the
    * UNROUNDED shared codebook — the production artifact), and a fixed
    * probe set of [[AdcProbes]] hash-ranked r6-rounded normalized
    * vectors. DuckDB re-derives every ADC distance and the shortlist from
    * the identical bytes. */
  private def adcCodebookAux(s: SparkSession, d: String): DataFrame =
    graft.sources.OracleAux.table(s, d, "pq_adc_codebook") {
      sharedPqCodebook(s, d).select(col("sub"), col("code"),
        transform(col("centroid"), x => r6(x)).as("centroid"))
    }

  private def adcCodesAux(s: SparkSession, d: String): DataFrame =
    graft.sources.OracleAux.table(s, d, "pq_adc_codes") {
      pqEncode(emb(s, d), "vec_id", "embedding", sharedPqCodebook(s, d),
        m = 8, ksub = 64)
        .select(col("vec_id").as("vb"), col("codes"))
    }

  private def adcProbesAux(s: SparkSession, d: String): DataFrame =
    graft.sources.OracleAux.table(s, d, "pq_adc_probes") {
      SimilarityOps.normalizedVecs(emb(s, d), "vec_id", "embedding")
        .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(AdcProbes)
        .select(col("vec_id").as("va"),
          transform(col("ne"), x => r6(x)).as("ea"))
    }

  /** The ADC scoring + shortlist stage, re-derived declaratively over the
    * persisted tables (NOT through [[PqKernels.pqAdcDot]] — kernel parity
    * has its own ScalaTest pin in graft.PqSpec; this query is the
    * cross-engine check of the arithmetic itself). Each (probe,
    * candidate) pair's asymmetric distance is the sum over the 8
    * subspaces of dot(centroid[sub][code], probe-subvector), accumulated
    * as exact decimal(38,12) — order-independent and, with the r6'd
    * inputs, bit-identical across engines — then the top [[AdcTopK]] per
    * probe by (adc DESC, vb) is the shortlist, exactly the
    * [[ivfPqKnnJoin]] refine stage's shape. */
  private def pqAdcVerify(s: SparkSession, d: String): DataFrame = {
    val cb = adcCodebookAux(s, d).select(col("sub").as("csub"),
      col("code").as("ccode"), col("centroid"))
    val codes = adcCodesAux(s, d)
    val probes = adcProbesAux(s, d)
    // decimal accumulation: product of two r6 doubles is exact at scale
    // 12. Precision 30, NOT 38: Spark types (38,12)+(38,12) at precision
    // 39 and resolves the overflow by CUTTING SCALE to 11 — which
    // silently rounded every fold step and made the engines disagree in
    // the 12th decimal. (30,12)+(30,12) → (31,12) stays lossless, and
    // the outer cast returns the accumulator to (30,12) each step.
    val term = expr(
      "aggregate(zip_with(centroid, slice(ea, sub * 8 + 1, 8), " +
        "(x, y) -> x * y), CAST(0 AS DECIMAL(30,12)), " +
        "(acc, v) -> CAST(acc + CAST(v AS DECIMAL(30,12)) AS DECIMAL(30,12)))")
    val w = Window.partitionBy("va").orderBy(desc("adc_dec"), col("vb"))
    // FAISS's precomputed ADC table (r19, guide §1.2): the decimal term
    // depends only on (probe, sub, code) — never the candidate — so it is
    // evaluated ONCE per LUT cell (probes × m × ksub = 8,192 rows) instead
    // of once per (probe, candidate, sub) (probes × corpus × m ≈ 32× more
    // here, corpus-proportional at scale). The candidate pass then joins
    // its exploded codes against the broadcast LUT and decimal-sums the
    // SAME values in the same exact (order-independent) arithmetic, so the
    // cross-engine result is bit-identical to the per-pair derivation.
    val lut = probes.crossJoin(cb)
      .select(col("va"), col("ea"), col("csub").as("sub"),
        col("ccode").as("bcode"), col("centroid"))
      .select(col("va"), col("sub"), col("bcode"), term.as("t"))
    probes.select(col("va")).crossJoin(codes)
      .filter(col("va") =!= col("vb"))
      .select(col("va"), col("vb"),
        posexplode(col("codes")).as(Seq("sub", "bcode")))
      .join(broadcast(lut), Seq("va", "sub", "bcode"))
      .groupBy("va", "vb").agg(sum(col("t")).as("adc_dec"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= AdcTopK)
      .select(col("va"), col("rk"), col("vb"),
        col("adc_dec").cast("double").as("adc"))
      .orderBy("va", "rk")
  }

  /** The ENCODE stage (per-subspace argmin — [[PqKernels.pqEncode]]'s
    * semantics) re-derived declaratively over the SAME persisted tables
    * as the ADC verification (zero new artifacts): for each (probe, sub)
    * both engines pick the code minimizing the exact-decimal squared
    * distance between the probe's subvector and the code centroid, ties
    * to the lowest code. Squared differences of two r6 values land
    * exactly on the decimal(…,12) grid (same argument as the ADC
    * products: the double sits within ~1e-17 of the true 12-decimal
    * square, far under the 5e-13 half-grid, so both engines' casts
    * recover the same grid point), making the argmin — and therefore
    * every emitted code — bit-identical across engines. Kernel parity
    * for the production path is pinned separately in graft.PqSpec. */
  private def pqEncodeVerify(s: SparkSession, d: String): DataFrame = {
    val cb = adcCodebookAux(s, d)
      .select(col("sub"), col("code"), col("centroid"))
    val probes = adcProbesAux(s, d)
    val term = expr(
      "aggregate(zip_with(centroid, slice(ea, sub * 8 + 1, 8), " +
        "(x, y) -> (x - y) * (x - y)), CAST(0 AS DECIMAL(30,12)), " +
        "(acc, v) -> CAST(acc + CAST(v AS DECIMAL(30,12)) AS DECIMAL(30,12)))")
    val w = Window.partitionBy("va", "sub")
      .orderBy(col("dist_dec"), col("code"))
    probes.crossJoin(cb)
      .select(col("va"), col("sub"), col("code"), term.as("dist_dec"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("va"), col("sub"), col("code"))
      .orderBy("va", "sub")
  }

  /** The corpus's trained PQ codebook, materialized once per application —
    * the train-once/search-many pattern applied to the benchmark binding
    * (the one-time training cost reports as its own `_memo_*` line; the
    * query's number measures encode + search). Same trainFraction as the
    * IVF quantizer memo it composes with. */
  private[operators] def sharedPqCodebook(s: SparkSession, d: String): DataFrame =
    graft.sources.Materialize.table(s, s"pq_codebook:$d") {
      pqTrain(emb(s, d), "vec_id", "embedding", m = 8, ksub = 64,
        trainFraction = 0.3)
    }

  /** Bench accounting hook (see [[DedupOps.memoBuilds]]). */
  def memoBuilds: Seq[(String, (SparkSession, String) => DataFrame)] =
    Seq("_memo_pq_codebooks" -> ((s, d) => sharedPqCodebook(s, d)))

  // (ksub=64, refineFactor=10): the configuration PqSpec proves at 0.78
  // recall@5 — ~95% of the IVF ceiling at the same probes — while the
  // indexed side still shrinks 64 floats -> 8 codes
  private def similarityPq(s: SparkSession, d: String): DataFrame =
    ivfPqKnnJoin(emb(s, d), "vec_id", "embedding", k = 5, ksub = 64,
      refineFactor = 10, trainFraction = 0.3,
      precomputedCentroids = Some(SimilarityOps.sharedIvfCentroids(s, d)),
      precomputedCodebooks = Some(sharedPqCodebook(s, d)))

  /** q_pq_search binding: the two-frame IVFADC retrieval over the same
    * query/corpus split as q_similarity_search, through the persisted
    * quantizer + codebook (the train-once/search-many session shape). */
  private def pqSearchQuery(s: SparkSession, d: String): DataFrame =
    ivfPqSearch(emb(s, d).filter(col("vec_id") % 10 === 0),
      emb(s, d).filter(col("vec_id") % 10 =!= 0),
      "vec_id", "embedding", k = 5, ksub = 64, refineFactor = 10,
      trainFraction = 0.3,
      precomputedCentroids = Some(SimilarityOps.sharedIvfCentroids(s, d)),
      precomputedCodebooks = Some(sharedPqCodebook(s, d)))

  val defs: Seq[QDef] = Seq(
    // PQ codebooks come from iterative k-means — not DuckDB-expressible;
    // recall vs the exact join, kernel parity, and train/reuse
    // bit-identity are asserted in graft.SimilaritySpec + graft.KernelSpec.
    QDef("q_similarity_pq", similarityPq, None),
    // Two-frame IVFADC retrieval: same k-means/codebook training caveat
    // as q_similarity_pq (rows-only by design); recall vs the exact
    // knnSearch — and its ratio to the IVF-Flat ceiling at the same
    // probes — is pinned in graft.PqSpec, and the ADC arithmetic +
    // encode stages have their own oracle-checked lines
    // (q_pq_adc_verify / q_pq_encode_verify).
    QDef("q_pq_search", pqSearchQuery, None),
    // The ADC arithmetic + shortlist, oracle-checked over the persisted
    // codebook/codes/probes (OracleAux): DuckDB recomputes every
    // asymmetric distance from the same bytes with the same exact-decimal
    // accumulation and must reproduce the ranked shortlist bit-for-bit.
    QDef("q_pq_adc_verify", pqAdcVerify, Some {
      val cbGlob = graft.sources.OracleAux.gateGlob("pq_adc_codebook")
      val cdGlob = graft.sources.OracleAux.gateGlob("pq_adc_codes")
      val prGlob = graft.sources.OracleAux.gateGlob("pq_adc_probes")
      s"""WITH cb AS (SELECT sub, code, centroid FROM read_parquet('$cbGlob')),
         |cd AS (SELECT vb, codes FROM read_parquet('$cdGlob')),
         |pr AS (SELECT va, ea FROM read_parquet('$prGlob')),
         |t AS (SELECT p.va, c.vb, gs.s AS sub, c.codes[gs.s + 1] AS bcode, p.ea
         |      FROM pr p, cd c, generate_series(0, 7) AS gs(s)
         |      WHERE p.va <> c.vb),
         |tj AS (SELECT t.va, t.vb, t.sub, t.ea, b.centroid
         |       FROM t JOIN cb b ON b.sub = t.sub AND b.code = t.bcode),
         |adc AS (SELECT va, vb,
         |          SUM(CAST(centroid[g.j] * ea[sub * 8 + g.j]
         |              AS DECIMAL(38,12))) AS adc_dec
         |        FROM tj, generate_series(1, 8) AS g(j)
         |        GROUP BY 1, 2),
         |r AS (SELECT va, vb, adc_dec,
         |        ROW_NUMBER() OVER (PARTITION BY va
         |          ORDER BY adc_dec DESC, vb) AS rk
         |      FROM adc)
         |SELECT va, rk, vb, CAST(adc_dec AS DOUBLE) AS adc
         |FROM r WHERE rk <= $AdcTopK ORDER BY va, rk""".stripMargin
    }),
    // The encode stage's argmin, oracle-checked over the same persisted
    // codebook/probes: DuckDB recomputes every (probe, sub, code) squared
    // distance in exact decimal and must emit the identical code table.
    QDef("q_pq_encode_verify", pqEncodeVerify, Some {
      val cbGlob = graft.sources.OracleAux.gateGlob("pq_adc_codebook")
      val prGlob = graft.sources.OracleAux.gateGlob("pq_adc_probes")
      s"""WITH cb AS (SELECT sub, code, centroid FROM read_parquet('$cbGlob')),
         |pr AS (SELECT va, ea FROM read_parquet('$prGlob')),
         |dist AS (SELECT p.va, b.sub, b.code,
         |    SUM(CAST((b.centroid[g.j] - p.ea[b.sub * 8 + g.j])
         |          * (b.centroid[g.j] - p.ea[b.sub * 8 + g.j])
         |        AS DECIMAL(38,12))) AS dist_dec
         |  FROM pr p, cb b, generate_series(1, 8) AS g(j)
         |  GROUP BY 1, 2, 3)
         |SELECT va, sub, code FROM (
         |  SELECT va, sub, code, ROW_NUMBER() OVER (PARTITION BY va, sub
         |    ORDER BY dist_dec, code) AS rk FROM dist)
         |WHERE rk = 1 ORDER BY va, sub""".stripMargin
    }))
}
