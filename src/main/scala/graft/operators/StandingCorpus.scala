package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}

/** The standing corpus's per-increment algebra, written once. `graft.Run`
  * (build, stats and ingest modes) and its streaming twin
  * [[graft.streaming.TrainReadyCursor]] both advance the same standing
  * artifacts by the same steps; this object is the only place those
  * steps are defined, so the two paths cannot drift apart (pinned in
  * graft.StreamingWindowSpec: one increment through `mode=ingest` and
  * through a cursor over a copy of the build leaves equal manifests,
  * labels and profiles).
  *
  * The corpus PROFILE is five mergeable sketch artifacts, named by their
  * directory under a `graft.Run` build: the token frequent-items bytes,
  * the length KLL and the content HLL over the whole corpus, plus the
  * per-source content HLL and length KLL when a source column is
  * configured. A profile built over an increment merges into the
  * standing one at kilobyte cost ([[mergeProfile]]), so after any number
  * of increments the estimates equal a from-scratch build's.
  */
private[graft] object StandingCorpus {

  val TokenSketch = "stats/token_sketch"
  val LenQuantiles = "stats/len_quantiles"
  val DistinctContent = "stats/distinct_content"
  val SourceDistinct = "stats/source_distinct"
  val SourceLen = "stats/source_len"

  /** The profile over the whole corpus, and the per-source one a build
    * with a source column adds. */
  val GlobalProfile: Seq[String] =
    Seq(TokenSketch, LenQuantiles, DistinctContent)
  val SourceProfile: Seq[String] = Seq(SourceDistinct, SourceLen)

  /** Every profile artifact, in advance order. */
  val ProfileArtifacts: Seq[String] = GlobalProfile ++ SourceProfile

  /** The config an ingest continues: it must be the one the standing
    * artifacts were built with. */
  final case class Config(id: String, text: String, cap: Double,
      formatter: String, minJaccard: Double, contamN: Int,
      epoch: String = "ep1", startRateBp: Int = 500, meanSpan: Int = 3,
      fimRateBp: Int = 9000)

  private def contentHash(text: String): Column =
    md5(col(text).cast("binary")).as("h")

  /** The content-hash rows `(h)` of `rows` — the exact-dup index. */
  def contentHashes(rows: DataFrame, text: String): DataFrame =
    rows.select(contentHash(text))

  /** The profile of `rows`: one `(artifact, sketch table)` per artifact
    * of [[GlobalProfile]], then per artifact of [[SourceProfile]] when
    * `source` names a column of `rows` whose values key the per-source
    * sketches. */
  def profile(rows: DataFrame, id: String, text: String,
      source: Option[String]): Seq[(String, DataFrame)] = {
    val global = Seq(
      TextOps.tokenSketchBytes(rows, text),
      RelationalOps.quantileSketch(TextOps.tokenCounts(rows, id, text)
        .withColumn("grp", lit("all")), "grp", "n_tok"),
      RelationalOps.distinctSketch(
        rows.select(lit("all").as("grp"), contentHash(text)), "grp", "h"))
    // tokenCounts keyed by the source column: one row per doc, labeled
    // by source, the (grp, n_tok) relation the per-group sketch folds
    val perSource = source.toSeq.flatMap(src => Seq(
      RelationalOps.distinctSketch(rows.select(
        col(src).cast("string").as("grp"), contentHash(text)), "grp", "h"),
      RelationalOps.quantileSketch(TextOps.tokenCounts(rows, src, text)
        .select(col("doc_id").cast("string").as("grp"), col("n_tok")),
        "grp", "n_tok")))
    ProfileArtifacts.zip(global ++ perSource)
  }

  /** `standing` advanced by `increment`, both tables of `artifact`. The
    * token bytes merge on the driver; the grouped sketch tables merge
    * per group, so a group first seen in the increment joins. */
  def mergeProfile(artifact: String, standing: DataFrame,
      increment: DataFrame): DataFrame = artifact match {
    case TokenSketch =>
      def bytes(d: DataFrame) = d.head().getAs[Array[Byte]]("sk")
      standing.sparkSession.createDataFrame(
        java.util.List.of(Row(graft.functions.FreqItems
          .mergeBytes(bytes(standing), bytes(increment)))),
        StructType(Seq(StructField("sk", BinaryType, nullable = false))))
    case LenQuantiles | SourceLen =>
      RelationalOps.quantileSketchMerge(standing, increment, "grp")
    case DistinctContent | SourceDistinct =>
      RelationalOps.distinctSketchMerge(standing, increment, "grp")
  }

  /** The df-cap tier a standing label table was derived under (`base`,
    * over `clusteredDocs`) and the one the post-ingest union sits in. */
  final case class CapTier(clusteredDocs: Long, unionDocs: Long) {
    val base: Long = DedupOps.dfCapFor(clusteredDocs)
    val union: Long = DedupOps.dfCapFor(unionDocs)
    def crossed: Boolean = base != union
  }

  /** The df-cap tier guard. Chained ≡ from-scratch for the standing
    * pair/label artifacts holds exactly while the union's df cap is the
    * one they were derived under. A crossing would otherwise degrade
    * them silently, so it warns loudly; the ingest still proceeds, with
    * fates landing under the standing artifacts. */
  def capCrossing(clusteredDocs: Long, unionDocs: Long): CapTier = {
    val tier = CapTier(clusteredDocs, unionDocs)
    if (tier.crossed)
      System.err.println("[corpus] WARNING: this ingest moves the corpus " +
        s"across a df-cap tier (cap ${tier.base} at the last full cluster " +
        s"over $clusteredDocs docs -> cap ${tier.union} at the union's " +
        s"$unionDocs): the standing pair/label artifacts are no longer " +
        "exactly union-equivalent. The ingest proceeds (fates land under " +
        "the standing artifacts); re-derive the labels under the current " +
        "cap to re-baseline the guard: \"mode\": \"recluster\" for a " +
        "graft.Run directory (then reopen a cursor with overRun), or a " +
        "fresh TrainReadyCursor.apply().")
    tier
  }

  /** Fate increment `inc` against the standing artifacts and continue the
    * pack cursor and rank block: returns the standing-label upsert and
    * the built manifest (the prior rows pass through unchanged).
    *
    * One contracted propagation run serves both the near-dup fates and
    * the label advance: the increment's pairs against the standing
    * postings advance `labels` by supernode contraction, and the
    * frozen-prior fate bits are read off the upsert. Without standing
    * labels (a build older than the label artifact) the upsert is None
    * and the near-dup fates are derived inside the incremental build.
    * Run it inside the caller's pin scope; the upsert and manifest are
    * lazy over the pins it takes. */
  def fate(manifest: DataFrame, hashes: DataFrame, postings: DataFrame,
      labels: Option[DataFrame], priorDocs: Long, inc: DataFrame,
      bench: DataFrame, cfg: Config): (Option[DataFrame], DataFrame) = {
    val upsert = labels.map(DedupOps.connectedComponentsIncremental(_,
      DedupOps.ngramJaccardPairsIncremental(
        inc.select(col(cfg.id).as("doc_id"), col(cfg.text).as("text")),
        "doc_id", "text", postings, priorDocs, cfg.minJaccard),
      "da", "db"))
    val nearDup = upsert.map(DedupOps.nearDupFromLabelUpsert(_,
      inc.select(col(cfg.id).as("doc_id"))))
    (upsert, PipelineOps.trainReadyIncremental(
      manifest, bench.limit(0), inc.select(col(cfg.id), col(cfg.text)),
      bench, cfg.id, cfg.text, cfg.cap, cfg.epoch, cfg.formatter,
      cfg.startRateBp, cfg.meanSpan, cfg.fimRateBp, cfg.minJaccard,
      cfg.contamN,
      precomputedPostings = Some(postings),
      precomputedHashes = Some(hashes),
      priorDocCount = Some(priorDocs), sorted = false,
      precomputedNearDup = nearDup))
  }

  /** The standing label table advanced by an upsert: untouched rows pass
    * through, and every upserted doc takes its new label. */
  def advanceLabels(standing: DataFrame, upsert: DataFrame): DataFrame =
    standing.join(upsert.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(upsert.select("doc_id", "cluster_rep"))
}
