package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Det, QDef}

/** In-engine QUALITY CLASSIFIER — the model-based document filter every
  * production corpus pipeline runs next to the rule-based one (the
  * fastText-style quality classifiers of the LLaMA/GPT-3 data recipes:
  * train a cheap linear model on weak labels, score every document,
  * filter by threshold). Absent in the reference (frolyk processes
  * opaque bytes); built here as pure DataFrame algebra — no MLlib, no
  * RDDs — so training and scoring inherit the engine's determinism and
  * oracle story:
  *
  *  - [[qualityFeatures]]: 4 numeric per-doc signals, each already
  *    cross-engine-rendered by the q_quality_filter oracle family.
  *  - [[qualityClassifierTrain]]: full-batch logistic-regression
  *    gradient descent. The DRIVER holds θ (5 doubles); every iteration
  *    is ONE distributed aggregation whose gradient sums are
  *    decimal-accumulated ([[graft.Det.dsum]]) — order-independent, so
  *    the θ sequence is bit-identical at any parallelism (the same
  *    guarantee the engine's aggregates give the oracle gate, applied
  *    to learning). Features are standardized (mean/std from one
  *    aggregation) so a fixed learning rate converges.
  *  - [[qualityClassifierScore]]: the model is a ≤5-row table; scoring
  *    collects it (bounded — the k-means-centroid precedent) and emits
  *    a PURE PROJECTION: sigmoid(θ·z + b) per doc inside whole-stage
  *    codegen, no join, no shuffle. SQL-expressible given the persisted
  *    model bytes — the q_quality_classifier gate line scores against
  *    an [[graft.sources.OracleAux]] model table and DuckDB re-derives
  *    every probability from the same file (the q_ivf_scan_verify
  *    pattern: the learned stage is pinned by ScalaTest, the scoring
  *    math is oracle-hashed).
  *
  * Scale shape at 100 TB: training cost = iters × one aggregation over
  * the slim checkpointed (doc_id, x₁..x₄, y) relation (~40 bytes/doc;
  * the text is tokenized exactly once); scoring is a single projection
  * pass. Driver state is 5 doubles — nothing grows with the corpus.
  */
object ClassifierOps {

  private val FeatNames = Seq("x1", "x2", "x3", "x4")

  /** Per-doc numeric quality signals `(doc_id, x1..x4)`:
    * x1 = ln(1 + tokens), x2 = mean non-space chars per token,
    * x3 = duplicate-token ratio, x4 = ln(1 + stopword hits) — the
    * [[TextOps.qualityFilter]] signals as raw (unrounded) numerics.
    *
    * LIBRARY ENTRY POINT — generic over any (id, text) frame. */
  def qualityFeatures(rows: DataFrame, id: String, text: String): DataFrame =
    rows.select(col(id).as("doc_id"), col(text).as("text"))
      .select(col("doc_id"),
        size(TextOps.toks(col("text"))).cast("long").as("n_tok"),
        size(array_distinct(TextOps.toks(col("text")))).cast("long")
          .as("n_uniq"),
        length(regexp_replace(col("text"), "\\s", "")).cast("long")
          .as("n_nonspace"),
        regexp_count(lower(col("text")), lit(TextOps.enStop)).cast("long")
          .as("n_stop"))
      .select(col("doc_id"),
        log(lit(1.0d) + col("n_tok")).as("x1"),
        when(col("n_tok") > 0, col("n_nonspace") / col("n_tok"))
          .otherwise(lit(0.0d)).as("x2"),
        when(col("n_tok") > 0, lit(1.0d) - col("n_uniq") / col("n_tok"))
          .otherwise(lit(0.0d)).as("x3"),
        log(lit(1.0d) + col("n_stop")).as("x4"))

  /** Train the logistic quality classifier on weak labels. `labels` is
    * any (doc_id, boolean) relation over the same ids (a rule verdict,
    * a human sample, an LLM judgment batch). Returns the MODEL TABLE —
    * one row per feature `(feature, mu, sd, theta)` plus the
    * `__intercept` row (mu 0, sd 1) — the persistable artifact
    * [[qualityClassifierScore]] and the DuckDB oracle both consume.
    *
    * Determinism: gradient components are decimal-accumulated sums, so
    * every iteration's θ is identical at any partitioning; two trains
    * on the same data produce bit-identical model tables (pinned in
    * graft.ApiSpec).
    *
    * LIBRARY ENTRY POINT — generic over any (id, text) frame + label
    * relation. */
  def qualityClassifierTrain(rows: DataFrame, id: String, text: String,
      labels: DataFrame, labelId: String, labelCol: String,
      iters: Int = 40, lr: Double = 1.0): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(lr > 0, s"lr must be > 0, got $lr")
    val s = rows.sparkSession
    // slim: tokenize/join once, not per iter
    val feats = Pins.checkpoint(qualityFeatures(rows, id, text)
      .join(labels.select(col(labelId).as("doc_id"),
        col(labelCol).cast("boolean").as("__y")), Seq("doc_id"))
      .select(col("doc_id") +: col("__y").cast("double").as("y") +:
        FeatNames.map(col): _*))
    // standardization constants from one aggregation (decimal-exact)
    val statsRow = feats.agg(
      count(lit(1)).cast("double").as("n"),
      FeatNames.flatMap(f => Seq(
        Det.dsum(col(f)).as(s"s_$f"),
        Det.dsum(col(f) * col(f)).as(s"q_$f"))): _*).head()
    val n = statsRow.getAs[Double]("n")
    require(n > 0, "no labeled rows to train on")
    val mu = FeatNames.map(f => statsRow.getAs[Double](s"s_$f") / n)
    val sd = FeatNames.zipWithIndex.map { case (f, j) =>
      val v = statsRow.getAs[Double](s"q_$f") / n - mu(j) * mu(j)
      math.sqrt(math.max(v, 1e-12d))
    }
    val z = FeatNames.zipWithIndex.map { case (f, j) =>
      (col(f) - lit(mu(j))) / lit(sd(j))
    }
    // full-batch GD; driver holds θ — one aggregation per iteration
    var theta = Array.fill(FeatNames.length)(0.0d)
    var b = 0.0d
    for (_ <- 1 to iters) {
      val margin = z.zip(theta).map { case (zj, tj) => zj * lit(tj) }
        .foldLeft(lit(b): org.apache.spark.sql.Column)(_ + _)
      val err = lit(1.0d) / (lit(1.0d) + exp(-margin)) - col("y")
      val g = feats.agg(
        Det.dsum(err).as("g_b"),
        z.zipWithIndex.map { case (zj, j) =>
          Det.dsum(err * zj).as(s"g_$j") }: _*).head()
      b -= lr * g.getAs[Double]("g_b") / n
      theta = theta.zipWithIndex.map { case (t, j) =>
        t - lr * g.getAs[Double](s"g_$j") / n }
    }
    Pins.release(feats)
    import s.implicits._
    (FeatNames.zipWithIndex.map { case (f, j) => (f, mu(j), sd(j), theta(j)) }
      :+ (("__intercept", 0.0d, 1.0d, b)))
      .toDF("feature", "mu", "sd", "theta")
  }

  /** Score documents under a trained model table: per doc,
    * `score = σ(b + Σ θⱼ·(xⱼ - μⱼ)/σⱼ)` (r9-rounded — scores live in
    * (0,1)) and the 0.5-threshold verdict. The model is collected
    * (≤5 rows, bounded) into literals, so the plan is one projection —
    * no join reaches the corpus scan.
    *
    * LIBRARY ENTRY POINT — generic over any (id, text) frame + model. */
  def qualityClassifierScore(rows: DataFrame, id: String, text: String,
      model: DataFrame): DataFrame = {
    val m = model.select("feature", "mu", "sd", "theta").collect()
      .map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    require(FeatNames.forall(m.contains) && m.contains("__intercept"),
      s"model table is missing rows: have ${m.keySet}")
    val margin = FeatNames.map { f =>
      val (mu, sd, t) = m(f)
      (col(f) - lit(mu)) / lit(sd) * lit(t)
    }.foldLeft(lit(m("__intercept")._3): org.apache.spark.sql.Column)(_ + _)
    qualityFeatures(rows, id, text)
      .select(col("doc_id"),
        Det.r9(lit(1.0d) / (lit(1.0d) + exp(-margin))).as("score"))
      .withColumn("keep_pred", col("score") >= 0.5d)
      .orderBy("doc_id")
  }

  // q_quality_classifier: train on the rule verdict as the weak label
  // (the production bootstrap: a classifier that generalizes the rules
  // beyond their hard thresholds), persist the model through OracleAux,
  // score the corpus. The learned stage is pinned in ApiSpec
  // (determinism + separation); the scoring math below is DuckDB-hashed
  // from the same persisted bytes.
  private def model(s: SparkSession, d: String): DataFrame =
    graft.sources.OracleAux.table(s, d, "quality_model") {
      val docs = graft.sources.Tables(s, d, "documents")
      qualityClassifierTrain(docs, "doc_id", "text",
        TextOps.qualityFilter(docs, "doc_id", "text"), "doc_id", "keep")
    }

  private def classifierQuery(s: SparkSession, d: String): DataFrame =
    qualityClassifierScore(
      graft.sources.Tables(s, d, "documents"), "doc_id", "text", model(s, d))

  def defs: Seq[QDef] = Seq(
    QDef("q_quality_classifier", classifierQuery, Some {
      val glob = graft.sources.OracleAux.gateGlob("quality_model")
      s"""WITH f AS (SELECT doc_id,
         |   ln(1 + CAST(len(${TextOps.oracleToks}) AS BIGINT)) AS x1,
         |   CASE WHEN len(${TextOps.oracleToks}) > 0
         |     THEN CAST(len(regexp_replace(text, '\\s', '', 'g'))
         |            AS DOUBLE) / len(${TextOps.oracleToks})
         |     ELSE 0.0 END AS x2,
         |   CASE WHEN len(${TextOps.oracleToks}) > 0
         |     THEN 1.0 - CAST(len(list_distinct(${TextOps.oracleToks}))
         |            AS DOUBLE) / len(${TextOps.oracleToks})
         |     ELSE 0.0 END AS x3,
         |   ln(1 + len(regexp_extract_all(lower(text), '${TextOps.enStop}'))) AS x4
         |  FROM documents),
         |m AS (SELECT
         |   max(CASE WHEN feature = 'x1' THEN theta END) AS t1,
         |   max(CASE WHEN feature = 'x1' THEN mu END) AS mu1,
         |   max(CASE WHEN feature = 'x1' THEN sd END) AS sd1,
         |   max(CASE WHEN feature = 'x2' THEN theta END) AS t2,
         |   max(CASE WHEN feature = 'x2' THEN mu END) AS mu2,
         |   max(CASE WHEN feature = 'x2' THEN sd END) AS sd2,
         |   max(CASE WHEN feature = 'x3' THEN theta END) AS t3,
         |   max(CASE WHEN feature = 'x3' THEN mu END) AS mu3,
         |   max(CASE WHEN feature = 'x3' THEN sd END) AS sd3,
         |   max(CASE WHEN feature = 'x4' THEN theta END) AS t4,
         |   max(CASE WHEN feature = 'x4' THEN mu END) AS mu4,
         |   max(CASE WHEN feature = 'x4' THEN sd END) AS sd4,
         |   max(CASE WHEN feature = '__intercept' THEN theta END) AS b
         |  FROM read_parquet('$glob')),
         |p AS (SELECT doc_id,
         |   1.0 / (1.0 + exp(-(b + (x1 - mu1) / sd1 * t1
         |     + (x2 - mu2) / sd2 * t2 + (x3 - mu3) / sd3 * t3
         |     + (x4 - mu4) / sd4 * t4))) AS raw
         |  FROM f CROSS JOIN m)
         |SELECT doc_id, ${Det.r9Sql("raw")} AS score,
         |  ${Det.r9Sql("raw")} >= 0.5 AS keep_pred
         | FROM p ORDER BY doc_id""".stripMargin
    }))
}
