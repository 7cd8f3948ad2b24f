package graft

import org.apache.spark.sql.functions._

import graft.sources.Materialize

/** Materialized shared intermediates (graft.sources.Materialize): the
  * storage-backed compute-once pattern must be invisible to consumers —
  * identical rows, one build per key — because five production queries
  * (pairs/clusters/canonical/editdist/contamination) trust it. */
class MaterializeSpec extends SparkSpec {

  private val s = SparkSpec.spark
  import s.implicits._

  test("table builds once per key and returns identical rows") {
    var built = 0
    def make = {
      built += 1
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
        .withColumn("h", xxhash64(col("v")))
    }
    val direct = make.collect().sortBy(_.getLong(0))
    built = 0
    val first = Materialize.table(spark, "spec:one")(make)
      .collect().sortBy(_.getLong(0))
    val second = Materialize.table(spark, "spec:one")(make)
      .collect().sortBy(_.getLong(0))
    assert(built == 1, s"expected one build, got $built")
    assert(first.toSeq == direct.toSeq)
    assert(second.toSeq == direct.toSeq)
  }

  test("a later consumer read starts no Spark job and equals a plain parquet read") {
    // `id` from range is non-nullable; a parquet read makes it nullable,
    // and the memo must hand out the parquet read's schema, not the build's
    val build = spark.range(0, 50, 1, 2).toDF("id")
      .withColumn("ts", timestamp_seconds(col("id") * 3600))
      .withColumn("v", array(col("id").cast("float")))
    Materialize.table(spark, "spec:schema")(build)
    val (memo, jobs) = jobsDuring(Materialize.table(spark, "spec:schema")(build))
    assert(jobs.isEmpty, s"second consumer read started $jobs")
    val dir = new java.io.File(memo.inputFiles.head).getParent
    val plain = spark.read.parquet(dir)
    assert(memo.schema == plain.schema, s"${memo.schema} vs ${plain.schema}")
    assert(memo.schema("id").nullable && !build.schema("id").nullable)
    val rows = memo.orderBy("id").collect().toSeq
    assert(rows == plain.orderBy("id").collect().toSeq)
    assert(rows.map(_.getLong(0)) == (0L until 50L))
  }

  test("distinct keys build independently") {
    val a = Materialize.table(spark, "spec:ka")(Seq(1).toDF("x"))
    val b = Materialize.table(spark, "spec:kb")(Seq(2).toDF("x"))
    assert(a.collect().map(_.getInt(0)).toSeq == Seq(1))
    assert(b.collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("the shared ngram pair list matches the direct computation") {
    // the five consumers' contract: memoized == direct
    val direct = graft.operators.DedupOps.ngramJaccardPairs(
      graft.sources.Tables(spark, sf, "documents").repartition(col("doc_id")),
      "doc_id", "text", minJaccard = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val shared = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(shared.toSeq == direct.toSeq)
  }

  test("q_similarity_ivf through the memoized quantizer equals the self-trained join") {
    val e = graft.sources.Tables(spark, sf, "embeddings")
    val direct = graft.operators.SimilarityOps
      .ivfKnnJoin(e, "vec_id", "embedding", k = 5, trainFraction = 0.3)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sorted
    val memoized = SparkEntry.queries("q_similarity_ivf")(spark, sf)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sorted
    assert(memoized.toSeq == direct.toSeq)
  }

  test("q_dedup_clusters_incr through the memoized standing labels equals the direct computation") {
    import org.apache.spark.sql.functions.col
    // direct = standing labels rebuilt from scratch (no memo), advanced
    // by the same increment pairs the query uses, applied the same way
    val prior = graft.sources.Tables(spark, sf, "documents")
      .repartition(col("doc_id")).filter(col("doc_id") % 10 =!= 0)
    val standing = graft.operators.DedupOps.connectedComponents(
      graft.operators.DedupOps.ngramJaccardPairs(prior, "doc_id", "text",
        minJaccard = 0.1), "da", "db")
      .localCheckpoint(true)
    val incPairs = SparkEntry.queries("q_dedup_ngram_incr")(spark, sf)
      .select("da", "db")
    val upsert = graft.operators.DedupOps
      .connectedComponentsIncremental(standing, incPairs, "da", "db")
    val direct = standing
      .join(upsert.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(upsert)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val memoized = SparkEntry.queries("q_dedup_clusters_incr")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(memoized.toSeq == direct.toSeq)
  }

  test("q_train_ready through the memoized fate manifest equals the direct composed build") {
    // the bench binding routes trainReady through the persisted fate
    // manifest (VERDICT r11 #4) — the measured shape must stay
    // bit-identical to the in-call curation path the oracle checks
    val sp = graft.operators.TextOps.splitAssign(spark, sf)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) -1L else r.getLong(2),
      if (r.isNullAt(3)) -1L else r.getLong(3),
      if (r.isNullAt(4)) -1L else r.getLong(4))
    val direct = graft.operators.PipelineOps.trainReady(
      sp.filter(col("split") === "train"),
      sp.filter(col("split") =!= "train"), "doc_id", "text")
      .collect().map(key).sorted
    val memoized = SparkEntry.queries("q_train_ready")(spark, sf)
      .collect().map(key).sorted
    assert(memoized.toSeq == direct.toSeq)
  }

  test("q_dedup_ngram_incr through the memoized posting index equals the direct computation") {
    val docs = graft.sources.Tables(spark, sf, "documents")
      .repartition(col("doc_id"))
    val direct = graft.operators.DedupOps.ngramJaccardPairsIncremental(
      docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
      graft.operators.DedupOps.ngramPostings(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text"),
      corpusDocCount =
        docs.filter(col("doc_id") % 10 =!= 0).count(),
      minJaccard = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val memoized = SparkEntry.queries("q_dedup_ngram_incr")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(memoized.toSeq == direct.toSeq)
  }

  test("q_curate through the memoized train-split pair list equals the direct pipeline") {
    val sp = graft.operators.TextOps.splitAssign(spark, sf)
    val direct = graft.operators.PipelineOps.curate(
      sp.filter(col("split") === "train"),
      sp.filter(col("split") =!= "train"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val memoized = SparkEntry.queries("q_curate")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(memoized.toSeq == direct.toSeq)
  }
}
