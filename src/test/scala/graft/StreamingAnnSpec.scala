package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{PqOps, SimilarityOps}
import graft.streaming.AnnCursor

/** Streaming ANN index maintenance (graft.streaming.AnnCursor) — the
  * TrainReadyCursor bar applied to the vector leg: cursor ≡ batch
  * bit-for-bit, frozen-gate trip/no-trip parity with the Run lifecycle,
  * bounded pinned state, and the reopen-over-persisted-artifacts path. */
class StreamingAnnSpec extends SparkSpec {

  private def cluster(base: Array[Float], ids: Range, wiggle: Float) =
    ids.map { i =>
      (i.toLong, Array.tabulate(3)(j =>
        base(j) + (if (j == (i % 3)) wiggle * (1 + i % 3) else 0f)))
    }

  test("AnnCursor: micro-batched assignment/codes == chained batch ivfAppend/pqEncode, drift gates trip exactly like the batch lifecycle") {
    val s = spark
    import s.implicits._
    val prior = (cluster(Array(1f, 0f, 0f), 0 until 20, 0.05f) ++
      cluster(Array(0f, 1f, 0f), 20 until 40, 0.05f))
      .toDF("vec_id", "embedding")
    val b1 = cluster(Array(1f, 0f, 0f), 100 until 110, 0.05f) // in-dist
    val b2 = cluster(Array(0f, 1f, 0f), 200 until 205, 0.05f) // in-dist
    val bDrift = cluster(Array(0f, 0f, 1f), 300 until 310, 0.05f) // orthogonal

    val cursor = AnnCursor(prior, "vec_id", "embedding", nlist = 2,
      pq = true, pqM = 3, pqKsub = 4)
    // bootstrap == the build-time batch assignment over the prior corpus
    val quant = SimilarityOps.ivfTrain(prior, "vec_id", "embedding", 2)
      .localCheckpoint(true)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toString).sorted.toSeq
    assert(rows(cursor.assignment) ==
      rows(SimilarityOps.ivfAppend(prior, "vec_id", "embedding", quant)))
    assert(cursor.lastDrift.isEmpty && cursor.tripCount == 0L)

    // two in-distribution micro-batches: no trip, standing artifacts ==
    // one batch ivfAppend/pqEncode over the union (per-row kernels, so
    // chaining IS the union) against the SAME frozen artifacts
    val in = MemoryStream[(Long, Array[Float])](s)
    val q = cursor.attach(in.toDF().toDF("vec_id", "embedding"))
    try {
      in.addData(b1: _*); q.processAllAvailable()
      assert(cursor.lastDrift.exists(!_.getAs[Boolean]("retrain")) &&
        cursor.lastPqDrift.exists(!_.getAs[Boolean]("retrain")) &&
        cursor.tripCount == 0L,
        s"in-distribution batch must not trip: ${cursor.lastDrift}")
      in.addData(b2: _*); q.processAllAvailable()
      assert(cursor.tripCount == 0L)
      val all = prior.unionByName((b1 ++ b2).toDF("vec_id", "embedding"))
      assert(rows(cursor.assignment) ==
        rows(SimilarityOps.ivfAppend(all, "vec_id", "embedding", quant)),
        "cursor assignment diverged from the chained batch build")
      val cb = PqOps.pqTrain(prior, "vec_id", "embedding", 3, 4)
        .localCheckpoint(true)
      assert(rows(cursor.codes.get) ==
        rows(PqOps.pqEncode(all, "vec_id", "embedding", cb, 3, 4)),
        "cursor codes diverged from the chained batch encode")

      // bounded state: the third ingest releases what the second pinned
      val pinnedBefore = s.sparkContext.getPersistentRDDs.size
      in.addData(b2.map { case (i, v) => (i + 1000L, v) }: _*)
      q.processAllAvailable()
      val pinnedAfter = s.sparkContext.getPersistentRDDs.size
      assert(pinnedAfter <= pinnedBefore,
        s"pinned RDDs grew across ingests: $pinnedBefore -> $pinnedAfter")

      // an orthogonal batch trips BOTH frozen gates (and still lands —
      // the freeze decision is the operator's, as in the batch ingest)
      val nBefore = cursor.assignment.count()
      in.addData(bDrift: _*); q.processAllAvailable()
      assert(cursor.lastDrift.exists(_.getAs[Boolean]("retrain")) &&
        cursor.lastPqDrift.exists(_.getAs[Boolean]("retrain")) &&
        cursor.tripCount == 1L,
        s"orthogonal batch must trip: ${cursor.lastDrift}")
      assert(cursor.assignment.count() == nBefore + bDrift.size,
        "a tripped batch must still land")
    } finally q.stop()

    // empty batch: explicit no-op
    val standing = rows(cursor.assignment)
    assert(!cursor.ingest(prior.limit(0)))
    assert(rows(cursor.assignment) == standing && cursor.tripCount == 1L)
  }

  test("AnnCursor.close releases every block pinned since the open") {
    val s = spark
    import s.implicits._
    val prior = (cluster(Array(1f, 0f, 0f), 0 until 20, 0.05f) ++
      cluster(Array(0f, 1f, 0f), 20 until 40, 0.05f))
      .toDF("vec_id", "embedding")
    val before = s.sparkContext.getPersistentRDDs.keySet
    val cursor = AnnCursor(prior, "vec_id", "embedding", nlist = 2,
      pq = true, pqM = 3, pqKsub = 4)
    cursor.ingest(cluster(Array(1f, 0f, 0f), 100 until 110, 0.05f)
      .toDF("vec_id", "embedding"))
    assert((s.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty,
      "fixture: an open cursor holds its artifacts")
    cursor.close()
    val left = s.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"closed cursor left RDDs pinned: $left")
    cursor.close()
    intercept[IllegalArgumentException](cursor.ingest(prior))
  }

  test("AnnCursor.over: a cursor reopened over persisted Run-shaped artifacts continues the bootstrap cursor bit-for-bit") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-cursor")
      .toFile.getAbsolutePath
    val prior = (cluster(Array(1f, 0f, 0f), 0 until 20, 0.05f) ++
      cluster(Array(0f, 1f, 0f), 20 until 40, 0.05f))
      .toDF("vec_id", "embedding")
    val batch = cluster(Array(1f, 0f, 0f), 100 until 110, 0.05f)
      .toDF("vec_id", "embedding")

    // the persisted artifact set graft.Run's build writes under out/ann
    val boot = AnnCursor(prior, "vec_id", "embedding", nlist = 2,
      pq = true, pqM = 3, pqKsub = 4)
    SimilarityOps.ivfTrain(prior, "vec_id", "embedding", 2)
      .write.parquet(s"$dir/quantizer")
    val quant = s.read.parquet(s"$dir/quantizer")
    SimilarityOps.ivfQuantizationError(prior, "vec_id", "embedding", quant)
      .write.parquet(s"$dir/baseline")
    SimilarityOps.ivfAppend(prior, "vec_id", "embedding", quant)
      .write.parquet(s"$dir/assignment")
    PqOps.pqTrain(prior, "vec_id", "embedding", 3, 4)
      .write.parquet(s"$dir/codebook")
    val cb = s.read.parquet(s"$dir/codebook")
    PqOps.pqEncode(prior, "vec_id", "embedding", cb, 3, 4)
      .write.parquet(s"$dir/codes")
    PqOps.pqQuantizationError(prior, "vec_id", "embedding", cb, 3, 4)
      .write.parquet(s"$dir/pq_baseline")

    val reopened = AnnCursor.over(
      quant, s.read.parquet(s"$dir/baseline"),
      s.read.parquet(s"$dir/assignment"), "vec_id", "embedding",
      pq = Some((cb, s.read.parquet(s"$dir/pq_baseline"),
        s.read.parquet(s"$dir/codes"))),
      pqM = 3, pqKsub = 4)
    assert(!boot.ingest(batch) && !reopened.ingest(batch))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toString).sorted.toSeq
    assert(rows(reopened.assignment) == rows(boot.assignment) &&
      rows(reopened.codes.get) == rows(boot.codes.get),
      "reopened cursor diverged from the bootstrap cursor")
    assert(reopened.lastDrift.get.toString == boot.lastDrift.get.toString,
      "reopened drift row diverged")
  }
}
