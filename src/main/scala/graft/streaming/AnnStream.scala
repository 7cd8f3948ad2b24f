package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Pins, PqOps, SimilarityOps}

/** Streaming twin of `graft.Run`'s ANN index lifecycle — the
  * [[TrainReadyCursor]] pattern applied to the vector leg. Per
  * micro-batch of `(vec_id, embedding)` rows, the cursor appends the
  * batch's posting rows to the standing assignment against the FROZEN
  * coarse quantizer ([[graft.operators.SimilarityOps.ivfAppend]]),
  * measures the batch's distortion drift against the frozen
  * training-time baseline ([[graft.operators.SimilarityOps.ivfDrift]]),
  * and — when opened with the PQ dimension — encodes the batch against
  * the frozen codebook and gates its reconstruction drift too
  * ([[graft.operators.PqOps.pqEncode]] / `pqDrift`).
  *
  * Frozen-artifact discipline, unchanged from the batch lifecycle: the
  * quantizer, codebook, and both baselines NEVER move inside the
  * cursor — a tripped gate ([[lastDrift]]/[[lastPqDrift]] `retrain`,
  * counted in [[tripCount]]) is the operator's cue to schedule the
  * batch recovery (`graft.Run` `"mode": "retrain"`) and reopen the
  * cursor over the rebuilt artifacts ([[AnnCursor.over]]). Retraining
  * mid-stream would reshuffle every posting list the index already
  * serves — the same reason [[graft.operators.SimilarityOps.ivfAppend]]
  * refuses to retrain at append time.
  *
  * State discipline ([[TrainReadyCursor]]'s): the standing assignment
  * (and codes) are eagerly-checkpointed frames; every ingest builds the
  * successor, then releases the superseded block — pinned storage is
  * ∝ the index size, never ∝ the number of ingests (asserted in
  * graft.StreamingAnnSpec). Batch ≡ stream by construction: feeding
  * batches B1, B2, … yields bit-for-bit the assignment/codes a chained
  * batch `ivfAppend`/`pqEncode` over the same split yields — which is
  * also exactly what `graft.Run`'s ingest appends to `out/ann`, so a
  * production deployment can write [[assignment]]/[[codes]] to the same
  * artifact tables interchangeably.
  *
  * Scale shape: cost ∝ batch — assignment and encode are broadcast-
  * kernel codegen projections (no joins, no shuffles; PlanSpec pins the
  * batch entry points), each drift gate is one aggregate over the batch
  * collected as a single row.
  */
final class AnnCursor private (
    vecId: String, vec: String, maxRatio: Double,
    quantizer: DataFrame, baseline: DataFrame,
    pqCfg: Option[(DataFrame, DataFrame, Int, Int)], // codebook, baseline, m, ksub
    initAssignment: DataFrame, initCodes: Option[DataFrame]) {

  // The standing assignment and codes are checkpointed frames pinned
  // outside any scope: the cursor owns them and releases each once its
  // successor has materialized (see [[graft.operators.Pins]]).
  private var assignmentDf = Pins.checkpoint(initAssignment)
  private var codesDf = initCodes.map(Pins.checkpoint)
  private var lastDriftRow: Option[Row] = None
  private var lastPqDriftRow: Option[Row] = None
  private var trips: Long = 0L

  /** The standing IVF assignment `(vec_id, l, ne)` — every vector ever
    * ingested, as of the last completed ingest. The exact relation
    * `graft.Run` persists at `out/ann/assignment`. */
  def assignment: DataFrame = synchronized { assignmentDf }

  /** The standing PQ codes (`out/ann/codes`'s relation) — None when the
    * cursor was opened without the PQ dimension. */
  def codes: Option[DataFrame] = synchronized { codesDf }

  /** The LAST ingested batch's coarse-quantizer drift row
    * (`n_vecs, mean_qerr, max_qerr, baseline_mean, ratio, retrain`) —
    * the monitoring loop reads this after each micro-batch; None before
    * the first ingest. */
  def lastDrift: Option[Row] = synchronized { lastDriftRow }

  /** The last batch's PQ reconstruction drift row (None without the PQ
    * dimension or before the first ingest). */
  def lastPqDrift: Option[Row] = synchronized { lastPqDriftRow }

  /** How many ingests tripped EITHER gate since the cursor opened — a
    * persistent-trip count is the retrain scheduler's signal (one noisy
    * batch may trip once; a drifted corpus trips every batch). */
  def tripCount: Long = synchronized { trips }

  /** Ingest one vector batch: append its assignment (and codes), gate
    * the frozen artifacts' drift. Returns true when EITHER gate tripped
    * (the batch still lands — the freeze decision is the operator's,
    * exactly as in the batch ingest). Empty batches are a no-op. */
  def ingest(batch: DataFrame): Boolean = synchronized {
    val b = Pins.checkpoint(batch.select(
      org.apache.spark.sql.functions.col(vecId),
      org.apache.spark.sql.functions.col(vec)))
    if (b.isEmpty) { Pins.release(b); return false }
    // successors first (eager), then release the superseded pins — no
    // window where the standing index is unmaterialized
    val newAssignment = Pins.checkpoint(assignmentDf
      .unionByName(SimilarityOps.ivfAppend(b, vecId, vec, quantizer)))
    val drift = SimilarityOps
      .ivfDrift(b, vecId, vec, quantizer, baseline, maxRatio).head()
    val newCodes = pqCfg.map { case (cb, _, m, ksub) =>
      Pins.checkpoint(codesDf.get
        .unionByName(PqOps.pqEncode(b, vecId, vec, cb, m, ksub)))
    }
    val pqDrift = pqCfg.map { case (cb, pqBase, m, ksub) =>
      PqOps.pqDrift(b, vecId, vec, cb, pqBase, m, ksub, maxRatio).head()
    }
    (assignmentDf +: b +: codesDf.toSeq).foreach(Pins.release)
    assignmentDf = newAssignment
    codesDf = newCodes
    lastDriftRow = Some(drift)
    lastPqDriftRow = pqDrift
    val tripped = drift.getAs[Boolean]("retrain") ||
      pqDrift.exists(_.getAs[Boolean]("retrain"))
    if (tripped) trips += 1
    tripped
  }

  /** Wire a STREAMING `(vec_id, embedding)` frame into this cursor: one
    * [[ingest]] per micro-batch. After `processAllAvailable()`,
    * [[assignment]] reflects every delivered batch. */
  def attach(stream: DataFrame): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        ingest(batch); ()
      }
      .start()
}

object AnnCursor {

  /** Bootstrap a cursor from a prior vector corpus — `graft.Run`'s
    * build-time ANN stage, in-cursor: train the quantizer (and the PQ
    * codebook when `pq`), assign/encode the prior corpus, measure both
    * baselines. Later batches advance the assignment/codes against
    * these now-frozen artifacts. */
  def apply(priorVectors: DataFrame, vecId: String, vec: String,
      nlist: Int = 16, maxRatio: Double = 1.5, pq: Boolean = false,
      pqM: Int = 8, pqKsub: Int = 16): AnnCursor = {
    val quant = Pins.checkpoint(
      SimilarityOps.ivfTrain(priorVectors, vecId, vec, nlist))
    val baseline = Pins.checkpoint(SimilarityOps
      .ivfQuantizationError(priorVectors, vecId, vec, quant))
    val pqCfg = if (!pq) None else {
      val cb = Pins.checkpoint(
        PqOps.pqTrain(priorVectors, vecId, vec, pqM, pqKsub))
      val pqBase = Pins.checkpoint(PqOps
        .pqQuantizationError(priorVectors, vecId, vec, cb, pqM, pqKsub))
      Some((cb, pqBase, pqM, pqKsub))
    }
    new AnnCursor(vecId, vec, maxRatio, quant, baseline, pqCfg,
      initAssignment =
        SimilarityOps.ivfAppend(priorVectors, vecId, vec, quant),
      initCodes = pqCfg.map { case (cb, _, m, ksub) =>
        PqOps.pqEncode(priorVectors, vecId, vec, cb, m, ksub)
      })
  }

  /** Open a cursor over PERSISTED lifecycle artifacts — `graft.Run`'s
    * `out/ann` directory read back (quantizer, baseline, assignment,
    * and the codebook/pq_baseline/codes trio when the build carries
    * PQ): the streaming continuation of a batch-built index, and the
    * reopen path after a `"mode": "retrain"` rebuild. */
  def over(quantizer: DataFrame, baseline: DataFrame,
      assignment: DataFrame, vecId: String, vec: String,
      maxRatio: Double = 1.5,
      pq: Option[(DataFrame, DataFrame, DataFrame)] = None, // codebook, pq_baseline, codes
      pqM: Int = 8, pqKsub: Int = 16): AnnCursor =
    new AnnCursor(vecId, vec, maxRatio,
      Pins.checkpoint(quantizer), Pins.checkpoint(baseline),
      pq.map { case (cb, pqBase, _) =>
        (Pins.checkpoint(cb), Pins.checkpoint(pqBase), pqM, pqKsub)
      },
      initAssignment = assignment,
      initCodes = pq.map(_._3))
}
