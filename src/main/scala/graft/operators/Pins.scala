package graft.operators

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one home of every pinned Spark block in the engine: each eager
  * `localCheckpoint` and each `persist` goes through here, and each pin
  * registers with the innermost [[scoped]] scope open on the calling
  * thread. Releasing the scope frees them all.
  *
  * Why pins need an owner: `Dataset.unpersist()` does NOT release a
  * `localCheckpoint`'s pinned RDD on Spark 4.1 — it only uncaches plans
  * through the CacheManager, and the checkpoint's blocks belong to an
  * internal RDD the CacheManager never saw. A checkpointed frame
  * analyzes to a [[org.apache.spark.sql.execution.LogicalRDD]] leaf
  * wrapping exactly that RDD, so a pin is attributed by reading the id
  * off the frame's own plan; no capture-window diff of the context's
  * persistent RDDs is ever taken.
  *
  * Lifetimes:
  *  - a pin taken inside `scoped { … }` lives until that scope's
  *    [[Scope.release]] — a composed build's interior barriers are freed
  *    with its result, whoever pinned them;
  *  - [[release]] frees one superseded pin now (a loop's previous
  *    round), whether or not a scope also holds it;
  *  - a pin taken outside any scope belongs to the code that took it.
  *    A cursor's standing artifacts are pinned this way: the cursor owns
  *    them, releases each when its successor has materialized, and
  *    releases all of them on `close()`. This holds because no query
  *    opens a cursor, and this object is `private[graft]`, so no caller
  *    can wrap a cursor in a scope.
  *
  * Scopes are thread-local: a pin registers only with its own thread's
  * scope, so a cursor ingest and a managed graph run on one session
  * neither see nor wait for each other's pins. */
private[graft] object Pins {

  /** The pins taken on one thread while a [[scoped]] body ran, minus
    * those taken in scopes nested inside it. Calling it releases it, so
    * a scope is itself the release callback of a managed rendering
    * ([[graft.QDef.managed]]). */
  final class Scope private[Pins] () extends (() => Unit) {
    private val pins = mutable.LinkedHashMap.empty[Int, SparkContext]

    // only the thread the scope is open on adds to it
    private[Pins] def add(sc: SparkContext, id: Int): Unit = pins(id) = sc

    /** Ids of the RDDs pinned in this scope, released or not. */
    def ids: Set[Int] = pins.keySet.toSet

    /** Free every pin of this scope that is still held. Idempotent and
      * blocking: the blocks are gone when it returns. After release, a
      * frame backed by these pins can no longer be recomputed. */
    def release(): Unit =
      pins.foreach { case (id, sc) => free(sc, Seq(id)) }

    def apply(): Unit = release()
  }

  private val open = new ThreadLocal[List[Scope]] {
    override def initialValue(): List[Scope] = Nil
  }

  /** Run `body` with a new scope open on this thread: every pin the body
    * takes on this thread, outside scopes nested in it, registers with
    * the returned scope. Release it once the result is consumed. If the
    * body throws, the scope is released before the exception leaves. */
  def scoped[T](body: => T): (T, Scope) = {
    val scope = new Scope
    val outer = open.get
    open.set(scope :: outer)
    try (body, scope)
    catch { case e: Throwable => scope.release(); throw e }
    finally open.set(outer)
  }

  private def register(sc: SparkContext, id: Int): Unit =
    open.get.headOption.foreach(_.add(sc, id))

  /** Ids of the RDDs under `df`'s `LogicalRDD` leaves. */
  private def leaves(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }

  private def free(sc: SparkContext, ids: Iterable[Int]): Unit = {
    val persisted = sc.getPersistentRDDs
    ids.foreach(id => persisted.get(id).foreach(_.unpersist(blocking = true)))
  }

  /** An eager `localCheckpoint` of `df`: the checkpointed frame, whose
    * pin registers with the open scope. */
  def checkpoint(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(eager = true)
    val ids = leaves(out)
    // pinned at Spark 4.1.2: localCheckpoint always yields a LogicalRDD
    // leaf; none here would mean blocks no release could find
    require(ids.nonEmpty,
      "localCheckpoint produced no LogicalRDD leaf — cannot track blocks")
    ids.foreach(register(out.sparkSession.sparkContext, _))
    out
  }

  /** How [[pin]] holds an RDD's blocks. */
  sealed trait How
  /** `persist(MEMORY_AND_DISK)`: cached, spilling past memory. */
  case object Persist extends How
  /** `localCheckpoint()`: cached and lineage-truncated once computed. */
  case object LocalCheckpoint extends How

  /** Pin `rdd` the way `how` says and register it with the open scope.
    * The pin takes effect when the RDD is first computed. */
  def pin[T](rdd: RDD[T])(how: How): RDD[T] = {
    how match {
      case Persist => rdd.persist(StorageLevel.MEMORY_AND_DISK)
      case LocalCheckpoint => rdd.localCheckpoint()
    }
    register(rdd.sparkContext, rdd.id)
    rdd
  }

  /** Free the pins under `df`'s leaves now — pass the frame
    * [[checkpoint]] returned. Idempotent. */
  def release(df: DataFrame): Unit =
    free(df.sparkSession.sparkContext, leaves(df))

  /** Free `rdd`'s pin now. Idempotent. */
  def release(rdd: RDD[_]): Unit = free(rdd.sparkContext, Seq(rdd.id))
}
