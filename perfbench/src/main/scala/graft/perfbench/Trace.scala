package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Cumulative Spark counters at one instant; layer metrics are the
  * difference of two snapshots taken around a span. */
final case class Snap(jobs: Long, stages: Long, tasks: Long, runMs: Long,
    cpuNs: Long, gcMs: Long, shuffleRead: Long, shuffleWrite: Long,
    spill: Long, inputBytes: Long, outputBytes: Long) {
  private def zip(o: Snap, f: (Long, Long) => Long): Snap = {
    val a = productIterator.map(_.asInstanceOf[Long]).toSeq
    val b = o.productIterator.map(_.asInstanceOf[Long]).toSeq
    val Seq(j, st, t, r, c, g, sr, sw, sp, in, out) = a.zip(b).map(f.tupled)
    Snap(j, st, t, r, c, g, sr, sw, sp, in, out)
  }
  def -(o: Snap): Snap = zip(o, _ - _)
  def +(o: Snap): Snap = zip(o, _ + _)
}

/** One completed job: submission time and the call site Spark recorded
  * for its final stage (short form, then the long stack form). */
final case class JobRec(timeMs: Long, site: String, stack: String)

/** Counts what the scheduler did, from outside the program: jobs, stages,
  * tasks and the task metrics Spark aggregates per stage. */
final class Counters extends SparkListener {
  private var cur = Snap(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val jobLog = mutable.ArrayBuffer.empty[JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur = cur.copy(jobs = cur.jobs + 1)
    val last = e.stageInfos.sortBy(_.stageId).lastOption
    jobLog += JobRec(e.time, last.map(_.name).getOrElse(""),
      last.map(_.details).getOrElse(""))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      cur = if (m == null) cur.copy(stages = cur.stages + 1,
        tasks = cur.tasks + i.numTasks)
      else Snap(cur.jobs, cur.stages + 1, cur.tasks + i.numTasks,
        cur.runMs + m.executorRunTime, cur.cpuNs + m.executorCpuTime,
        cur.gcMs + m.jvmGCTime,
        cur.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        cur.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        cur.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
        cur.inputBytes + m.inputMetrics.bytesRead,
        cur.outputBytes + m.outputMetrics.bytesWritten)
    }

  def snap(): Snap = synchronized(cur)
  def jobsSince(ms: Long): Seq[JobRec] =
    synchronized(jobLog.filter(_.timeMs >= ms).toSeq)
}

/** Per-micro-batch durations as Structured Streaming reports them, by
  * batch id. */
final class StreamProgress extends StreamingQueryListener {
  private val batches = mutable.Map.empty[Long, Map[String, Long]]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    batches(p.batchId) = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
  }
  def durations(batchId: Long): Map[String, Long] =
    synchronized(batches.getOrElse(batchId, Map.empty))
}

/** A finished span: one timed call into a layer. `op` groups the spans of
  * one operation; `parent` is the enclosing span (0 at the top). */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans recorded from the harness around calls into the program, kept in
  * memory and written out when the run ends. With tracing off, spans are
  * not recorded and no listener is registered, so the untraced run times
  * the program alone. */
final class Tracer(val on: Boolean, spark: SparkSession) {
  val counters: Option[Counters] =
    if (on) { val c = new Counters; spark.sparkContext.addSparkListener(c); Some(c) }
    else None
  val progress: Option[StreamProgress] =
    if (on) { val p = new StreamProgress; spark.streams.addListener(p); Some(p) }
    else None

  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  private var nextId = 0L
  private var nextOp = 0L

  def newOp(): Long = synchronized { nextOp += 1; nextOp }

  /** Time `body` as span `name`; nested calls become its children. */
  def span[T](name: String, op: Long = 0L)(body: => T): T =
    if (!on) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val outer = stack.get
      val (parent, parentOp) = outer.headOption.getOrElse((0L, op))
      stack.set((id, if (op != 0L) op else parentOp) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        synchronized {
          done += Span(id, parent, if (op != 0L) op else parentOp, name, t0, t1)
        }
      }
    }

  def spans: Seq[Span] = synchronized(done.toSeq)

  /** Total time of spans called `name`, minus the part their child spans
    * cover. */
  def selfMs(name: String): Double = {
    val all = spans
    val childMs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    all.filter(_.name == name).map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
  }

  def snap(): Snap = counters.map { c =>
    PerfbenchBus.drain(spark.sparkContext); c.snap()
  }.getOrElse(Snap(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))

  def jobsSince(ms: Long): Seq[JobRec] = counters.map { c =>
    PerfbenchBus.drain(spark.sparkContext); c.jobsSince(ms)
  }.getOrElse(Nil)

  /** Writes the spans and the Spark jobs (with their call sites) as JSON
    * lines into `dir`. */
  def write(dir: java.nio.file.Path): Unit = if (on) {
    val lines = spans.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(dir.resolve("spans.jsonl"), lines.asJava)
    val jobs = jobsSince(0L).map(j =>
      s"""{"time_ms":${j.timeMs},"site":${Json.str(j.site)},"stack":${Json.str(j.stack)}}""")
    java.nio.file.Files.write(dir.resolve("jobs.jsonl"), jobs.asJava)
  }
}

/** JVM-wide collector counters and the retained heap. */
object Jvm {
  private def gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  def gcMs: Long = gcs.map(_.getCollectionTime).filter(_ >= 0).sum
  def gcCount: Long = gcs.map(_.getCollectionCount).filter(_ >= 0).sum

  /** Heap in use after full collections, in MB. Spark's context cleaner
    * frees the blocks of collected RDDs, shuffles and broadcasts on its
    * own thread after a collection finds them, so collect until two
    * readings agree. */
  def heapAfterGcMb(): Double = {
    def used(): Double = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = used()
    var cur = used()
    var n = 2
    while (math.abs(cur - prev) > 1.0 && n < 10) {
      prev = cur
      cur = used()
      n += 1
    }
    cur
  }
}
