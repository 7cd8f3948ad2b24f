package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming._
import graft.streaming.Processing._

/** Fields the chain parses out of a message value. `prev` is the offset
  * the chain saw last on the same partition within the batch (-1 at the
  * first), which lets the check prove per-partition offset order. */
final case class Parsed(k: Int, u: Long, t: String, prev: Long)

object Codec {
  lazy val mapper = new ObjectMapper()
}

/** frolyk's own surface: KMessages on 8 partitions, fed through a
  * MemoryStream into the micro-batch body `Task.start` ships
  * (`processBatch` then `producedFrame`, collected as the produce sink).
  * The chain follows frolyk's introduction example: parse the JSON value,
  * abandon a share of messages, then send a result and commit with
  * metadata.
  *
  * Phase A is an open loop: one generator thread emits messages at a
  * fixed rate, and each message is timed from when it was due to the end
  * of the batch call that produced its output. Phase B preloads a fixed
  * backlog and times how long the query takes to drain it. The timed part
  * alternates rounds of one phase-A segment and [[DrainsPerRound]] drains,
  * one round per [[RoundS]] of the run's seconds (at least [[MinRounds]]),
  * the seconds split evenly over the segments. Set-up runs [[WarmRounds]]
  * shorter rounds of one segment and one drain untimed, so the timed
  * phases run warm. */
object StreamWorkload extends Workload {
  val Partitions = 8
  val Rate = 20000.0
  val Users = 10000
  val AbandonBelow = 10 // k is uniform in [0, 100): a 10% share
  val WarmRounds = 3
  val WarmS = 3.0
  val Backlog = 100000
  val RoundS = 4.0
  val DrainsPerRound = 2
  val MinRounds = 3
  val Types = Array("click", "view", "purchase", "signup", "error")

  /** Seeded message source; remembers what it sent, per partition. */
  final class Gen(seed: Long) {
    private val rnd = new Random(seed)
    private val cdf = {
      val w = (1 to Users).map(i => 1.0 / math.pow(i, 1.1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    val due = Array.fill(Partitions)(mutable.ArrayBuffer.empty[Long])
    val ks = Array.fill(Partitions)(mutable.ArrayBuffer.empty[Int])
    val us = Array.fill(Partitions)(mutable.ArrayBuffer.empty[Long])
    val ts = Array.fill(Partitions)(mutable.ArrayBuffer.empty[Byte])
    val sent = new AtomicLong(0)

    def next(dueNs: Long, epochMs: Long): KMessage = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      val u = (if (i >= 0) i else -i - 1).toLong
      val p = (u % Partitions).toInt
      val k = rnd.nextInt(100)
      val t = rnd.nextInt(Types.length)
      val v = rnd.nextInt(100000) / 100.0
      val off = due(p).length.toLong
      due(p) += dueNs; ks(p) += k; us(p) += u; ts(p) += t.toByte
      sent.incrementAndGet()
      KMessage("in", p, off, s"u$u",
        s"""{"k": $k, "u": $u, "t": "${Types(t)}", "v": $v}""", epochMs)
    }

    def expected(p: Int, off: Int): String = {
      val k = ks(p)(off)
      s"${Types(ts(p)(off))}:${k * 31 + us(p)(off) % 97}"
    }
    def abandoned(p: Int, off: Int): Boolean = ks(p)(off) < AbandonBelow
    def highWater: Long = sent.get
  }

  /** The processor setup: parse, abandon a share, then send and commit. */
  val setup: ProcessorSetup = _ => {
    val last = mutable.Map.empty[Int, Long]
    Seq(
      (m: Any, ctx: ProcessingContext) => {
        val prev = last.getOrElse(ctx.partition, -1L)
        last(ctx.partition) = ctx.offset
        val n = Codec.mapper.readTree(m.asInstanceOf[KMessage].value)
        Parsed(n.get("k").asInt, n.get("u").asLong, n.get("t").asText, prev)
      },
      (p: Any, ctx: ProcessingContext) =>
        if (p.asInstanceOf[Parsed].k < AbandonBelow) ctx.abandon else p,
      (p: Any, ctx: ProcessingContext) => {
        val x = p.asInstanceOf[Parsed]
        ctx.send(NewMessage("out", s"${x.t}:${x.k * 31 + x.u % 97}:${x.prev}",
          key = s"${ctx.partition}:${ctx.offset}"))
        ctx.commit(s"m@${ctx.offset}")
        x.t
      })
  }

  /** One finished batch call: its id, when it ended, the generator's high
    * watermark at that moment, and the produced rows. */
  final case class Done(id: Long, endNs: Long, highWater: Long, rows: Array[Row])

  /** One timed phase-A segment or drain: the batch calls it made (indices
    * into the finished ones), the messages sent, the generator's worst
    * lateness, the lag when the generator stopped, the Spark counters and
    * collector time it moved, and its wall time. */
  final case class Segment(batches: Range, sent: Long, lateMs: Double, lagEnd: Long,
      c: Snap, gcMs: Long, sec: Double = 0.0)

  def run(spark: SparkSession, o: Opts, t: Tracer, r: Result): Unit = {
    implicit val kEnc = Encoders.product[KMessage]
    val gen = new Gen(o.seed)
    val t0Ns = System.nanoTime()
    val t0Ms = System.currentTimeMillis()
    def msg(dueNs: Long) = gen.next(dueNs, t0Ms + (dueNs - t0Ns) / 1000000L)

    val task = new Task("perfbench")
    val src = task.source("in", "earliest")
    task.processor(src)(setup)
    val procs = task.processorsFor(src)
    // one input partition per topic partition, as the Kafka source reads
    val in = MemoryStream[KMessage](spark, Partitions)
    val done = new ConcurrentLinkedQueue[Done]()
    val query = in.toDS().writeStream
      .foreachBatch { (batch: Dataset[KMessage], id: Long) =>
        val rows = t.span("streaming.batch", t.newOp()) {
          val p = t.span("streaming.plan")(Task.processBatch(task.group, procs)(batch))
          t.span("streaming.sink")(Task.producedFrame(p).collect())
        }
        done.add(Done(id, System.nanoTime(), gen.highWater, rows))
        ()
      }
      .start()

    /** Emit messages at `Rate` from `start` for `seconds`; returns the
      * generator's worst lateness in ms. */
    def openLoop(start: Long, seconds: Double): Double = {
      val total = (Rate * seconds).toLong
      var sent, lateNs = 0L
      while (sent < total) {
        val now = System.nanoTime()
        val upTo = math.min(total, ((now - start) * Rate / 1e9).toLong + 1)
        if (upTo > sent) {
          val dueFirst = start + (sent * 1e9 / Rate).toLong
          lateNs = math.max(lateNs, now - dueFirst)
          in.addData((sent until upTo).map(i => msg(start + (i * 1e9 / Rate).toLong)))
          sent = upTo
        }
        Thread.sleep(1)
      }
      lateNs / 1e6
    }

    def backlog(): Seq[KMessage] = (0 until Backlog).map(_ => msg(System.nanoTime()))
    def drain(msgs: Seq[KMessage]): Unit = {
      in.addData(msgs)
      query.processAllAvailable()
    }

    try {
      (1 to WarmRounds).foreach { _ =>
        openLoop(System.nanoTime(), WarmS)
        drain(backlog())
      }
      val aStart = System.nanoTime()
      r.startTimed()
      // Phase A and phase B alternate, so that a burst of contention on the
      // host shorter than the run moves only some of each metric's samples.
      val rounds = math.max(MinRounds, math.round(o.seconds / RoundS).toInt)
      val segments = (1 to rounds).map { _ =>
        val first = done.size
        val sent0 = gen.highWater
        val snap = t.snap()
        val gc0 = Jvm.gcMs
        val late = openLoop(System.nanoTime(), o.seconds / rounds)
        val lagEnd = gen.highWater - consumed(done.asScala.toSeq).lastOption.getOrElse(0L)
        query.processAllAvailable()
        val a = Segment(first until done.size, gen.highWater - sent0, late, lagEnd,
          t.snap() - snap, Jvm.gcMs - gc0)
        val ds = (1 to DrainsPerRound).map { _ =>
          val msgs = backlog()
          val dSnap = t.snap()
          val d0 = System.nanoTime()
          val dFirst = done.size
          t.span("streaming.drain", t.newOp())(drain(msgs))
          Segment(dFirst until done.size, Backlog, 0.0, 0L, t.snap() - dSnap, 0L,
            (System.nanoTime() - d0) / 1e9)
        }
        (a, ds)
      }
      query.stop()
      val all = done.asScala.toSeq
      val segA = segments.map(_._1)
      val drains = segments.flatMap(_._2)
      val phaseA = segA.flatMap(a => a.batches.map(all))
      val phaseB = drains.flatMap(b => b.batches.map(all))
      val aSent = segA.map(_.sent).sum
      val cA = segA.map(_.c).reduce(_ + _)
      val gcAms = segA.map(_.gcMs).sum

      // Latency of every phase-A message that produced output. The host
      // takes CPU away in bursts that slow whole batches, so the reported
      // figure is the lower quartile over batches of each batch's median
      // message latency: it follows the program, where the median over
      // messages follows the host.
      val byBatch = phaseA.map { d =>
        d.rows.toSeq.flatMap { row =>
          val (p, off) = parse(row)
          val dueNs = gen.due(p)(off)
          if (dueNs >= aStart) Some((d.endNs - dueNs) / 1e6) else None
        }
      }.filter(_.nonEmpty)
      val lat = byBatch.flatten
      r.e2e("op_latency_ms") = Stats.pct(byBatch.map(Stats.median), 0.25)
      r.e2e("pass_s") = Stats.pct(drains.map(_.sec), 0.25)
      val nA = math.max(1, phaseA.size).toDouble
      r.info("phase_a_batches") = phaseA.size.toString
      r.info("msg_median_ms") = f"${Stats.median(lat)}%.1f"
      r.info("drain_s") = drains.map(d => f"${d.sec}%.3f").mkString(" ")
      r.info("catchup_msgs_per_s") = (Backlog / r.e2e("pass_s")).toString
      r.layers("streaming.msg_p99_ms") = Stats.pct(lat, 0.99)
      r.layers("streaming.batches") = phaseA.size
      r.layers("streaming.rows_per_batch") = aSent / nA
      r.layers("streaming.gen_late_ms") = segA.map(_.lateMs).max
      r.layers("streaming.abandon_ratio") =
        1.0 - phaseA.map(_.rows.length).sum.toDouble / aSent
      r.layers("streaming.lag_end") = segA.map(_.lagEnd).max.toDouble
      val lags = all.zip(consumed(all)).map { case (d, c) => d.id -> (d.highWater - c) }.toMap
      r.layers("streaming.lag_max") = phaseA.map(d => lags(d.id).toDouble).max
      r.layers("streaming.gc_ms_per_batch") = gcAms / nA
      r.layers("streaming.jobs_per_batch") = cA.jobs / nA
      r.layers("streaming.stages_per_batch") = cA.stages / nA
      r.layers("streaming.tasks_per_batch") = cA.tasks / nA
      val drainC = drains.map(_.c).reduce(_ + _)
      val nB = drains.size.toDouble * Backlog
      r.layers("streaming.cpu_us_per_msg") = drainC.cpuNs / 1e3 / nB
      r.layers("streaming.shuffle_bytes_per_msg") =
        (drainC.shuffleRead + drainC.shuffleWrite) / nB
      t.progress.foreach { pr =>
        def mean(ds: Seq[Done], keys: String*) = ds.map(d =>
          pr.durations(d.id).filter(kv => keys.contains(kv._1)).values.sum)
          .sum.toDouble / math.max(1, ds.size)
        r.layers("streaming.trigger_ms") = mean(phaseA, "triggerExecution")
        r.layers("streaming.plan_ms") = mean(phaseA, "queryPlanning")
        r.layers("streaming.source_ms") = mean(phaseA, "latestOffset", "getBatch")
        r.layers("streaming.commit_ms") = mean(phaseA, "walCommit", "commitOffsets")
        r.layers("streaming.add_batch_ms") = mean(phaseB, "addBatch")
      }

      verify(spark, gen, done.asScala.toSeq, procs, task.group, r)
    } finally {
      if (query.isActive) query.stop()
    }
  }

  private def parse(row: Row): (Int, Int) = {
    val Array(p, off) = row.getString(1).split(":").map(_.toInt)
    (p, off)
  }

  /** Messages consumed by the end of each batch: per partition, one past
    * the highest offset that has produced output so far. */
  private def consumed(ds: Seq[Done]): Seq[Long] = {
    val hi = Array.fill(Partitions)(-1)
    ds.map { d =>
      d.rows.foreach { row =>
        val (p, off) = parse(row)
        hi(p) = math.max(hi(p), off)
      }
      hi.map(_ + 1L).sum
    }
  }

  /** Every message that is not abandoned was produced exactly once, with
    * its expected value, in offset order within its partition; commits
    * are offset + 1 with the chain's metadata. Each message is one
    * operation, failed if any of this does not hold for it. */
  private def verify(spark: SparkSession, gen: Gen, ds: Seq[Done],
      procs: Seq[Processor], group: String, r: Result): Unit = {
    val seen = Array.tabulate(Partitions)(p => new Array[Byte](gen.due(p).length))
    ds.foreach(_.rows.foreach { row =>
      val (p, off) = parse(row)
      seen(p)(off) = (seen(p)(off) + 1).toByte
      val Array(tp, v, prev) = row.getString(2).split(":")
      val ok = row.getString(0) == "out" && s"$tp:$v" == gen.expected(p, off) &&
        (prev.toLong == off - 1 || prev.toLong == -1L)
      if (!ok) r.fail(s"$p:$off", s"stream $p:$off produced '${row.getString(2)}'")
    })
    for (p <- 0 until Partitions; off <- seen(p).indices) {
      r.attempted += 1
      val want = if (gen.abandoned(p, off)) 0 else 1
      if (seen(p)(off) != want)
        r.fail(s"$p:$off", s"stream $p:$off produced ${seen(p)(off)} times, expected $want")
    }
    implicit val kEnc = Encoders.product[KMessage]
    val sample = (0 until Partitions).flatMap { p =>
      (0 until math.min(2000, gen.due(p).length)).map(off =>
        KMessage("in", p, off.toLong, s"u${gen.us(p)(off)}",
          s"""{"k": ${gen.ks(p)(off)}, "u": ${gen.us(p)(off)}, "t": "${Types(gen.ts(p)(off))}", "v": 0.0}""",
          0L))
    }
    Task.processBatch(group, procs)(spark.createDataset(sample)).collect()
      .foreach { x =>
        val off = x.offset.toInt
        val ab = gen.abandoned(x.partition, off)
        val commits = if (ab) Nil else Seq(CommitReq(x.offset + 1, Some(s"m@$off")))
        if (x.abandoned != ab || x.commits != commits)
          r.fail(s"${x.partition}:$off",
            s"stream ${x.partition}:$off commits ${x.commits}, abandoned ${x.abandoned}")
      }
  }
}
