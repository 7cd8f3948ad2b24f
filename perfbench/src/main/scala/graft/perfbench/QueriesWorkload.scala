package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.QDef
import graft.operators._

/** One closed-loop client making passes over a read-only query mix: the
  * first query of each operator family (definition order), the graph one
  * being q_graph_pagerank through its managed rendering, released through
  * its own handle after its result is consumed. Query order is a seeded
  * permutation, fresh for every pass.
  *
  * Set-up builds the shared memos the mix reads, then runs one cold pass
  * that writes every result the way `graft.Verify` does (`out/cold/q_*`
  * plus `oracle_sql.json`); those files are what the oracle check reads.
  * One untimed warm pass follows. The timed passes consume each result
  * through a noop write, as `graft.Bench` does. */
object QueriesWorkload extends Workload {

  val families: Seq[(String, Seq[QDef])] = Seq(
    "frolyk" -> FrolykOps.defs, "relational" -> RelationalOps.defs,
    "analytic" -> AnalyticOps.defs, "window" -> WindowOps.defs,
    "temporal" -> TemporalOps.defs, "similarity" -> SimilarityOps.defs,
    "pq" -> PqOps.defs, "multimodal" -> MultimodalOps.defs,
    "graph" -> GraphOps.defs)

  /** Queries that write their oracle side tables under the fixed absolute
    * directory `graft.sources.OracleAux.Root`, or whose oracle reads them
    * from there. The benchmark reads and writes only inside its checkout,
    * so these stay out of the mix until that directory is configurable. */
  val writesOutsideCheckout: Set[String] = Set(
    "q_ann_bucket_verify", "q_ivf_scan_verify", "q_ivf_append",
    "q_dedup_semantic", "q_sample_cluster", "q_pq_adc_verify",
    "q_pq_encode_verify")

  /** One query per family keeps a pass short enough that a run of this
    * workload holds set-up, a cold pass and a warm pass inside its share
    * of the benchmark's time budget. */
  val mix: Seq[(String, QDef)] = families.map { case (fam, defs) =>
    fam -> defs.filterNot(q => writesOutsideCheckout(q.name)).head
  }

  /** The timed passes: one per [[PassS]] of the run's seconds, at least
    * [[MinPasses]] so that every query has more than one sample. The count
    * depends on the seconds alone: a count set by a deadline would give a
    * faster host more samples and so a lower quartile further down. */
  val PassS = 5.0
  val MinPasses = 2

  val memos: Seq[(String, (SparkSession, String) => DataFrame)] =
    SimilarityOps.memoBuilds ++ PqOps.memoBuilds ++ GraphOps.memoBuilds

  /** The query's result plus the release of whatever it pinned. */
  private def open(q: QDef, spark: SparkSession, d: String): (DataFrame, () => Unit) =
    q.managed.map(_(spark, d)).getOrElse((q.build(spark, d), () => ()))

  /** One query's measured run. */
  final case class Exec(q: String, fam: String, sec: Double, buildS: Double,
      releaseMs: Double, c: Snap, graphCheckpoints: Int)

  def run(spark: SparkSession, o: Opts, t: Tracer, r: Result): Unit = {
    val d = o.data
    memos.foreach { case (name, build) =>
      val t0 = System.nanoTime()
      build(spark, d).write.format("noop").mode("overwrite").save()
      r.layers(s"sources.memo_s.$name") = (System.nanoTime() - t0) / 1e9
    }
    val rnd = new Random(o.seed)
    var pinnedMax = 0.0

    /** Run `q` once, consuming its result with `consume`; an exception is
      * the operation's failure. */
    def exec(key: String, fam: String, q: QDef, consume: DataFrame => Unit)
        : Option[Exec] = {
      r.attempted += 1
      val op = t.newOp()
      val before = t.snap()
      val startMs = System.currentTimeMillis()
      val q0 = System.nanoTime()
      try {
        var buildS = 0.0
        val release = t.span(s"operators.$fam", op) {
          val (df, release) = t.span(s"operators.$fam.build")(open(q, spark, d))
          buildS = (System.nanoTime() - q0) / 1e9
          t.span(s"operators.$fam.exec")(consume(df))
          release
        }
        val sec = (System.nanoTime() - q0) / 1e9
        val r0 = System.nanoTime()
        t.span(s"operators.$fam.release", op)(release())
        val releaseMs = (System.nanoTime() - r0) / 1e6
        // the ledger: read right after the caller's release returns
        pinnedMax = math.max(pinnedMax, spark.sparkContext.getPersistentRDDs.size)
        // the rank loop's lineage barriers, as Spark records them
        val ckpts = if (fam != "graph") 0 else t.jobsSince(startMs).count(j =>
          j.site.startsWith("localCheckpoint") && j.stack.contains("GraphOps$.runPageRank("))
        Some(Exec(q.name, fam, sec, buildS, releaseMs, t.snap() - before, ckpts))
      } catch {
        case e: Exception =>
          r.fail(key, s"${q.name}: ${e.getMessage}")
          None
      }
    }

    // the cold pass: every query's first run, written for the oracle check
    val coldDir = Paths.get(o.out, "cold")
    Files.createDirectories(coldDir)
    Files.writeString(coldDir.resolve("oracle_sql.json"),
      mix.flatMap { case (_, q) => q.oracle.map(sql => s"${Json.str(q.name)}:${Json.str(sql)}") }
        .mkString("{", ",", "}"))
    rnd.shuffle(mix).foreach { case (fam, q) =>
      exec(s"cold:${q.name}", fam, q, _.coalesce(1).write.mode("overwrite")
        .parquet(coldDir.resolve(q.name).toString))
    }

    // one warm pass more, untimed: the second pass still ran ~20% slower
    // than the later ones while the JIT compiled
    rnd.shuffle(mix).foreach { case (fam, q) =>
      exec(s"warm:${q.name}", fam, q, _.write.format("noop").mode("overwrite").save())
    }

    val passS = Seq.newBuilder[Double]
    val execs = Seq.newBuilder[Exec]
    val snap0 = t.snap()
    val gc0 = Jvm.gcMs
    val passes = math.max(MinPasses, math.round(o.seconds / PassS).toInt)
    r.startTimed()
    val timedStart = System.nanoTime()
    (0 until passes).foreach { pass =>
      val p0 = System.nanoTime()
      rnd.shuffle(mix).foreach { case (fam, q) =>
        execs ++= exec(s"pass$pass:${q.name}", fam, q, _.write.format("noop").mode("overwrite").save())
      }
      passS += (System.nanoTime() - p0) / 1e9
    }
    val wall = (System.nanoTime() - timedStart) / 1e9
    val c = t.snap() - snap0
    val all = execs.result()
    val n = passes.toDouble
    // Each query's lower quartile over the warm passes: the host takes CPU
    // away in bursts, and a quantile below the median follows the program
    // rather than the host. The geometric mean weighs every query the same,
    // so the per-action floor shows; the sum is a pass at those latencies.
    val byQuery = all.groupBy(_.q).toSeq.sortBy(_._1)
      .map { case (q, es) => q -> Stats.pct(es.map(_.sec), 0.25) }
    val quiet = byQuery.map(_._2)
    r.e2e("op_latency_ms") = Stats.geomean(quiet) * 1000
    r.e2e("pass_s") = quiet.sum
    r.info("passes") = passes.toString
    r.info("pass_s") = passS.result().map(x => f"$x%.2f").mkString(" ")
    r.info("query_s") = byQuery.map { case (q, x) => f"$q=$x%.3f" }.mkString(" ")
    r.info("queries_in_mix") = mix.map(_._2.name).mkString(" ")
    r.layers("operators.build_s") = all.map(_.buildS).sum / n
    r.layers("operators.jobs") = c.jobs / n
    r.layers("operators.stages") = c.stages / n
    r.layers("operators.tasks") = c.tasks / n
    r.layers("operators.sched_share") =
      math.max(0.0, 1.0 - c.runMs / 1000.0 / o.cpus / wall)
    r.layers("operators.exec_s") = c.runMs / 1000.0 / n
    r.layers("operators.cpu_s") = c.cpuNs / 1e9 / n
    r.layers("operators.gc_s") = (Jvm.gcMs - gc0) / 1000.0 / n
    r.layers("operators.shuffle_read_bytes") = c.shuffleRead / n
    r.layers("operators.shuffle_write_bytes") = c.shuffleWrite / n
    r.layers("operators.spill_bytes") = c.spill / n
    r.layers("sources.scan_bytes") = c.inputBytes / n
    families.foreach { case (fam, _) =>
      val es = all.filter(_.fam == fam)
      r.layers(s"operators.$fam.s") = es.map(_.sec).sum / n
      r.layers(s"operators.$fam.jobs") = es.map(_.c.jobs).sum / n
    }
    // the graph loop, per rank run
    val g = all.filter(_.fam == "graph")
    if (g.nonEmpty) {
      val runs = g.size.toDouble
      val gc = g.map(_.c).reduce(_ + _)
      val gs = g.map(_.sec).sum
      r.layers("operators.graph.checkpoints") = g.map(_.graphCheckpoints).sum / runs
      r.layers("operators.graph.jobs") = gc.jobs / runs
      r.layers("operators.graph.stages") = gc.stages / runs
      r.layers("operators.graph.shuffle_bytes") = (gc.shuffleRead + gc.shuffleWrite) / runs
      r.layers("operators.graph.cpu_s") = gc.cpuNs / 1e9 / runs
      r.layers("operators.graph.sched_share") =
        math.max(0.0, 1.0 - gc.runMs / 1000.0 / o.cpus / gs)
      r.layers("operators.graph.release_ms") = g.map(_.releaseMs).sum / runs
    }
    r.layers("pins.pinned_after_op") = pinnedMax
  }
}
