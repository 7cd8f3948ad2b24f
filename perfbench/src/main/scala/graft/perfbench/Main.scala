package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Options of one workload run. `data` holds the generated inputs,
  * `out` receives the run's result and anything written for checking. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, out: String) {
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)
}

/** A workload: set up (untimed), run for the allotted seconds, release
  * everything it holds, and fill the result. */
trait Workload {
  def run(spark: SparkSession, o: Opts, t: Tracer, r: Result): Unit
}

/** Entry point of the harness JVM; perfbench/run.py launches it. */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("out"))
    val w: Workload = o.workload match {
      case "stream" => StreamWorkload
      case "queries" => QueriesWorkload
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val spark = graft.Sessions.local(o.cpus.toString)
    spark.sparkContext.setLogLevel("ERROR")
    val t = new Tracer(o.trace, spark)
    val r = new Result
    val gc0 = (Jvm.gcMs, Jvm.gcCount)
    w.run(spark, o, t, r)
    // The state ledger, read before any cleanup of the harness's own:
    // every workload has released its handles, so whatever is still
    // pinned or retained was left behind by the program.
    r.layers("pins.pinned_at_end") = spark.sparkContext.getPersistentRDDs.size
    r.e2e("retained_heap_mb") = Jvm.heapAfterGcMb()
    r.layers("jvm.gc_s") = (Jvm.gcMs - gc0._1) / 1000.0
    r.layers("jvm.gc_count") = (Jvm.gcCount - gc0._2).toDouble
    r.layers("jvm.heap_after_gc_mb") = r.e2e("retained_heap_mb")
    Files.createDirectories(Paths.get(o.out))
    t.write(Paths.get(o.out))
    Files.writeString(Paths.get(o.out, "result.json"), r.toJson)
    spark.stop()
  }
}
