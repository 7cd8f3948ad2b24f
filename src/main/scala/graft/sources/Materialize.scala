package graft.sources

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Session-scoped materialized intermediates.
  *
  * A pipeline's expensive shared subtrees (the near-dup pair list, a
  * shingle index, a feature table) are consumed by several downstream
  * queries. Recomputing the subtree per consumer multiplies its cost by
  * fan-out; Spark's exchange reuse only dedups WITHIN one action, and
  * cached/checkpointed blocks pin executor memory for the session
  * lifetime. The storage-backed pattern — compute once, write to a
  * table, every consumer scans the table — is how a production pipeline
  * ships this at 100 TB (the intermediate is a vanishing fraction of
  * the corpus; the scan is cheap and partition-prunable).
  *
  * `table` is that pattern scoped to one JVM: the first caller builds
  * and writes parquet under a process-private temp dir, every later
  * caller (same Spark application + key) gets a plain parquet scan.
  * Results are bit-identical to the direct computation — asserted in
  * graft.MaterializeSpec.
  *
  * The written table is read back once, when it is published, and its
  * inferred schema is kept next to its path; consumers read with that
  * schema, so a memo scan starts no schema-inference job and keeps exactly
  * the types and nullability a plain parquet read gives. Contract: within
  * one application a memo path's schema does not change — each key is
  * written once, to a path derived from the key alone.
  */
object Materialize {
  private lazy val root = {
    val dir = Files.createTempDirectory("graft-materialized-")
    // the intermediates are process-private scratch — reclaim them when
    // the JVM exits instead of accreting across Bench/Verify/test runs
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(dir.toFile)
    }))
    dir.toString
  }
  private val done = new ConcurrentHashMap[String, (String, StructType)]()

  def table(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    // Key by application: temp-dir contents outlive a stopped session,
    // but a new application must not trust another's files (different
    // conf, different data dir lifetimes are encoded in the key).
    publish(s, key, root + "/" + java.util.UUID.nameUUIDFromBytes(
      (s.sparkContext.applicationId + "/" + key).getBytes("UTF-8")))(build)

  /** Write `build` to `path` once per Spark application and `key`, and
    * return a read of the written table with the schema kept when it was
    * published. The one publish step behind [[table]] and
    * [[OracleAux.table]].
    *
    * NOT computeIfAbsent (r19): memo builds NEST — curateFateManifest
    * builds through curatePairs, coPurchaseInfluence through coPurchase,
    * pq_adc_codes through the pq_adc_codebook aux — and a nested
    * computeIfAbsent on one ConcurrentHashMap throws
    * IllegalStateException("Recursive update") whenever the two keys
    * land in the same hash bin. The keys embed the per-run
    * applicationId, so the collision was a per-run lottery: the
    * inherited CORRECTNESS_LOCAL.json carried exactly this failure on
    * q_train_ready_epochs. Double-checked build under the object
    * monitor instead — reentrant, so nested builds on one thread are
    * fine; builds are one-time per key, so serializing them is
    * irrelevant next to the build cost; the path is a pure function of
    * the key, so publishing after the parquet write keeps every reader
    * on a fully-written table. */
  private[sources] def publish(s: SparkSession, key: String, path: String)
      (build: => DataFrame): DataFrame = {
    val full = s.sparkContext.applicationId + "/" + key
    if (!done.containsKey(full)) this.synchronized {
      if (!done.containsKey(full)) {
        build.write.mode("overwrite").parquet(path)
        done.put(full, (path, s.read.parquet(path).schema))
        ()
      }
    }
    val (p, schema) = done.get(full)
    s.read.schema(schema).parquet(p)
  }
}
