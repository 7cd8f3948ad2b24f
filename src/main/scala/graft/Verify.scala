package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    var failed = List.empty[String]
    var errors = List.empty[(String, String)]
    var digest = List.empty[(String, String)] // name -> local JSON record
    // Iteration aid (mirrors Bench): restrict the dump to a subset.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // DuckDB-free local sanity (VERDICT r13 #1b): re-read the bytes
        // that actually landed and record the row count, so the builder's
        // own gate result survives on disk even when the driver's
        // correctness artifact arrives empty.
        val rows = spark.read.parquet(s"$outDir/$name").count()
        digest ::= name -> s"""{"ok":true,"rows":$rows}"""
      } catch { case e: Throwable =>
        failed ::= name
        errors ::= name -> s"${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Queries that materialize an intermediate (localCheckpoint — the
      // dedup family's shared shingle index) have no end-of-query hook to
      // release it; drop finished queries' blocks so they can't pile up
      // across the 60+ query loop.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL, or a control char in an
    // exception message, would otherwise make the driver's json.load fail
    // and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // a stderr line alone is easy to scroll past — leave the failure list
    // where the result comparison will find it
    Files.writeString(Paths.get(s"$outDir/_failures.json"),
      failed.reverse.map(q).mkString("[", ",", "]"))
    // r9 (ADVICE r8 self-containedness): the r8 NTZ drift left its 14
    // analysis-time failures traceable ONLY via the bench's failed array
    // — record WHY each query failed next to the dump, so a correctness
    // artifact missing a query always has its explanation on disk.
    // Exception messages get the same full-control-char escape as the
    // oracle SQL (ADVICE r9): Spark analysis errors can embed plan trees
    // with arbitrary control chars.
    Files.writeString(Paths.get(s"$outDir/_errors.json"),
      errors.reverse.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries FAILED: " +
        failed.reverse.mkString(", "))
    // Aux-glob self-consistency (VERDICT r13 #1a): the static oracleSql
    // map hardcodes the gate's sf0.01 aux paths; re-target them at the
    // SF of THIS dump so the SQL reads the aux tables this run wrote.
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(graft.sources.OracleAux.rewriteForSf(v, sfDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Machine-readable local gate digest (VERDICT r13 #1b) — next to the
    // dump AND at the repo root, so an empty driver artifact is
    // diagnosable from the repo alone.
    val errMap = errors.toMap
    val local = (("_meta" ->
        s"""{"sfDir":${q(sfDir)},"queries":${digest.size + failed.size}}""")
        +: (digest.map { case (k, v) => k -> v } ++
        failed.map(k => k ->
          s"""{"ok":false,"err":${q(errMap.getOrElse(k, "?"))}}"""))
      .sortBy(_._1))
      .map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/CORRECTNESS_LOCAL.json"), local)
    // the repo-root copy is the ROUND's artifact — only a FULL dump may
    // replace it (a SPARK_GRAFT_VERIFY_ONLY iteration run would clobber
    // the full digest with its subset). The root is derived, not
    // hardcoded (ADVICE r14): SPARK_GRAFT_REPO_ROOT overrides, else the
    // launch directory (sbt runs from the repo root); a failed write
    // WARNS instead of silently leaving a stale round artifact.
    if (only.isEmpty) {
      val repoRoot = sys.env.getOrElse("SPARK_GRAFT_REPO_ROOT",
        sys.props.getOrElse("user.dir", "."))
      val rootCopy = Paths.get(repoRoot, "CORRECTNESS_LOCAL.json")
      try Files.writeString(rootCopy, local)
      catch { case e: Throwable =>
        System.err.println(s"[verify] WARNING: could not write the " +
          s"round digest copy at $rootCopy (${e.getMessage}); the full " +
          s"digest is at $outDir/CORRECTNESS_LOCAL.json")
      }
    }
    spark.stop()
    // every artifact above is on disk; an incomplete dump must still fail
    // the run, not pass as a short result set behind a zero exit
    val short = only.isEmpty && digest.size < SparkEntry.queries.size
    if (failed.nonEmpty || short) {
      System.err.println(s"[verify] incomplete dump: ${digest.size} " +
        s"results written, ${failed.size} failed, " +
        s"${SparkEntry.queries.size} queries defined")
      sys.exit(1)
    }
  }
}
