package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Source/sink format coverage: the engine's scan layer is format-agnostic
  * (the reference's only source is a Kafka log; the batch analogue reads
  * whatever the lake stores). Round-trips the events table through each
  * built-in columnar/row format and asserts row fidelity, plus predicate
  * pushdown on ORC (the other columnar format besides parquet). */
class SourcesSpec extends SparkSpec {

  private def events = Tables(spark, sf, "events")
    .select(col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"), col("value"), col("props"))

  private def roundTrip(format: String, options: Map[String, String] = Map.empty): Unit = {
    val dir = Files.createTempDirectory(s"graft-src-$format").toString
    val src = events
    src.write.format(format).options(options).mode("overwrite").save(dir)
    val back = spark.read.format(format).options(options)
      .schema(src.schema) // deterministic round-trip: no inference drift
      .load(dir)
    val a = src.orderBy("event_id").collect().toSeq
    val b = back.orderBy("event_id").collect().toSeq
    assert(a == b, s"$format round-trip altered rows")
  }

  test("csv round-trips the events table") {
    roundTrip("csv", Map("header" -> "true"))
  }

  test("json round-trips the events table") {
    roundTrip("json")
  }

  test("orc round-trips the events table") {
    roundTrip("orc")
  }

  // avro: the spark-avro connector module is not on this classpath (only
  // the core Avro library ships in /opt/spark/jars) — not testable here.

  test("partitioned writes enable partition pruning (shard-layout sink)") {
    // the training-shard layout: corpus written partitioned by a
    // low-cardinality key so downstream readers touch only their shard —
    // at 100 TB the difference between reading one split and re-scanning
    // the corpus
    val dir = Files.createTempDirectory("graft-src-part").toString
    Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .write.partitionBy("source").mode("overwrite").parquet(dir)
    val one = spark.read.parquet(dir).filter(col("source") === "src1")
    val plan = one.queryExecution.executedPlan.toString
    // pruned scan: the partition filter sits in PartitionFilters, and the
    // data files read are only the matching partition's
    assert(plan.contains("PartitionFilters") && plan.contains("src1"),
      s"expected a partition filter on the pruned scan:\n$plan")
    val expected = Tables(spark, sf, "documents")
      .filter(col("source") === "src1").count()
    assert(one.count() == expected)
    // pruning must NOT have read everything: the scan's selected partition
    // count is 1 of the source cardinality
    val files = one.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(files.nonEmpty && files.forall(_.selectedPartitions.partitionCount == 1),
      "partition pruning did not reduce the scan to one partition")
  }

  test("schema-drift canary: every table loads with its contract types") {
    // The driver regenerates /root/testdata between rounds and its parquet
    // writer has drifted twice (TIMESTAMP(NANOS) → nanosAsLong long columns;
    // TIMESTAMP(isAdjustedToUTC=false, MICROS) → TIMESTAMP_NTZ inference).
    // Tables.apply exists to absorb exactly that; this test fails loudly and
    // locally on the NEXT drift instead of letting 14 queries die in the
    // driver's gate. Pins: (a) every table loads, (b) every declared temporal
    // column surfaces as plain TimestampType, (c) a TIMESTAMP-only function
    // resolves against it, (d) key join/agg columns keep their types.
    import org.apache.spark.sql.types._
    val temporal = Map(
      "events" -> Seq("ts"),
      "lineitem" -> Seq("l_shipdate"),
      "orders" -> Seq("o_orderdate"))
    for (name <- Tables.all) {
      val df = Tables(spark, sf, name)
      assert(df.limit(1).count() >= 0, s"$name failed to load")
      for (c <- temporal.getOrElse(name, Nil)) {
        assert(df.schema(c).dataType == TimestampType,
          s"$name.$c read as ${df.schema(c).dataType}, expected TimestampType — " +
            "driver writer drift not absorbed by Tables.apply")
        // analysis-time resolution of a TIMESTAMP-only function — the exact
        // failure mode of the r8 NTZ drift (unix_micros rejects TIMESTAMP_NTZ)
        df.select(unix_micros(col(c))).limit(1).count()
      }
    }
    val li = Tables(spark, sf, "lineitem")
    assert(li.schema("l_orderkey").dataType == LongType)
    assert(li.schema("l_quantity").dataType.isInstanceOf[NumericType])
    val emb = Tables(spark, sf, "embeddings")
    assert(emb.schema("embedding").dataType.isInstanceOf[ArrayType],
      "embeddings.embedding must stay an array column")
    val docs = Tables(spark, sf, "documents")
    assert(docs.schema("text").dataType == StringType)
  }

  test("a second Tables read of every table starts no Spark job and equals a plain parquet read") {
    import org.apache.spark.sql.types.TimestampType
    val temporal = Map("events" -> "ts", "lineitem" -> "l_shipdate",
      "orders" -> "o_orderdate")
    Tables.all.foreach { n =>
      Tables(spark, sf, n) // infers the schema unless an earlier read did
      val (df, jobs) = jobsDuring(Tables(spark, sf, n))
      assert(jobs.isEmpty, s"$n: second read started $jobs")
      val plain = Tables.withTemporal(n, spark.read.parquet(s"$sf/$n.parquet"))
      assert(df.schema == plain.schema, s"$n: ${df.schema} vs ${plain.schema}")
      assert(df.collect().map(_.toString).sorted.toSeq ==
        plain.collect().map(_.toString).sorted.toSeq, s"$n: rows differ")
      temporal.get(n).foreach(c =>
        assert(df.schema(c).dataType == TimestampType, s"$n.$c"))
    }
  }

  test("orc scans receive pushed filters like parquet") {
    val dir = Files.createTempDirectory("graft-src-orc-push").toString
    events.write.format("orc").mode("overwrite").save(dir)
    val plan = spark.read.format("orc").load(dir)
      .filter(col("event_id") > 100).select("event_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("event_id"),
      s"expected pushdown into the ORC scan:\n$plan")
  }

  test("OracleAux.rewriteForSf rewrites only gateGlob-minted paths and refuses foreign fragments") {
    import graft.sources.OracleAux
    val g = OracleAux.gateGlob("sourcesspec_aux") // mints the name
    val sql = s"SELECT * FROM read_parquet('$g') WHERE x > 0"
    // minted glob: rewritten at a different SF, untouched at the gate SF
    assert(OracleAux.rewriteForSf(sql, "/root/testdata/sf0.01") == sql)
    val rw = OracleAux.rewriteForSf(sql, "/root/testdata/sf0.1")
    assert(rw.contains("/sf0.1/sourcesspec_aux/*.parquet") &&
      !rw.contains("/sf0.01/"), rw)
    // a foreign use of the literal fragment (ADVICE r14): the invariant
    // the textual replace rests on is now enforced, not assumed
    val foreign = s"SELECT '${OracleAux.Root}/sf0.01/not_a_glob.csv'"
    val ex = intercept[IllegalArgumentException](
      OracleAux.rewriteForSf(foreign, "/root/testdata/sf0.1"))
    assert(ex.getMessage.contains("gateGlob"), ex.getMessage)
  }

  test("OracleAux.Root is target/oracle_aux under the working directory") {
    import graft.sources.OracleAux
    val cwd = System.getProperty("user.dir")
    assert(OracleAux.Root.startsWith(cwd + java.io.File.separator),
      s"${OracleAux.Root} is not under $cwd")
    assert(OracleAux.Root ==
      java.nio.file.Paths.get(cwd, "target", "oracle_aux").toString)
  }

  test("a later OracleAux.table read starts no Spark job and equals a plain parquet read") {
    import graft.sources.OracleAux
    val build = spark.range(0, 20, 1, 2).toDF("id")
      .withColumn("v", array(col("id").cast("float")))
    val sfDir = "/nonexistent/sf_sourcesspec"
    OracleAux.table(spark, sfDir, "spec_schema")(build)
    val (aux, jobs) =
      jobsDuring(OracleAux.table(spark, sfDir, "spec_schema")(build))
    assert(jobs.isEmpty, s"second read started $jobs")
    val plain = spark.read.parquet(s"${OracleAux.Root}/sf_sourcesspec/spec_schema")
    assert(aux.schema == plain.schema, s"${aux.schema} vs ${plain.schema}")
    assert(aux.orderBy("id").collect().toSeq ==
      plain.orderBy("id").collect().toSeq)
  }
}
