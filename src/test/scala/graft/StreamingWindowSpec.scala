package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twins of the batch window/state layer (SURVEY §2.5 G1/G4):
  * event-time tumbling aggregation under a watermark, and the
  * store-in-closure pattern as `mapGroupsWithState` — the reference's
  * windowing/store goals (`/root/reference/README.md:78-79`) on the
  * micro-batch engine, not just their batch analogues. */
class StreamingWindowSpec extends SparkSpec {

  test("G1 streaming: tumbling event-time count with watermark") {
    val s = spark
    import s.implicits._
    val in = MemoryStream[(Timestamp, String)](s)
    val counts = in.toDS()
      .toDF("ts", "event_type")
      .withWatermark("ts", "10 seconds")
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .count()
    val q = counts.writeStream
      .format("memory").queryName("g1_tumbling")
      .outputMode(OutputMode.Update())
      .start()
    try {
      def t(sec: Int) = new Timestamp(sec * 1000L)
      in.addData((t(5), "click"), (t(10), "click"), (t(65), "view"))
      q.processAllAvailable()
      val rows = s.table("g1_tumbling")
        .select(unix_timestamp(col("window.start")).as("w"), col("event_type"), col("count"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(rows == Set((0L, "click", 2L), (60L, "view", 1L)))
    } finally q.stop()
  }

  test("G1 streaming: rows behind the watermark are dropped (late data)") {
    val s = spark
    import s.implicits._
    val in = MemoryStream[(Timestamp, String)](s)
    val counts = in.toDS()
      .toDF("ts", "event_type")
      .withWatermark("ts", "10 seconds")
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .count()
    val q = counts.writeStream
      .format("memory").queryName("g1_late")
      .outputMode(OutputMode.Update())
      .start()
    try {
      def t(sec: Int) = new Timestamp(sec * 1000L)
      in.addData((t(300), "click"))
      q.processAllAvailable() // watermark advances to ~290s
      in.addData((t(5), "stale")) // far behind the watermark → dropped
      q.processAllAvailable()
      val types = s.table("g1_late").select("event_type")
        .collect().map(_.getString(0)).toSet
      assert(types == Set("click"), s"late row leaked into the result: $types")
    } finally q.stop()
  }

  test("G3 streaming: gap-based session windows merge events within the gap") {
    val s = spark
    import s.implicits._
    val in = MemoryStream[(Timestamp, String)](s)
    val sessions = in.toDS()
      .toDF("ts", "user")
      .withWatermark("ts", "10 seconds")
      .groupBy(session_window(col("ts"), "30 seconds"), col("user"))
      .count()
    val q = sessions.writeStream
      .format("memory").queryName("g3_sessions")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      def t(sec: Int) = new Timestamp(sec * 1000L)
      // u1: 0s,20s,40s chain within gaps → ONE session; 200s → a second
      in.addData((t(0), "u1"), (t(20), "u1"), (t(40), "u1"), (t(200), "u1"))
      q.processAllAvailable()
      val rows = s.table("g3_sessions")
        .select(col("user"), col("count"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
      assert(rows == Seq(("u1", 1L), ("u1", 3L)),
        s"expected sessions of 3 and 1 events, got $rows")
    } finally q.stop()
  }

  test("G4 streaming: running count per key via mapGroupsWithState") {
    val s = spark
    import s.implicits._
    val in = MemoryStream[(String, Int)](s)
    val running = in.toDS()
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: String, values: Iterator[(String, Int)], state: GroupState[Long]) =>
          val next = state.getOption.getOrElse(0L) + values.size
          state.update(next)
          (key, next)
      }
    val q = running.writeStream
      .format("memory").queryName("g4_running")
      .outputMode(OutputMode.Update())
      .start()
    try {
      in.addData(("u1", 1), ("u1", 1), ("u2", 1))
      q.processAllAvailable()
      in.addData(("u1", 1))
      q.processAllAvailable()
      val last = s.table("g4_running").collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
      assert(last == Map("u1" -> 3L, "u2" -> 1L))
    } finally q.stop()
  }

  test("streaming transition matrix: per-key last-state via flatMapGroupsWithState matches the batch operator") {
    // the streaming twin of TemporalOps.transitionMatrix: state = the
    // key's last seen event-state, each arrival emits one (prev, curr)
    // edge; a downstream streaming count aggregates the matrix. The
    // stream's growth-bounded state is ONE value per key — not a window
    // over history — which is exactly why first-order transitions stream
    // where higher-order sequence mining would not. In-batch arrival
    // order is the MemoryStream insertion order (single partition), so
    // the emitted edges are deterministic here.
    val s = spark
    import s.implicits._
    val in = MemoryStream[(String, String)](s)
    val edges = in.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (key: String, values: Iterator[(String, String)],
         state: GroupState[String]) =>
          var prev = state.getOption
          val out = values.flatMap { case (_, cur) =>
            val edge = prev.map(p => (p, cur))
            prev = Some(cur)
            edge
          }.toVector
          prev.foreach(state.update)
          out.iterator
      }
    val q = edges.toDF("from_state", "to_state")
      .groupBy("from_state", "to_state").count()
      .writeStream
      .format("memory").queryName("stream_transitions")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      in.addData(("x", "A"), ("x", "B"), ("y", "A"))
      q.processAllAvailable()
      // state survives across batches: x's last state B links to C
      in.addData(("x", "C"), ("y", "C"), ("x", "B"))
      q.processAllAvailable()
      val got = s.table("stream_transitions").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      // batch reference on the same log (arrival order = seq)
      val log = Seq(("x", 1L, "A"), ("x", 2L, "B"), ("y", 3L, "A"),
        ("x", 4L, "C"), ("y", 5L, "C"), ("x", 6L, "B"))
        .toDF("k", "at", "st")
      val batch = graft.operators.TemporalOps
        .transitionMatrix(log, "k", "at", "st", tieBreak = "at")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(got == batch, s"stream $got vs batch $batch")
      assert(got == Map(("A", "B") -> 1L, ("B", "C") -> 1L,
        ("A", "C") -> 1L, ("C", "B") -> 1L), s"got $got")
    } finally q.stop()
  }

  test("streaming rolling distinct actives matches the batch operator (DAU/WAU twin)") {
    // StreamingTemporal.rollingDistinctDeltas emits per-(key, bucket)
    // +1 increments from bounded per-key state (≤ windowBuckets longs);
    // the downstream sum IS the trailing-window distinct-active count.
    // Parity vs TemporalOps.rollingDistinct on the same planted log,
    // delivered across THREE micro-batches so state survival and
    // cross-batch dedup are both exercised.
    val s = spark
    import s.implicits._
    val W = 3
    val in = MemoryStream[(String, Long)](s)
    val deltas = graft.streaming.StreamingTemporal
      .rollingDistinctDeltas(in.toDS(), windowBuckets = W)
    val q = deltas.toDF("bucket", "delta")
      .groupBy("bucket").agg(sum("delta").as("n_active"))
      .writeStream
      .format("memory").queryName("stream_rolling")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      // (key, bucket) activity: u1 spans buckets, u2 repeats in-bucket,
      // u3 appears once; batch 3 re-delivers an already-seen (u1, 10)
      in.addData(("u1", 10L), ("u2", 10L), ("u2", 10L))
      q.processAllAvailable()
      in.addData(("u1", 11L), ("u3", 13L))
      q.processAllAvailable()
      in.addData(("u1", 10L), ("u2", 14L))
      q.processAllAvailable()
      val log = Seq(("u1", 10L), ("u2", 10L), ("u2", 10L), ("u1", 11L),
        ("u3", 13L), ("u1", 10L), ("u2", 14L))
        .toDF("k", "at") // bucket ids as integral ts with step 1
      val batch = graft.operators.TemporalOps
        .rollingDistinct(log, "k", "at", stepUs = 1L, windowBuckets = W)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val maxBucket = batch.keys.max
      val stream = s.table("stream_rolling").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // the stream emits trailing coverage past the last datum and no
      // zero spine; compare on the batch spine with missing-as-zero
      for ((b, n) <- batch)
        assert(stream.getOrElse(b, 0L) == n,
          s"bucket $b: stream ${stream.getOrElse(b, 0L)} vs batch $n " +
            s"(stream $stream, batch $batch)")
      for ((b, n) <- stream if b <= maxBucket)
        assert(batch.getOrElse(b, 0L) == n,
          s"bucket $b: stream emitted $n, batch has ${batch.getOrElse(b, 0L)}")
    } finally q.stop()
  }

  test("streaming corpus delta matches the batch snapshot diff (CDC twin)") {
    // StreamingTemporal.corpusDeltaChanges over (snapshot A as upserts,
    // then snapshot B's upserts + deletes for A∖B) must emit, in the
    // second batch, exactly PipelineOps.corpusDelta(A, B) — including the
    // NULL-text fates the batch operator's presence flags exist for:
    // NULL⇄NULL reads unchanged (no emission), NULL⇄value reads changed.
    val s = spark
    import s.implicits._
    def h(t: String): Option[String] =
      Option(t).map(x => java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    // one doc per fate: 1 unchanged, 2 changed, 3 removed, 4 added,
    // 5 NULL-in-both (unchanged), 6 NULL→text (changed), 7 text→NULL
    val before = Seq((1L, "a"), (2L, "b"), (3L, "c"), (5L, null),
      (6L, null), (7L, "g")).toDF("doc_id", "text")
    val after = Seq((1L, "a"), (2L, "B2"), (4L, "d"), (5L, null),
      (6L, "f"), (7L, null)).toDF("doc_id", "text")
    val batch = graft.operators.PipelineOps
      .corpusDelta(before, after, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    val in = MemoryStream[(Long, Option[String], Boolean)](s)
    val changes = graft.streaming.StreamingTemporal
      .corpusDeltaChanges(in.toDS())
    val q = changes.toDF("doc_id", "change")
      .writeStream.format("memory").queryName("stream_delta")
      .outputMode(OutputMode.Append())
      .start()
    try {
      def hashOf(df: org.apache.spark.sql.DataFrame): Map[Long, Option[String]] =
        df.collect().map(r => r.getLong(0) ->
          h(if (r.isNullAt(1)) null else r.getString(1))).toMap
      val hb = hashOf(before)
      val ha = hashOf(after)
      in.addData(hb.toSeq.map { case (id, hh) => (id, hh, false) }: _*)
      q.processAllAvailable()
      val afterBatch1 = s.table("stream_delta").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      // loading snapshot A into empty state reads as one 'added' per doc
      assert(afterBatch1 == hb.keys.map(_ -> "added").toMap, s"$afterBatch1")
      // batch 2: B's rows as upserts, deletes for A∖B
      val ops = ha.toSeq.map { case (id, hh) => (id, hh, false) } ++
        (hb.keySet -- ha.keySet).toSeq.map(id =>
          (id, None: Option[String], true))
      in.addData(ops: _*)
      q.processAllAvailable()
      // batch-2 emissions = full feed minus batch-1's one-'added'-per-doc
      // (each doc emits at most once per compacted micro-batch)
      val batch2 = s.table("stream_delta").collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .groupBy(_._1).flatMap { case (id, vs) =>
          val tags = vs.map(_._2).toBuffer
          if (afterBatch1.contains(id)) tags.remove(tags.indexOf("added"))
          tags.map(id -> _)
        }.toMap
      assert(batch2 == batch,
        s"stream batch-2 emissions $batch2 vs batch corpusDelta $batch")
    } finally q.stop()
  }

  test("corpusDeltaChanges lifecycle: re-add after delete, no-op deletes and same-hash upserts") {
    val s = spark
    import s.implicits._
    val in = MemoryStream[(Long, Option[String], Boolean)](s)
    val q = graft.streaming.StreamingTemporal.corpusDeltaChanges(in.toDS())
      .toDF("doc_id", "change")
      .writeStream.format("memory").queryName("stream_delta_life")
      .outputMode(OutputMode.Append()).start()
    try {
      def feed(): Seq[(Long, String)] = s.table("stream_delta_life")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      in.addData((1L, Some("h1"), false), (2L, None, true))
      q.processAllAvailable() // doc 2's delete targets an absent doc: no-op
      assert(feed().sorted == Seq((1L, "added")), s"${feed()}")
      in.addData((1L, Some("h1"), false)) // same-hash upsert: no-op
      q.processAllAvailable()
      assert(feed().sorted == Seq((1L, "added")), s"${feed()}")
      in.addData((1L, None, true)) // removed...
      q.processAllAvailable()
      in.addData((1L, Some("h2"), false)) // ...then re-added (state cleared)
      q.processAllAvailable()
      assert(feed().sorted == Seq((1L, "added"), (1L, "added"),
        (1L, "removed")), s"${feed()}")
    } finally q.stop()
  }

  test("streaming epoch-allocation rates match the batch water-filling bit-for-bit") {
    // StreamingTemporal.epochAllocationRates re-solves the closed-form
    // water-filling from its running per-source (docs, tokens) state
    // each trigger; after the final batch the table must be
    // BIT-IDENTICAL to PipelineOps.epochAllocation over the union —
    // same pow, same decimal-6 weight summation, same r4/floor columns.
    // The budget sits between 1 and maxEpochs corpus passes so the cap
    // BINDS on the scarce source (the breakpoint branch, not the
    // uniform segment).
    val s = spark
    import s.implicits._
    val batch1 = Seq((1L, "t t t", "web"), (2L, "t t t t t t t t", "code"),
      (3L, "t", "wiki"))
    val batch2 = Seq((4L, "t t t t", "web"),
      (5L, "t t t t t t t t t t", "code"), (6L, "t t", "wiki"))
    val all = (batch1 ++ batch2).toDF("doc_id", "text", "source")
    val budget = 50L // 28 corpus tokens; E=2, α=0.5 → wiki caps
    val expected = graft.operators.PipelineOps
      .epochAllocation(all, "doc_id", "text", "source",
        budgetTokens = budget, maxEpochs = 2.0, alpha = 0.5)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getLong(5))).toSet
    val in = MemoryStream[(String, Long)](s)
    val rates = graft.streaming.StreamingTemporal
      .epochAllocationRates(in.toDS(), budgetTokens = budget,
        maxEpochs = 2.0, alpha = 0.5)
    val q = rates
      .toDF("source", "n_docs", "tok_total", "epochs", "full_copies",
        "frac_cut")
      .writeStream.format("memory").queryName("stream_epoch_rates")
      .outputMode(OutputMode.Update())
      .start()
    try {
      def toks(t: String): Long = t.trim.split("\\s+").length.toLong
      in.addData(batch1.map(d => (d._3, toks(d._2))): _*)
      q.processAllAvailable()
      in.addData(batch2.map(d => (d._3, toks(d._2))): _*)
      q.processAllAvailable()
      val rows = s.table("stream_epoch_rates").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getLong(4), r.getLong(5)))
      assert(rows.length == 6, s"expected 6 emissions, got ${rows.toSeq}")
      val finalRows = rows.groupBy(_._1)
        .map { case (_, vs) => vs.maxBy(_._3) }.toSet
      assert(finalRows == expected,
        s"stream final table $finalRows vs batch $expected")
      // the cap genuinely binds in this fixture (breakpoint branch hit)
      assert(expected.exists(_._4 == 2.0d),
        s"fixture lost its capped source: $expected")
      assert(expected.exists(_._4 < 2.0d),
        s"fixture lost its uncapped source: $expected")
    } finally q.stop()
  }

  test("streaming temperature-mixture rates match the batch rate table") {
    // StreamingTemporal.temperatureMixtureRates re-derives the sampling
    // rate table from its running per-source totals each trigger; after
    // the final batch it must be BIT-IDENTICAL to the batch operator's
    // (source, tok_total, rate) — same Det.dsum-mirrored w_total, same r4.
    // Every source gains tokens in every batch, so per-source tok_total
    // strictly increases and the final trigger's rows are the max-total
    // rows in the update-mode sink.
    val s = spark
    import s.implicits._
    val batch1 = Seq((1L, "tok tok tok tok", "web"), (2L, "tok tok", "code"),
      (3L, "tok", "wiki"))
    val batch2 = Seq((4L, "tok tok tok", "web"),
      (5L, "tok tok tok tok tok tok tok tok tok", "code"),
      (6L, "tok tok", "wiki"))
    val expected = graft.operators.PipelineOps
      .temperatureMixture((batch1 ++ batch2).toDF("doc_id", "text", "source"),
        "doc_id", "text", "source", alpha = 0.3, budgetFraction = 0.5)
      .select("source", "tok_total", "rate").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val in = MemoryStream[(String, Long)](s)
    val rates = graft.streaming.StreamingTemporal
      .temperatureMixtureRates(in.toDS(), alpha = 0.3, budgetFraction = 0.5)
    val q = rates.toDF("source", "tok_total", "rate")
      .writeStream.format("memory").queryName("stream_rates")
      .outputMode(OutputMode.Update())
      .start()
    try {
      def toks(t: String): Long = t.trim.split("\\s+").length.toLong
      in.addData(batch1.map(d => (d._3, toks(d._2))): _*)
      q.processAllAvailable()
      in.addData(batch2.map(d => (d._3, toks(d._2))): _*)
      q.processAllAvailable()
      val rows = s.table("stream_rates").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      // each trigger emits the FULL table → 3 sources × 2 triggers
      assert(rows.length == 6, s"expected 6 emissions, got ${rows.toSeq}")
      val finalRows = rows.groupBy(_._1)
        .map { case (_, vs) => vs.maxBy(_._2) }.toSet
      assert(finalRows == expected,
        s"stream final table $finalRows vs batch $expected")
    } finally q.stop()
  }

  test("streaming mixture rates: zero-token source caps at 1.0 like the batch least()") {
    // A source with only token-less docs has tok_total 0 → raw rate
    // 0/0 = NaN; Spark's least() treats NaN as greater than everything
    // so the batch operator emits 1.0 — the stream twin must match, not
    // propagate the NaN (the r10 review edge).
    val s = spark
    import s.implicits._
    val expected = graft.operators.PipelineOps
      .temperatureMixture(
        Seq((1L, "tok tok", "web"), (2L, "", "barren"))
          .toDF("doc_id", "text", "source"),
        "doc_id", "text", "source", alpha = 0.3, budgetFraction = 0.5)
      .select("source", "rate").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(expected("barren") == 1.0d, s"batch edge moved: $expected")
    val in = MemoryStream[(String, Long)](s)
    val q = graft.streaming.StreamingTemporal
      .temperatureMixtureRates(in.toDS(), alpha = 0.3, budgetFraction = 0.5)
      .toDF("source", "tok_total", "rate")
      .writeStream.format("memory").queryName("stream_rates_zero")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(("web", 2L), ("barren", 0L))
      q.processAllAvailable()
      val got = s.table("stream_rates_zero").collect()
        .map(r => r.getString(0) -> r.getDouble(2)).toMap
      assert(got == expected, s"stream $got vs batch $expected")
    } finally q.stop()
  }

  test("streaming pack assignments: cross-batch chunk continuation matches the incremental batch operator") {
    // StreamingTemporal.packAssignments over micro-batches B0, B1 must
    // assign exactly the chunks the batch chain packSequences(B0) →
    // packSequencesIncremental(B1) assigns — the boundary window
    // genuinely continued, per-chunk aggregates identical.
    val s = spark
    import s.implicits._
    val cap = 64.0
    def nTokOf(i: Long): Long = 5L + (i % 17)
    def docsOf(ids: Seq[Long]) =
      ids.map(i => (i, (1L to nTokOf(i)).map(j => s"w$j").mkString(" ")))
        .toDF("id", "body")
    val b0 = (1L to 40L); val b1 = (41L to 70L)
    val prior = graft.operators.PipelineOps
      .packSequences(docsOf(b0), "id", "body", cap)
    val batchRef = graft.operators.PipelineOps
      .packSequencesIncremental(prior, docsOf(b1), "id", "body", cap)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap

    val in = MemoryStream[(Long, Long)](s)
    val q = graft.streaming.StreamingTemporal
      .packAssignments(in.toDS(), cap)
      .toDF("doc_id", "n_tok", "chunk")
      .writeStream.format("memory").queryName("stream_pack")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(b0.map(i => (i, nTokOf(i))): _*)
      q.processAllAvailable()
      val chunksAfterB0 = s.table("stream_pack").collect()
        .map(_.getLong(2)).toSet
      in.addData(b1.map(i => (i, nTokOf(i))): _*)
      q.processAllAvailable()
      val rows = s.table("stream_pack").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // per-chunk aggregates of the stream assignments = the batch
      // incremental manifest, row for row
      val got = rows.groupBy(_._3).map { case (c, rs) =>
        c -> (rs.length.toLong, rs.map(_._2).sum, rs.map(_._1).min,
          rs.map(_._1).max)
      }
      assert(got == batchRef, s"stream $got vs batch $batchRef")
      // batch 1 continued batch 0's partially-filled boundary window
      val b1Chunks = rows.filter(_._1 > 40L).map(_._3).toSet
      assert(b1Chunks.contains(chunksAfterB0.max),
        "second micro-batch did not continue the boundary window")
    } finally q.stop()
  }

  test("streaming packWindows emits exactly the batch chain's closed windows") {
    // StreamingTemporal.packWindows over micro-batches B0, B1 must emit
    // precisely the is_partial=false rows of packExamples(B0) →
    // packExamplesIncremental(B1) — the immutable windows a trainer can
    // already read; the open tail stays in the cursor's bounded state.
    val s = spark
    import s.implicits._
    val cap = 16L
    def toksOf(i: Long): Seq[String] =
      (1L to (3L + i % 9)).map(j => s"w${i}x$j")
    def docsOf(ids: Seq[Long]) =
      ids.map(i => (i, toksOf(i).mkString(" "))).toDF("id", "body")
    val b0 = (1L to 20L); val b1 = (21L to 40L)
    val batchRef = graft.operators.PipelineOps.packExamplesIncremental(
      graft.operators.PipelineOps.packExamples(
        docsOf(b0), "id", "body", cap),
      docsOf(b1), "id", "body", cap)
      .filter(!col("is_partial"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4), r.getString(5), r.getBoolean(6)))
      .sortBy(_._1).toSeq
    val in = MemoryStream[(Long, Seq[String])](s)
    val q = graft.streaming.StreamingTemporal.packWindows(in.toDS(), cap)
      .toDF("chunk", "n_segs", "n_tokens", "doc_ids", "doc_starts",
        "chunk_text", "is_partial")
      .writeStream.format("memory").queryName("stream_windows")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(b0.map(i => (i, toksOf(i))): _*)
      q.processAllAvailable()
      val afterB0 = s.table("stream_windows").count()
      in.addData(b1.map(i => (i, toksOf(i))): _*)
      q.processAllAvailable()
      val rows = s.table("stream_windows").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getString(4), r.getString(5), r.getBoolean(6)))
        .sortBy(_._1).toSeq
      assert(rows == batchRef, s"stream $rows\nvs batch $batchRef")
      // the first window the SECOND trigger closed mixes both batches:
      // its doc lineage carries batch-0 ids (the open tail it inherited)
      // and batch-1 ids (the tokens that closed it)
      val boundaryIds = rows(afterB0.toInt)._4.split(",").map(_.toLong)
      assert(afterB0 < rows.length &&
        boundaryIds.exists(b0.contains) && boundaryIds.exists(b1.contains),
        s"boundary window does not mix both batches: ${rows(afterB0.toInt)}")
    } finally q.stop()
  }

  test("trainReady streaming cursor: micro-batch ingests equal the chained batch build; pinned state bounded") {
    // the composed build's streaming twin (VERDICT r12 #4): per
    // micro-batch, new docs fated against the persisted artifacts with
    // the pack cursor + rank block continued — must equal chaining
    // trainReadyIncremental over the same batch split on the planted
    // fixture (same fates as the ApiSpec chain test), with pinned
    // storage constant across ingests (the three standing artifacts,
    // never the ingest history)
    val s = spark
    import s.implicits._
    def words(prefix: String, n: Int): Seq[String] =
      (0 until n).map(i => f"$prefix$i%02d")
    def clean(prefix: String): String =
      ("the" +: words(prefix, 31) :+ "and").mkString(" ")
    def nearDupOf(prefix: String, tail: String): String =
      ("the" +: (words(prefix, 28) ++ words(tail, 3)) :+ "and").mkString(" ")
    val c0 = Seq(
      (2L, clean("alpha")), (4L, clean("beta")), (7L, clean("delta")))
    val benchRows = Seq(
      (100L, (words("bench", 5) ++ words("gamma", 8) ++ words("bench2", 5))
        .mkString(" ")))
    val c1 = Seq(
      (11L, "too short"),
      (12L, clean("alpha")),
      (13L, nearDupOf("beta", "zz")),
      (14L, clean("gamma")),
      (15L, clean("epsil")))
    val c2 = Seq(
      (21L, clean("epsil")),
      (22L, nearDupOf("delta", "xx")),
      (23L, clean("zetaa")),
      (24L, clean("eta")),
      (25L, nearDupOf("eta", "yy")))
    val cap = 40.0
    def df(b: Seq[(Long, String)]) = b.toDF("id", "body")
    val bench = df(benchRows)
    val m0 = graft.operators.PipelineOps
      .trainReady(df(c0), bench, "id", "body", cap = cap)
    val m1 = graft.operators.PipelineOps
      .trainReadyIncremental(m0, df(c0), df(c1), bench,
        "id", "body", cap = cap)
    val m2 = graft.operators.PipelineOps
      .trainReadyIncremental(m1, df(c0).unionByName(df(c1)), df(c2),
        bench, "id", "body", cap = cap)
    def rowsOf(dfr: org.apache.spark.sql.DataFrame) =
      dfr.collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).sortBy(_._1).toSeq
    val cursor = graft.streaming.TrainReadyCursor(
      m0, df(c0), bench, "id", "body", cap = cap)
    val in = MemoryStream[(Long, String)](s)
    val q = cursor.attach(in.toDF().toDF("id", "body"))
    try {
      in.addData(c1: _*)
      q.processAllAvailable()
      assert(rowsOf(cursor.manifest) == rowsOf(m1),
        "first micro-batch diverged from the batch chain")
      val pinnedAfter1 = s.sparkContext.getPersistentRDDs.size
      in.addData(c2: _*)
      q.processAllAvailable()
      assert(rowsOf(cursor.manifest) == rowsOf(m2),
        "second micro-batch diverged from the batch chain")
      assert(cursor.docCount == 13L,
        s"cursor corpus count drifted: ${cursor.docCount}")
      // bounded state: the second ingest released everything the first
      // left behind except the advanced artifacts — pinned blocks do
      // NOT grow with the number of ingests
      val pinnedAfter2 = s.sparkContext.getPersistentRDDs.size
      assert(pinnedAfter2 <= pinnedAfter1,
        s"pinned RDDs grew across ingests: $pinnedAfter1 -> $pinnedAfter2")
      // the standing PROFILE advanced with the corpus (r15): every
      // sketch estimate equals a from-scratch pass over everything
      // delivered — the Run ingest's profile guarantee, in-cursor
      val whole = df(c0).unionByName(df(c1)).unionByName(df(c2))
      val (nTok, _, candsC) = graft.functions.FreqItems
        .decode(cursor.tokenSketch, 1L)
      val (nTokW, _, candsW) = graft.functions.FreqItems.decode(
        graft.operators.TextOps.tokenSketchBytes(whole, "body")
          .head().getAs[Array[Byte]]("sk"), 1L)
      assert(nTok == nTokW &&
        candsC.map(c => c.item -> c.est).toMap ==
          candsW.map(c => c.item -> c.est).toMap,
        s"cursor token profile diverged: $nTok vs $nTokW")
      import graft.operators.RelationalOps
      def lq(d: org.apache.spark.sql.DataFrame) = RelationalOps
        .quantileSketchEstimate(d, "grp", Seq(0.5, 0.9))
        .collect().map(_.toString).toSeq
      assert(lq(cursor.lenQuantiles) == lq(RelationalOps.quantileSketch(
        graft.operators.TextOps.tokenCounts(whole, "id", "body")
          .withColumn("grp", lit("all")), "grp", "n_tok")),
        "cursor length profile diverged from from-scratch")
      val dEst = RelationalOps
        .distinctSketchEstimate(cursor.distinctContent, "grp")
        .head().getLong(1)
      // 13 docs, 2 exact dups planted (12=2's alpha, 21=15's epsil)
      assert(dEst == 11L, s"cursor content profile: $dEst distinct")
      // the standing cluster-label table advanced with the corpus
      // (VERDICT r16 #2): after both micro-batches it equals a
      // from-scratch connectedComponents over the union's pairs
      // bit-for-bit — the Run ingest's index/cluster_labels guarantee,
      // in-cursor (and since the cursor fates FROM the same upsert, this
      // also re-proves the shared-run fate path against the manifest
      // parity asserted above)
      val scratch = graft.operators.DedupOps.connectedComponents(
        graft.operators.DedupOps.ngramJaccardPairs(
          whole.select(col("id").as("doc_id"), col("body").as("text")),
          "doc_id", "text", 0.1),
        "da", "db")
      assert(cursor.clusterLabels.collect().map(_.toString).sorted.toSeq ==
        scratch.collect().map(_.toString).sorted.toSeq,
        "cursor standing labels diverged from a from-scratch re-cluster")
      // the monitoring loop: the cursor's standing bytes feed the
      // bytes-only drift report directly (last ingest vs the corpus) —
      // no corpus pass, kilobytes in, a ranked report out
      val rep = graft.operators.TextOps.tokenDivergenceSketch(s,
        cursor.tokenSketch,
        graft.operators.TextOps.tokenSketchBytes(df(c2), "body")
          .head().getAs[Array[Byte]]("sk"), topK = 5)
      assert(rep.count() == 5 && rep.columns.toSeq ==
        Seq("tok", "n_a", "n_b", "js_contrib"),
        s"drift report shape: ${rep.columns.toSeq}")
    } finally q.stop()
  }

  test("TrainReadyCursor.close releases every block pinned since the open") {
    val s = spark
    import s.implicits._
    def clean(prefix: String): String =
      ("the" +: (0 until 31).map(i => f"$prefix$i%02d") :+ "and")
        .mkString(" ")
    def df(b: Seq[(Long, String, String)]) = b.toDF("id", "body", "src")
    val c0 = df(Seq((2L, clean("alpha"), "web"), (4L, clean("beta"), "web")))
    val bench = Seq((100L, clean("bench"))).toDF("id", "body")
    // the prior build materializes (and pins what it pins) before the
    // open, so everything pinned after it is the cursor's
    val m0 = graft.operators.PipelineOps
      .trainReady(c0, bench, "id", "body", cap = 40.0).localCheckpoint(true)
    val before = s.sparkContext.getPersistentRDDs.keySet
    val cursor = graft.streaming.TrainReadyCursor(m0, c0, bench, "id",
      "body", cap = 40.0, profileSource = Some("src"))
    cursor.ingest(df(Seq((12L, clean("alpha"), "books"),
      (13L, clean("gamma"), "web"))))
    assert(cursor.docCount == 4L)
    cursor.close()
    val left = s.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"closed cursor left RDDs pinned: $left")
    cursor.close()
    intercept[IllegalArgumentException](cursor.ingest(c0))
  }

  test("cursor per-source profile: advanced sketches == from-scratch, new sources join mid-stream (VERDICT r15 #5)") {
    // the Run ingest's stats/source_* dimension, in-cursor: a cursor
    // opened with profileSource maintains per-source distinct-content
    // and length sketches, advanced per micro-batch by the same
    // group-keyed merges as the global profile — estimates equal a
    // from-scratch pass over everything delivered, including a source
    // first seen mid-stream.
    val s = spark
    import s.implicits._
    def words(prefix: String, n: Int): Seq[String] =
      (0 until n).map(i => f"$prefix$i%02d")
    def clean(prefix: String): String =
      ("the" +: words(prefix, 31) :+ "and").mkString(" ")
    val c0 = Seq((2L, clean("alpha"), "web"), (4L, clean("beta"), "web"))
    val c1 = Seq(
      (12L, clean("alpha"), "books"), // cross-source duplicate content
      (13L, clean("gamma"), "web"))
    val c2 = Seq(
      (21L, clean("delta") + " long tail extra tokens here", "forums"),
      (22L, clean("eta"), "books"))
    val bench = Seq(
      (100L, words("bench", 20).mkString(" "))).toDF("id", "body")
    def df(b: Seq[(Long, String, String)]) = b.toDF("id", "body", "src")
    val m0 = graft.operators.PipelineOps
      .trainReady(df(c0), bench, "id", "body", cap = 40.0)
    val cursor = graft.streaming.TrainReadyCursor(
      m0, df(c0), bench, "id", "body", cap = 40.0,
      profileSource = Some("src"))
    val in = MemoryStream[(Long, String, String)](s)
    val q = cursor.attach(in.toDF().toDF("id", "body", "src"))
    try {
      in.addData(c1: _*); q.processAllAvailable()
      in.addData(c2: _*); q.processAllAvailable()
      import graft.operators.RelationalOps
      val whole = df(c0).unionByName(df(c1)).unionByName(df(c2))
      // per-source distinct content: advanced == from-scratch, and the
      // values are the exact per-source cardinalities (exact regime);
      // the cross-source duplicate (12 repeats 2's content) counts as
      // distinct WITHIN books
      def dMap(d: org.apache.spark.sql.DataFrame) = RelationalOps
        .distinctSketchEstimate(d, "grp")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val fromScratchD = dMap(RelationalOps.distinctSketch(
        whole.select(col("src").cast("string").as("grp"),
          md5(col("body").cast("binary")).as("h")), "grp", "h"))
      assert(dMap(cursor.sourceDistinct.get) == fromScratchD &&
        fromScratchD == Map("web" -> 3L, "books" -> 2L, "forums" -> 1L),
        s"per-source distinct: ${dMap(cursor.sourceDistinct.get)} vs " +
          s"$fromScratchD")
      // per-source length profile: advanced == from-scratch
      def lMap(d: org.apache.spark.sql.DataFrame) = RelationalOps
        .quantileSketchEstimate(d, "grp", Seq(0.5, 0.95))
        .collect().map(_.toString).sorted.toSeq
      val fromScratchL = lMap(RelationalOps.quantileSketch(
        graft.operators.TextOps.tokenCounts(whole, "src", "body")
          .select(col("doc_id").cast("string").as("grp"), col("n_tok")),
        "grp", "n_tok"))
      assert(lMap(cursor.sourceLen.get) == fromScratchL,
        s"per-source length profile diverged: " +
          s"${lMap(cursor.sourceLen.get)} vs $fromScratchL")
      // the global profile is maintained alongside, unchanged semantics
      assert(RelationalOps
        .distinctSketchEstimate(cursor.distinctContent, "grp")
        .head().getLong(1) == 5L, "global profile must see 5 distinct")
      // a cursor opened WITHOUT profileSource carries no per-source state
      val plain = graft.streaming.TrainReadyCursor(
        m0, df(c0), bench, "id", "body", cap = 40.0)
      assert(plain.sourceDistinct.isEmpty && plain.sourceLen.isEmpty)
    } finally q.stop()
  }

  test("distinct sketches advance through a streaming ingest: merged standing table == batch") {
    // the HLL-bytes ingest story end-to-end: each micro-batch sketches
    // ONLY its rows (RelationalOps.distinctSketch) and the standing
    // table advances by a register-level union in foreachBatch — the
    // TrainReadyCursor artifact pattern applied to cardinality. After
    // the last batch the standing estimates must equal a from-scratch
    // sketch of everything delivered (HLL registers max-merge).
    val s = spark
    import s.implicits._
    import graft.operators.RelationalOps
    val in = MemoryStream[(String, Long)](s)
    var standing: Option[org.apache.spark.sql.DataFrame] = None
    val q = in.toDS().toDF("cat", "member")
      .writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val inc = RelationalOps.distinctSketch(batch, "cat", "member")
        // the standing table is a tiny persisted artifact in production;
        // localCheckpoint stands in for the parquet round-trip here
        standing = Some(standing
          .map(st => RelationalOps.distinctSketchMerge(st, inc, "cat"))
          .getOrElse(inc)
          .localCheckpoint(true))
      }
      .start()
    try {
      val batches = Seq(
        Seq(("x", 1L), ("x", 2L), ("y", 7L)),
        Seq(("x", 2L), ("x", 3L), ("z", 1L)),
        Seq(("y", 7L), ("y", 8L), ("x", 1L)))
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      val streamed = RelationalOps
        .distinctSketchEstimate(standing.get, "cat")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val direct = RelationalOps.distinctSketchEstimate(
        RelationalOps.distinctSketch(
          batches.flatten.toDF("cat", "member"), "cat", "member"), "cat")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed == direct && streamed == Map(
        "x" -> 3L, "y" -> 2L, "z" -> 1L),
        s"streamed $streamed vs direct $direct")
    } finally q.stop()
  }

  test("quantile sketches advance through a streaming ingest: merged standing table == batch") {
    // the KLL-bytes ingest story end-to-end (r15, completing the
    // mergeable-sketch family): each micro-batch sketches ONLY its rows
    // (RelationalOps.quantileSketch) and the standing table advances by
    // a sketch-level merge in foreachBatch. Exact-regime data (union ≤
    // k per group, no compaction randomness), so the standing estimates
    // must equal a from-scratch sketch of everything delivered — and
    // both the exact quantiles.
    val s = spark
    import s.implicits._
    import graft.operators.RelationalOps
    val in = MemoryStream[(String, Double)](s)
    var standing: Option[org.apache.spark.sql.DataFrame] = None
    val q = in.toDS().toDF("cat", "score")
      .writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val inc = RelationalOps.quantileSketch(batch, "cat", "score")
        standing = Some(standing
          .map(st => RelationalOps.quantileSketchMerge(st, inc, "cat"))
          .getOrElse(inc)
          .localCheckpoint(true))
      }
      .start()
    try {
      val batches = Seq(
        (1 to 30).map(i => ("x", i.toDouble)),
        (31 to 70).map(i => ("x", i.toDouble)) :+ ("y", 5.0),
        (71 to 100).map(i => ("x", i.toDouble)) :+ ("y", 15.0))
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      val qs = Seq(0.5, 0.9)
      def read(d: org.apache.spark.sql.DataFrame) =
        RelationalOps.quantileSketchEstimate(d, "cat", qs)
          .collect().map(r => r.getString(0) ->
            (r.getDouble(1), r.getDouble(2))).toMap
      val streamed = read(standing.get)
      val direct = read(RelationalOps.quantileSketch(
        batches.flatten.toDF("cat", "score"), "cat", "score"))
      assert(streamed == direct &&
        streamed("x") == ((50.0, 90.0)) &&
        streamed("y") == ((5.0, 15.0)),
        s"streamed $streamed vs direct $direct")
    } finally q.stop()
  }

  test("frequent-items sketch advances through a streaming ingest: merged bytes keep the guarantees") {
    // the estimate-grade refresh path graft.Run's stats scaladoc names:
    // per micro-batch, FreqItems.freqItemsAgg sketches ONLY the batch
    // and the standing BYTES advance via FreqItems.mergeBytes — after
    // the last batch the standing sketch must carry the whole delivered
    // stream (length exact, every above-band item retained with its
    // true count inside [lb, ub]).
    val s = spark
    import s.implicits._
    import graft.functions.FreqItems
    val in = MemoryStream[String](s)
    var standing: Option[Array[Byte]] = None
    val q = in.toDS().toDF("v")
      .writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val b = batch
          .agg(FreqItems.freqItemsAgg(col("v"), 32)).head()
          .getAs[Array[Byte]](0)
        standing = Some(standing.map(FreqItems.mergeBytes(_, b)).getOrElse(b))
      }
      .start()
    try {
      val batches = Seq(
        Seq.fill(30)("hot") ++ (0 until 40).map(i => s"a$i"),
        Seq.fill(25)("hot") ++ Seq.fill(20)("warm"),
        (0 until 40).map(i => s"b$i") ++ Seq.fill(10)("warm"))
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      val all = batches.flatten
      val exact = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val (n, maxErr, cands) = FreqItems.decode(standing.get, threshold = 1L)
      assert(n == all.size.toLong, s"stream length $n != ${all.size}")
      val cm = cands.map(c => c.item -> c).toMap
      exact.filter(_._2 > maxErr).foreach { case (it, cnt) =>
        val c = cm.getOrElse(it,
          fail(s"$it (count $cnt > maxErr $maxErr) lost across batches"))
        assert(c.lb <= cnt && cnt <= c.ub,
          s"$it: exact $cnt outside [${c.lb}, ${c.ub}]")
      }
      assert(Seq("hot", "warm").forall(cm.contains),
        s"planted heavy hitters missing: ${cm.keySet}")
    } finally q.stop()
  }

  test("cursor df-cap tier guard: a real 50k crossing flags; close -> recluster -> overRun reopen == from-scratch labels (VERDICT r17 #2)") {
    val s = spark
    import s.implicits._
    def words(prefix: String, n: Int): Seq[String] =
      (0 until n).map(i => f"$prefix$i%02d")
    def clean(prefix: String): String =
      ("the" +: words(prefix, 31) :+ "and").mkString(" ")
    def nearDupOf(prefix: String, tail: String): String =
      ("the" +: (words(prefix, 28) ++ words(tail, 3)) :+ "and").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft-cursor-tier")
      .toFile.getAbsolutePath
    // a REAL crossing (the RunSpec tier fixture): 49,702 prior docs (cap
    // clamps at 100) + a 900-doc batch -> 50,602 union (cap 101). The
    // 4-token fillers produce no 8-gram shingles, so the pair machinery
    // only ever sees the planted beta cluster.
    val prior = ((0 until 49700).map(i =>
      (i.toLong, s"w${i}a w${i}b w${i}c w${i}d")) ++
      Seq((60001L, clean("beta")), (60002L, nearDupOf("beta", "zz"))))
      .toDF("id", "body")
    val batch1 = ((0 until 899).map(i =>
      (70000L + i, s"x${i}a x${i}b x${i}c x${i}d")) ++
      Seq((79000L, nearDupOf("beta", "qq")))).toDF("id", "body")
    val batch2 = Seq((80001L, nearDupOf("beta", "vv")),
      (80002L, clean("theta"))).toDF("id", "body")
    val bench = Seq((100L, words("bench", 20).mkString(" ")))
      .toDF("id", "body")
    prior.write.parquet(s"$dir/prior")
    batch1.write.parquet(s"$dir/b1")
    bench.write.parquet(s"$dir/bench")
    def exec(json: String): Unit = { Run.execute(s, Run.parseSpec(json)); () }
    def spec(mode: String, extra: String) =
      s"""{$extra "benchmark": "$dir/bench", "out": "$dir/build",
         | "id": "id", "text": "body", "cap": 64,
         | "formatter": "plain", "mode": "$mode"}""".stripMargin
    exec(spec("build", s""""corpus": "$dir/prior","""))

    // open the streaming continuation over the build directory: the
    // tier baseline bootstraps from index/_df_cap.json
    val cursor = graft.streaming.TrainReadyCursor.overRun(
      s"$dir/build", bench, id = "id", text = "body", cap = 64.0,
      formatter = "plain")
    assert(cursor.clusteredDocCount == 49702L && !cursor.capTierCrossed,
      s"baseline must come from _df_cap.json: ${cursor.clusteredDocCount}")
    assert(cursor.docCount == 49702L)
    // the crossing batch flags — and the flag LATCHES (it is the
    // operator's standing cue, not a one-shot warning)
    cursor.ingest(batch1.toDF("id", "body"))
    assert(cursor.capTierCrossed,
      "a 50k-crossing ingest must latch capTierCrossed")
    assert(cursor.docCount == 50602L)

    // recovery handoff: the same batch goes into the DIRECTORY through
    // the batch twin (the cursor advances in-memory state only), the
    // cursor is closed, recluster re-derives the labels from the
    // posting index under the current cap, and a REOPENED cursor
    // bootstraps the rebuilt table + fresh baseline
    exec(spec("ingest", s""""increment": "$dir/b1","""))
    exec(spec("recluster", ""))
    val reopened = graft.streaming.TrainReadyCursor.overRun(
      s"$dir/build", bench, id = "id", text = "body", cap = 64.0,
      formatter = "plain")
    assert(reopened.clusteredDocCount == 50602L && !reopened.capTierCrossed,
      s"recluster must re-baseline: ${reopened.clusteredDocCount}")
    // reopen parity: the reopened standing labels == a from-scratch
    // connectedComponents over the full ingested union's pairs
    val union = prior.unionByName(batch1)
    def scratchLabels(corpus: org.apache.spark.sql.DataFrame) =
      graft.operators.DedupOps.connectedComponents(
        graft.operators.DedupOps.ngramJaccardPairs(
          corpus.select(col("id").as("doc_id"), col("body").as("text")),
          "doc_id", "text", 0.1), "da", "db")
        .collect().map(_.toString).sorted.toSeq
    assert(reopened.clusterLabels.collect().map(_.toString).sorted.toSeq ==
      scratchLabels(union),
      "reopened labels != from-scratch over the ingested union")
    // and the reopened cursor CONTINUES correctly: a small next batch
    // stays under the re-baselined cap (quiet guard) and its label
    // advance still equals from-scratch over everything delivered
    reopened.ingest(batch2.toDF("id", "body"))
    assert(!reopened.capTierCrossed,
      "the re-baselined guard must stay quiet under the same tier")
    assert(reopened.clusterLabels.collect().map(_.toString).sorted.toSeq ==
      scratchLabels(union.unionByName(batch2)),
      "post-reopen label advance diverged from from-scratch")
  }

  test("overRun enforces the same-config rule and latches the tier flag on a missing baseline (ADVICE r18)") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cursor-fp")
      .toFile.getAbsolutePath
    // docs long/clean enough to survive curation (the tier-guard test's
    // doc shape) — an all-dropped corpus would leave a window-less build
    val corpus = (0 until 40)
      .map(i => (i.toLong,
        ("the" +: (0 until 31).map(w => f"w$i%02dv$w%02d") :+ "and")
          .mkString(" ")))
      .toDF("id", "body")
    val bench = Seq((100L,
      (0 until 20).map(w => s"bench$w").mkString(" "))).toDF("id", "body")
    corpus.write.parquet(s"$dir/corpus")
    bench.write.parquet(s"$dir/bench")
    Run.execute(s, Run.parseSpec(
      s"""{"corpus": "$dir/corpus", "benchmark": "$dir/bench",
         | "out": "$dir/build", "id": "id", "text": "body",
         | "cap": 64, "formatter": "plain"}""".stripMargin))
    // a mismatched reopen must FAIL FAST naming the offending field —
    // previously it silently corrupted the continuation semantics the
    // batch ingest's fingerprint check refuses
    def open(cap: Double = 64.0, formatter: String = "plain",
        minJaccard: Double = 0.1) =
      graft.streaming.TrainReadyCursor.overRun(s"$dir/build", bench,
        id = "id", text = "body", cap = cap, formatter = formatter,
        minJaccard = minJaccard)
    val eCap = intercept[IllegalArgumentException](open(cap = 4096.0))
    assert(eCap.getMessage.contains("'cap'"), eCap.getMessage)
    val eFmt = intercept[IllegalArgumentException](open(formatter = "span"))
    assert(eFmt.getMessage.contains("'formatter'"), eFmt.getMessage)
    val eMj = intercept[IllegalArgumentException](open(minJaccard = 0.5))
    assert(eMj.getMessage.contains("'minJaccard'"), eMj.getMessage)
    // the matching config still opens, with the baseline honored
    assert(!open().capTierCrossed)
    // a directory with NO _df_cap.json cannot prove no tier was ever
    // crossed — the cue must LATCH, not silently re-baseline
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$dir/build", "index", "_df_cap.json"))
    assert(open().capTierCrossed,
      "a missing _df_cap.json baseline must latch capTierCrossed")
  }

  test("Run ingest and TrainReadyCursor ingest advance one build directory identically") {
    // the batch ingest and its streaming twin run one per-increment
    // algebra: the same increment, applied once by `mode=ingest` and
    // once by a cursor opened over a copy of the same build, must leave
    // the same manifest rows, cluster labels and profile estimates
    val s = spark
    import s.implicits._
    def words(prefix: String, n: Int): Seq[String] =
      (0 until n).map(i => f"$prefix$i%02d")
    def clean(prefix: String): String =
      ("the" +: words(prefix, 31) :+ "and").mkString(" ")
    def nearDupOf(prefix: String, tail: String): String =
      ("the" +: (words(prefix, 28) ++ words(tail, 3)) :+ "and").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft-run-cursor")
      .toFile.getAbsolutePath
    val prior = Seq((1L, clean("alpha"), "web"), (2L, clean("beta"), "web"),
      (3L, clean("delta"), "books"), (4L, nearDupOf("delta", "qq"), "books"))
      .toDF("id", "body", "src")
    // an exact dup, near-dups of a prior doc and of a prior cluster, a
    // source first seen here, and a doc too short to keep
    val inc = Seq((11L, clean("alpha"), "books"),
      (12L, nearDupOf("beta", "zz"), "web"),
      (13L, nearDupOf("delta", "xx"), "books"),
      (14L, clean("gamma"), "forums"),
      (15L, "too short", "web")).toDF("id", "body", "src")
    val bench = Seq((100L, words("bench", 20).mkString(" ")))
      .toDF("id", "body")
    prior.write.parquet(s"$dir/prior")
    inc.write.parquet(s"$dir/inc")
    bench.write.parquet(s"$dir/bench")
    def spec(mode: String, extra: String) = Run.parseSpec(
      s"""{$extra "benchmark": "$dir/bench", "out": "$dir/build",
         | "id": "id", "text": "body", "cap": 64, "formatter": "plain",
         | "profileSource": "src", "mode": "$mode"}""".stripMargin)
    Run.execute(s, spec("build", s""""corpus": "$dir/prior","""))
    val copy = java.nio.file.Paths.get(s"$dir/copy")
    locally {
      import scala.jdk.CollectionConverters._
      val from = java.nio.file.Paths.get(s"$dir/build")
      val st = java.nio.file.Files.walk(from)
      try st.iterator().asScala.foreach { p =>
        val t = copy.resolve(from.relativize(p))
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
      } finally st.close()
    }
    Run.execute(s, spec("ingest", s""""increment": "$dir/inc","""))
    val cursor = graft.streaming.TrainReadyCursor.overRun(copy.toString,
      bench, id = "id", text = "body", cap = 64.0, formatter = "plain",
      profileSource = Some("src"))
    cursor.ingest(inc)

    def rows(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.collect().map(_.toString).sorted.toSeq
    def read(a: String) = s.read.parquet(s"$dir/build/$a")
    val manifest = rows(read("manifest")
      .select("doc_id", "fate", "n_tok", "chunk", "rank"))
    assert(manifest.size == 9, s"fixture: $manifest")
    assert(manifest.exists(_.contains("exact_dup")) &&
      manifest.exists(_.contains("near_dup")), s"fixture: $manifest")
    assert(rows(cursor.manifest) == manifest, "manifest rows diverged")
    val labels = rows(read("index/cluster_labels")
      .select("doc_id", "cluster_rep"))
    assert(labels.nonEmpty, "fixture: no near-dup cluster")
    assert(rows(cursor.clusterLabels) == labels, "cluster labels diverged")

    import graft.operators.RelationalOps
    def tokens(sk: Array[Byte]) = {
      val (n, err, cands) = graft.functions.FreqItems.decode(sk, 1L)
      (n, err, cands.map(c => c.item -> c.est).toMap)
    }
    assert(tokens(cursor.tokenSketch) == tokens(read("stats/token_sketch")
      .head().getAs[Array[Byte]]("sk")), "token profile diverged")
    def quantiles(d: org.apache.spark.sql.DataFrame) =
      rows(RelationalOps.quantileSketchEstimate(d, "grp", Seq(0.25, 0.5, 0.95)))
    def distinct(d: org.apache.spark.sql.DataFrame) =
      rows(RelationalOps.distinctSketchEstimate(d, "grp"))
    assert(quantiles(cursor.lenQuantiles) ==
      quantiles(read("stats/len_quantiles")), "length profile diverged")
    assert(distinct(cursor.distinctContent) ==
      distinct(read("stats/distinct_content")), "content profile diverged")
    assert(distinct(cursor.sourceDistinct.get) ==
      distinct(read("stats/source_distinct")),
      "per-source content profile diverged")
    assert(quantiles(cursor.sourceLen.get) ==
      quantiles(read("stats/source_len")),
      "per-source length profile diverged")
  }
}
