package graft

import org.apache.spark.sql.functions._

import graft.operators.GraphOps

/** [[GraphOps.pageRank]] against a sequential reference implementation.
  *
  * The reference below runs the SAME fixed-round formulation (teleport
  * (1-d)/n, edge weight 1/outdeg with parallel-edge multiplicity, sinks
  * leak) in plain driver-side doubles — so agreement checks the
  * distributed rank loop, not a restatement of it. Tolerance 1e-12:
  * the operator accumulates in exact decimals, the reference in doubles,
  * so bits differ at the last few places of a ~1e-1 value.
  */
class GraphSpec extends SparkSpec {

  /** Sequential PageRank; edges as (src, dst) with multiplicity. */
  private def refPageRank(edges: Seq[(String, String)], damping: Double,
      iters: Int): Map[String, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toDouble
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size }
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map(e => r(e._1) / outdeg(e._1)).sum
      }
      r = nodes.map(v =>
        v -> ((1 - damping) / n + damping * in.getOrElse(v, 0.0))).toMap
    }
    r
  }

  private def run(edges: Seq[(String, String)], damping: Double = 0.85,
      iters: Int = 10): Map[String, Double] = {
    val s = spark
    import s.implicits._
    GraphOps.pageRank(edges.toDF("from", "to"), "from", "to", damping, iters)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  // a directed graph with a hub (everyone links to d), a sink (d links
  // nowhere), a cycle, and a node reachable only by teleport
  private val directed = Seq(
    "a" -> "b", "b" -> "c", "c" -> "a", // cycle
    "a" -> "d", "b" -> "d", "c" -> "d", // hub in-links
    "e" -> "a") // e has no in-links (teleport only); d is a sink

  test("pageRank matches the sequential reference on a directed graph") {
    val got = run(directed)
    val want = refPageRank(directed, 0.85, 10)
    assert(got.keySet == want.keySet)
    for ((v, w) <- want)
      assert(math.abs(got(v) - w) < 1e-12, s"node $v: ${got(v)} vs $w")
    // structure sanity: the hub outranks everything; the teleport-only
    // node ranks lowest
    assert(got("d") == got.values.max)
    assert(got("e") == got.values.min)
  }

  test("parallel edges weight their endpoint with multiplicity") {
    val multi = Seq("a" -> "b", "a" -> "b", "a" -> "c", "b" -> "a", "c" -> "a")
    val got = run(multi)
    val want = refPageRank(multi, 0.85, 10)
    for ((v, w) <- want)
      assert(math.abs(got(v) - w) < 1e-12, s"node $v: ${got(v)} vs $w")
    // the doubled edge pushes 2/3 of a's mass to b: b must outrank c
    assert(got("b") > got("c"))
  }

  test("mass is conserved on a symmetric graph, leaks below 1 with a sink") {
    val sym = directed.flatMap(e => Seq(e, e.swap))
    assert(math.abs(run(sym).values.sum - 1.0) < 1e-9)
    val leaky = run(directed).values.sum
    assert(leaky < 1.0 - 1e-3, s"sink should leak mass, total $leaky")
  }

  test("pageRank is deterministic across runs") {
    val a = run(directed, damping = 0.7, iters = 5)
    val b = run(directed, damping = 0.7, iters = 5)
    assert(a == b) // bit-identical, not just close
  }

  /** Sequential personalized PageRank: teleport p(v) = prefs normalized
    * over graph nodes; init = p. */
  private def refPersonalized(edges: Seq[(String, String)],
      prefs: Map[String, Double], damping: Double,
      iters: Int): Map[String, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val tot = nodes.flatMap(prefs.get).sum
    val p = nodes.map(v => v -> prefs.getOrElse(v, 0.0) / tot).toMap
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size }
    var r = p
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map(e => r(e._1) / outdeg(e._1)).sum
      }
      r = nodes.map(v =>
        v -> ((1 - damping) * p(v) + damping * in.getOrElse(v, 0.0))).toMap
    }
    r
  }

  test("personalizedPageRank matches the reference and concentrates mass at the seed") {
    val s = spark
    import s.implicits._
    val prefs = Seq(("a", 1.0)).toDF("node", "w")
    val got = GraphOps.personalizedPageRank(
      directed.toDF("from", "to"), "from", "to", prefs, "node", "w")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = refPersonalized(directed, Map("a" -> 1.0), 0.85, 10)
    assert(got.keySet == want.keySet)
    for ((v, w) <- want)
      assert(math.abs(got(v) - w) < 1e-12, s"node $v: ${got(v)} vs $w")
    // seed bias: a holds more mass than under the uniform teleport, and
    // the teleport-only node e (unreachable from a's walk) drops to 0
    assert(got("a") > run(directed)("a"))
    assert(got("e") == 0.0)
  }

  test("uniform personalization reproduces plain pageRank (r9 grid)") {
    val s = spark
    import s.implicits._
    val nodes = (directed.map(_._1) ++ directed.map(_._2)).distinct
    val prefs = nodes.map(_ -> 1.0).toDF("node", "w")
    val per = GraphOps.personalizedPageRank(
      directed.toDF("from", "to"), "from", "to", prefs, "node", "w")
      .collect().map(r => r.getString(0) -> math.rint(r.getDouble(1) * 1e9))
      .toMap
    val uni = run(directed)
      .map { case (v, r) => v -> math.rint(r * 1e9) }
    assert(per == uni)
  }

  test("pageRankDeltas: L1 movement contracts; ranks bit-match pageRank") {
    val s = spark
    import s.implicits._
    val (df, deltas) = GraphOps.pageRankDeltas(
      directed.toDF("from", "to"), "from", "to")
    assert(deltas.length == 10)
    assert(deltas.forall(_ > 0))
    // power iteration contracts ||r_k - r_(k-1)||_1 by <= damping per
    // round (sinks only leak, never amplify)
    deltas.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a * 0.85 + 1e-15, s"non-contracting step: $a -> $b")
    }
    val got = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == run(directed)) // checkpoint cadence never affects values
  }

  test("Exact matches Spark's DOUBLE <-> DECIMAL(38,18) casts and its exact decimal sum") {
    // the loop's per-edge arithmetic must be the cast the DuckDB oracle
    // and the Catalyst round it replaced both apply: sampled across
    // magnitudes, signs, and the long/BigDecimal boundary of the sum
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val rnd = new scala.util.Random(17)
    val xs = Seq(0.0, -0.0, 1.0 / 3, 2.0 / 3, 0.15 / 7, 1e-18, 5e-19, 4.9e-19,
      9.223372036854775807, 9.3, 123456789.123456789, 9.9e19) ++
      Seq.fill(400)(rnd.nextDouble() * math.pow(10, rnd.nextInt(40) - 20) *
        (if (rnd.nextBoolean()) 1 else -1)).filter(x => math.abs(x) < 1e20)
    val dec = col("x").cast(DecimalType(38, 18))
    val want = xs.toDF("x").select(col("x"), dec, dec.cast("double"))
      .collect()
    for (r <- want) {
      val e = GraphOps.Exact(r.getDouble(0))
      assert(e.toBig == r.getDecimal(1), s"cast of ${r.getDouble(0)}: " +
        s"${e.toBig} vs ${r.getDecimal(1)}")
      assert(e.toDouble.equals(r.getDouble(2)), s"round trip of ${r.getDouble(0)}")
    }
    // sums crossing Long.MaxValue unscaled (≈ 9.22 at scale 18) both ways
    val terms = Seq(5.0, 4.5, -3.25, 8.0, -9.1, 1e-18, 1.0 / 7)
    val total = terms.toDF("x").agg(sum(dec).cast("double")).head()
      .getDouble(0)
    assert(terms.map(GraphOps.Exact(_)).reduce(_ + _).toDouble.equals(total))
    assert(terms.reverse.map(GraphOps.Exact(_)).reduce(_ + _).toDouble
      .equals(total))
    assert(intercept[ArithmeticException](GraphOps.Exact(1e21)).getMessage
      .contains("DECIMAL(38,18)"))
  }

  test("ranks are bit-identical to the Catalyst join + aggregate round formulation") {
    // the formulation the RDD loop replaced (and the oracle's CTE):
    // per round, join the ranks to the influence relation (with
    // zero-weight self-edges for in-link-free nodes), sum the
    // DECIMAL(38,18) products per destination, add the teleport term.
    // Heavy weights push products and sums past the unscaled-long range.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val edges = (directed ++ Seq("a" -> "b")).toDF("from", "to")
    val heavy = Seq(("a", "b", 7.5), ("a", "d", 0.3), ("b", "c", 11.0),
      ("b", "d", 1.0 / 3), ("c", "a", 2.5), ("e", "a", 1.0), ("e", "e", 0.2))
      .toDF("from", "to", "w")
    def catalyst(infl: org.apache.spark.sql.DataFrame, iters: Int) = {
      val w = infl.toDF("__s", "__d", "__w")
      val nodes = w.select(col("__s").as("__v"))
        .union(w.select(col("__d").as("__v"))).distinct()
      val n = nodes.count().toDouble
      val self = nodes.join(w.select(col("__d").as("__v")), Seq("__v"),
        "left_anti").select(col("__v").as("__s"), col("__v").as("__d"),
        lit(0.0).as("__w"))
      val all = w.unionByName(self)
      var r = nodes.select(col("__v"), (lit(1.0) / lit(n)).as("__r"))
      for (_ <- 1 to iters)
        r = all.join(r, col("__s") === col("__v")).groupBy(col("__d"))
          .agg(sum((col("__r") * col("__w")).cast(DecimalType(38, 18)))
            .as("__acc"))
          .select(col("__d").as("__v"), (lit(1 - 0.85) / lit(n) +
            lit(0.85) * col("__acc").cast("double")).as("__r"))
          .localCheckpoint()
      r.collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    }
    def loop(infl: org.apache.spark.sql.DataFrame, iters: Int) =
      GraphOps.pageRank(edges, "from", "to", iters = iters,
        influence = Some(infl))
        .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    val uniform = GraphOps.influenceRelation(edges, "from", "to")
    assert(loop(uniform, 10) == catalyst(uniform, 10))
    assert(loop(heavy, 4) == catalyst(heavy, 4))
    assert(loop(heavy, 4).values.exists(_ > 100), "weights too light")
  }

  test("personalization guards fire with actionable messages") {
    val s = spark
    import s.implicits._
    val df = Seq("a" -> "b").toDF("from", "to")
    val e1 = intercept[IllegalArgumentException](
      GraphOps.personalizedPageRank(df, "from", "to",
        Seq(("a", 1.0)).toDF("node", "w"), "nope", "w"))
    assert(e1.getMessage.contains("no column 'nope'"))
    val e2 = intercept[IllegalArgumentException](
      GraphOps.personalizedPageRank(df, "from", "to",
        Seq(("zzz", 1.0)).toDF("node", "w"), "node", "w"))
    assert(e2.getMessage.contains("no graph nodes"))
    val e3 = intercept[IllegalArgumentException](
      GraphOps.personalizedPageRank(df, "from", "to",
        Seq(("a", -1.0)).toDF("node", "w"), "node", "w"))
    assert(e3.getMessage.contains("nonnegative"))
  }

  test("pageRankManaged: release() returns pinned blocks to baseline") {
    val s = spark
    import s.implicits._
    // run the unmanaged comparison FIRST — it pins blocks by contract,
    // and they must not be confused with the managed runs' accounting
    val expected = run(directed)
    val expectedP = GraphOps.personalizedPageRank(
      directed.toDF("from", "to"), "from", "to",
      Seq(("a", 1.0)).toDF("node", "w"), "node", "w")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // sweep everything pinned so far so the baseline is clean
    s.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val baseline = s.sparkContext.getPersistentRDDs.size
    val run1 = GraphOps.pageRankManaged(
      directed.toDF("from", "to"), "from", "to")
    val got = run1.ranks.collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // the run pins blocks (influence relation at minimum) while live...
    assert(s.sparkContext.getPersistentRDDs.size > baseline)
    // ...and the values are the same computation as the unmanaged form
    assert(got == expected)
    run1.release()
    assert(s.sparkContext.getPersistentRDDs.size == baseline,
      "release() must free every block the run pinned")
    run1.release() // idempotent
    assert(s.sparkContext.getPersistentRDDs.size == baseline)
    // managed personalized variant: same contract
    val run2 = GraphOps.personalizedPageRankManaged(
      directed.toDF("from", "to"), "from", "to",
      Seq(("a", 1.0)).toDF("node", "w"), "node", "w")
    val gotP = run2.ranks.collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(gotP == expectedP)
    run2.release()
    assert(s.sparkContext.getPersistentRDDs.size == baseline,
      "personalized release() must free every block the run pinned")
  }

  test("duplicate pref rows sum to a deterministic per-node weight") {
    val s = spark
    import s.implicits._
    val df = directed.toDF("from", "to")
    // a named twice at 0.5 must equal a named once at 1.0 — and be
    // bit-deterministic (the weights run through the Det decimal grid,
    // not an order-dependent double sum; ADVICE r9)
    val split = GraphOps.personalizedPageRank(df, "from", "to",
      Seq(("a", 0.5), ("a", 0.5), ("b", 1.0)).toDF("node", "w"), "node", "w")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val whole = GraphOps.personalizedPageRank(df, "from", "to",
      Seq(("a", 1.0), ("b", 1.0)).toDF("node", "w"), "node", "w")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(split == whole)
  }

  test("guards fire with actionable messages") {
    val s = spark
    import s.implicits._
    val df = Seq("a" -> "b").toDF("from", "to")
    val e1 = intercept[IllegalArgumentException](
      GraphOps.pageRank(df, "nope", "to"))
    assert(e1.getMessage.contains("no column 'nope'"))
    val e2 = intercept[IllegalArgumentException](
      GraphOps.pageRank(df, "from", "to", damping = 1.0))
    assert(e2.getMessage.contains("damping"))
    val e3 = intercept[IllegalArgumentException](
      GraphOps.pageRank(df, "from", "to", iters = 0))
    assert(e3.getMessage.contains("iters"))
  }

  test("precomputed influenceRelation: parquet round-trip is bit-identical for pageRank, ppr, and deltas (VERDICT r17 #6)") {
    // the shared-prefix memo contract: a rank run fed the persisted
    // influence relation must be BIT-identical to the in-run derivation
    // — w is the same 1.0/count double, parquet round-trips doubles
    // exactly, and every consumer is order-independent. Exercised
    // through a real parquet round-trip (the memo's storage), on a
    // graph with a sink, a multi-edge, and a teleport-only node so the
    // in-link-free frame and parallel-edge weighting are both covered.
    val s = spark
    import s.implicits._
    val edges = (directed ++ Seq("a" -> "b")) // parallel edge
      .toDF("from", "to")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-infl").toFile.getAbsolutePath
    GraphOps.influenceRelation(edges, "from", "to")
      .write.parquet(s"$dir/infl")
    val infl = s.read.parquet(s"$dir/infl")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(0), r.getDouble(1)))
        .sortBy(_._1).toSeq
    assert(rows(GraphOps.pageRank(edges, "from", "to",
        influence = Some(infl))) ==
      rows(GraphOps.pageRank(edges, "from", "to")),
      "pageRank with precomputed influence diverged")
    val prefs = Seq(("a", 1.0), ("d", 2.0)).toDF("n", "wt")
    assert(rows(GraphOps.personalizedPageRank(edges, "from", "to",
        prefs, "n", "wt", influence = Some(infl))) ==
      rows(GraphOps.personalizedPageRank(edges, "from", "to",
        prefs, "n", "wt")),
      "personalizedPageRank with precomputed influence diverged")
    val (dPlain, deltasPlain) = GraphOps.pageRankDeltas(edges, "from", "to")
    val (dMemo, deltasMemo) = GraphOps.pageRankDeltas(edges, "from", "to",
      influence = Some(infl))
    assert(rows(dMemo) == rows(dPlain) && deltasMemo == deltasPlain,
      "pageRankDeltas with precomputed influence diverged")
    // guards: a malformed influence frame names its missing column
    val e1 = intercept[IllegalArgumentException](GraphOps.pageRank(
      edges, "from", "to", influence = Some(infl.drop("w"))))
    assert(e1.getMessage.contains("no column 'w'"))
    val e2 = intercept[IllegalArgumentException](
      GraphOps.influenceRelation(edges.withColumnRenamed("from", "w"),
        "w", "to"))
    assert(e2.getMessage.contains("reserves"))
  }

  test("managedQueries renderings are bit-identical to the plain builds Verify dumps") {
    // Bench times the managed rendering while Verify (the correctness
    // gate) dumps the plain build — if they ever diverged, the measured
    // query would no longer be the verified query. Both graph lines,
    // end to end at sf0.001, then release restores the block baseline.
    // subset, not equality (ADVICE r11): a future query adding a managed
    // rendering extends this loop's coverage instead of breaking it
    val managed = SparkEntry.all.flatMap(q => q.managed.map(q.name -> _))
    assert(Set("q_graph_pagerank", "q_graph_ppr")
      .subsetOf(managed.map(_._1).toSet),
      s"graph queries missing from managed inventory: ${managed.map(_._1)}")
    managed.foreach { case (name, mfn) =>
      // the plain build runs FIRST so any shared memo (Materialize
      // parquet) is already on disk — a memo built inside the managed
      // run's scope below would attribute ITS pins to the managed run
      val plain = SparkEntry.queries(name)(spark, sf).collect().toSeq
      // Pin accounting is ID-BASED (VERDICT r18 #2): the ids the run's
      // own scope recorded at pin time must all be unpinned after
      // release(). A global `getPersistentRDDs.size` before/after
      // comparison raced the ContextCleaner's async cleanup of EARLIER
      // suites' blocks in the shared session (the suite's only flaky
      // failure in six rounds: it could not distinguish "this run
      // leaked" from "suite-neighborhood state moved").
      val (frame, release) = mfn(spark, sf)
      val trackedIds = release match {
        case scope: graft.operators.Pins.Scope => scope.ids
        case other => fail(s"$name: managed release is not a pin scope: $other")
      }
      assert(trackedIds.nonEmpty,
        s"$name: managed run recorded no tracked checkpoints — the " +
          "release-path assertion below would be vacuous")
      val got = frame.collect().toSeq
      assert(got == plain, s"$name: managed rendering diverged")
      release()
      val leftover =
        trackedIds.intersect(spark.sparkContext.getPersistentRDDs.keySet)
      assert(leftover.isEmpty,
        s"$name: release() left this run's own blocks pinned " +
          s"(rdd ids ${leftover.toSeq.sorted.mkString(", ")})")
    }
  }
}
