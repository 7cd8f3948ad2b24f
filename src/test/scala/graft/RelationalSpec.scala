package graft

import org.apache.spark.sql.functions._

/** Accuracy check for the one no-oracle relational query: HLL++ approx
  * distinct (rsd = 0.01) against the oracle-verified exact counts. */
class RelationalSpec extends SparkSpec {

  test("percentile_approx within 1% relative error of exact per returnflag") {
    val exact = SparkEntry.queries("q_quantiles")(spark, sf)
      .select("l_returnflag", "q50", "q95")
    val approx = SparkEntry.queries("q_quantiles_approx")(spark, sf)
    val joined = exact.join(approx, "l_returnflag").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val pairs = Seq((r.getDouble(1), r.getDouble(3)), (r.getDouble(2), r.getDouble(4)))
      pairs.foreach { case (e, a) =>
        assert(math.abs(a - e) / e <= 0.01,
          s"${r.getString(0)}: approx $a vs exact $e")
      }
    }
  }

  test("approx_count_distinct within 2% of exact per event_type") {
    val exact = SparkEntry.queries("q_distinct_users")(spark, sf)
    val approx = SparkEntry.queries("q_distinct_users_approx")(spark, sf)
    val joined = exact.join(approx, "event_type")
      .select(col("event_type"), col("n_users"), col("n_users_approx"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val e = r.getLong(1).toDouble
      val a = r.getLong(2).toDouble
      assert(math.abs(a - e) / e <= 0.02,
        s"${r.getString(0)}: approx $a vs exact $e off by ${math.abs(a - e) / e}")
    }
  }

  test("distinct sketches: merged increments estimate == from-scratch, within 2% of exact") {
    import graft.operators.RelationalOps
    val ev = graft.sources.Tables(spark, sf, "events")
    // three disjoint increments advance the standing sketch pairwise —
    // the ingest regime; HLL registers max-merge, so the merged bytes
    // must carry the IDENTICAL estimate to sketching the union directly
    val parts = (0 to 2).map(i =>
      RelationalOps.distinctSketch(ev.filter(col("event_id") % 3 === i),
        "event_type", "user_id"))
    val merged = RelationalOps.distinctSketchEstimate(
      RelationalOps.distinctSketchMerge(
        RelationalOps.distinctSketchMerge(parts(0), parts(1), "event_type"),
        parts(2), "event_type"), "event_type")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = RelationalOps.distinctSketchEstimate(
      RelationalOps.distinctSketch(ev, "event_type", "user_id"),
      "event_type")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged == direct,
      s"merged-increment estimates diverged: $merged vs $direct")
    val exact = SparkEntry.queries("q_distinct_users")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged.keySet == exact.keySet)
    merged.foreach { case (k, a) =>
      val e = exact(k).toDouble
      assert(math.abs(a - e) / e <= 0.02,
        s"$k: sketch $a vs exact $e off by ${math.abs(a - e) / e}")
    }
    // the gate binding is the same composition at a 75/25 split
    val gate = SparkEntry.queries("q_distinct_incr")(spark, sf).collect()
    assert(gate.map(_.getString(0)).toSet == exact.keySet)
  }

  test("quantile sketches: exact-regime merged increments == from-scratch == exact quantiles") {
    import graft.operators.RelationalOps
    val s = spark
    import s.implicits._
    // 3 disjoint increments, union per group well inside the KLL exact
    // regime (k=2048): no compaction ever runs, so the retained items
    // ARE the stream and merged-increments must estimate IDENTICALLY to
    // the from-scratch sketch — and both identically to exact quantiles
    val rows = (1 to 900).map(i => (s"g${i % 3}", i.toDouble))
    val all = rows.toDF("grp", "v")
    val qs = Seq(0.25, 0.5, 0.75, 0.95)
    val parts = (0 to 2).map(i =>
      RelationalOps.quantileSketch(
        rows.zipWithIndex.filter(_._2 % 3 == i).map(_._1).toDF("grp", "v"),
        "grp", "v"))
    def est(d: org.apache.spark.sql.DataFrame) =
      RelationalOps.quantileSketchEstimate(d, "grp", qs)
        .collect().map(r => r.getString(0) ->
          (1 to qs.length).map(r.getDouble)).toMap
    val merged = est(RelationalOps.quantileSketchMerge(
      RelationalOps.quantileSketchMerge(parts(0), parts(1), "grp"),
      parts(2), "grp"))
    val direct = est(RelationalOps.quantileSketch(all, "grp", "v"))
    assert(merged == direct,
      s"exact-regime merged estimates diverged: $merged vs $direct")
    // exact quantiles: inclusive rank — smallest v with #(≤v)/n ≥ q
    val exact = all.collect().groupBy(_.getString(0)).map { case (g, rs) =>
      val sorted = rs.map(_.getDouble(1)).sorted
      g -> qs.map(q => sorted(math.ceil(q * sorted.length).toInt - 1))
    }
    assert(merged == exact, s"exact-regime estimates vs true: $merged vs $exact")
  }

  test("quantile sketches: compacting regime keeps the rank-error band at corpus scale") {
    import graft.operators.RelationalOps
    val ev = graft.sources.Tables(spark, sf, "events")
    val qs = Seq(0.25, 0.5, 0.75, 0.95)
    // the gate composition: standing 3/4 advanced by the 1/4 increment
    val merged = RelationalOps.quantileSketchEstimate(
      RelationalOps.quantileSketchMerge(
        RelationalOps.quantileSketch(ev.filter(col("event_id") % 4 =!= 0),
          "event_type", "value"),
        RelationalOps.quantileSketch(ev.filter(col("event_id") % 4 === 0),
          "event_type", "value"), "event_type"),
      "event_type", qs)
      .collect().map(r => r.getString(0) ->
        (1 to qs.length).map(r.getDouble)).toMap
    // KLL guarantee: the TRUE rank of each estimate is within the
    // normalized rank error of the requested rank. k=2048 → ~0.25%
    // single-sided; assert a 4x margin (1%) so the pin never flakes on
    // compaction's random offsets.
    val values = graft.sources.Tables(spark, sf, "events")
      .select("event_type", "value").collect()
      .groupBy(_.getString(0)).map { case (g, rs) =>
        g -> rs.map(_.getDouble(1)).sorted }
    assert(merged.keySet == values.keySet)
    merged.foreach { case (g, ests) =>
      val sorted = values(g)
      qs.zip(ests).foreach { case (q, e) =>
        val trueRank = sorted.count(_ <= e).toDouble / sorted.length
        assert(math.abs(trueRank - q) <= 0.01,
          s"$g p$q: estimate $e has true rank $trueRank (off by " +
            s"${math.abs(trueRank - q)})")
      }
    }
    // the gate binding returns one row per type, quantiles monotone
    val gate = SparkEntry.queries("q_quantiles_incr")(spark, sf).collect()
    assert(gate.map(_.getString(0)).toSet == values.keySet)
    gate.foreach { r =>
      val v = (1 to qs.length).map(r.getDouble)
      assert(v == v.sorted, s"non-monotone quantiles: $r")
    }
  }

  test("quantile sketches: generated streams, any split, exact-regime merge == exact quantiles") {
    // property-style coverage (the kernel-parity convention applied to
    // the sketch family): random values, random group labels, random
    // 3-way split into "ingests" — merged estimates must equal the
    // exact inclusive quantiles of the whole stream, for every group,
    // at every requested rank
    import graft.operators.RelationalOps
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val s = spark
    import s.implicits._
    val gen = for {
      n <- Gen.choose(3, 120)
      vs <- Gen.listOfN(n, Gen.choose(-1e6, 1e6))
      gs <- Gen.listOfN(n, Gen.oneOf("g0", "g1", "g2"))
      cut <- Gen.listOfN(n, Gen.choose(0, 2))
    } yield (vs, gs, cut)
    val qs = Seq(0.1, 0.5, 0.9, 1.0)
    (1 to 8).foreach { trial =>
      val (vs, gs, cut) = gen.pureApply(Gen.Parameters.default, Seed(trial))
      val rows = vs.lazyZip(gs).lazyZip(cut).toList
      val parts = (0 to 2).map(i =>
        rows.filter(_._3 == i).map(r => (r._2, r._1)))
      val sketches = parts.filter(_.nonEmpty).map(p =>
        RelationalOps.quantileSketch(p.toDF("grp", "v"), "grp", "v"))
      val merged = sketches.reduce(
        RelationalOps.quantileSketchMerge(_, _, "grp"))
      val est = RelationalOps.quantileSketchEstimate(merged, "grp", qs)
        .collect().map(r => r.getString(0) ->
          (1 to qs.length).map(r.getDouble)).toMap
      val exact = rows.groupBy(_._2).map { case (g, rs) =>
        val sorted = rs.map(_._1).sorted
        g -> qs.map(q => sorted(
          math.max(0, math.ceil(q * sorted.length).toInt - 1)))
      }
      assert(est == exact, s"trial $trial: $est vs $exact")
    }
  }
}
