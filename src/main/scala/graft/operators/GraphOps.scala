package graft.operators

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Decimal, DoubleType, StructField, StructType}

import graft.{Det, QDef}
import graft.sources.Tables

/** Graph analytics — link-based importance over an edge relation.
  *
  * Nothing graph-shaped exists in the reference (its surface is Kafka
  * message routing); PageRank is here because link-graph importance is a
  * standard corpus-quality signal in large-scale training-data curation
  * (rank a crawl's pages by the link graph, filter the tail), and because
  * the repo already has the other half of the graph toolbox
  * ([[DedupOps.connectedComponents]]).
  *
  * Scale design: classic synchronous power iteration, run as ONE
  * partitioned-RDD loop. The stationary influence relation is keyed by
  * source under one `HashPartitioner(spark.sql.shuffle.partitions)` and
  * persisted once; the V-row rank RDD lives under the same partitioner.
  * A round ([[rankRound]]) zips the two partition by partition — each
  * partition's edges stream against a hash map of that partition's rank
  * slice, so the join is narrow and no hub's out-edge list is ever
  * buffered — and emits one exact decimal contribution per edge into a
  * map-side-combined `reduceByKey` on the destination: ONE shuffle per
  * round, and no rank data leaves the executors. The teleport term is a
  * `mapValues` (uniform) or a zip against a co-partitioned V-row
  * teleport RDD (personalized), so every round's output is partitioned
  * like the edges.
  *
  * Round overhead is the cost floor at this scale, which is why the loop
  * is not a Catalyst plan: a join plus an aggregation per round pays one
  * Spark job per round exchange under AQE and re-plans the rest of the
  * plan after every stage (27 jobs for a 10-round run). The RDD rounds
  * between two lineage barriers are the stages of ONE job, so a 10-round
  * run costs the node count, one barrier and the caller's consumption
  * (5 jobs; PlanSpec pins the bound). Every pinned RDD (the influence
  * relation, the personalized teleport vector, the live barrier) goes
  * through [[Pins]]: superseded barriers are released as soon as the
  * next one is materialized, the rest with the caller's scope
  * ([[RankRun]]).
  */
object GraphOps {

  /** A completed rank computation plus the handle that frees its blocks.
    *
    * The loop leaves the persisted influence relation (plus, for the
    * personalized form, the teleport vector) and the last lineage barrier
    * pinned as persistent RDD blocks — they back `ranks`' lineage, and
    * `Dataset.unpersist()` cannot free them (`ranks` is a frame over an
    * RDD the CacheManager never cached). Lifecycle: consume `ranks`
    * (collect / write / count), then call [[release]]; after release the
    * frame CANNOT be recomputed (the barrier truncated its lineage).
    * Idempotent; releases only this run's RDDs, so concurrent runs on one
    * session are safe (ADVICE r9). */
  final class RankRun private[operators] (val ranks: DataFrame,
      scope: Pins.Scope) {
    /** Free the pinned RDDs backing [[ranks]]. Call after consuming. */
    def release(): Unit = scope.release()
  }

  /** Rounds between lineage barriers (`localCheckpoint` plus a count).
    * The rounds between two barriers run as the stages of one job; a
    * barrier bounds what a lost shuffle file recomputes and how deep a
    * DAG the scheduler walks. At 5, a 10-round run has one barrier and
    * its last five rounds run inside the caller's consumption. Values
    * never depend on the cadence. */
  private val CkptEvery = 5

  /** One influence-relation row in the loop, keyed by its source. */
  private[graft] final case class Edge(dst: Any, w: Double)

  /** An exact DECIMAL(38,18) value or partial sum: the unscaled long while
    * it fits, a BigDecimal past it (a caller's influence weights are
    * arbitrary). Addition is exact either way, so a sum does not depend
    * on the order its terms meet in — which keeps the ranks bit-stable
    * under any partitioning, as the `sum(CAST(... AS DECIMAL(38,18)))` of
    * the DuckDB oracle is. */
  private[graft] final class Exact private (private val unscaled: Long,
      private val big: java.math.BigDecimal) extends Serializable {
    def +(o: Exact): Exact =
      if (big == null && o.big == null)
        try new Exact(Math.addExact(unscaled, o.unscaled), null)
        catch { case _: ArithmeticException => Exact.of(toBig.add(o.toBig)) }
      else Exact.of(toBig.add(o.toBig))

    def toBig: java.math.BigDecimal =
      if (big != null) big
      else java.math.BigDecimal.valueOf(unscaled, Exact.Scale)

    /** Spark's DECIMAL(38,18) → DOUBLE cast of the value. */
    def toDouble: Double = Exact.fit(Decimal(toBig)).toDouble
  }

  private[graft] object Exact {
    private val Scale = 18
    val Zero = new Exact(0L, null)

    /** Spark's DOUBLE → DECIMAL(38,18) cast of `x` (the shortest decimal
      * rendering of the double, rounded half-up to 18 places); like the
      * ANSI cast, a value outside the type throws. */
    def apply(x: Double): Exact = {
      if (x.isNaN || x.isInfinite)
        throw new ArithmeticException(s"$x does not fit DECIMAL(38,18)")
      of(fit(Decimal(x)).toJavaBigDecimal)
    }

    private def of(b: java.math.BigDecimal): Exact = {
      val u = b.unscaledValue
      if (b.scale == Scale && u.bitLength < 64) new Exact(u.longValue, null)
      else new Exact(0L, b)
    }

    private def fit(d: Decimal): Decimal = {
      if (!d.changePrecision(38, Scale))
        throw new ArithmeticException(s"$d does not fit DECIMAL(38,18)")
      d
    }
  }

  /** The stationary INFLUENCE RELATION of an edge list — one row per
    * edge row `(src, dst, w = 1/outdeg(src))`, the relation every
    * power-iteration round joins against. It depends only on the edge
    * list, never on damping/seeds/round count, so it is the natural
    * SHARED PREFIX of every rank computation over one graph (uniform
    * PageRank, personalized PageRank, the deltas diagnostic): build it
    * once (or persist it — `_memo_influence` in the bench), pass it to
    * the entry points via their `influence` parameter, and each run
    * skips the per-run outdeg aggregation + join AND never re-scans the
    * edge list (the node set is recovered from the influence rows
    * themselves — every edge row is present, so the endpoint union is
    * identical). Results are bit-identical either way: `w` is the same
    * `1.0/count` double, a parquet round-trip of doubles is exact, and
    * every consumer is order-independent (GraphSpec pins the parity on
    * both variants). Parallel edges keep one row each — their weight
    * duplication is semantic ([[pageRank]] walk semantics).
    *
    * LIBRARY ENTRY POINT — generic over any two-column edge relation.
    * VERDICT r17 #6. */
  def influenceRelation(edgeList: DataFrame, src: String,
      dst: String): DataFrame = {
    Seq(src, dst).foreach { c =>
      require(edgeList.columns.contains(c),
        s"edge list has no column '$c' (columns: " +
          s"${edgeList.columns.mkString(", ")})")
    }
    require(src != "w" && dst != "w",
      "influenceRelation reserves the output column name 'w'")
    val edges = edgeList.select(col(src).as("__s"), col(dst).as("__d"))
    val outdeg = edges.groupBy("__s").agg(count(lit(1)).as("__od"))
    edges.join(outdeg, "__s")
      .select(col("__s").as(src), col("__d").as(dst),
        (lit(1.0) / col("__od")).as("w"))
  }

  /** PageRank by fixed-round power iteration.
    *
    * Walk semantics: from a node, follow one of its outgoing edges
    * uniformly (a duplicated (src,dst) row counts twice — parallel edges
    * weight their endpoint proportionally); with probability
    * `1 - damping`, teleport anywhere. Nodes are the union of both edge
    * endpoints. A node with no outgoing edges (a sink) passes no mass on
    * — its rank leaks each round, so total mass stays below 1 on graphs
    * with sinks (the plain formulation; symmetrize the edge list for a
    * mass-conserving rank, as q_graph_pagerank does).
    *
    * Determinism: per-destination contributions are summed through an
    * exact decimal accumulator (see [[Exact]]) — order-independent,
    * so results are bit-stable under any parallelism; a fixed round
    * count (no convergence test) keeps the whole computation expressible
    * as a DuckDB recursive CTE for the oracle. A node with no in-links
    * receives only the teleport term, so its rank is the CONSTANT
    * `(1-d)/n` in every round ≥ 1 — those nodes ride the stationary
    * influence relation as zero-weight SELF-edges (r19; ≤V extra rows,
    * zero on symmetrized graphs), so the round's reduce emits their
    * constant row itself and no per-round union exists. Only the
    * in-link-free slice gets a self-edge; re-flowing every node through
    * the round each time (r7's all-nodes self-row scheme) is avoided.
    *
    * The one driver-side scalar is the node count (the `1/n` teleport
    * share); everything else is executor-side.
    *
    * Returns (`node`, `rank`) — unrounded doubles; cross-engine
    * comparisons should round (the bundled query uses [[Det.r9]]:
    * ranks are ~1/V, far below [[Det.r4]]'s grid).
    *
    * BLOCK LIFECYCLE: the returned frame is backed by pinned persistent
    * blocks that `Dataset.unpersist()` cannot free — this form leaves
    * them to the enclosing [[Pins]] scope, or pinned for the session
    * (fine for run-and-exit jobs). Long-lived sessions iterating over
    * many graphs should use [[pageRankManaged]] /
    * [[personalizedPageRankManaged]] and call `release()` after
    * consuming — see [[RankRun]].
    *
    * LIBRARY ENTRY POINT — generic over any two-column edge relation
    * (GraphSpec exercises directed, multi-edge, and sink-bearing
    * synthetic graphs against a sequential reference).
    */
  def pageRank(edgeList: DataFrame, src: String, dst: String,
      damping: Double = 0.85, iters: Int = 10,
      influence: Option[DataFrame] = None): DataFrame =
    runPageRank(edgeList, src, dst, damping, iters,
      prefs = None, trackDeltas = false, preInfl = influence)._1

  /** [[pageRank]] returning a [[RankRun]]: the rank frame PLUS the handle
    * that frees the pinned blocks backing it. Prefer this form in
    * long-lived sessions — see [[RankRun]] for the lifecycle. */
  def pageRankManaged(edgeList: DataFrame, src: String, dst: String,
      damping: Double = 0.85, iters: Int = 10,
      influence: Option[DataFrame] = None): RankRun = {
    val (ranks, scope) = Pins.scoped(
      pageRank(edgeList, src, dst, damping, iters, influence))
    new RankRun(ranks, scope)
  }

  /** Personalized PageRank: the teleport lands on a weighted SEED SET
    * instead of uniformly — `r'(v) = (1-d)·p(v) + d·Σ r(u)/outdeg(u)`,
    * with `p` the `prefs` weights normalized over the graph nodes they
    * name (rows for nodes absent from the graph are ignored; graph nodes
    * absent from `prefs` get p=0 and are reached only through the walk).
    * Rank mass concentrates around the seeds — the "related to THESE
    * documents/pages" ranking (topic-sensitive PageRank, Haveliwala
    * WWW'02), where the uniform variant answers global importance.
    * `iters`, determinism, and the loop are exactly [[pageRank]]'s — the
    * teleport term is a persisted V-row RDD partitioned like the ranks,
    * looked up by a narrow zip after the round's reduce, so a round still
    * has exactly one shuffle.
    *
    * LIBRARY ENTRY POINT — GraphSpec pins seed-mass concentration, the
    * sequential-reference parity, and that uniform weights reproduce
    * plain [[pageRank]]. */
  def personalizedPageRank(edgeList: DataFrame, src: String, dst: String,
      prefs: DataFrame, prefNode: String, prefWeight: String,
      damping: Double = 0.85, iters: Int = 10,
      influence: Option[DataFrame] = None): DataFrame = {
    Seq(prefNode, prefWeight).foreach { c =>
      require(prefs.columns.contains(c),
        s"prefs has no column '$c' (columns: ${prefs.columns.mkString(", ")})")
    }
    runPageRank(edgeList, src, dst, damping, iters,
      prefs = Some((prefs, prefNode, prefWeight)), trackDeltas = false,
      preInfl = influence)._1
  }

  /** [[personalizedPageRank]] returning a [[RankRun]] — see
    * [[pageRankManaged]]. */
  def personalizedPageRankManaged(edgeList: DataFrame, src: String,
      dst: String, prefs: DataFrame, prefNode: String, prefWeight: String,
      damping: Double = 0.85, iters: Int = 10,
      influence: Option[DataFrame] = None): RankRun = {
    val (ranks, scope) = Pins.scoped(personalizedPageRank(edgeList, src,
      dst, prefs, prefNode, prefWeight, damping, iters, influence))
    new RankRun(ranks, scope)
  }

  /** [[pageRank]] plus per-round L1 movement `‖r_k - r_(k-1)‖₁` — the
    * convergence diagnostic a fixed-round formulation otherwise hides
    * (power iteration contracts the L1 delta by ≤ `damping` per round on
    * walk-complete graphs; a non-contracting tail says `iters` is too
    * low or the graph pathological). DIAGNOSTICS MODE: computing a delta
    * requires materializing every round (one job per round, the cadence
    * the plain path deliberately avoids) plus a narrow V-row zip per
    * round — pay it when inspecting convergence, not in production runs.
    * Deltas are exact decimal sums, so they are deterministic and the
    * returned ranks are bit-identical to [[pageRank]]'s (barrier cadence
    * never affects values; GraphSpec pins both). */
  def pageRankDeltas(edgeList: DataFrame, src: String, dst: String,
      damping: Double = 0.85, iters: Int = 10,
      influence: Option[DataFrame] = None): (DataFrame, Seq[Double]) = {
    runPageRank(edgeList, src, dst, damping, iters, prefs = None,
      trackDeltas = true, preInfl = influence)
  }

  private def runPageRank(edgeList: DataFrame, src: String, dst: String,
      damping: Double, iters: Int,
      prefs: Option[(DataFrame, String, String)],
      trackDeltas: Boolean,
      preInfl: Option[DataFrame] = None): (DataFrame, Seq[Double]) = {
    require(damping > 0 && damping < 1,
      s"damping must be in (0, 1), got $damping")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    Seq(src, dst).foreach { c =>
      require(edgeList.columns.contains(c),
        s"edge list has no column '$c' (columns: " +
          s"${edgeList.columns.mkString(", ")})")
    }
    preInfl.foreach { pi =>
      Seq(src, dst, "w").foreach { c =>
        require(pi.columns.contains(c),
          s"influence relation has no column '$c' (columns: " +
            s"${pi.columns.mkString(", ")}) — build it with " +
            "influenceRelation(edges, src, dst)")
      }
    }
    val spark = edgeList.sparkSession
    // The per-edge weighted relation (__s, __d, __w = 1/outdeg(__s)) —
    // either the caller's precomputed [[influenceRelation]] (the shared
    // prefix: a plain scan, so turning it into an RDD starts no job and
    // the outdeg aggregation never runs) or derived here.
    val weighted = (preInfl match {
      case Some(pi) => pi.select(col(src), col(dst), col("w").cast("double"))
      case None => influenceRelation(
        edgeList.select(col(src).as("s"), col(dst).as("d")), "s", "d")
    }).toDF("__s", "__d", "__w")
    // Node ids take the type a union of the two endpoint columns gives
    // them (analysis only, no job); both endpoints are cast to it, so a
    // source id and the same destination id are equal RDD keys.
    val node = weighted.select("__s").union(weighted.select("__d"))
      .schema.head
    val part = new HashPartitioner(
      spark.sessionState.conf.numShufflePartitions)
    val bySrc = weighted
      .select(col("__s").cast(node.dataType), col("__d").cast(node.dataType),
        col("__w"))
      .rdd.map(r => (r.get(0), Edge(r.get(1), r.getDouble(2))))
      .partitionBy(part)
    // The V-row node set, each node flagged with whether it has an
    // in-link, partitioned like the ranks.
    val nodes = bySrc
      .flatMap { case (s, e) => Iterator(s -> false, e.dst -> true) }
      .reduceByKey(part, _ || _)
    // the one scalar the loop collects: the `1/n` teleport share
    val n = nodes.count().toDouble
    // Personalized teleport: p(v) normalized over the NONNEGATIVE pref
    // mass landing on actual graph nodes, computed on frames (the exact
    // decimal grid an oracle re-derives) and then keyed like the ranks.
    // It is both the rank init and, times (1-d), the teleport term of
    // every round, so it is persisted.
    val pNorm: Option[RDD[(Any, Double)]] = prefs.map { case (p, pn, pw) =>
      // per-node weights through the same decimal grid as the total: a
      // plain double sum's value depends on partial-agg order, so a node
      // named twice in prefs would get a parallelism-dependent p(v)
      // (ADVICE r9) — dsum keeps every per-node weight bit-deterministic
      // and on the exact grid the normalizing total already uses
      val prefAgg = p
        .select(col(pn).cast(node.dataType).as("__v"),
          col(pw).cast("double").as("__pw"))
        .groupBy("__v").agg(Det.dsum(col("__pw")).as("__pw"))
      val nodeFrame = spark.createDataFrame(nodes.keys.map(Row(_)),
        StructType(Seq(node.copy(name = "__v"))))
      // exact decimal total: a double sum's value depends on partial-agg
      // order, and this scalar must match an oracle's re-derivation
      val stats = nodeFrame.join(prefAgg, Seq("__v"))
        .agg(Det.dsum(col("__pw")).as("__tot"), min("__pw").as("__mn"))
        .head()
      require(!stats.isNullAt(0),
        "personalization weights name no graph nodes")
      require(stats.getDouble(1) >= 0,
        "personalization weights must be nonnegative")
      val tot = stats.getDouble(0)
      require(tot > 0 && !tot.isNaN && !tot.isInfinite,
        s"personalization weights must have positive mass on graph nodes, got $tot")
      val pv = nodeFrame.join(prefAgg, Seq("__v"), "left")
        .select(col("__v"),
          (coalesce(col("__pw"), lit(0.0)) / lit(tot)).as("__p"))
        .rdd.map(r => (r.get(0), r.getDouble(1))).partitionBy(part)
      Pins.pin(pv)(Pins.Persist)
    }
    // The stationary influence relation, keyed by source and persisted
    // once (spilling past memory). In-link-free nodes ride it as
    // zero-weight SELF-edges (the oracle's own `infl` formulation): each
    // round's reduce then emits their constant teleport row itself
    // (acc = r·0 → (1-d)/n + d·0), so no per-round union exists. Empty on
    // symmetrized graphs, ≤V extra rows on any graph. Both sides share
    // `part`, so the union keeps it. Each partition is stored ordered by
    // source hash, so a source's out-edges are (nearly always) adjacent and
    // a round looks up its rank, and casts a run of equal products, once
    // per source instead of once per edge.
    val selfEdges = nodes.mapPartitions(
      _.collect { case (v, false) => v -> Edge(v, 0.0) },
      preservesPartitioning = true)
    val infl = bySrc.union(selfEdges).mapPartitions(
      _.toArray.sortBy(_._1.##).iterator, preservesPartitioning = true)
    Pins.pin(infl)(Pins.Persist)
    // init: uniform 1/n, or the normalized preference vector (the
    // standard personalized power-iteration start, with no (1-d)
    // round-trip)
    var ranks: RDD[(Any, Double)] =
      pNorm.getOrElse(nodes.mapValues(_ => 1.0 / n))
    val teleport: Either[Double, RDD[(Any, Double)]] = pNorm match {
      case Some(pv) => Right(pv.mapValues(_ * (1 - damping)))
      case None => Left((1 - damping) / n)
    }
    var barrier: Option[RDD[_]] = None
    val deltas = mutable.ArrayBuffer.empty[Double]
    for (round <- 1 to iters) {
      val next = rankRound(infl, ranks, damping, teleport)
      if (trackDeltas) {
        // diagnostics cadence: materialize EVERY round; the L1 movement
        // is an exact decimal sum (order-independent, deterministic), and
        // computing it is the barrier's materializing action
        Pins.pin(next)(Pins.LocalCheckpoint)
        deltas += next.zipPartitions(ranks) { (cur, prev) =>
          val rp = prev.toMap
          Iterator(cur.foldLeft(Exact.Zero) { case (acc, (v, r)) =>
            acc + Exact(math.abs(r - rp(v))) })
        }.fold(Exact.Zero)(_ + _).toDouble
        barrier.foreach(Pins.release) // the superseded barrier
        barrier = Some(next)
      } else if (round % CkptEvery == 0 && round < iters) {
        // Lineage barrier every CkptEvery rounds. The FINAL rounds stay
        // lazy — the caller's one consumption runs them; a terminal
        // barrier would be a wasted job plus blocks nobody could free.
        Pins.pin(next)(Pins.LocalCheckpoint)
        next.count()
        barrier.foreach(Pins.release)
        barrier = Some(next)
      }
      ranks = next
    }
    val out = spark.createDataFrame(ranks.map { case (v, r) => Row(v, r) },
      StructType(Seq(node.copy(name = "node"),
        StructField("rank", DoubleType))))
    // The influence relation, the teleport vector and the last barrier
    // stay pinned until the caller has consumed `out` (they back its
    // lineage): they are released with the caller's scope.
    (out, deltas.toSeq)
  }

  /** One power-iteration round:
    * r'(v) = t(v) + d · Σ_{(u,v) ∈ E} r(u)·w(u,v), with the teleport term
    * t = (1-d)/n (`Left`) or (1-d)·p(v) (`Right`, keyed like the ranks).
    *
    * `infl`, `ranks` and a teleport RDD must share one partitioner, which
    * makes the round narrow in all of them: each partition's edges stream
    * against a hash map of the same partition's rank slice. Every product
    * is cast to DECIMAL(38,18) as Spark's cast does ([[Exact]]) — once
    * per run of adjacent edges with the same source and weight, which is
    * every out-edge of a source when `infl` is stored grouped by source
    * and weighted 1/outdeg, as `runPageRank` stores it — summed
    * exactly by a map-side-combined `reduceByKey` on the destination —
    * the round's ONE shuffle — and collapsed to double once, in the
    * operand order of the DuckDB oracle, so ranks are bit-identical to
    * it. An edge whose source is null contributes nothing, as in an
    * equi-join. */
  private[graft] def rankRound(infl: RDD[(Any, Edge)],
      ranks: RDD[(Any, Double)], damping: Double,
      teleport: Either[Double, RDD[(Any, Double)]]): RDD[(Any, Double)] = {
    val part = infl.partitioner.getOrElse(
      throw new IllegalArgumentException("influence RDD is not partitioned"))
    require(ranks.partitioner.contains(part) &&
      teleport.forall(_.partitioner.contains(part)),
      "rank and teleport RDDs must share the influence RDD's partitioner")
    val acc = infl.zipPartitions(ranks) { (edges, slice) =>
      val r = mutable.HashMap.empty[Any, Double]
      slice.foreach { case (v, x) => r.update(v, x) }
      var src: Any = null
      var rs, w = 0.0
      var c: Exact = null
      edges.collect { case (s, e) if s != null =>
        if (c == null || s != src) { src = s; rs = r(s); c = null }
        if (c == null || e.w != w) { w = e.w; c = Exact(rs * w) }
        e.dst -> c
      }
    }.reduceByKey(part, _ + _)
    teleport match {
      case Left(t) => acc.mapValues(a => t + damping * a.toDouble)
      case Right(tp) =>
        acc.zipPartitions(tp, preservesPartitioning = true) { (sums, ts) =>
          val t = ts.toMap
          sums.map { case (v, a) => v -> (t(v) + damping * a.toDouble) }
        }
    }
  }

  /** The order↔part co-purchase graph: an undirected bipartite graph with
    * real degree spread (orders span 1..7 parts; part in-degree follows
    * demand), symmetrized so the walk is proper and rank mass is
    * conserved — the natural "important parts / central orders" ranking.
    * The 'o:'/'p:' prefixes make the two id spaces disjoint, so the
    * reversed pairs never collide with the forward ones and no dedup of
    * the union is needed (the oracle's DISTINCT over the same union is a
    * no-op for the same reason). */
  /** The symmetrized edge list is identical for both graph queries —
    * materialized once per application ([[graft.sources.Materialize]],
    * reported as `_memo_copurchase` in the bench) so the second query
    * pays a parquet scan, not a second lineitem distinct+symmetrize.
    * Row ORDER from the memo differs from the direct plan; every
    * consumer below is order-independent (distinct node set, outdeg
    * aggregation, exact-decimal rank sums). */
  private[operators] def coPurchase(s: SparkSession, d: String): DataFrame =
    graft.sources.Materialize.table(s, s"copurchase:$d") {
      // r19 (guide §2.3): dedup the LONG key pair first, build the
      // prefixed node strings after. (orderkey, partkey) ↔ the prefixed
      // string pair is a bijection, so distinct-then-concat emits exactly
      // the same edge set as concat-then-distinct — but the distinct's
      // exchange now carries two 8-byte longs instead of two ~10-byte
      // strings, its hash/compare work is on longs, and the concat runs
      // once per DISTINCT pair (post-shuffle, parallel) rather than once
      // per lineitem row on the scan task. Consumers are order-insensitive
      // (node-set distinct, outdeg aggregation, exact-decimal rank sums —
      // see the memo scaladoc above).
      val op = Tables(s, d, "lineitem")
        .select("l_orderkey", "l_partkey").distinct()
        .select(concat(lit("o:"), col("l_orderkey").cast("string")).as("s"),
          concat(lit("p:"), col("l_partkey").cast("string")).as("d"))
      op.unionByName(op.select(col("d").as("s"), col("s").as("d")))
    }

  /** The co-purchase graph's stationary influence relation, materialized
    * once per application (VERDICT r17 #6 — the shared prefix of BOTH
    * graph queries and the deltas diagnostic): each rank run then reads
    * one small parquet instead of re-running the outdeg aggregation +
    * join and re-scanning the edge memo for its node set. Reported as
    * `_memo_influence` in the bench so the one-time build is priced on
    * its own line. Bit-parity with the in-run derivation is pinned in
    * GraphSpec. */
  private[operators] def coPurchaseInfluence(s: SparkSession,
      d: String): DataFrame =
    graft.sources.Materialize.table(s, s"copurchase_infl:$d") {
      // r19: the build's stage-1 cost (edge scan + outdeg partial
      // aggregate + the join-side exchange feed) runs at the edge memo's
      // SCAN parallelism, which is an accident of how the memo's writer
      // partitioned it (the long-pair distinct halved the exchange bytes
      // → AQE coalesced to half the files → the build lost half its
      // parallelism, measured +1.1 s). Spread on the near-unique edge
      // pair — NOT on `s` alone, which would put a hub's whole edge list
      // in one partition — conditional on the scan being narrower than
      // the session's cores (OPTIMIZATION_r19.md: 2.08 s unspread vs
      // 0.98 s spread vs 0.91 s for the 20-file pre-r19 layout).
      val edges = graft.sources.Tables.spreadIfNarrow(
        s, coPurchase(s, d), col("s"), col("d"))
      influenceRelation(edges, "s", "d")
    }

  /** Bench accounting hook (see [[DedupOps.memoBuilds]]). Order matters:
    * the influence memo consumes the copurchase memo, so the edge build
    * is priced on `_memo_copurchase` and only the outdeg+join delta on
    * `_memo_influence`. */
  def memoBuilds: Seq[(String, (SparkSession, String) => DataFrame)] =
    Seq("_memo_copurchase" -> ((s, d) => coPurchase(s, d)),
      "_memo_influence" -> ((s, d) => coPurchaseInfluence(s, d)))

  /** r9 rounding + presentation order of both graph queries. */
  private def present(ranks: DataFrame): DataFrame =
    ranks.select(col("node"), Det.r9(col("rank")).as("rank"))
      .orderBy("node")

  private def qPageRank(s: SparkSession, d: String): DataFrame =
    present(pageRank(coPurchase(s, d), "s", "d", damping = 0.85, iters = 10,
      influence = Some(coPurchaseInfluence(s, d))))

  /** Personalized ranking seeded on every 100th part: "what is related
    * to THESE products" over the same co-purchase graph. The seed set is
    * mod-selected so DuckDB re-derives it from `part` verbatim; weights
    * normalize over seeds present in the graph (a part absent from every
    * order carries no graph node). */
  private def pprSeeds(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "part")
      .filter(col("p_partkey") % 100 === 0)
      .select(concat(lit("p:"), col("p_partkey").cast("string")).as("seed"),
        lit(1.0).as("w"))

  private def qPersonalizedPageRank(s: SparkSession, d: String): DataFrame =
    present(personalizedPageRank(coPurchase(s, d), "s", "d",
      pprSeeds(s, d), "seed", "w", damping = 0.85, iters = 10,
      influence = Some(coPurchaseInfluence(s, d))))

  // The oracle mirrors the power iteration as a DuckDB recursive CTE
  // keyed on an iteration counter. DuckDB quirk (verified on 1.x): ANY
  // top-level UNION inside a WITH RECURSIVE block is treated as
  // recursive-shaped and loses its dedup — hence the DISTINCT-over-
  // UNION-ALL-subquery shape for the non-recursive CTEs.
  val defs: Seq[QDef] = Seq(
    QDef("q_graph_pagerank", qPageRank, Some(
      s"""WITH RECURSIVE
         | op AS (SELECT DISTINCT 'o:' || CAST(l_orderkey AS VARCHAR) AS s,
         |               'p:' || CAST(l_partkey AS VARCHAR) AS d FROM lineitem),
         | edges AS (SELECT DISTINCT s, d FROM
         |           (SELECT s, d FROM op UNION ALL SELECT d, s FROM op)),
         | nodes AS (SELECT DISTINCT v FROM
         |           (SELECT s AS v FROM edges UNION ALL SELECT d FROM edges)),
         | nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         | outdeg AS (SELECT s, count(*) AS od FROM edges GROUP BY 1),
         | infl AS (SELECT s, d, w FROM
         |          (SELECT e.s, e.d, CAST(1 AS DOUBLE)/o.od AS w
         |           FROM edges e JOIN outdeg o USING (s)
         |           UNION ALL SELECT v, v, CAST(0 AS DOUBLE) FROM nodes)),
         | pr AS (
         |   SELECT 0 AS it, v, CAST(1 AS DOUBLE)/(SELECT n FROM nn) AS r FROM nodes
         |   UNION ALL
         |   SELECT min(p.it) + 1 AS it, i.d AS v,
         |     (1 - CAST(0.85 AS DOUBLE))/(SELECT n FROM nn)
         |       + CAST(0.85 AS DOUBLE) *
         |         CAST(SUM(CAST(p.r * i.w AS DECIMAL(38,18))) AS DOUBLE) AS r
         |   FROM pr p JOIN infl i ON i.s = p.v
         |   WHERE p.it < 10
         |   GROUP BY i.d
         | )
         |SELECT v AS node, ${Det.r9Sql("r")} AS rank
         |FROM pr WHERE it = 10 ORDER BY node""".stripMargin),
      managed = QDef.scoped(qPageRank)),
    // Personalized variant over the same graph: the oracle re-derives the
    // mod-selected seed set, the decimal-exact normalizing total, and the
    // per-node teleport p(v) — the recursion differs from q_graph_pagerank
    // only in replacing the uniform (1-d)/n term with (1-d)·p(v) and the
    // uniform init with p(v), mirroring the Spark arithmetic op-for-op.
    QDef("q_graph_ppr", qPersonalizedPageRank, Some(
      s"""WITH RECURSIVE
         | op AS (SELECT DISTINCT 'o:' || CAST(l_orderkey AS VARCHAR) AS s,
         |               'p:' || CAST(l_partkey AS VARCHAR) AS d FROM lineitem),
         | edges AS (SELECT DISTINCT s, d FROM
         |           (SELECT s, d FROM op UNION ALL SELECT d, s FROM op)),
         | nodes AS (SELECT DISTINCT v FROM
         |           (SELECT s AS v FROM edges UNION ALL SELECT d FROM edges)),
         | seeds AS (SELECT 'p:' || CAST(p_partkey AS VARCHAR) AS v,
         |                  CAST(1 AS DOUBLE) AS w
         |           FROM part WHERE p_partkey % 100 = 0),
         | sg AS (SELECT s.v, ${Det.dsumSql("s.w")} AS w
         |        FROM seeds s JOIN nodes n USING (v) GROUP BY s.v),
         | tt AS (SELECT ${Det.dsumSql("w")} AS t FROM sg),
         | pvec AS (SELECT n.v,
         |            COALESCE(sg.w, CAST(0 AS DOUBLE)) / (SELECT t FROM tt) AS p
         |          FROM nodes n LEFT JOIN sg USING (v)),
         | outdeg AS (SELECT s, count(*) AS od FROM edges GROUP BY 1),
         | infl AS (SELECT s, d, w FROM
         |          (SELECT e.s, e.d, CAST(1 AS DOUBLE)/o.od AS w
         |           FROM edges e JOIN outdeg o USING (s)
         |           UNION ALL SELECT v, v, CAST(0 AS DOUBLE) FROM nodes)),
         | pr AS (
         |   SELECT 0 AS it, v, p AS r FROM pvec
         |   UNION ALL
         |   SELECT min(p.it) + 1 AS it, i.d AS v,
         |     pv.p * (1 - CAST(0.85 AS DOUBLE))
         |       + CAST(0.85 AS DOUBLE) *
         |         CAST(SUM(CAST(p.r * i.w AS DECIMAL(38,18))) AS DOUBLE) AS r
         |   FROM pr p JOIN infl i ON i.s = p.v
         |        JOIN pvec pv ON pv.v = i.d
         |   WHERE p.it < 10
         |   GROUP BY i.d, pv.p
         | )
         |SELECT v AS node, ${Det.r9Sql("r")} AS rank
         |FROM pr WHERE it = 10 ORDER BY node""".stripMargin),
      managed = QDef.scoped(qPersonalizedPageRank)))
}
