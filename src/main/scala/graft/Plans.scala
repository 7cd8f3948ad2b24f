package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dumps the formatted physical plans of the headline queries to
  * `PLANS.md` — the plan-shape evidence (pushdown, broadcast, equi-joins,
  * single scans) in reviewable form. Regenerate with
  * `sbt "runMain graft.Plans"`; plan GUARANTEES are enforced by
  * graft.PlanSpec, this artifact is for reading. */
object Plans {
  private val headline = Seq(
    "q_agg_hash", "q_join_broadcast", "q_topk", "q_embed_neardup",
    "q_dedup_minhash", "q_dedup_simhash", "q_dedup_ngram_jaccard",
    "q_join_asof", "q_join_range", "q_similarity_cosine",
    "q_pack_sequences", "q_similarity_knn", "q_lm_score",
    "q_importance", "q_embed_quantize", "q_decontaminate",
    "q_fingerprint", "q_dedup_substring", "q_similarity_ivf", "q_curate",
    "q_dedup_semantic", "q_similarity_pq", "q_dedup_minhash_incr",
    "q_shuffle_order", "q_sample_quota", "q_dedup_lines",
    "q_cohort_retention", "q_resample_fill", "q_split_leakage",
    "q_rolling_active", "q_event_transitions",
    // r13: sort-peeled window build, two-frame retrieval (exact + PQ),
    // unigram Viterbi encode
    "q_pack_examples", "q_similarity_search", "q_pq_search",
    "q_unigram_encode",
    // r13 continuation: the data-constrained composed build, grouped/
    // semantic packing, learned quality scoring
    "q_train_ready_epochs", "q_pack_grouped", "q_pack_semantic",
    "q_quality_classifier",
    // r14: frozen-quantizer index append, sketch-prefiltered heavy
    // hitters, incremental HLL distinct counting
    "q_ivf_append", "q_heavy_hitters", "q_distinct_incr",
    // r15: incremental KLL quantile maintenance
    "q_quantiles_incr")
  // q_graph_pagerank is deliberately absent: its rank loop runs on RDDs
  // behind a localCheckpoint barrier, so a dump here would show only the
  // final checkpoint scan. The loop's shape is pinned in PlanSpec instead
  // (the "rank loop: ..." tests).

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.local("4")
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the headline queries\n\n")
    sb.append("Generated by `sbt \"runMain graft.Plans\"` at sf dir `")
      .append(sfDir).append("`.\n")
    sb.append("Shape guarantees (pushdown, broadcasts, no nested-loop joins, ")
    sb.append("single-scan LSH) are enforced by `graft.PlanSpec`.\n\n")
    sb.append("NOTE on `WARN WindowExec: No Partition Defined` in bench/verify ")
    sb.append("logs: the\nsuite's three unpartitioned windows are provably ")
    sb.append("BOUNDED — pack_sequences'\ntwo-phase prefix sum runs its global ")
    sb.append("window over 256 bucket rows, zipf over its\ntop-100 ranks, ")
    sb.append("vocab_growth over 20 buckets. The WARN fires on window SHAPE,\n")
    sb.append("not volume; these never see table-scale data and are not a ")
    sb.append("scale hazard.\n")
    headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    spark.stop()
    println(s"wrote PLANS.md (${headline.size} queries)")
  }
}
