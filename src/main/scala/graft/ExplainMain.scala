package graft
import org.apache.spark.sql.SparkSession
/** Dev utility: dump formatted physical plans for plan-quality review. */
object ExplainMain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions","8")
      .config("spark.sql.session.timeZone","UTC")
      .config("spark.sql.adaptive.enabled","true")
      .config("spark.ui.enabled","false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.01"
    val queries = if (args.nonEmpty) args.toSeq
      else Seq("q01_pricing_summary", "q02_filter_project", "q05_local_supplier",
        "ss01_brute_topk", "dd02_minhash_lsh", "ev09_asof_native", "pp01_training_pipeline",
        "q33_argminmax", "q37_notin_antijoin", "ev14_rolling_7d", "tx15_vocab_coverage",
        "ss07_mips_topk", "sk03_cms_tokens", "gr01_triangle_count", "pp03_audited_set",
        // round-3 plan-review set: aggregate top-k, PQ ADC, bucketed
        // fact-fact, distributed ntile, token-window dedup, stickiness
        "ss10_pq_topk", "q44_bucketed_join", "ev17_rfm_scores",
        "dd12_token_windows", "ev30_stickiness", "sk06_theta_sets",
        // continuation plan-review set: exact-quota sampler, decontam,
        // grouped histogram percentiles, HLL rollup, GC audit
        "pp08_stratified_sample", "pp07_decontam", "ev33_interarrival",
        "sk07_hll_rollup", "mm09_gc_audit", "gr06_minlabel",
        // round-3 second-session set: DPP, two-pass heavy hitters,
        // distributed sweep-line, learned-cell dedup, multi-distinct
        // profiler
        "q51_dpp_join", "sk09_heavy_hitters", "ev36_peak_concurrency",
        "dd16_semantic_dedup", "pp12_column_profile")
    for (q <- queries) {
      println(s"===== $q =====")
      println(SparkEntry.queries(q)(spark, d).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
