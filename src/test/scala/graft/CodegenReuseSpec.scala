package graft

import graft.plans.GraftExtensions
import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

/** Generated code is compiled once and reused: the Spark defaults that
  * GraftExtensions installs keep every class of a pass in the codegen
  * cache and give child sessions the same class loader, so a warm pass
  * or a fresh session compiles (next to) nothing new. */
class CodegenReuseSpec extends SparkTestBase {

  // the benchmark's olap workload (graftbench/workloads.json)
  private val olap = Seq("ev01_tumbling_counts", "ev23_type_lift",
    "mm05_size_histogram", "q11_distinct_agg", "q33_argminmax", "q55_variant",
    "sk04_kll_quantiles", "tx11_stopword_filter", "tx33_bpe_pairs",
    "tx48_bigram_surprise")
  // AQE plans these two in one of a few shapes, depending on which
  // query stage completes first (which joins fuse into which codegen
  // stage), so a later pass may still meet a shape it has not compiled
  private val aqeShaped = Set("ev23_type_lift", "tx48_bigram_surprise")

  /** Janino compiles so far in this JVM (one per codegen cache miss). */
  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Each op as builder call + collect(), mapped to the compiles it added. */
  private def pass(s: SparkSession): Seq[(String, Long)] = olap.map { q =>
    val before = compiles()
    SparkEntry.queries(q)(s, sf).collect()
    q -> (compiles() - before)
  }

  test("olap ops compile nothing new on a second pass or in a new session") {
    // the counter sees a compile: a fresh literal is inlined into the code
    val probe = compiles()
    spark.range(1).select(col("id") + lit(System.nanoTime())).collect()
    assert(compiles() > probe)

    val first = pass(spark)
    val second = pass(spark)
    val third = pass(spark.newSession())
    info(s"compiles per pass: first ${first.map(_._2).sum}, " +
      s"second ${second.map(_._2).sum}, new session ${third.map(_._2).sum}")
    for ((run, counts) <- Seq("second pass" -> second, "new session" -> third)) {
      for ((q, n) <- counts if !aqeShaped(q))
        assert(n == 0, s"$q compiled $n classes on the $run")
      assert(counts.map(_._2).sum <= 10, s"the $run compiled $counts")
    }
  }

  test("a user-set value survives the extension's Spark defaults") {
    val defaults = GraftExtensions.sparkDefaults
    // the shared session was built through the extension with none set
    val contextConf = org.apache.spark.sql.graft.GraftDataset.activeSparkConf.get
    for ((k, v) <- defaults) assert(contextConf.get(k) == v && spark.conf.get(k) == v, k)
    val child = spark.newSession()
    for ((k, v) <- defaults) assert(child.conf.get(k) == v, k)

    for ((userKey, _) <- defaults) {
      // live-context route: the context's own conf, only where unset
      val live = new SparkConf(false).set(userKey, "77")
      GraftExtensions.installSparkDefaults(Some(live))
      for ((k, v) <- defaults)
        assert(live.get(k) == (if (k == userKey) "77" else v), k)

      // builder route: JVM system properties, which a new SparkConf loads
      val saved = defaults.map { case (k, _) => k -> Option(System.getProperty(k)) }
      try {
        defaults.foreach { case (k, _) => System.clearProperty(k) }
        System.setProperty(userKey, "77")
        GraftExtensions.installSparkDefaults(None)
        val built = new SparkConf()
        for ((k, v) <- defaults)
          assert(built.get(k) == (if (k == userKey) "77" else v), k)
      } finally saved.foreach {
        case (k, Some(v)) => System.setProperty(k, v)
        case (k, None) => System.clearProperty(k)
      }
    }
  }
}
