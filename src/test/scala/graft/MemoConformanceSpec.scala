package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The session memo's contract: a memoized hub follows every graft conf
  * it reads, so a result never depends on what the session ran before.
  * Each case runs ops in the shared session, changes one result conf,
  * runs them again in the same session, and checks the second results
  * against a fresh session under that conf. */
class MemoConformanceSpec extends SparkTestBase {
  private val sf01 = "/root/testdata/sf0.01"

  private type Op = (SparkSession, String) => DataFrame

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The second results must equal a fresh session's, and (so the case
    * proves something) differ from the first for at least one op. */
  private def conforms(d: String, conf: String, value: String)(
      ops: (String, Op)*): Unit = {
    val before = ops.map { case (_, op) => rows(op(spark, d)) }
    spark.conf.set(conf, value)
    try {
      val after = ops.map { case (_, op) => rows(op(spark, d)) }
      val fresh = spark.newSession()
      fresh.conf.set(conf, value)
      val want = ops.map { case (_, op) => rows(op(fresh, d)) }
      ops.map(_._1).zip(after.zip(want)).foreach { case (name, (got, exp)) =>
        assert(got == exp, s"$name under $conf=$value: ${got.size} rows in " +
          s"the reused session, ${exp.size} in a fresh one")
      }
      assert(want != before, s"$conf=$value changes none of " +
        ops.map(_._1).mkString(", "))
    } finally spark.conf.unset(conf)
  }

  test("dd02 and dd06 follow dedup.bandRows within a session") {
    conforms(sf01, ops.Dedup.bandRowsConf, "16")(
      "dd02" -> ops.Dedup.dd02MinhashLsh,
      "dd06" -> ops.Dedup.dd06DupClusters)
  }

  test("dd10 and dd24 follow dedup.maxDf within a session") {
    conforms(sf01, "spark.graft.dedup.maxDf", "2")(
      "dd10" -> ops.Dedup.dd10Containment,
      "dd24" -> ops.Dedup.dd24LshTuner)
  }

  test("dd36 follows dedup.keeperDensityBp within a session") {
    conforms(sf01, ops.Dedup.keeperDensityBpConf, "10001")(
      "dd36" -> ops.Dedup.dd36KeeperPolicy)
  }

  test("pp39 follows ledger.root within a session") {
    // tombstone members of real duplicate clusters, so the production
    // batch touches different clusters than the planted one
    val keys = ops.Dedup.dd06DupClusters(spark, sf01)
      .groupBy(col("cluster_id")).agg(min(col("doc_id")).as("doc_id"),
        count(lit(1)).as("n"))
      .filter(col("n") >= 2 && col("doc_id") % 97 =!= 0)
      .orderBy(col("doc_id")).limit(3)
      .collect().map(_.getLong(1)).toSeq
    assert(keys.size == 3, s"too few duplicate clusters: $keys")
    conforms(sf01, ops.PurgeLedger.rootConf, productionLedger(sf01, keys))(
      "pp39" -> ops.Pipelines.pp39PatchClusters)
  }

  test("an unchanged session serves the same hub object") {
    val first = ops.Dedup.dd02MinhashLsh(spark, sf01)
    // an events read sets a Spark SQL conf on the caller's session;
    // Spark confs are not part of the memo key
    Tables.events(spark, sf01)
    val n = ops.Dedup.memo.size(spark)
    val second = ops.Dedup.dd02MinhashLsh(spark, sf01)
    assert(second eq first, "second dd02 call rebuilt the hub")
    assert(ops.Dedup.memo.size(spark) == n, "second dd02 call added an entry")
    // a drain kills the truncation blocks: the hub rebuilds, same rows
    val want = rows(second)
    ops.CacheScope.unpersistAll()
    val third = ops.Dedup.dd02MinhashLsh(spark, sf01)
    assert(!(third eq first), "a drained hub was served")
    assert(rows(third) == want)
  }

  test("the memo serves reliably checkpointed hubs under checkpointDir") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-memo").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val c0 = ops.Dedup.propagationCalls.get
      (1 to 3).foreach(_ => ops.Dedup.dd06DupClusters(spark, sf).collect())
      val loops = ops.Dedup.propagationCalls.get - c0
      assert(loops == 1L, s"three dd06 calls ran $loops propagation loops")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }
}
