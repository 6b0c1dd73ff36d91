package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (getOrCreate); sf0.001
  * keeps specs fast while exercising the identical plans the driver runs
  * at sf0.01/sf0.1. */
trait SparkTestBase extends AnyFunSuite {
  val sf: String = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = Session.builder("4")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A production ledger fixture: `d`'s documents published as a fresh
    * VersionedCorpus with `keys` purged, so its own purge history is
    * the ledger `spark.graft.ledger.root` serves. Returns the root. */
  def productionLedger(d: String, keys: Seq[Long]): String = {
    val prod = java.nio.file.Files
      .createTempDirectory("graft-ledger-prod").toString
    sources.VersionedCorpus.publish(
      Tables.documents(spark, d).select("doc_id", "text"), prod,
      Some("doc_id"))
    sources.VersionedCorpus.purgeKeys(spark, prod, "doc_id", keys)
    prod
  }
}
