package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import graft.sources.{Sources, VersionedCorpus}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.TimestampType

/** Parquet reads infer no schema through a Spark job: `Tables.load`,
  * `VersionedCorpus.readAt` and `Sources.readParquet` read the schema
  * from a footer on the driver and return exactly what
  * `spark.read.parquet` infers; the fallback cases return what the
  * plain read returns, errors included. */
class TableReadSpec extends SparkTestBase {

  private val dirs = Seq(sf, new File(new File(sf).getParentFile, "sf0.01").getPath)
  private val nanos = "spark.sql.legacy.parquet.nanosAsLong"

  /** `body`'s value and the number of Spark jobs it started. Listener
    * events arrive in order, so once a marker job's start is seen every
    * earlier job start has been seen too. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        groups.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
        ()
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      val marker = s"table-read-marker-${System.nanoTime}"
      sc.setJobGroup(marker, "listener drain")
      try spark.range(1).collect() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis + 60000
      while (!groups.contains(marker) && System.currentTimeMillis < deadline)
        Thread.sleep(10)
      assert(groups.contains(marker), "marker job never reached the listener")
      (out, groups.asScala.count(_ != marker))
    } finally sc.removeSparkListener(listener)
  }

  /** The read runs no job and has the plain read's schema and rows. */
  private def sameAsPlain(read: => DataFrame, plain: => DataFrame): Unit = {
    val (df, jobs) = jobsOf(read)
    assert(jobs == 0, s"the read ran $jobs jobs")
    assert(df.schema == plain.schema)
    assert(df.count() == plain.count())
  }

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-table-read-$tag").toString

  test("every table loads with the inferred schema and runs no job") {
    for (d <- dirs; name <- Tables.names if name != "events") {
      val (df, jobs) = jobsOf(Tables.load(spark, d, name))
      assert(jobs == 0, s"$d/$name: the load ran $jobs jobs")
      assert(df.schema == spark.read.parquet(s"$d/$name.parquet").schema,
        s"$d/$name")
    }
  }

  /** A one-row parquet file whose `ts` is INT64 TIMESTAMP(NANOS), the
    * type a DuckDB-written events table carries. */
  private def nanosEvents(): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val file = new File(tmpDir("nanos"), "events.parquet")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file.getPath)).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    finally w.close()
    file.getParent
  }

  test("events loads like the plain read before and after nanosAsLong") {
    val saved = spark.conf.getOption(nanos)
    try for (d <- dirs :+ nanosEvents(); asLong <- Seq("false", "true")) {
      spark.conf.set(nanos, asLong)
      val path = s"$d/events.parquet"
      val (load, jobs) = jobsOf(Try(Tables.load(spark, d, "events").schema))
      val plain = Try(spark.read.parquet(path).schema)
      (load, plain) match {
        case (Success(got), Success(want)) =>
          assert(jobs == 0, s"$path nanosAsLong=$asLong: the load ran $jobs jobs")
          assert(got == want, s"$path nanosAsLong=$asLong")
        case (Failure(got), Failure(want)) =>
          assert(got.getClass == want.getClass, s"$path: $got vs $want")
        case _ => fail(s"$path nanosAsLong=$asLong: load $load, plain read $plain")
      }
    }
    finally saved match {
      case Some(v) => spark.conf.set(nanos, v)
      case None => spark.conf.unset(nanos)
    }
    val nanosDir = nanosEvents()
    for (d <- dirs :+ nanosDir) {
      val (events, jobs) = jobsOf(Tables.events(spark, d))
      assert(jobs == 0, s"$d: Tables.events ran $jobs jobs")
      assert(events.schema("ts").dataType == TimestampType, d)
      assert(events.count() > 0)
    }
    // nanos are rescaled to micros exactly
    assert(Tables.events(spark, nanosDir).select(expr("unix_micros(ts)"))
      .head().getLong(0) == 1700000000123456L)
  }

  test("a Spark-written multi-part directory reads its footer, not its side files") {
    val dir = tmpDir("parts")
    Tables.orders(spark, sf).repartition(3).write.mode("overwrite").parquet(dir)
    val names = new File(dir).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")) &&
      names.count(_.endsWith(".parquet")) == 3, names.mkString(", "))
    sameAsPlain(Sources.readParquet(spark, dir), spark.read.parquet(dir))
  }

  test("VersionedCorpus.readAt over several files runs no job") {
    val root = tmpDir("corpus")
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val v = VersionedCorpus.publish(docs.repartition(4), root)
    val data = new File(new File(root, "_data"), s"v$v")
    assert(data.list().count(_.endsWith(".parquet")) == 4)
    sameAsPlain(VersionedCorpus.readAt(spark, root, v),
      spark.read.parquet(data.getPath))
    assert(VersionedCorpus.manifestRows(spark, root, v) == docs.count())
  }

  test("mergeSchema and a partitioned layout fall back to the plain read") {
    import spark.implicits._
    val a = tmpDir("evolve-a")
    val b = tmpDir("evolve-b")
    Seq((1L, "a")).toDF("id", "v1").write.mode("overwrite").parquet(a)
    Seq((2L, "b", 9.5)).toDF("id", "v1", "v2").write.mode("overwrite").parquet(b)
    // without mergeSchema the first file in path order decides
    assert(Sources.readParquet(spark, b, a).schema ==
      spark.read.parquet(b, a).schema)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      val merged = Sources.readParquet(spark, a, b)
      assert(merged.columns.toSeq == Seq("id", "v1", "v2"))
      assert(merged.schema == spark.read.parquet(a, b).schema)
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")

    val part = tmpDir("partitioned")
    Sources.writePartitioned(Tables.orders(spark, sf), part, "o_orderstatus")
    val df = Sources.readParquet(spark, part)
    val plain = spark.read.parquet(part)
    assert(df.schema == plain.schema && df.columns.contains("o_orderstatus"))
    assert(df.filter(col("o_orderstatus") === "F").count() ==
      plain.filter(col("o_orderstatus") === "F").count())
  }

  test("an empty directory fails with the plain read's error") {
    val dir = tmpDir("empty")
    val plainErr = intercept[Throwable](spark.read.parquet(dir))
    val readErr = intercept[Throwable](Sources.readParquet(spark, dir))
    assert(readErr.getClass == plainErr.getClass, s"$readErr vs $plainErr")
    assert(readErr.getMessage == plainErr.getMessage)
  }
}
