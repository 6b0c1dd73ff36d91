package graft.bench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.SparkListener
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{SparkEntry, Tables}
import graft.ops.{CacheScope, EvictionMonitor, SessionMemo}
import graft.sources.{IndexArtifacts, VersionedCorpus}

/** Benchmark driver JVM. One driver thread runs one operation at a
  * time (a closed loop with one client) against the library's public
  * entry points and writes every timing, span, job and output hash to
  * `<out>/result.json`; `graftbench/run.py` turns that into metrics and
  * checks the outputs.
  *
  * Run shape: session start, set-up rounds (each a fresh session and
  * one pass of the workload's own ops over its own warm-up dataset, so
  * the JIT has compiled the workload's code paths before anything is
  * measured), one cold pass in a fresh session with every cache
  * drained, then at least three warm passes, more while the measuring
  * time is not spent. Each op is timed as builder call + `collect()`;
  * hashing, storage sampling and correctness checks run between the
  * timed sections.
  *
  * Arguments are `key=value`: ops (comma list of
  * `SparkEntry.queries` keys and `sourceOps` names), data (measured
  * dataset dir), warm (comma list of warm-up dataset dirs, one per
  * set-up round), seconds, trace (0 | 1), out, cpus.
  */
object Harness {

  /** One measured operation. `build` returns the frame the action
    * collects, or `Left(summary)` for a call with no frame. `layer`
    * names the span kind of the builder call. */
  final case class Op(name: String, layer: String,
      build: (SparkSession, String, String) => Either[String, DataFrame])

  final case class OpRec(name: String, buildMs: Double, actionMs: Double,
      cpuMs: Double, rows: Long, hash: String, error: String) {
    def wallMs: Double = buildMs + actionMs
  }

  final case class PassRec(kind: String, index: Int, traced: Boolean,
      ops: Seq[OpRec], hits: Long, misses: Long, memoNew: Long, drops: Long,
      demotions: Long, storagePeakBytes: Long, rootBytes: Long,
      rootFiles: Long, checks: Seq[(String, Boolean)], spanId: Int) {
    def wallMs: Double = ops.map(_.wallMs).sum
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuMs: Double = osBean.getProcessCpuTime / 1e6
  private def nowMs: Double = System.nanoTime() / 1e6

  /** Write-path ops over the `graft.sources` layer: publish dd07's
    * keeper table as a versioned artifact under the pass's fresh root,
    * then serve it back through the artifact reader. */
  val sourceOps: Seq[Op] = Seq(
    Op("src1_publish_keepers", "source", (s, d, r) =>
      Left("v" + VersionedCorpus.publish(graft.ops.Dedup.dd07KeepBest(s, d),
        new File(r, "keepers").getAbsolutePath, Some("keeper_id")))),
    Op("src2_serve_keepers", "source", (s, _, r) =>
      Right(IndexArtifacts.dd07FromArtifacts(s, r))))

  def resolve(names: Seq[String]): Seq[Op] = names.sorted.map { n =>
    sourceOps.find(_.name == n).getOrElse {
      val fn = SparkEntry.queries.getOrElse(n,
        throw new IllegalArgumentException(s"unknown op $n"))
      Op(n, "build", (s, d, _) => Right(fn(s, d)))
    }
  }

  /** Served-equals-rebuild check, run on the cold pass right after the
    * named op; its verdict counts against that op. */
  private val rebuildChecks: Map[String, (SparkSession, String, String) => (DataFrame, DataFrame)] = Map(
    "src2_serve_keepers" -> ((s, d, r) =>
      (IndexArtifacts.dd07FromArtifacts(s, r), graft.ops.Dedup.dd07KeepBest(s, d))))

  /** Every `SessionMemo` held by a `graft.ops` module object. The memos
    * are private to their modules, so they are found by reflection;
    * their entry counts are read through `SessionMemo.size`. */
  private lazy val memos: Seq[SessionMemo[_]] =
    Seq("Relational", "Events", "Sketches", "Text", "Multimodal", "Dedup",
      "Graph", "Similarity", "Pipelines").flatMap { m =>
      val cls = Class.forName(s"graft.ops.$m$$")
      val module = cls.getField("MODULE$").get(null)
      cls.getDeclaredFields.toSeq
        .filter(f => classOf[SessionMemo[_]].isAssignableFrom(f.getType))
        .map { f => f.setAccessible(true); f.get(module).asInstanceOf[SessionMemo[_]] }
    }

  /** Memo entries the session holds, over all module memos. */
  def memoEntries(s: SparkSession): Long = memos.map(_.size(s).toLong).sum

  /** Collected rows rendered one line each, columns sorted by name, lines
    * sorted: equal arrays mean equal row multisets. */
  def canonicalRows(schema: StructType, rows: Array[Row]): Array[String] = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => render(r.get(i))).mkString("\u0001"))
    java.util.Arrays.sort(lines.asInstanceOf[Array[AnyRef]])
    lines
  }

  /** Order-insensitive hash of collected rows (see `canonicalRows`). */
  def rowsHash(schema: StructType, rows: Array[Row]): String = {
    val lines = canonicalRows(schema, rows)
    val md = MessageDigest.getInstance("SHA-256")
    md.update(schema.fieldNames.sorted.mkString(",").getBytes(StandardCharsets.UTF_8))
    lines.foreach { l =>
      md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  private def render(v: Any): String = v match {
    case null => "\u0000"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted
        .mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  private def dirStats(f: File): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else if (f.isFile) (f.length, 1L)
    else f.listFiles().map(dirStats).foldLeft((0L, 0L)) {
      case ((a, b), (c, d)) => (a + c, b + d)
    }

  private def rmTree(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmTree)
    f.delete(): Unit
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    val dataDir = args("data")
    val warmDirs = args("warm").split(",").toSeq.filter(_.nonEmpty)
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val out = new File(args("out"))
    val cpus = args.getOrElse("cpus", "4")
    val ops = resolve(args("ops").split(",").toSeq)
    out.mkdirs()

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(out, "local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getAbsolutePath)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    val sc = base.sparkContext
    sc.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis().toDouble

    val spans = new Spans(sc)
    val tracer = new Tracer
    // the monitor's listener, like the tracer, is on the bus only during
    // traced passes, so untraced passes carry none of their cost
    val pressure = if (trace) Some(EvictionMonitor.attach(sc)) else None
    val pressureListener = pressure.map { p =>
      val f = classOf[EvictionMonitor].getDeclaredFields
        .find(f => classOf[SparkListener].isAssignableFrom(f.getType)).get
      f.setAccessible(true)
      val l = f.get(p).asInstanceOf[SparkListener]
      sc.removeSparkListener(l)
      l
    }
    var listening = false
    def setTracing(on: Boolean, s: SparkSession): Unit = {
      if (on && !listening) {
        sc.addSparkListener(tracer); pressureListener.foreach(sc.addSparkListener)
      }
      if (!on && listening) {
        sc.removeSparkListener(tracer); pressureListener.foreach(sc.removeSparkListener)
      }
      if (on) s.listenerManager.register(tracer)
      else s.listenerManager.unregister(tracer)
      listening = on
      spans.enabled = on
    }

    val saved = ArrayBuffer.empty[(String, StructType, Array[Row])]

    def storageBytes: Long =
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

    def freshSession(): SparkSession = {
      CacheScope.unpersistAll()
      base.catalog.clearCache()
      base.newSession()
    }

    def runPass(kind: String, index: Int, s: SparkSession, dir: String,
        root: String, traced: Boolean): PassRec = {
      setTracing(traced, s)
      val (h0, m0) = CacheScope.counters
      val memo0 = memoEntries(s)
      val d0 = pressure.map(_.drops.get).getOrElse(0L)
      val e0 = pressure.map(_.demotions.get).getOrElse(0L)
      var peak = storageBytes
      val checks = ArrayBuffer.empty[(String, Boolean)]
      val passSpanId = spans.all.size
      val recs = spans("pass", s"$kind$index") {
        val rs = ops.map { op =>
          var rows = 0L
          var hash = ""
          var err = ""
          val c0 = cpuMs
          val t0 = nowMs
          var t1 = t0
          var t2 = t0
          var c1 = c0
          // the op span holds exactly the builder call and the action;
          // hashing and row capture happen after it closes
          val out = try spans("op", op.name) {
            val built = spans(op.layer, op.name)(op.build(s, dir, root))
            t1 = nowMs
            val r = built.map(df => (df.schema, spans("action", op.name)(df.collect())))
            t2 = nowMs
            c1 = cpuMs
            r
          } catch {
            case e: Throwable =>
              if (t1 == t0) t1 = nowMs
              t2 = nowMs
              c1 = cpuMs
              err = (e.getClass.getName + ": " + e.getMessage).take(300)
              Left("")
          }
          if (err.isEmpty) out match {
            case Left(summary) =>
              rows = 1
              hash = summary
            case Right((schema, got)) =>
              rows = got.length
              hash = rowsHash(schema, got)
              if (kind == "cold") saved += ((op.name, schema, got))
          }
          if (kind == "cold") rebuildChecks.get(op.name).foreach { fn =>
            spans("check", op.name) {
              val ok = try {
                val (served, rebuilt) = fn(s, dir, root)
                canonicalRows(served.schema, served.collect()).sameElements(
                  canonicalRows(rebuilt.schema, rebuilt.collect()))
              } catch { case _: Throwable => false }
              checks += (op.name -> ok)
            }
          }
          peak = math.max(peak, storageBytes)
          OpRec(op.name, t1 - t0, t2 - t1, c1 - c0, rows, hash, err)
        }
        // direct loader probe: the 10 table loaders, timed on their own
        if (traced && kind != "setup") Tables.names.foreach { n =>
          spans("load", n)(n match {
            case "events" => Tables.events(s, dir)
            case other => Tables.load(s, dir, other)
          })
        }
        rs
      }
      if (traced) org.apache.spark.graftbench.ListenerBus.drain(sc)
      val (h1, m1) = CacheScope.counters
      val (rb, rf) = dirStats(new File(root))
      println(s"[pass] $kind$index traced=$traced " +
        recs.map(o => f"${o.name}=${o.wallMs / 1000}%.2f${if (o.error.nonEmpty) "!" else ""}").mkString(" "))
      PassRec(kind, index, traced, recs, h1 - h0, m1 - m0, memoEntries(s) - memo0,
        pressure.map(_.drops.get).getOrElse(0L) - d0,
        pressure.map(_.demotions.get).getOrElse(0L) - e0,
        peak, rb, rf, checks.toSeq, if (traced) passSpanId else -1)
    }

    // every pass publishes under its own fresh artifact root
    var rootSeq = 0
    def newRoot(): String = {
      rootSeq += 1; new File(out, s"root$rootSeq").getAbsolutePath
    }
    def dropRoot(r: String): Unit = rmTree(new File(r))

    // set-up rounds: each a fresh session and one untraced pass of the
    // workload's ops over its own warm-up dataset
    val rounds = warmDirs.zipWithIndex.map { case (w, i) =>
      val t0 = nowMs
      val s = freshSession()
      val root = newRoot()
      val p = runPass("setup", i, s, w, root, traced = false)
      dropRoot(root)
      (nowMs - t0, p)
    }

    val passes = ArrayBuffer.empty[PassRec]
    val session = freshSession()
    val coldRoot = newRoot()
    passes += runPass("cold", 0, session, dataDir, coldRoot, traced = trace)
    dropRoot(coldRoot)
    // warm passes: at least three, so every per-pass figure has a
    // median with a middle, and more until the measuring time is spent;
    // a traced run instead makes four passes, untraced, traced, traced,
    // untraced, to price the tracing without charging any drift across
    // the passes to either side
    val warm0 = nowMs
    var i = 0
    def more: Boolean =
      if (trace) i < 4
      else i < 3 || nowMs - warm0 < seconds * 1000
    while (more) {
      val root = newRoot()
      passes += runPass("warm", i + 1, session, dataDir, root,
        traced = trace && (i == 1 || i == 2))
      dropRoot(root)
      i += 1
    }
    setTracing(on = false, session)

    // cold-pass rows for the DuckDB oracle, written after all timing
    saved.foreach { case (name, schema, rows) =>
      base.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite")
        .parquet(new File(out, s"rows/$name").getAbsolutePath)
    }
    val oracleJson = ops.map(_.name).flatMap(n =>
      SparkEntry.oracleSql.get(n).map(sql => Json.str(n) + ":" + Json.str(sql)))
      .mkString("{", ",", "}")
    Files.writeString(new File(out, "oracle_sql.json").toPath, oracleJson)

    val json = new StringBuilder
    json ++= "{"
    json ++= s""""jvm_start_ms":${jvmStartMs},"session_ready_ms":$sessionReadyMs,"""
    json ++= s""""setup_round_ms":${rounds.map(_._1).mkString("[", ",", "]")},"""
    json ++= s""""checks":${passes.flatMap(_.checks).map { case (n, ok) => Json.str(n) + ":" + ok }.mkString("{", ",", "}")},"""
    json ++= s""""passes":${(rounds.map(_._2) ++ passes).map(Json.pass).mkString("[", ",", "]")},"""
    json ++= s""""spans":${spans.all.map(Json.span).mkString("[", ",", "]")},"""
    json ++= s""""jobs":${tracer.jobList.map(Json.job).mkString("[", ",", "]")},"""
    json ++= s""""phases":${tracer.phases.toArray(Array.empty[Phase]).map(Json.phase).mkString("[", ",", "]")}"""
    json ++= "}"
    Files.writeString(new File(out, "result.json").toPath, json.toString)
    base.stop()
  }

  /** Minimal JSON rendering for the result file. */
  object Json {
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    def op(o: OpRec): String =
      s"""{"name":${str(o.name)},"build_ms":${num(o.buildMs)},"action_ms":${num(o.actionMs)},"cpu_ms":${num(o.cpuMs)},"rows":${o.rows},"hash":${str(o.hash)},"error":${str(o.error)}}"""
    def pass(p: PassRec): String =
      s"""{"kind":${str(p.kind)},"index":${p.index},"traced":${p.traced},"span":${p.spanId},"wall_ms":${num(p.wallMs)},"cache_hits":${p.hits},"cache_misses":${p.misses},"memo_new":${p.memoNew},"evictions":${p.drops},"demotions":${p.demotions},"storage_peak_bytes":${p.storagePeakBytes},"root_bytes":${p.rootBytes},"root_files":${p.rootFiles},"ops":${p.ops.map(op).mkString("[", ",", "]")}}"""
    def span(s: Span): String =
      s"""{"id":${s.id},"parent":${s.parent},"kind":${str(s.kind)},"name":${str(s.name)},"start":${num(s.start)},"end":${num(s.end)}}"""
    def job(j: JobRec): String =
      s"""{"id":${j.id},"span":${if (j.span == null) "null" else j.span},"start":${num(j.start)},"end":${num(j.end)},"site":${str(j.callSite)},"stages":${j.stages},"tasks":${j.tasks},"run_ms":${j.runMs},"cpu_ns":${j.cpuNs},"gc_ms":${j.gcMs},"in_bytes":${j.inBytes},"shuffle_read":${j.shuffleRead},"shuffle_write":${j.shuffleWrite},"spill":${j.spill}}"""
    def phase(p: Phase): String =
      s"""{"name":${str(p.name)},"start":${num(p.start)},"end":${num(p.end)}}"""
  }
}
