package graft
import java.util.Locale

/** Benchmark main — times every SparkEntry.queries entry at
  * SPARK_GRAFT_SF_DIR and prints ONE compact JSON contract line LAST.
  *
  * The contract line must survive a consumer that keeps only the tail
  * of stdout (~2000 chars), so it carries the total, a fixed headline
  * subset of per-query timings, and an explicit failure list — the
  * full per-query map goes on its own (non-contract) line just above.
  * Failures are reported as -1 timings + an `errors` list, never as a
  * silently-near-zero measurement.
  */
object Bench {
  /** One representative per operator family (kept short so the contract
    * line stays well under the consumer's tail window). */
  private val headline = Seq(
    "q01_pricing_summary", "q03_shipping_priority", "q05_local_supplier",
    "q09_window_rank", "ev02_sessionize", "ev09_asof_native",
    "dd01_exact", "dd02_minhash_lsh", "dd04_ngram_jaccard",
    "ss01_brute_topk", "ss02_lsh_topk", "tx08_tfidf",
    "mm03_chunking", "pp01_training_pipeline")

  private def fmt(v: Double): String = "%.3f".formatLocal(Locale.ROOT, v)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm up JIT/codegen/parquet machinery so the first measured query
    // doesn't absorb one-time session costs
    SparkEntry.entry(spark).count()
    // two timed runs per query, report the min: strips run-ordering
    // noise (JIT, page cache, shared cached plan segments) so numbers
    // reflect steady-state per-query cost
    // optional arg (local dev only): comma-separated query filter —
    // the driver always runs with no args (full sweep)
    val only: Option[Set[String]] =
      if (args.nonEmpty) Some(args(0).split(",").toSet) else None
    // contention evidence: per-query PROCESS CPU seconds next to wall
    // seconds. On an uncontended 32-thread box a parallel query shows
    // wall ≈ cpu/32..cpu/1; a loaded machine shows wall ≫ cpu (the
    // process simply not getting scheduled) — the signature that
    // adjudicates a slow sweep without a re-run. Load averages at
    // sweep start/end complete the picture.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def procCpuSec: Double = osBean match {
      case b: com.sun.management.OperatingSystemMXBean =>
        b.getProcessCpuTime / 1e9
      case _ => -1.0
    }
    val loadStart = osBean.getSystemLoadAverage
    // endpoint load samples miss a mid-sweep co-tenant spike entirely
    // (observed: start 0.5 / end 1.8 while the 5-min average peaked at
    // 5.7 and the graph family ran 10× slow) — track the per-query
    // maximum so the line carries the spike
    var loadPeak = loadStart
    // eviction evidence (the round-6 adjudication gap): CacheScope's
    // hit:miss profile counts cache() CALLS, so two runs of the same
    // commit show identical profiles even when one box is thrashing
    // storage blocks (evict → recompute → evict). EvictionMonitor
    // counts still-persistent block DROPS and memory→disk DEMOTIONS
    // (see its scaladoc for why both are needed), and the line also
    // carries the heap ceiling and the peak cached-storage footprint —
    // so a slow sweep carries its own memory-pressure verdict:
    // evict_total+demote_total 0 at 8 g heap means wall numbers are
    // the code's; either ≫ 0 means the box, not the plan
    // (cross-checked by wall ≈ cpu/k staying healthy).
    val pressure = graft.ops.EvictionMonitor.attach(spark.sparkContext)
    def storageUsedMb: Long =
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum >> 20
    val maxHeapMb = Runtime.getRuntime.maxMemory >> 20
    var storagePeakMb = 0L
    // sorted name order + session-memoized cross-query shared frames
    // (Similarity.nswWalkTop8, Dedup's dd06 clusters and safe chain)
    // pin WHICH query pays each shared cache build: the
    // alphabetically-first consumer, every sweep. Round 8's ss22/ss24
    // 2× swing was exactly this payment landing nondeterministically
    // (the walk plan embeds truncated LogicalRDDs the cache manager
    // can't canonicalize, so a second BUILD call missed the cache
    // whenever upstream frames had been reclaimed); the memo makes
    // the reuse structural. Known residual (r9/r10 driver logs): the
    // graph family's slowest-slot can still migrate across
    // gr03/gr07 UNDER CO-TENANT LOAD ONLY — each PageRank query owns
    // its 10-join unroll (nothing shareable: the teleport vector
    // differs), the shared dd02 edge cache is paid at dd02 itself in
    // sorted order, and calm re-times show both ≤ ~4 s; adjudicate
    // such swings by the cpu/cache columns, not wall.
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      // per-query CacheScope accounting across both runs: explains
      // which timings ride warm cross-query caches (run 2, and any
      // query after the one that materialized a shared frame, shows
      // hits) vs pay the cold build (misses)
      graft.ops.CacheScope.resetCounters()
      val ev0 = pressure.drops.get
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val c0 = procCpuSec
        val ok = try { fn(spark, sfDir).count(); true }
                 catch { case _: Throwable => false }
        (ok, (System.nanoTime() - t0) / 1e9, procCpuSec - c0)
      }
      val (h, m) = graft.ops.CacheScope.counters
      storagePeakMb = math.max(storagePeakMb, storageUsedMb)
      loadPeak = math.max(loadPeak, osBean.getSystemLoadAverage)
      val ev = pressure.drops.get - ev0
      val (t, c) =
        if (runs.forall(_._1)) {
          val best = runs.minBy(_._2)
          (best._2, best._3) // cpu OF the min-wall run, not min cpu
        } else (-1.0, -1.0)
      // run-1 wall — the COLD cost (session-memo/cache builds land
      // here and min-of-2 discards them; informational only, the
      // comparable number stays the min)
      val cold = if (runs.head._1) runs.head._2 else -1.0
      (name, t, c, h, m, ev, cold)
    }
    val loadEnd = osBean.getSystemLoadAverage
    val cacheByName = results.map { case (n, _, _, h, m, _, _) => n -> s"$h:$m" }.toMap
    val cpuByName = results.map { case (n, _, c, _, _, _, _) => n -> c }.toMap
    val evictByName = results.map { case (n, _, _, _, _, e, _) => n -> e }.toMap
    val coldByName = results.map { case (n, _, _, _, _, _, cold) => n -> cold }.toMap
    val timed = results.map { case (n, t, _, _, _, _, _) => n -> t }
    val failed = timed.collect { case (n, t) if t < 0 => n }
    val okTimes = timed.collect { case (_, t) if t >= 0 => t }
    val total = okTimes.sum
    def qmap(entries: Seq[(String, Double)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    def smap(entries: Seq[(String, String)]): String =
      entries.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
        .mkString("{", ",", "}")
    // full per-query maps: informational lines, NOT the contract line
    println(s"""{"bench_full":${qmap(timed)}}""")
    // run-1 wall per query (additions-only, VERDICT r12 #2): the cold
    // cost of each query INCLUDING any session-memo/shared-cache build
    // it paid — min-of-2 reports steady state, this line makes a
    // regression in a hub's cold build visible round-over-round
    println(s"""{"cold_full":${qmap(timed.map { case (n, _) => n -> coldByName(n) })}}""")
    println(s"""{"cache_full":${smap(timed.map { case (n, _) => n -> cacheByName(n) })}}""")
    println(s"""{"cpu_full":${qmap(timed.map { case (n, _) => n -> cpuByName(n) })}}""")
    val head = timed.filter { case (n, _) => headline.contains(n) }
    // slowest-20 map IN the contract line: round-over-round per-query
    // comparison must not depend on how much of stdout a consumer keeps
    // (a tail window once truncated the full map to 14 visible entries)
    val slowest = timed.filter(_._2 >= 0).sortBy(-_._2).take(20)
    // CacheScope hit:miss per slowest-10 + global totals IN the contract
    // line — the warm-vs-cold evidence for exactly the timings being
    // compared round-over-round (kept to 10 so the line stays inside
    // the consumer's ~2000-char tail window)
    val cacheSlow = slowest.take(10).map { case (n, _) => n -> cacheByName(n) }
    // cpu next to wall for exactly the timings being compared — plus
    // the sweep totals and load averages: wall_total ≈ cpu_total/k for
    // some healthy parallelism k, while wall ≫ cpu means the box was
    // contended and the sweep's wall numbers are not the code's
    val cpuSlow = slowest.take(10).map { case (n, _) => n -> cpuByName(n) }
    // per-slowest-10 eviction counts: the thrash signature lands on
    // exactly the timings being compared round-over-round
    val evictSlow = slowest.take(10).map { case (n, _) =>
      n -> evictByName(n).toString }
    val evictTotal = evictByName.values.sum
    val demoteTotal = pressure.demotions.get
    val cpuTotal = timed.collect { case (n, t) if t >= 0 => cpuByName(n) }.sum
    // cold (run-1) sweep total next to the min-of-2 total: additions
    // only — the existing keys and methodology are untouched
    val coldTotal = timed.collect { case (n, t) if t >= 0 => coldByName(n) }.sum
    val (hTot, mTot) = results.foldLeft((0L, 0L)) {
      case ((a, b), (_, _, _, h, m, _, _)) => (a + h, b + m)
    }
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val sfName = new java.io.File(sfDir).getName
    // silence Spark's shutdown chatter, stop the session, THEN print the
    // contract line so it is the last thing on stdout
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    // sibling archive line (VERDICT r9 #8): the FULL per-query wall map
    // under a "metric" key so a consumer that archives metric lines
    // gets round-over-round diffs without depending on how much stdout
    // tail survives; printed right before the contract line, after the
    // session's shutdown chatter is silenced
    println(s"""{"metric":"all","unit":"sec","queries":${qmap(timed)},"sf":"$sfName"}""")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","cpu_total":${fmt(cpuTotal)},"cold_total":${fmt(coldTotal)},"load_start":${fmt(loadStart)},"load_end":${fmt(loadEnd)},"load_peak":${fmt(loadPeak)},"max_heap_mb":$maxHeapMb,"storage_peak_mb":$storagePeakMb,"evict_total":$evictTotal,"demote_total":$demoteTotal,"queries":${qmap(head)},"slowest":${qmap(slowest)},"cpu":${qmap(cpuSlow)},"cache":${smap(cacheSlow)},"evict":${smap(evictSlow)},"cache_hits":$hTot,"cache_misses":$mTot,"n_queries":${timed.size},"n_failed":${failed.size},"errors":$errs,"sf":"$sfName"}""")
  }
}
