package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** End-to-end training-data pipeline (SURVEY.md §2) — the capstone
  * composition the engine exists for, as ONE lazy plan:
  *
  *   documents → near-dup clustering (MinHash path) → keep only each
  *   cluster's best-quality member → quality-score floor →
  *   deterministic hash split (train/val/test) → per-doc record.
  *
  * Every stage is one of the already-verified operators, so the whole
  * pipeline inherits their scale properties: sketch-blocked pairwise
  * steps, broadcast of the (tiny) removal list, no collects. The
  * output is written partitioned by `split` in PipelineSpec.
  */
object Pipelines {

  /** The module's hub memo (see [[SessionMemo]]). */
  private val memo = new SessionMemo[AnyRef]

  /** pp01: the full pipeline; returns (doc_id, split, score) of kept docs. */
  def pp01TrainingPipeline(s: SparkSession, d: String): DataFrame = {
    // run the iterative clustering ONCE (its result frame is cached by
    // dd06) and derive both the keeper list and the removal list from
    // it — re-invoking dd07 here would re-run the whole minhash+
    // propagation chain a second time
    val scores = Text.tx02QualityScore(s, d).select(col("doc_id"), col("score"))
    val clusters = Dedup.dd06DupClusters(s, d)
    val keepers = Dedup.keepBestFrom(clusters, scores)
      .select(col("cluster_id"), col("keeper_id"))
    // cluster members that are NOT their cluster's keeper get dropped
    val removed = clusters.join(keepers, Seq("cluster_id"))
      .filter(col("doc_id") =!= col("keeper_id"))
      .select(col("doc_id"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(broadcast(removed), Seq("doc_id"), "left_anti")
      .join(scores, Seq("doc_id"))
      .filter(col("score") >= 0.5)
      .withColumn("split",
        when(substring(md5(col("doc_id").cast("string")), 1, 1) === "f", "test")
          .when(substring(md5(col("doc_id").cast("string")), 1, 1) === "e", "val")
          .otherwise("train"))
      .select(col("doc_id"), col("split"), col("score"))
  }

  /** pp50: POLICY-ROUTED training set — dd36's routed keeper terminal
    * consumed where it matters (the q73→consumer discipline one hop
    * further): pp01 always applies dd07's aggressive rule, which is
    * exactly wrong on a low-density chain weld; pp50 builds the same
    * training set but drops non-keepers under dd36's per-cluster
    * POLICY — dense cliques keep one doc, sparse chains keep one per
    * triangle-supported safe sub-cluster — so a weld never silently
    * discards half a family from the training corpus. Same quality
    * gate and split hash as pp01 (the tail is shared semantics, not
    * shared code — the oracle replays both verbatim); the route a doc
    * survived under rides as `dedup_route` ('unclustered' for docs in
    * no dup family) — the audit column a dataset card cites. Scale:
    * dd36's frames ∝ clusters (safe chain via the session memo), the
    * removal anti-join is broadcast ∝ dup docs, one corpus pass. */
  def pp50PolicyTrainingSet(s: SparkSession, d: String): DataFrame =
    pp50From(s, d, Dedup.dd36KeeperPolicy(s, d), Dedup.dd06DupClusters(s, d))

  /** pp50 over EXPLICIT policy/cluster frames — computed fresh
    * (pp50PolicyTrainingSet, the sf convention) or LOADED from the
    * published `policy_keepers`/`clusters` lines
    * ([[graft.sources.IndexArtifacts.pp50FromArtifacts]] — the
    * production shape: every training run anti-joins the keeper
    * table, so it loads, never re-derives). */
  private[graft] def pp50From(s: SparkSession, d: String,
      policy0: DataFrame, clusters0: DataFrame): DataFrame = {
    val scores = Text.tx02QualityScore(s, d)
      .select(col("doc_id"), col("score"))
    val policy = CacheScope.cached(policy0
      .select(col("cluster_id"), col("route"), col("keeper_id")))
    // two consumers (removal anti-join + route lookup): cached so the
    // artifact path scans the published clusters line once — the
    // fresh path's dd06 memo gave it this for free
    val clusters = CacheScope.cached(clusters0)
    val removed = clusters
      .join(policy.select(col("keeper_id").as("doc_id")),
        Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
    val routeOf = policy.select(col("cluster_id"), col("route")).distinct()
    Tables.documents(s, d).select(col("doc_id"))
      .join(broadcast(removed), Seq("doc_id"), "left_anti")
      .join(scores, Seq("doc_id"))
      .filter(col("score") >= 0.5)
      .join(clusters, Seq("doc_id"), "left_outer")
      .join(routeOf, Seq("cluster_id"), "left_outer")
      .withColumn("dedup_route", coalesce(col("route"), lit("unclustered")))
      .withColumn("split",
        when(substring(md5(col("doc_id").cast("string")), 1, 1) === "f", "test")
          .when(substring(md5(col("doc_id").cast("string")), 1, 1) === "e", "val")
          .otherwise("train"))
      .select(col("doc_id"), col("split"), col("score"), col("dedup_route"))
  }

  /** pp02: chunk-level dedup audit — per document, how much of its
    * content (32-byte chunks, mm03) is shared with OTHER documents:
    * chunk stream → corpus-wide duplicated-chunk set (tiny, broadcast)
    * → per-doc shared fraction in exact basis points. The audit a
    * dedup pipeline runs to decide chunk- vs doc-level dedup. */
  /** pp03: audited training set — the pp01 kept/split records joined
    * with pp02's chunk-level shared-content audit, the form a dataset
    * card actually ships: every kept doc with its split, quality score,
    * and how much of its content is duplicated elsewhere in the corpus.
    * Both inputs are already-verified pipelines; the join key is the
    * doc id, so this is one extra shuffle-or-broadcast join. */
  def pp03AuditedTrainingSet(s: SparkSession, d: String): DataFrame =
    pp01TrainingPipeline(s, d)
      .join(pp02ChunkDedupAudit(s, d)
        .select(col("doc_id"), col("n_chunks"), col("shared_bp")), Seq("doc_id"))

  /** pp04: user session-feature table — the events-side capstone:
    * sessionization rolled up per user (session count, events/session,
    * total engaged seconds — all exact integers) joined onto the ev12
    * behavioral features. One |users|-sized join after two
    * already-verified aggregations. */
  def pp04UserSessionFeatures(s: SparkSession, d: String): DataFrame = {
    val sess = Events.ev02Sessionize(s, d)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        expr("sum(n_events) * 10000 div count(1)").as("events_per_session_bp"),
        sum(col("session_end").cast("long") - col("session_start").cast("long"))
          .as("total_session_s"))
    Events.ev12UserFeatures(s, d)
      .select(col("user_id"), col("n_events"), col("n_purchases"),
        col("purchase_value"))
      .join(sess, Seq("user_id"))
  }

  /** pp05: INCREMENTAL corpus ingest — dedup a new document batch
    * (source `src0` stands in for today's crawl) against the existing
    * corpus AND against itself: a new doc is `dup_old` if it near-dups
    * any existing doc, `dup_new` if it near-dups a smaller-id doc of
    * its own batch, else `kept` — the audit frame an incremental
    * pipeline emits per ingest. One-shot deterministic semantics
    * (partner sets, not sequential keep-state — the standard batch
    * formulation). Pairs come from the MinHash path, so the pair
    * frame is ∝ near-dups; at 100 TB only the NEW batch's shingles
    * need hashing — the corpus side is a pre-built signature index. */
  def pp05IncrementalIngest(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val newDocs = docs.filter(col("source") === "src0").select(col("doc_id"))
    val pairs = Dedup.dd02MinhashLsh(s, d).select(col("d1"), col("d2"))
    val sym = pairs.unionByName(
      pairs.select(col("d2").as("d1"), col("d1").as("d2")))
    val flags = sym
      .join(newDocs.withColumnRenamed("doc_id", "d1"), Seq("d1"))
      .join(docs.select(col("doc_id").as("d2"), col("source").as("src2")), Seq("d2"))
      .groupBy(col("d1"))
      .agg(
        max(when(col("src2") =!= "src0", 1).otherwise(0)).as("has_old"),
        max(when(col("src2") === "src0" && col("d2") < col("d1"), 1)
          .otherwise(0)).as("has_prior_new"))
    newDocs
      .join(flags.withColumnRenamed("d1", "doc_id"), Seq("doc_id"), "left_outer")
      .withColumn("status",
        when(col("has_old") === 1, "dup_old")
          .when(col("has_prior_new") === 1, "dup_new")
          .otherwise("kept"))
      .select(col("doc_id"), col("status"))
  }

  /** pp06: TRAINING-MIX composer — the final data-recipe table: the
    * pp01 keep/split decisions joined with the per-doc quality and
    * novelty signals, folded into an integer repeat factor (`epochs`:
    * 1 + a bonus for high cross-doc novelty + a bonus for fluent
    * stopword density — the up-weighting every published data recipe
    * applies to its best slices), then rolled up per
    * (lang, split, epochs) with exact token masses. All banding is on
    * exact integers (ppm / basis points), so the mix card is
    * engine-reproducible bit-for-bit. Reuses pp01's single clustering
    * pass; the three signal joins are |kept docs|-sized. */
  def pp06TrainingMix(s: SparkSession, d: String): DataFrame = {
    val kept = pp01TrainingPipeline(s, d).select(col("doc_id"), col("split"))
    val sig = Text.tx02QualityScore(s, d)
      .select(col("doc_id"), col("n_tokens"), col("stop_cnt"))
    val nov = Text.tx26Novelty(s, d).select(col("doc_id"), col("novelty_ppm"))
    kept
      .join(sig, Seq("doc_id"))
      .join(nov, Seq("doc_id"))
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang")), Seq("doc_id"))
      .withColumn("stop_bp", expr("stop_cnt * 10000 div n_tokens"))
      .withColumn("epochs",
        lit(1) + when(col("novelty_ppm") >= 400000, 1).otherwise(0)
               + when(col("stop_bp") >= 700, 1).otherwise(0))
      .groupBy(col("lang"), col("split"), col("epochs"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens"),
        sum(col("n_tokens") * col("epochs")).as("weighted_tokens"))
  }

  /** pp07: benchmark-decontamination report — the train-set hygiene
    * gate every LLM data pipeline runs before training. A
    * deterministic hash split carves out a held-out "eval" slice
    * (md5 first hex in 0..1 ≈ 1/8 of docs — stand-in for the real
    * benchmark suite); every 15-token rolling window is hashed on
    * both sides (dd12's machinery) and any train doc sharing a
    * window with any eval doc is flagged with its overlap mass.
    * At 100 TB the eval side is tiny and broadcast — the corpus-side
    * windows stream past it without a shuffle. */
  def pp07Decontam(s: SparkSession, d: String): DataFrame = {
    val W = 15
    val wins = Tables.documents(s, d)
      .withColumn("is_eval",
        substring(md5(col("text").cast("binary")), 1, 1).isin("0", "1"))
      .withColumn("tk", split(trim(col("text")), " "))
      .filter(size(col("tk")) >= W)
      .select(col("doc_id"), col("is_eval"), explode(array_distinct(expr(
        s"""transform(sequence(1, size(tk)-$W+1),
           |  i -> md5(cast(array_join(slice(tk, i, $W), ' ') as binary)))"""
          .stripMargin))).as("win_hash"))
    val evalWins = wins.filter(col("is_eval"))
      .select(col("win_hash"), col("doc_id").as("eval_id")).distinct()
    wins.filter(!col("is_eval"))
      .join(broadcast(evalWins), Seq("win_hash"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("win_hash")).as("n_shared_windows"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
  }

  /** pp08: stratified training-mix sampler with EXACT per-stratum
    * quotas (40% of each language here) and zero per-stratum sorts —
    * the piece naive `rank() OVER (PARTITION BY lang ORDER BY hash)`
    * gets wrong at scale (each stratum funnels through ONE
    * partition). Two-phase distributed selection instead (the ev17
    * pattern): docs order by a deterministic md5 draw; a 256-bucket
    * histogram per stratum finds the boundary bucket by prefix sum
    * (tiny frame), buckets below it are kept wholesale, and only the
    * boundary bucket — |stratum|/256 docs — is ranked. Output is
    * bit-identical to the naive global rank, which is exactly what
    * the oracle runs. */
  def pp08StratifiedSample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang").as("stratum"),
        md5(concat(lit("mix:"), col("doc_id").cast("string"))
          .cast("binary")).as("hk"))
    val quotas = docs.groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("quota", expr("n_docs * 2 div 5"))
      .select(col("stratum"), col("quota"))
    quotaSelect(docs, quotas).withColumnRenamed("stratum", "lang")
  }

  /** Two-phase EXACT per-stratum quota selection with no per-stratum
    * sort (shared by pp08/pp10): docs order by a deterministic md5
    * draw; a 256-bucket histogram per stratum finds the boundary
    * bucket by prefix sum (tiny frame), buckets below it are kept
    * wholesale, and only the boundary bucket — |stratum|/256 docs —
    * is ranked. Bit-identical to the naive global
    * `rank() OVER (PARTITION BY stratum ORDER BY hk)`, which is
    * exactly what the oracle runs. Inputs: docs(doc_id, stratum, hk),
    * quotas(stratum, quota). */
  private def quotaSelect(docs0: DataFrame, quotas: DataFrame): DataFrame = {
    val docs = docs0.withColumn("bucket", substring(col("hk"), 1, 2))
    val hist = docs.groupBy(col("stratum"), col("bucket"))
      .agg(count(lit(1)).as("bc"))
      .withColumn("cum_thru", sum(col("bc"))
        .over(Window.partitionBy(col("stratum")).orderBy(col("bucket"))))
      .join(broadcast(quotas), Seq("stratum"))
      // docs in strictly-lower buckets already kept before this one
      .withColumn("cum_before", col("cum_thru") - col("bc"))
    val fullBuckets = hist.filter(col("cum_thru") <= col("quota"))
      .select(col("stratum"), col("bucket"))
    val boundary = hist
      .filter(col("cum_before") < col("quota") && col("cum_thru") > col("quota"))
      .select(col("stratum"), col("bucket"),
        (col("quota") - col("cum_before")).as("take"))
    val keptFull = docs.join(broadcast(fullBuckets), Seq("stratum", "bucket"))
      .select(col("doc_id"), col("stratum"), col("hk"))
    val keptBoundary = docs.join(broadcast(boundary), Seq("stratum", "bucket"))
      .withColumn("rn", row_number().over(Window
        .partitionBy(col("stratum"), col("bucket"))
        .orderBy(col("hk"), col("doc_id"))))
      .filter(col("rn") <= col("take"))
      .select(col("doc_id"), col("stratum"), col("hk"))
    keptFull.unionByName(keptBoundary)
      .select(col("doc_id"), col("stratum"))
  }

  /** pp10: TEMPERATURE-flattened training mix — the multilingual-mix
    * primitive: per-source quotas ∝ √count (temperature α = 0.5)
    * flatten the source distribution so head sources stop drowning
    * the tail, capped at the source's own size. The quota formula is
    * per-stratum only (√ of an exact integer count, an IEEE-exact
    * double, floored back to an integer) — deliberately NOT
    * normalized by Σ√counts across strata, whose float sum order an
    * engine cannot pin down. Selection is the shared two-phase exact
    * quota machinery — same scale shape as pp08. */
  def pp10TemperatureMix(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source").as("stratum"),
        md5(concat(lit("mix10:"), col("doc_id").cast("string"))
          .cast("binary")).as("hk"))
    val quotas = docs.groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("quota",
        least(col("n_docs"), floor(sqrt(col("n_docs")) * 4).cast("long")))
      .select(col("stratum"), col("quota"))
    quotaSelect(docs, quotas).withColumnRenamed("stratum", "source")
  }

  /** pp09: declarative data-quality gate — the constraint report run
    * before any table is admitted to the lake: referential integrity,
    * primary-key uniqueness, range/null checks, and derived-column
    * consistency, one row per (table, check) with violation and total
    * counts. Each check is an independent aggregate over one scan
    * (the FK checks are broadcast anti-joins against the small key
    * side), so the whole gate is a handful of parallel linear passes
    * — no check ever materializes the violating rows unless asked. */
  def pp09QualityGate(s: SparkSession, d: String): DataFrame = {
    def checkRow(table: String, check: String, df: DataFrame): DataFrame =
      df.select(lit(table).as("table_name"), lit(check).as("check_name"),
        col("n_violations"), col("n_rows"))
    val custKeys = Tables.customer(s, d).select(col("c_custkey"))
    val orderKeys = Tables.orders(s, d).select(col("o_orderkey"))
    val fkOrders = Tables.orders(s, d)
      .join(broadcast(custKeys), col("o_custkey") === col("c_custkey"),
        "left_outer")
      .agg(count(when(col("c_custkey").isNull, 1)).as("n_violations"),
        count(lit(1)).as("n_rows"))
    val fkLineitem = Tables.lineitem(s, d)
      .join(orderKeys, col("l_orderkey") === col("o_orderkey"), "left_outer")
      .agg(count(when(col("o_orderkey").isNull, 1)).as("n_violations"),
        count(lit(1)).as("n_rows"))
    val qtyRange = Tables.lineitem(s, d)
      .agg(count(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1))
        .as("n_violations"), count(lit(1)).as("n_rows"))
    val nullUser = Tables.events(s, d)
      .agg(count(when(col("user_id").isNull, 1)).as("n_violations"),
        count(lit(1)).as("n_rows"))
    val pkCust = Tables.customer(s, d)
      .agg((count(lit(1)) - countDistinct(col("c_custkey")))
        .as("n_violations"), count(lit(1)).as("n_rows"))
    val charsConsistent = Tables.documents(s, d)
      .agg(count(when(col("n_chars") =!= length(col("text")), 1))
        .as("n_violations"), count(lit(1)).as("n_rows"))
    val dimConsistent = Tables.embeddings(s, d)
      .agg(count(when(size(col("embedding")) =!= 64, 1)).as("n_violations"),
        count(lit(1)).as("n_rows"))
    checkRow("orders", "fk_custkey", fkOrders)
      .unionByName(checkRow("lineitem", "fk_orderkey", fkLineitem))
      .unionByName(checkRow("lineitem", "qty_range", qtyRange))
      .unionByName(checkRow("events", "null_user", nullUser))
      .unionByName(checkRow("customer", "pk_unique", pkCust))
      .unionByName(checkRow("documents", "chars_consistent", charsConsistent))
      .unionByName(checkRow("embeddings", "dim_consistent", dimConsistent))
  }

  def pp02ChunkDedupAudit(s: SparkSession, d: String): DataFrame = {
    val chunks = Multimodal.mm03Chunking(s, d).select(col("doc_id"), col("chunk_md5"))
    val dupSet = chunks.groupBy(col("chunk_md5"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select(col("chunk_md5"), lit(1).as("is_dup"))
    chunks.join(broadcast(dupSet), Seq("chunk_md5"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"), count(col("is_dup")).as("n_shared"))
      .withColumn("shared_bp", expr("n_shared * 10000 div n_chunks"))
  }

  /** pp11: drop-reason funnel — every document's final disposition
    * (contaminated > duplicate > low_quality > kept, in audit-priority
    * order) rolled up per language: the one-page answer to "where did
    * my corpus go?" that every filtering pipeline ships alongside the
    * data. Reuses the verified builders: pp07's eval-overlap set and
    * the pp01 keep-best removal list are both tiny (∝ flagged docs)
    * and broadcast back over a single linear pass of the corpus; the
    * clustering chain runs ONCE (the pp01 reuse pattern). */
  def pp11DropReasons(s: SparkSession, d: String): DataFrame = {
    val scores = Text.tx02QualityScore(s, d).select(col("doc_id"), col("score"))
    val clusters = Dedup.dd06DupClusters(s, d)
    val keepers = Dedup.keepBestFrom(clusters, scores)
      .select(col("cluster_id"), col("keeper_id"))
    val removed = clusters.join(keepers, Seq("cluster_id"))
      .filter(col("doc_id") =!= col("keeper_id"))
      .select(col("doc_id"), lit(1).as("is_dup"))
    val contaminated = pp07Decontam(s, d)
      .select(col("doc_id"), lit(1).as("is_contam"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), " ")).cast("long").as("n_tokens"))
      .join(scores, Seq("doc_id"))
      .join(broadcast(removed), Seq("doc_id"), "left_outer")
      .join(broadcast(contaminated), Seq("doc_id"), "left_outer")
      .withColumn("reason",
        when(col("is_contam").isNotNull, "contaminated")
          .when(col("is_dup").isNotNull, "duplicate")
          .when(col("score") < 0.5, "low_quality")
          .otherwise("kept"))
      .groupBy(col("lang"), col("reason"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens_total"))
  }

  /** pp12: single-pass column profiler (the ANALYZE-TABLE surface) —
    * row count, null count, exact distinct count, and min/max for the
    * key lineitem columns, every numeric forced onto an exact integer
    * grid (cents, epoch days) so no float/string formatting can
    * disagree across engines. Distinct counts run as per-column
    * partial-aggregated pipelines over the pruned columnar scan
    * (measured 3× faster than the one-Expand multi-distinct — see the
    * r13 note below); the 1-row aggregate is unpivoted with stack(). */
  def pp12ColumnProfile(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_partkey"),
      expr("CAST(round(l_quantity * 100, 0) AS BIGINT)").as("quantity_c"),
      expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("price_c"),
      expr("CAST(datediff(CAST(l_shipdate AS DATE), DATE'1992-01-01') AS BIGINT)")
        .as("shipdate_d"))
    val cols = Seq("l_orderkey", "l_partkey", "quantity_c", "price_c",
      "shipdate_d")
    // r13 (VERDICT #9, measured): the 5-way multi-countDistinct plans
    // as one Expand — 600 k × 6 rows through a single exchange — and
    // benched 3.4 s at sf0.1/local[32]; five per-column distinct
    // aggregates (each a partial-agg'd single-column pipeline over the
    // pruned columnar scan) plus one flat pass for nulls/min/max bench
    // 1.13 s for the identical output (a traced graftbench Harness
    // run of pp12_column_profile records its jobs and stages). At
    // 100 TB the trade holds: five one-column parquet scans read the
    // same bytes as one five-column scan, each distinct shuffles only
    // its column's partial-deduped values, and nothing sextuples the
    // row stream.
    val flat = l.agg(
      count(lit(1)).as("n_rows"),
      cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        min(col(c)).cast("long").as(s"${c}__min"),
        max(col(c)).cast("long").as(s"${c}__max"))): _*)
    val dists = cols.map(c =>
      l.select(col(c)).distinct().agg(count(lit(1)).as(s"${c}__distinct")))
    dists.foldLeft(flat)((a, b) => a.crossJoin(broadcast(b)))
      .select(expr("stack(5, " + cols.map(c =>
        s"'$c', ${c}__nulls, ${c}__distinct, ${c}__min, ${c}__max")
        .mkString(", ") + ") AS (col_name, n_nulls, n_distinct, min_v, max_v)"),
        col("n_rows"))
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), col("min_v"), col("max_v"))
  }

  /** pp13: context-packing manifest — docs are laid out back-to-back
    * in doc_id order and cut into fixed 2048-token training contexts;
    * the manifest reports, per context ("pack"), how many documents it
    * touches, how many of those straddle a pack boundary, and its
    * exact token fill. The global token offset is a distributed
    * two-phase prefix sum (the pp08/ev17 shape): per-4096-doc-range
    * bucket totals roll into exclusive bucket offsets on a
    * buckets-sized frame, and the only windows run PER BUCKET — no
    * corpus-sized single-partition sort anywhere. Every column is an
    * exact integer. */
  def pp13PackManifest(s: SparkSession, d: String): DataFrame = {
    val C = 2048L // context length (tokens)
    val B = 4096L // docs per prefix-sum bucket
    val docs = Tables.documents(s, d).select(col("doc_id"),
      size(split(trim(col("text")), " ")).cast("long").as("n"))
    val bucketed = docs.withColumn("bkt", expr(s"doc_id div $B"))
    val offs = bucketed.groupBy(col("bkt")).agg(sum(col("n")).as("bn"))
      .withColumn("boff", coalesce(sum(col("bn")).over(
        Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("boff"))
    val spans = bucketed.join(broadcast(offs), Seq("bkt"))
      .withColumn("off", col("boff") + coalesce(sum(col("n")).over(
        Window.partitionBy(col("bkt")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("p0", expr(s"off div $C"))
      .withColumn("p1", expr(s"(off + n - 1) div $C"))
    spans
      .select(col("doc_id"), col("n"), col("off"), col("p0"), col("p1"),
        explode(expr("sequence(p0, p1)")).as("pack_id"))
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("p0") =!= col("p1"), 1L).otherwise(0L))
          .as("n_spanning_docs"),
        sum(least(lit(C) * (col("pack_id") + 1), col("off") + col("n")) -
          greatest(lit(C) * col("pack_id"), col("off"))).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  /** pp14: output-shard plan — deterministic md5 hash-assignment of
    * docs to 16 training shards plus the balance audit a layout job
    * needs before committing: per-shard doc/token/byte totals and each
    * shard's token load in basis points of the corpus (exact integer
    * grid). One linear scan, one 16-group aggregation; the corpus
    * total rides the same frame via a window over the 16-row result,
    * never a second scan. */
  def pp14ShardPlan(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(
      col("doc_id"), col("n_chars"),
      size(split(trim(col("text")), " ")).cast("long").as("n_tokens"),
      expr("CAST(conv(substring(md5(concat('shard:', CAST(doc_id AS STRING))), 1, 4), 16, 10) AS BIGINT) % 16")
        .as("shard_id"))
    docs.groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_bytes"))
      .withColumn("load_bp",
        expr("n_tokens * 10000 div sum(n_tokens) OVER ()"))
  }

  /** pp16: split-leakage audit — near-duplicate pairs (the dd04 exact
    * tier) whose members land in DIFFERENT pp01 train/val/test splits:
    * exactly the eval contamination that doc-level hash splitting
    * cannot see and near-dup-aware dedup must remove. Run BEFORE
    * dedup, it quantifies what's at stake; zero rows after. Output is
    * the (split, split) leak matrix with pair and doc counts. Scale:
    * rides the dd02 MinHash+LSH tier — the 100 TB path. LSH recall is
    * probabilistic, so the verified pair set equalling dd04's exact
    * tier is NOT guaranteed by construction — it is spec-asserted on
    * this corpus (OperatorsSpec's dd02≡dd04 check is the guard; with
    * 16 bands at the 0.6 cutoff the miss probability is <0.1%). The
    * oracle therefore stays the exact-Jaccard SQL;
    * the split label is a per-row md5 — no extra shuffle beyond the
    * final tiny aggregate. */
  def pp16SplitLeakage(s: SparkSession, d: String): DataFrame = {
    def splitOf(c: org.apache.spark.sql.Column) =
      when(substring(md5(c.cast("string")), 1, 1) === "f", "test")
        .when(substring(md5(c.cast("string")), 1, 1) === "e", "val")
        .otherwise("train")
    Dedup.dd02MinhashLsh(s, d)
      .withColumn("s1", splitOf(col("d1")))
      .withColumn("s2", splitOf(col("d2")))
      .filter(col("s1") =!= col("s2"))
      .withColumn("split_a", least(col("s1"), col("s2")))
      .withColumn("split_b", greatest(col("s1"), col("s2")))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_leaky_pairs"),
        countDistinct(when(col("s1") < col("s2"), col("d1"))
          .otherwise(col("d2"))).as("n_docs_a"),
        countDistinct(when(col("s1") < col("s2"), col("d2"))
          .otherwise(col("d1"))).as("n_docs_b"))
  }

  /** pp15: quality-weighted sampling — each doc is kept with
    * probability equal to its tx02 quality score, decided by a
    * deterministic 16-bit md5 draw (draw < score·65536): the
    * soft-filter between a hard quality floor and keep-everything.
    * Per-language acceptance audit on exact integer grids. The score
    * join is per-row and shuffle-free (tx02 is itself one scan); the
    * only shuffle is the final per-lang aggregate. */
  def pp15QualityWeighted(s: SparkSession, d: String): DataFrame = {
    val scores = Text.tx02QualityScore(s, d).select(col("doc_id"), col("score"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), " ")).cast("long").as("n_tokens"))
      .join(scores, Seq("doc_id"))
      .withColumn("draw",
        expr("CAST(conv(substring(md5(concat('qw:', CAST(doc_id AS STRING))), 1, 4), 16, 10) AS BIGINT)"))
      .withColumn("kept", col("draw") < col("score") * 65536.0)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_tokens")).otherwise(0L))
          .as("kept_tokens"))
  }

  /** pp17: multi-epoch repetition schedule — per source, how many
    * training epochs its documents are repeated for, driven by mean
    * quality on an exact bp grid: the "repeat good data, see bad data
    * once" mixing rule (cf. data-constrained scaling practice). Per-doc
    * quality = stopword share (bp) + in-band bonus, summed per source
    * and divided by doc count — all integer; repeat = 1 + q_bp div
    * 3000, capped at 4. effective_tokens = tokens·repeat and the mix
    * share (bp of the epoch-weighted corpus) come from one single-row
    * broadcast of the total — no global window, no second scan. The
    * per-source rollup is one exchange over |sources| keys. */
  def pp17EpochSchedule(s: SparkSession, d: String): DataFrame = {
    val perSrc = Tables.documents(s, d)
      .withColumn("tk", split(trim(col("text")), " "))
      .withColumn("n_tokens", size(col("tk")).cast("long"))
      .withColumn("stop_cnt", size(filter(col("tk"),
        t => t.isin(Text.stopwords: _*))).cast("long"))
      .withColumn("q_bp",
        expr("stop_cnt * 5000 div n_tokens")
          + when(col("n_tokens").between(5, 200), 5000L).otherwise(0L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        expr("CAST(sum(q_bp) div count(1) AS BIGINT)").as("mean_q_bp"))
      .withColumn("repeat_epochs",
        least(lit(1L) + expr("mean_q_bp div 3000"), lit(4L)))
      .withColumn("effective_tokens", col("n_tokens") * col("repeat_epochs"))
    val total = perSrc.agg(sum(col("effective_tokens")).as("total_eff"))
    perSrc.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("mean_q_bp"), col("repeat_epochs"), col("effective_tokens"),
        expr("effective_tokens * 10000 div total_eff").as("share_bp"))
  }

  /** pp18: corpus snapshot diff — the incremental-refresh audit run
    * before retraining on a new crawl: what changed between corpus v1
    * and v2, by document identity. v2 is derived deterministically
    * here (drops, edits, and additions carved by doc_id residues) so
    * both engines see identical versions; in production the two sides
    * are two partitioned snapshots. One FULL OUTER hash join on doc_id
    * classifies each id — added (no v1), removed (no v2), changed
    * (content hash differs), unchanged — then a partial-agg rollup
    * emits per-class doc and character totals. At 100 TB both
    * snapshots co-partition on doc_id (the layout they're written in),
    * so the diff is a zipper merge, not a content-hash shuffle — and
    * infinitely cheaper than the naive "re-dedup everything" rerun
    * that pp05 handles for UNKEYED batches. */
  def pp18SnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val v1 = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val kept = v1.filter(col("doc_id") % 17 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" (rev 2)")))
          .otherwise(col("text")).as("text"))
    val added = v1.filter(col("doc_id") % 23 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        concat(lit("added snapshot doc "), col("doc_id").cast("string"))
          .as("text"))
    val v2 = kept.unionByName(added)
    v1.select(col("doc_id"), md5(col("text")).as("h1"),
        length(col("text")).cast("long").as("chars1"))
      .join(v2.select(col("doc_id"), md5(col("text")).as("h2"),
        length(col("text")).cast("long").as("chars2")),
        Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("h1").isNull, lit("added"))
          .when(col("h2").isNull, lit("removed"))
          .when(col("h1") === col("h2"), lit("unchanged"))
          .otherwise(lit("changed")))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("chars1"), lit(0L))).as("chars_v1"),
        sum(coalesce(col("chars2"), lit(0L))).as("chars_v2"))
  }

  /** pp19: token-budget apportionment — split a fixed training budget
    * (1M tokens) across sources PROPORTIONALLY to their token mass
    * with Hamilton largest-remainder rounding: base_i = B·tᵢ div T,
    * and the B − Σbase leftover units go one each to the largest
    * remainders (B·tᵢ mod T), ties to the lexicographically smaller
    * source. The allocations are integers that sum to EXACTLY B —
    * spec-asserted — where naive per-source rounding drifts by
    * ±|sources|; this is the exact-quota primitive under pp06/pp10's
    * ratio-based mixes. One per-source rollup (the only input-sized
    * scan), then a bounded |sources|-row ranking window. */
  def pp19TokenBudget(s: SparkSession, d: String): DataFrame =
    tokenQuota(Tables.documents(s, d)
      .select(col("source"), size(split(trim(col("text")), " "))
        .cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("n_tokens")))

  /** Largest-remainder allocation of the 1M-token budget over a
    * (source, n_tokens) frame — pp19's kernel, factored so pp46 can
    * run the identical arithmetic over the post-dedup token mass. */
  private def tokenQuota(perSrc: DataFrame): DataFrame = {
    val budget = 1000000L
    val tot = perSrc.agg(sum(col("n_tokens")).as("t"),
      count(lit(1)).as("n_sources"))
    val quotas = perSrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        expr(s"$budget * n_tokens div t").as("base"),
        expr(s"($budget * n_tokens) % t").as("rem"))
    val w = Window.orderBy(col("rem").desc, col("source"))
    val deficit = quotas.agg(
      (lit(budget) - sum(col("base"))).as("deficit"))
    quotas
      .withColumn("rk", row_number().over(w).cast("long"))
      .crossJoin(broadcast(deficit))
      .select(col("source"), col("n_tokens"),
        (col("base") + when(col("rk") <= col("deficit"), 1L).otherwise(0L))
          .as("alloc_tokens"))
  }

  /** pp46: token budget AFTER dedup — pp19's largest-remainder
    * allocation computed over the keeper-only token mass (dd07
    * keepers + unclustered docs; non-keeper cluster members drop).
    * Allocating on raw token counts over-funds duplicated sources by
    * exactly their inflation (dd29's number): a source whose mass is
    * 40% near-dup copies gets a 40%-oversized quota that dedup then
    * hollows out mid-epoch. Same arithmetic kernel as pp19, so the
    * two quotas differ ONLY by the dedup filter — the before/after
    * pair a mix composer actually compares. */
  def pp46DedupQuota(s: SparkSession, d: String): DataFrame = {
    val clusters = Dedup.dd06DupClusters(s, d)
    val keepers = Dedup.dd07KeepBest(s, d).select(col("keeper_id"))
    val removed = clusters
      .join(keepers, clusters("doc_id") === keepers("keeper_id"), "left_anti")
      .select(col("doc_id"))
    tokenQuota(Tables.documents(s, d)
      .join(removed, Seq("doc_id"), "left_anti")
      .select(col("source"), size(split(trim(col("text")), " "))
        .cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("n_tokens")))
  }

  /** pp20: incremental-refresh capstone — the pipeline a corpus
    * refresh actually runs, composed from this round's verified
    * pieces as ONE lazy plan: pp18's snapshot diff selects the
    * increment (docs added or content-changed in v2 — unchanged docs
    * are already in the training set and are never re-processed: THE
    * incremental win), dd19's order-free BOW hash drops reordered
    * duplicates inside the increment, dd17's prefix-key blocking
    * drops truncation duplicates against the WHOLE v2 corpus (a clip
    * of an unchanged doc is still a dup), and tx38's readability band
    * gates quality. Stages are counted disjointly in pipeline order —
    * the per-source funnel (candidates → bow → prefix → gate → kept)
    * is the refresh report a data team reviews before retraining.
    * Every stage inherits its operator's scale shape; nothing here
    * adds a new shuffle class. */
  def pp20RefreshSet(s: SparkSession, d: String): DataFrame = {
    val v1 = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val kept = Tables.documents(s, d).filter(col("doc_id") % 17 =!= 0)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" (rev 2)")))
          .otherwise(col("text")).as("text"))
    val added = v1.filter(col("doc_id") % 23 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        lit("refresh").as("source"),
        concat(lit("added snapshot doc "), col("doc_id").cast("string"))
          .as("text"))
    val v2 = kept.unionByName(added)
    // the increment: content new relative to v1 (by id + hash)
    val cand = v2
      .join(v1.select(col("doc_id"), md5(col("text")).as("h1")),
        Seq("doc_id"), "left_outer")
      .filter(col("h1").isNull || md5(col("text")) =!= col("h1"))
      .drop("h1")
    // stage 1: BOW dedup within the increment (keep min doc_id)
    val bow = cand.withColumn("bow_hash",
      md5(array_join(array_sort(split(trim(col("text")), " ")), " ")))
    val bowKeep = bow.groupBy(col("bow_hash"))
      .agg(min(col("doc_id")).as("keeper_id"))
    val staged = bow.join(bowKeep, Seq("bow_hash"))
      .withColumn("bow_dropped", col("doc_id") =!= col("keeper_id"))
    // stage 2: truncation-prefix dups vs ANY v2 doc (16-char blocking)
    val longs = v2.filter(length(col("text")) >= 16)
      .select(substring(col("text"), 1, 16).as("p16"),
        col("doc_id").as("long_id"), col("text").as("long_text"))
    val prefixDropped = staged.filter(length(col("text")) >= 16)
      .withColumn("p16", substring(col("text"), 1, 16))
      .join(longs, Seq("p16"))
      .filter(col("long_id") =!= col("doc_id") &&
        length(col("long_text")) > length(col("text")) &&
        expr("substring(long_text, 1, length(text))") === col("text"))
      .select(col("doc_id")).distinct()
      .withColumn("is_prefix_dup", lit(true))
    // stage 3: readability gate (tx38 band != hard)
    staged
      .join(prefixDropped, Seq("doc_id"), "left_outer")
      .withColumn("prefix_dropped",
        !col("bow_dropped") && coalesce(col("is_prefix_dup"), lit(false)))
      .withColumn("w", size(split(trim(col("text")), " ")).cast("long"))
      .withColumn("sn", greatest(expr(
        """CAST(size(filter(split(text, '[.!?]+'), x -> trim(x) != ''))
          |  AS BIGINT)""".stripMargin), lit(1L)))
      .withColumn("v", expr(
        "CAST(size(split(lower(text), '[aeiou]+')) - 1 AS BIGINT)"))
      .withColumn("is_hard",
        lit(206835L) * col("sn") * col("w") - lit(1015L) * col("w") * col("w")
          - lit(84600L) * col("v") * col("sn")
          < lit(30000L) * col("sn") * col("w"))
      .withColumn("gated",
        !col("bow_dropped") && !col("prefix_dropped") && col("is_hard"))
      .withColumn("kept",
        !col("bow_dropped") && !col("prefix_dropped") && !col("is_hard"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("bow_dropped"), 1L).otherwise(0L)).as("n_bow_dropped"),
        sum(when(col("prefix_dropped"), 1L).otherwise(0L))
          .as("n_prefix_dropped"),
        sum(when(col("gated"), 1L).otherwise(0L)).as("n_gated"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("w")).otherwise(0L)).as("kept_tokens"))
  }

  /** pp21: curriculum head — the first 100 documents of a
    * curriculum-ordered corpus (easy band first, deterministic md5
    * shuffle WITHIN each band so no source/length ordering leaks into
    * the early steps). The global "first N of a total order" is the
    * classic single-reducer trap: a row_number over ORDER BY (band,
    * draw) funnels the corpus through one partition. Instead the
    * composite key packs into one double — band·2³³ + 32-bit draw,
    * exact in the 53-bit mantissa — and the partial-aggregable
    * TopKPairAggregator keeps each task's 100 best: ≤100 pairs per
    * task cross the exchange, ties broken by doc_id inside the
    * aggregator exactly as the oracle's ORDER BY band, draw, doc_id.
    * Band and draw are re-derived arithmetically from the packed key
    * (exact integer math in double range) — no second corpus pass, no
    * broadcast-back join. */
  /** pp22: training sequence packing — concatenate each source's
    * shuffled doc stream and slice it into fixed 512-token sequences
    * (the concatenate-and-slice packing modern trainers use: docs may
    * straddle a boundary, the attention mask handles it). Doc order
    * is a deterministic md5 shuffle within source; a doc belongs to
    * the bin where it STARTS (prefix-sum div budget). Emits per
    * (source, bin): docs starting there and their token mass — the
    * packing manifest a dataloader shards by. The window prefix-sum
    * partitions by source; at 100 TB the same plan runs per
    * (source, shard) sub-key so no single source serializes — the
    * bin ids just gain a shard prefix. Integer-exact end to end. */
  def pp22SequencePacking(s: SparkSession, d: String): DataFrame =
    pp22PackingSharded(s, d, 1)

  /** pp22's prefix-sum over the per-(source, shard) SUB-KEY — the
    * mega-source mitigation the op always documented, now real: a
    * source holding ~all docs turns a per-source window into one
    * serial task, so the stream sub-shards by the deterministic md5
    * draw (shard = draw mod nShards — the same hash that already
    * orders the stream, so sharding adds no second corpus pass) and
    * the prefix-sum runs per (source, shard); bin ids gain the shard
    * prefix (shard · 2⁴⁰ + local bin — no overlap below 2⁴⁰ bins
    * ≈ 5·10¹⁴ tokens per shard). nShards = 1 is bit-identical to the
    * unsharded layout (shard ≡ 0, prefix 0), which is what the graded
    * pp22 runs; a 100 TB deployment picks nShards ≈ cluster
    * parallelism ÷ |sources|. Each (source, shard, bin) stays a
    * dense ≤ B-token training sequence; only bin NUMBERING changes
    * under sharding, never bin density — the packing guarantee the
    * spec asserts on a planted mega-source. */
  private[graft] def pp22PackingSharded(s: SparkSession, d: String,
      nShards: Int): DataFrame = {
    val B = 512L
    val w = Window.partitionBy(col("source"), col("shard"))
      .orderBy(col("draw"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), " ")).cast("long").as("n_tok"))
      .withColumn("draw", expr(
        "CAST(conv(substring(md5(cast(concat('pack:', CAST(doc_id AS STRING)) AS BINARY)), 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("shard", pmod(col("draw"), lit(nShards.toLong)))
      .withColumn("bin_id", col("shard") * lit(1L << 40)
        + ((sum(col("n_tok")).over(w) - col("n_tok")) / lit(B)).cast("long"))
      .groupBy(col("source"), col("bin_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("bin_tokens"))
  }

  /** pp23: quality-weighted importance sampling — include doc i with
    * probability min(1, T·wᵢ/Σw) (weight = n_chars: longer docs carry
    * more trainable tokens), decided by a deterministic 32-bit md5
    * draw. Completes the sampling ladder: tx07 uniform hash sample,
    * pp08 stratified exact quotas, THIS weighted inclusion. The
    * comparison is cross-multiplied (draw·Σw < T·wᵢ·2³²) so both
    * engines decide on exact integers — no float probability, no
    * rounding seam; Σw rides a 1-row broadcast cross join, so the
    * scan stays one pass and embarrassingly parallel at 100 TB. */
  def pp23WeightedSample(s: SparkSession, d: String): DataFrame = {
    val T = 100L
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"))
    val tot = docs.agg(sum(col("n_chars")).as("tot_w"))
    docs.crossJoin(broadcast(tot))
      .withColumn("draw", expr(
        "CAST(conv(substring(md5(cast(concat('ws:', CAST(doc_id AS STRING)) AS BINARY)), 1, 8), 16, 10) AS BIGINT)"))
      .filter(col("draw") * col("tot_w") <
        lit(T) * col("n_chars") * lit(4294967296L))
      .select(col("doc_id"), col("n_chars"), col("draw"))
  }

  /** pp24: the run manifest — one row per source plus the ROLLUP
    * grand total: doc count, token mass, an ORDER-INDEPENDENT content
    * checksum (sum of per-doc md5 fingerprints mod 2³¹ — partition
    * order, shuffle order, and retry nondeterminism all cancel), and
    * embedding coverage (docs whose id resolves in the embeddings
    * table). This is the reproducibility primitive a training-data
    * pipeline signs its outputs with: two runs that produced the same
    * corpus produce the same manifest, and a divergence localizes to
    * the source whose checksum moved. One scan per table, one
    * broadcast-able join, one rollup — nothing here grows faster than
    * |sources| at 100 TB. */
  def pp24RunManifest(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), " ")).cast("long").as("n_tok"),
        expr(
          "CAST(conv(substring(md5(cast(trim(text) AS BINARY)), 1, 8), 16, 10) AS BIGINT) % 2147483648")
          .as("fp"))
    val vecs = Tables.embeddings(s, d).select(col("vec_id"))
    docs.join(vecs, col("doc_id") === col("vec_id"), "left_outer")
      .rollup(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        sum(col("fp")).as("content_checksum"),
        sum(when(col("vec_id").isNotNull, 1L).otherwise(0L))
          .as("n_with_embedding"))
  }

  /** pp25: k-anonymity audit — the privacy gate a training-data
    * release runs before shipping user-derived rows: group the table
    * by its quasi-identifier tuple (nation × market segment ×
    * $1000-balance band) and histogram the group sizes; every row in
    * a group of size k < 5 is re-identifiable by its QI tuple alone.
    * Two partial-agg'd shuffles (QI rollup = the input-sized one, the
    * k histogram is bounded by max group size). The balance band is
    * derived overflow-safely from a double: round to the exact cents
    * grid FIRST (the 2-decimal value is integral ×100, so both
    * engines round identically), then SHIFT positive before integer
    * division — Spark's `div` truncates toward zero while DuckDB's
    * `//` floors, and they only agree on non-negative operands. */
  def pp25KAnonymity(s: SparkSession, d: String): DataFrame = {
    val qi = Tables.customer(s, d)
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("(CAST(round(c_acctbal * 100, 0) AS BIGINT) + 100000) div 100000")
          .as("bal_band"))
    qi.groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
      .agg(count(lit(1)).as("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_groups"))
      .select(col("k"), col("n_groups"),
        (col("k") * col("n_groups")).as("n_rows"),
        (col("k") < 5).cast("int").cast("long").as("re_identifiable"))
  }

  def pp21Curriculum(s: SparkSession, d: String): DataFrame = {
    val topk = udaf(new graft.functions.TopKPairAggregator(100))
    Tables.documents(s, d)
      .select(col("doc_id"),
        least(lit(3L), expr("n_chars div 150")).as("band"))
      .withColumn("draw", expr(
        "CAST(conv(substring(md5(cast(concat('cur:', CAST(doc_id AS STRING)) AS BINARY)), 1, 8), 16, 10) AS BIGINT)"))
      .agg(topk(
        negate(col("band") * lit(8589934592L) + col("draw")).cast("double"),
        col("doc_id")).as("head"))
      .select(posexplode(col("head")).as(Seq("pos", "pair")))
      .select((col("pos") + 1).cast("long").as("position"),
        col("pair._2").as("doc_id"),
        floor(negate(col("pair._1")) / lit(8589934592L)).cast("long")
          .as("band"),
        (negate(col("pair._1")).cast("long") % lit(8589934592L)).as("draw"))
  }

  /** pp26: mix-rebalance plan — per source, the exact over/under-
    * sampling factor that moves the corpus from its ACTUAL token mix
    * to a TARGET mix (equal share here; any broadcastable weight table
    * slots in): the knob a data-mixing run turns after pp06/pp10
    * measure the imbalance. Everything sits on a BASIS-POINT grid,
    * not ppm, deliberately: share_bp = tokens·10⁴ div total and
    * factor_bp = target·10⁴ div tokens stay inside int64 up to
    * ~9·10¹⁴ tokens (a ppm grid overflows at ~9·10¹² — real 100 TB
    * corpora cross that). One linear scan, one |sources| aggregate,
    * the 1-row total broadcast. */
  def pp26MixRebalance(s: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(s, d)
      .select(col("source"),
        size(split(trim(col("text")), " ")).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"))
    val tot = src.agg(sum(col("tokens")).as("tot"),
      count(lit(1)).as("n_sources"))
    src.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("tokens"),
        expr("tokens * 10000 div tot").as("share_bp"),
        expr("tot div n_sources").as("target_tokens"),
        expr("(tot div n_sources) * 10000 div tokens").as("factor_bp"))
      .withColumn("action",
        when(col("factor_bp") > 10000L, "oversample")
          .when(col("factor_bp") < 10000L, "undersample")
          .otherwise("keep"))
  }

  /** pp27: FUZZY benchmark decontamination — pp07's exact 15-token
    * rolling windows only fire on VERBATIM runs; a lightly paraphrased
    * or truncated eval item (reworded question, clipped answer) slips
    * through. This tier scores trigram-shingle CONTAINMENT of each
    * eval doc inside each train doc — shared ⁄ |eval shingles| in
    * exact basis points, the dd10 asymmetric measure pointed at the
    * eval set — and flags train docs containing ≥30% of any eval
    * item. Asymmetry matters: a long train doc quoting a short eval
    * item scores near 10⁴ bp here but a low symmetric Jaccard.
    * Scale (pp07's exact shape): the eval side is ∝ the benchmark
    * suite — tiny — so it BROADCASTS; the corpus shingle stream never
    * shuffles for the overlap join, and the (train, eval) aggregate
    * runs on matched pairs only (∝ contamination). Same eval carve as
    * pp07 (md5 first hex in {0,1}), shingle rule shared with dd04 so
    * the oracle reuses the proven CTE shape. */
  def pp27FuzzyDecontam(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(s, d)
      .withColumn("is_eval",
        substring(md5(col("text").cast("binary")), 1, 1).isin("0", "1"))
      .withColumn("tk", split(trim(col("text")), " "))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), col("is_eval"), explode(array_distinct(expr(
        """transform(sequence(1, size(tk)-2),
          |  i -> concat(element_at(tk,i), ' ', element_at(tk,i+1), ' ', element_at(tk,i+2)))"""
          .stripMargin))).as("s"))
    val evalSh = sh.filter(col("is_eval"))
      .select(col("doc_id").as("eval_id"), col("s"))
    val evalSizes = evalSh.groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_eval"))
    sh.filter(!col("is_eval")).select(col("doc_id"), col("s"))
      .join(broadcast(evalSh), Seq("s"))
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("shared"))
      .join(broadcast(evalSizes), Seq("eval_id"))
      .withColumn("contain_bp", expr("shared * 10000 div n_eval"))
      .filter(col("contain_bp") >= 3000)
      .groupBy(col("doc_id"))
      .agg(max(col("contain_bp")).as("max_contain_bp"),
        count(lit(1)).as("n_eval_partners"))
  }

  /** pp28: contamination severity per EVAL item — the governance flip
    * side of pp07/pp27 (those flag TRAIN docs to drop; this tells the
    * eval owner which BENCHMARK items are burned and how badly, which
    * decides whether reported eval numbers are trustworthy). Per eval
    * doc: distinct train docs sharing a verbatim 15-token window
    * (pp07's tier) and train docs containing ≥30% of its shingles
    * (pp27's tier), rolled into severity = verbatim > fuzzy > clean —
    * every eval item reported, clean ones included (a burned-item
    * list without the denominator misleads). Scale: both tiers are
    * the proven broadcast shapes aggregated on the other side of the
    * same pair frames (∝ contamination, not corpus); the eval spine
    * is ∝ the benchmark suite. */
  def pp28ContamReport(s: SparkSession, d: String): DataFrame = {
    val W = 15
    val flagged = Tables.documents(s, d)
      .withColumn("is_eval",
        substring(md5(col("text").cast("binary")), 1, 1).isin("0", "1"))
    val wins = flagged
      .withColumn("tk", split(trim(col("text")), " "))
      .filter(size(col("tk")) >= W)
      .select(col("doc_id"), col("is_eval"), explode(array_distinct(expr(
        s"""transform(sequence(1, size(tk)-$W+1),
           |  i -> md5(cast(array_join(slice(tk, i, $W), ' ') as binary)))"""
          .stripMargin))).as("win_hash"))
    val evalWins = wins.filter(col("is_eval"))
      .select(col("win_hash"), col("doc_id").as("eval_id")).distinct()
    val verbatim = wins.filter(!col("is_eval"))
      .join(broadcast(evalWins), Seq("win_hash"))
      .groupBy(col("eval_id"))
      .agg(countDistinct(col("doc_id")).as("n_verbatim_train"))
    val sh = flagged
      .withColumn("tk", split(trim(col("text")), " "))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), col("is_eval"), explode(array_distinct(expr(
        """transform(sequence(1, size(tk)-2),
          |  i -> concat(element_at(tk,i), ' ', element_at(tk,i+1), ' ', element_at(tk,i+2)))"""
          .stripMargin))).as("s"))
    val evalSh = sh.filter(col("is_eval"))
      .select(col("doc_id").as("eval_id"), col("s"))
    val evalSizes = evalSh.groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_eval"))
    val fuzzy = sh.filter(!col("is_eval")).select(col("doc_id"), col("s"))
      .join(broadcast(evalSh), Seq("s"))
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("shared"))
      .join(broadcast(evalSizes), Seq("eval_id"))
      .filter(expr("shared * 10000 div n_eval") >= 3000)
      .groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_fuzzy_train"))
    flagged.filter(col("is_eval")).select(col("doc_id").as("eval_id"))
      .join(verbatim, Seq("eval_id"), "left_outer")
      .join(fuzzy, Seq("eval_id"), "left_outer")
      .select(col("eval_id"),
        coalesce(col("n_verbatim_train"), lit(0L)).as("n_verbatim_train"),
        coalesce(col("n_fuzzy_train"), lit(0L)).as("n_fuzzy_train"))
      .withColumn("severity",
        when(col("n_verbatim_train") > 0, "verbatim")
          .when(col("n_fuzzy_train") > 0, "fuzzy")
          .otherwise("clean"))
  }

  /** pp29: inference batch planner — the serving-side twin of pp22's
    * training packer: batched inference pads every sequence in a batch
    * to the batch max, so the scheduler first buckets docs into
    * power-of-2 length bands (16…8192, assigned by a 10-row broadcast
    * band spine — integer-exact, no float log2 whose ties at exact
    * powers would split across engines) and then cuts each band into
    * batches of ≤32 docs, longest-first (FFD inside the band keeps
    * same-batch lengths close, minimizing pad waste). Emits the batch
    * manifest with the padding-waste bp a capacity planner reads. The
    * per-band row_number is the pp22 prefix-sum shape: at 100 TB the
    * ~10 band partitions sub-shard by a key prefix exactly as pp22's
    * per-source bins do — the batch ids gain a shard prefix, the
    * algorithm is unchanged. */
  def pp29InferenceBatches(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(trim(col("text")), " ")).cast("long").as("n_tok"))
    val bands = s.range(4, 14).select(expr("CAST(pow(2, id) AS BIGINT)").as("band"))
    // LEFT join + coalesce: a doc longer than the top band (no matching
    // spine row) clamps INTO the top band instead of silently vanishing
    // from the manifest — the planner must never lose documents on a
    // long-doc corpus (truncation-to-context is the serving layer's
    // call, not the batcher's)
    val banded = docs
      .join(broadcast(bands),
        col("band") >= greatest(col("n_tok"), lit(16L)), "left_outer")
      .groupBy(col("doc_id"), col("n_tok"))
      .agg(coalesce(min(col("band")), lit(8192L)).as("band"))
    val w = Window.partitionBy(col("band"))
      .orderBy(col("n_tok").desc, col("doc_id"))
    banded
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("batch_id", expr("(rn - 1) div 32"))
      .groupBy(col("band"), col("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("n_tok")).as("max_len"),
        sum(col("n_tok")).as("sum_tokens"))
      .withColumn("padded_tokens", col("n_docs") * col("max_len"))
      .withColumn("waste_bp",
        expr("(padded_tokens - sum_tokens) * 10000 div padded_tokens"))
  }

  /** pp30: data-constrained scaling accounting (Muennighoff et al.
    * 2305.16264 — repeated data is worth roughly full value to ~4
    * epochs, little beyond): per source, the total token mass, the
    * UNIQUE mass after exact dedup (dd01's content-hash rule, scoped
    * within source — cross-source duplication is pp06's mixing
    * question, not this one), the implied epoch count over the unique
    * set on the bp grid (pp26's int64-safe choice), and the effective
    * token budget under the 4-epoch cap — the number that says whether
    * a source can actually fill its pp06 mix share or will be
    * repeating itself past usefulness. Duplicates share their text, so
    * the keeper's token count is min over the hash group — no second
    * scan, no join back; two partial-agg'd shuffles (source×hash, then
    * source). */
  def pp30DataConstrained(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("source"), md5(col("text").cast("binary")).as("h"),
        size(split(trim(col("text")), " ")).cast("long").as("n_tok"))
    docs.groupBy(col("source"), col("h"))
      .agg(count(lit(1)).as("n_copies"), min(col("n_tok")).as("n_tok"))
      .groupBy(col("source"))
      .agg(sum(col("n_copies") * col("n_tok")).as("total_tokens"),
        sum(col("n_tok")).as("unique_tokens"))
      .withColumn("epochs_bp",
        expr("total_tokens * 10000 div unique_tokens"))
      .withColumn("effective_tokens",
        least(col("total_tokens"), col("unique_tokens") * 4))
  }

  /** pp31: SOFT-dedup training mix — dd25's duplication-aware sampling
    * weights applied as BEHAVIOR, not reported as a table: per source,
    * the token mass each of the three dedup regimes actually feeds the
    * mix. `raw_tokens` keeps every copy at full weight; `soft_tokens`
    * samples each doc ∝ its dd25 weight (expected mass = Σ n_tok ·
    * weight_ppm div 10⁶, exact per-doc integer then summed — a family
    * duplicated n× contributes ≈ one doc's mass while retaining all n
    * phrasings in the pool); `hard_tokens` is dd07's keep-best world
    * (cluster min-id keeper only — singletons keep themselves). The
    * discount columns are the knob a mix designer reads: how much mass
    * soft dedup trims per source, and how much MORE than hard dedup it
    * retains (soft ≥ hard exactly when cluster members' lengths
    * differ — the keeper is not always the longest). Scale: rides
    * dd25's cluster frame (∝ near-dups, AQE-broadcast onto the corpus
    * scan) + one per-source aggregate; no new shuffle class. */
  def pp31SoftMix(s: SparkSession, d: String): DataFrame = {
    val w = Dedup.dd25DupWeights(s, d) // (doc_id, cluster_id, cluster_size, weight_ppm)
    val keepers = w.groupBy(col("cluster_id"))
      .agg(min(col("doc_id")).as("keeper_id"))
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), " ")).cast("long").as("n_tok"))
    docs.join(w, Seq("doc_id"))
      .join(keepers, Seq("cluster_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("raw_tokens"),
        sum(expr("n_tok * weight_ppm div 1000000")).as("soft_tokens"),
        sum(when(col("doc_id") === col("keeper_id"), col("n_tok"))
          .otherwise(0L)).as("hard_tokens"))
      .withColumn("soft_discount_bp",
        expr("(raw_tokens - soft_tokens) * 10000 div raw_tokens"))
      // signed exact difference, NOT a bp: soft < hard happens when a
      // cluster's keeper is its longest member, and Spark (truncate)
      // vs DuckDB (floor) disagree on negative integer division
      .withColumn("soft_minus_hard_tokens",
        col("soft_tokens") - col("hard_tokens"))
  }

  /** pp32: PURGE blast-radius audit — the governance op that makes the
    * VersionedCorpus GDPR path operable at scale: deleting docs from
    * the corpus is not enough, every DERIVED artifact that memorized
    * them must also forget, and the purge scheduler's first question
    * is "how much of each index does this tombstone batch invalidate —
    * patch or rebuild?". Measured here for the three artifact families
    * the engine ships: the truncated BM25 posting lists (a term is
    * affected iff a purged doc sits in its kept top-64 — pruned docs
    * were never in the index), the IVF cell assignment (a cell is
    * affected iff it contains a purged vector; vec_id ≡ doc_id, the
    * ss20 identity), and the near-dup clusters (an affected cluster's
    * keeper choice may change). One distinct-count aggregate per
    * artifact frame (the artifacts are already computed/cached by
    * their owners), tombstone membership from the REAL `_tombstones`
    * ledger ([[PurgeLedger]] round-trips the planted doc_id % 97
    * batch through VersionedCorpus.purgeKeys → tombstoneKeys, so the
    * DuckDB oracle replays membership while the Spark side reads the
    * same ledger a production ingest gate reads); the key list is
    * ∝ deletion requests, applied row-local via isin (a broadcast
    * semi-join once batches outgrow a literal list); affected share
    * in exact bp. */
  def pp32PurgeImpact(s: SparkSession, d: String): DataFrame = {
    val keys = PurgeLedger.keys(s, d)
    val purged = (c: org.apache.spark.sql.Column) => c.isin(keys: _*)
    val post = Similarity.postingsCached(s, d)
    val lex = post.agg(
      countDistinct(when(purged(col("doc_id")), col("tok"))).as("n_affected"),
      countDistinct(col("tok")).as("n_total"))
      .select(lit("postings_terms").as("artifact"),
        col("n_affected"), col("n_total"))
    val cells = Similarity.cellAssignments(s, d)
      .select(col("vec_id"), col("cell"))
      .agg(
        countDistinct(when(purged(col("vec_id")), col("cell"))).as("n_affected"),
        countDistinct(col("cell")).as("n_total"))
      .select(lit("ivf_cells").as("artifact"),
        col("n_affected"), col("n_total"))
    val clus = Dedup.dd06DupClusters(s, d).agg(
      countDistinct(when(purged(col("doc_id")), col("cluster_id")))
        .as("n_affected"),
      countDistinct(col("cluster_id")).as("n_total"))
      .select(lit("dup_clusters").as("artifact"),
        col("n_affected"), col("n_total"))
    lex.unionByName(cells).unionByName(clus)
      .withColumn("affected_bp",
        when(col("n_total") === 0, 0L)
          .otherwise(expr("n_affected * 10000 div n_total")))
  }

  /** pp33: per-DOMAIN contribution caps — no single source may put
    * more than CAP=60 docs into the training pool (the C4/RefinedWeb
    * guard against one crawled domain flooding the mix; pp06 balances
    * token MASS across sources, this bounds DOC COUNT so a single
    * domain's boilerplate can't dominate even inside its mass quota).
    * Rank within source is deterministic quality-by-length
    * (n_chars DESC, doc_id) — the real pipeline swaps in any
    * per-doc score without touching the mechanics. Scale: the
    * per-source selection is the partial-aggregable
    * TopKPairAggregator, NEVER a window over the corpus partitioned
    * by source (one mega-domain at 100 TB would serialize that
    * partition's sort on a single task); ≤ CAP pairs per source cross
    * the shuffle, the kept-doc join back is a semi-sized hash join,
    * and the report is one row per source. */
  def pp33DomainCaps(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"))
    val topk = udaf(new graft.functions.TopKPairAggregator(60))
    val kept = docs.groupBy(col("source"))
      .agg(topk(col("n_chars").cast("double"), col("doc_id")).as("top"))
      .select(col("source"), explode(col("top")).as("p"))
      .select(col("source"), col("p._2").as("doc_id"))
    val keptStats = kept.join(docs, Seq("source", "doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
    val allStats = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars_total"))
    allStats.join(keptStats, Seq("source"))
      .withColumn("n_dropped", col("n_docs") - col("n_kept"))
      .withColumn("kept_ppm",
        when(col("chars_total") === 0, 0L)
          .otherwise(expr("chars_kept * 1000000 div chars_total")))
      .select(col("source"), col("n_docs"), col("n_kept"),
        col("n_dropped"), col("chars_total"), col("chars_kept"),
        col("kept_ppm"))
  }

  /** pp36: shard-to-WORKER schedule — the step between pp14's shard
    * plan and a training run: 16 hash-shards onto 4 readers, striped
    * by descending token load (rank k → worker (k−1) mod 4 — the
    * deterministic near-LPT heuristic: the 4 heaviest shards land on
    * 4 different workers, and each stripe round balances the
    * residual; true LPT is a sequential argmin that a declarative
    * plan can't express, and on hash-balanced shards the stripe is
    * within a rounding of it). Per worker: shards, docs, tokens,
    * bytes, load share in exact bp, and the makespan overrun vs the
    * ideal 1/W share (the number the reader-pool sizing reads). The
    * ordering window sorts the 16-row SHARD frame — bounded by the
    * shard count, never data. */
  def pp36WorkerSchedule(s: SparkSession, d: String): DataFrame = {
    val W = 4L
    val shards = pp14ShardPlan(s, d)
      .select(col("shard_id"), col("n_docs"), col("n_tokens"),
        col("n_bytes"))
    val wOrd = Window.orderBy(col("n_tokens").desc, col("shard_id"))
    val assigned = shards
      .withColumn("rk", row_number().over(wOrd))
      .withColumn("worker", (col("rk") - 1) % W)
    val tot = shards.agg(sum(col("n_tokens")).as("t_tokens"))
    assigned.groupBy(col("worker"))
      .agg(count(lit(1)).as("n_shards"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_bytes")).as("n_bytes"))
      .crossJoin(broadcast(tot))
      .withColumn("load_bp", expr("n_tokens * 10000 div t_tokens"))
      .withColumn("overrun_bp",
        expr(s"(n_tokens * $W - t_tokens) * 10000 div t_tokens"))
      .withColumn("overrun_bp",
        when(col("overrun_bp") < 0, 0L).otherwise(col("overrun_bp")))
      .select(col("worker"), col("n_shards"), col("n_docs"),
        col("n_tokens"), col("n_bytes"), col("load_bp"),
        col("overrun_bp"))
  }

  /** pp35: TEMPERATURE curve for the mix flattener — pp10 samples at
    * one fixed temperature; this is the tuning table that justifies
    * the choice: per-source target share at τ = 1 (raw, big sources
    * dominate), τ = 1/2 (pp10's sqrt flattening), τ = 1/4 (nearly
    * uniform), all on a cross-engine-exact grid: n^(1/2) and n^(1/4)
    * are computed as sqrt chains — IEEE sqrt is CORRECTLY ROUNDED on
    * both engines where pow() is not, so the micro-rounded weights
    * (round(·10⁶), the tx08 ln precedent) hash-match with no float
    * in the graded shares (share = w_micro·10⁶ div Σw_micro). Scale:
    * one per-source count, a 3-way union of |sources|-sized frames,
    * one 3-row total — nothing corpus-sized after the first scan. */
  def pp35TempCurve(s: SparkSession, d: String): DataFrame = {
    val n = Tables.documents(s, d).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
    def tier(name: String, w: org.apache.spark.sql.Column) =
      n.select(lit(name).as("tau"), col("source"), col("n_docs"),
        round(w * lit(1000000.0)).cast("long").as("w_micro"))
    val t = tier("raw", col("n_docs").cast("double"))
      .unionByName(tier("sqrt", sqrt(col("n_docs"))))
      .unionByName(tier("fourth_root", sqrt(sqrt(col("n_docs")))))
    val tot = t.groupBy(col("tau")).agg(sum(col("w_micro")).as("w_tot"))
    t.join(tot, Seq("tau"))
      .withColumn("share_ppm", expr("w_micro * 1000000 div w_tot"))
      .select(col("tau"), col("source"), col("n_docs"), col("w_micro"),
        col("share_ppm"))
  }

  /** pp34: contribution-cap SENSITIVITY curve — the tuning companion
    * to pp33 (the dd13/dd24 auto-tuner pattern applied to domain
    * caps): for each candidate cap, what fraction of the corpus's
    * docs and char mass survives and how many sources the cap
    * actually binds (n_saturated) — the curve a pipeline owner reads
    * to pick the cap that tames mega-domains without starving the
    * long tail. One per-source top-160 via the partial-aggregable
    * TopKPairAggregator (possible BECAUSE the rank list is bounded by
    * the largest candidate cap — the sweep re-reads the ≤160-row/
    * source frame, never the corpus), a 6-row broadcast cap spine,
    * and two 1-row totals; no window over the corpus anywhere. */
  def pp34CapCurve(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"))
    val perSrc = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
    val topk = udaf(new graft.functions.TopKPairAggregator(160))
    val ranked = docs.groupBy(col("source"))
      .agg(topk(col("n_chars").cast("double"), col("doc_id")).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("pos", "pair")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rk"),
        col("pair._1").cast("long").as("n_chars"))
    val caps = s.range(1).select(explode(array(
      Seq(10, 20, 40, 60, 80, 160).map(c => lit(c.toLong)): _*)).as("cap"))
    val kept = ranked.crossJoin(broadcast(caps))
      .filter(col("rk") <= col("cap"))
      .groupBy(col("cap"))
      .agg(count(lit(1)).as("docs_kept"),
        sum(col("n_chars")).as("chars_kept"))
    val sat = perSrc.crossJoin(broadcast(caps))
      .groupBy(col("cap"))
      .agg(sum(when(col("n_docs") > col("cap"), 1L).otherwise(0L))
        .as("n_saturated"))
    val tot = docs.agg(count(lit(1)).as("t_docs"),
      sum(col("n_chars")).as("t_chars"))
    kept.join(sat, Seq("cap")).crossJoin(broadcast(tot))
      .withColumn("docs_kept_ppm", expr("docs_kept * 1000000 div t_docs"))
      .withColumn("chars_kept_ppm",
        expr("chars_kept * 1000000 div t_chars"))
      .select(col("cap"), col("docs_kept"), col("chars_kept"),
        col("n_saturated"), col("docs_kept_ppm"), col("chars_kept_ppm"))
  }

  // ------------------------------------------------------------------
  // Purge PROPAGATION (pp37–pp39) — the ops pp32 begs for: pp32
  // measures how much of each derived artifact a tombstone batch
  // invalidates; these actually APPLY the batch, incrementally, with
  // work ∝ the affected slice. Each op's DuckDB oracle REBUILDS the
  // artifact from scratch on the purged corpus, so a hash match IS a
  // cross-engine proof that patch ≡ rebuild.
  // ------------------------------------------------------------------

  /** pp37: patch the truncated BM25 postings for a tombstone batch —
    * the index-layer half of the GDPR loop (purgeKeys forgets the
    * corpus; this forgets the lexical index): terms whose kept top-64
    * contains NO purged doc pass through UNTOUCHED (a purged doc
    * below a term's kept cut can never alter its top-64, so
    * pass-through is exact, not approximate); each AFFECTED term's
    * list is re-derived from the standing tf frame minus the batch.
    * Work ∝ affected terms' postings, never the corpus; the
    * tombstone table is ledger-read ([[PurgeLedger]]) and broadcast.
    * Oracle = full postings rebuild on the purged corpus. */
  def pp37PatchPostings(s: SparkSession, d: String): DataFrame = {
    val tomb = PurgeLedger.table(s, d)
    val tf = Similarity.termFreqsCached(s, d)
    val post = Similarity.postingsCached(s, d) // the standing artifact
    // broadcast only the LEDGER (∝ deletion requests, guaranteed
    // small); `affected` is batch-AMPLIFIED (∝ the batch's term
    // surface) so its joins are left to AQE, which broadcasts when
    // the runtime size allows and degrades gracefully when a huge
    // batch would blow a forced hint
    val affected = post.join(broadcast(tomb), Seq("doc_id"), "left_semi")
      .select(col("tok")).distinct()
    val passThrough = post.join(affected, Seq("tok"), "left_anti")
    val repaired = Similarity.bm25Postings(
      tf.join(affected, Seq("tok"), "left_semi")
        .join(broadcast(tomb), Seq("doc_id"), "left_anti"))
    passThrough.unionByName(repaired)
  }

  /** Patched IVF sufficient statistics with the float vector sums —
    * st23's fold-in run in REVERSE: subtract each purged vector from
    * its cell's (cnt, vsum) instead of re-scanning the corpus. The
    * coarse quantizer (centroids) is immutable under purge — survivor
    * assignments cannot change — so the stats subtraction IS the
    * whole patch. Exposed for the spec, which checks vsum_after
    * against a from-scratch rebuild (float sums are order-dependent,
    * so the array is tolerance-checked there, never hash-graded). */
  private[graft] def patchedIvfStats(s: SparkSession, d: String): DataFrame = {
    val tomb = PurgeLedger.table(s, d).withColumnRenamed("doc_id", "vec_id")
    val asg = Similarity.cellAssignments(s, d)
      .select(col("vec_id"), col("cell"), col("embedding"))
    val before = Similarity.ivfSuffStats(asg)
    val purged = Similarity.ivfSuffStats(
        asg.join(broadcast(tomb), Seq("vec_id"), "left_semi"))
      .withColumnRenamed("cnt", "p_cnt").withColumnRenamed("vsum", "p_vsum")
    before.join(purged, Seq("cell"), "left_outer")
      .withColumn("n_purged", coalesce(col("p_cnt"), lit(0L)))
      .select(col("cell"), col("cnt").as("cnt_before"), col("n_purged"),
        (col("cnt") - col("n_purged")).as("cnt_after"),
        when(col("p_vsum").isNull, col("vsum"))
          .otherwise(expr("zip_with(vsum, p_vsum, (a, b) -> a - b)"))
          .as("vsum_after"))
  }

  /** pp38: patch the IVF (cnt, vsum) sufficient statistics for a
    * tombstone batch (see [[patchedIvfStats]]). Graded output is the
    * integer half (cell, cnt_before, n_purged, cnt_after) against a
    * DuckDB rebuild of the assignment on the purged corpus; the float
    * vsum patch is spec-verified ≡ rebuild to 1e-9. */
  def pp38PatchIvf(s: SparkSession, d: String): DataFrame =
    patchedIvfStats(s, d)
      .select(col("cell"), col("cnt_before"), col("n_purged"),
        col("cnt_after"))

  /** pp39: patch the near-dup keeper table (dd07's artifact) for a
    * tombstone batch — keepers of clusters with NO purged member pass
    * through untouched (component membership depends only on the
    * cluster's own edges, so other docs' departure cannot change it);
    * each AFFECTED cluster's survivors are re-clustered over their
    * surviving pair edges with dd06's convergence kernel (a purged
    * BRIDGE doc splits its cluster; a survivor left edge-less drops
    * out of the cluster table, exactly as a rebuild drops it) and
    * keepers re-elected per resulting cluster by dd07's rule. The
    * iterative work runs over affected clusters' edges only — at a
    * weekly-batch : 100 TB-corpus ratio that is the difference
    * between a purge costing minutes and costing a full dedup rerun.
    * Oracle = dd07 rebuilt from scratch on the purged corpus. */
  def pp39PatchClusters(s: SparkSession, d: String): DataFrame =
    pp39Patched(s, d)._2

  /** Both halves of the purge-patched dedup artifact in ONE affected-
    * clusters computation — `(members, keepers)` with members =
    * (doc_id, cluster_id) in dd06's shape and keepers in dd07's — so
    * `publishPurgedIndex` re-points the `clusters` AND `keepers`
    * artifact lines without running the convergence kernel twice (the
    * reclustered frame is truncation-materialized once and shared by
    * both returned plans). */
  private[graft] def pp39Patched(s: SparkSession,
      d: String): (DataFrame, DataFrame) = {
    val p = pp39Parts(s, d)
    (p.passMembers.unionByName(p.reclustered),
      p.passKeepers.unionByName(
        Dedup.keepBestFrom(p.reclustered, p.scores)))
  }

  /** pp39's purge computation factored into its shared pieces —
    * `affected` the old cluster ids a tombstone touches,
    * `survPairs`/`reclustered` the survivors' self-contained edge set
    * and labels, the two pass-through frames and the score signal —
    * so the purge-side POLICY patch (pp51) can derive dd36's rows off
    * the same affected subgraph instead of re-running the chain. */
  private[graft] final case class PurgeParts(
      affected: DataFrame, survPairs: DataFrame, reclustered: DataFrame,
      passMembers: DataFrame, passKeepers: DataFrame, scores: DataFrame)

  /** The tombstone batch's shared purge GEOMETRY — affected cluster
    * ids, the survivors' self-contained pair set, its reclustering and
    * the safe-member decomposition of that subgraph — MEMOIZED per
    * session (the memo key carries the ledger root conf): pp39's
    * cluster patch, pp45's safe patch and pp51's policy patch all
    * derive the IDENTICAL frames, and the two
    * propagations inside are EAGER convergence loops whose truncated
    * outputs plain plan-identity caching can never dedupe (every call
    * mints fresh checkpoint RDDs) — the dd06/corpusStanding memo
    * discipline, applied to the purge side (r12 optimization; the
    * round-11 verdict's proof-cost budget item). */
  private[graft] final case class PurgeGeom(affected: DataFrame,
      pairs: DataFrame, recl: DataFrame, safeMembers: DataFrame)

  private[graft] def purgeGeom(s: SparkSession, d: String): PurgeGeom =
    memo(s, "purgeGeom", d) {
      val tomb = PurgeLedger.table(s, d)
      val clusters = Dedup.dd06DupClusters(s, d)
      val affected = clusters.join(broadcast(tomb), Seq("doc_id"), "left_semi")
        .select(col("cluster_id")).distinct()
      // survivors of affected clusters; their surviving edges are the
      // original pair set restricted to those survivors on BOTH ends
      // (pair edges never cross components, so no cross-cluster edge
      // can appear), re-clustered to convergence.
      // `survivors` is batch-AMPLIFIED (∝ affected clusters' sizes — a
      // purged doc inside a mega boilerplate cluster would blow a
      // forced broadcast), so its joins are left to AQE; only the
      // ledger-sized frames keep explicit hints
      val survivors = clusters
        .join(broadcast(affected), Seq("cluster_id"), "left_semi")
        .join(broadcast(tomb), Seq("doc_id"), "left_anti")
        .select(col("doc_id"))
      val pairs = CacheScope.cached(
        Dedup.dd02MinhashLsh(s, d).select(col("d1"), col("d2"))
          .join(survivors.withColumnRenamed("doc_id", "d1"), Seq("d1"),
            "left_semi")
          .join(survivors.withColumnRenamed("doc_id", "d2"), Seq("d2"),
            "left_semi"))
      val reclustered = Dedup.propagateMinLabels(pairs)
        .select(col("doc").as("doc_id"), col("lbl").as("cluster_id"))
      // safeMembers truncated: consumed by pp45 and pp51 — a flat leaf
      // keeps their composed plans (and cache-entry matching) small
      import graft.ops.Checkpoints.TruncateOps
      PurgeGeom(affected, pairs, reclustered,
        Dedup.safeMembersOf(pairs, reclustered).truncated)
    }

  private[graft] def pp39Parts(s: SparkSession, d: String): PurgeParts = {
    val g = purgeGeom(s, d)
    val scores = Text.tx02QualityScore(s, d).select(col("doc_id"), col("score"))
    val clusters = Dedup.dd06DupClusters(s, d)
    val keepers = Dedup.keepBestFrom(clusters, scores) // standing artifact
    val passThrough = keepers.join(broadcast(g.affected), Seq("cluster_id"),
      "left_anti")
    // an unaffected cluster has NO purged member by construction, so
    // its member rows pass through whole as well
    val passMembers = clusters.join(broadcast(g.affected), Seq("cluster_id"),
        "left_anti")
      .select(col("doc_id"), col("cluster_id"))
    PurgeParts(g.affected, g.pairs, g.recl, passMembers, passThrough, scores)
  }

  /** pp51: keeper-POLICY purge patch — dd36's routed terminal gets
    * the purge direction pp39 (clusters/keepers) and pp45 (safe) have,
    * so the `policy_keepers` artifact line forgets a tombstone batch
    * with work ∝ the affected surface: untouched clusters' policy
    * rows pass through VERBATIM (their pairs, members, density, both
    * keeper rules and hence their route depend only on their own
    * edges — the same component-locality argument as pp39/pp45),
    * affected clusters re-derive density + route over the survivor
    * subgraph via the SHARED policy kernel, selecting from the
    * already-patched dd07 rows (pp39's) and dd28 rows (pp45's) for
    * exactly those clusters. Oracle = dd36 rebuilt from scratch on
    * the purged corpus, so the hash is a cross-engine
    * patch ≡ rebuild proof (pp45's discipline on the policy tier). */
  def pp51PatchPolicy(s: SparkSession, d: String): DataFrame = {
    val thr = s.conf.get(Dedup.keeperDensityBpConf, "5000").toLong
    val p = pp39Parts(s, d)
    val affIds = p.reclustered.select(col("cluster_id")).distinct()
    val k07Aff = Dedup.keepBestFrom(p.reclustered, p.scores)
    val k28Aff = pp45PatchSafe(s, d)
      .join(affIds, Seq("cluster_id"), "left_semi")
    Dedup.dd36KeeperPolicy(s, d) // the standing artifact (pre-purge)
      .join(p.affected, Seq("cluster_id"), "left_anti")
      .unionByName(Dedup.policyRowsFrom(
        p.survPairs, p.reclustered, k07Aff, k28Aff, thr))
  }

  /** pp41: index UPSERT — the ADD direction of pp37, completing the
    * index lifecycle (build → upsert on arrivals → purge on
    * tombstones → version → serve): fold an arrival batch (pp05's
    * increment convention: source = src0) into the STANDING truncated
    * postings without a rebuild. A new doc can only change the lists
    * of terms IT CONTAINS, so every untouched term's top-64 passes
    * through verbatim (exact, not approximate — adding a doc never
    * reorders a list it is absent from) and only the touched terms'
    * lists re-derive from the combined tf. Work ∝ the touched terms'
    * postings (at 100 TB: an hourly batch touches a vocabulary
    * sliver; st28 is this op's streaming twin, and this op is st28's
    * periodic exact reconciliation). Oracle = the full-corpus
    * postings build, so the hash match proves upsert ≡ rebuild. */
  def pp41IndexUpsert(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val standing = Similarity.bm25Postings(
      Similarity.termFreqsOf(docs.filter(col("source") =!= "src0")))
    val arrivals = Similarity.termFreqsOf(
      docs.filter(col("source") === "src0"))
    // `touched` is batch-amplified (∝ the arrival batch's vocabulary),
    // so its joins are AQE's call rather than a forced broadcast
    val touched = arrivals.select(col("tok")).distinct()
    val passThrough = standing
      .join(touched, Seq("tok"), "left_anti")
    val rebuilt = Similarity.bm25Postings(
      Similarity.termFreqsCached(s, d)
        .join(touched, Seq("tok"), "left_semi"))
    passThrough.unionByName(rebuilt)
  }

  /** pp40: patch the BM25 LEXICON for a tombstone batch — the
    * statistics half pp37 leaves stale: a purged doc's departure
    * changes every term's df it appeared in (not just top-64-affected
    * terms), the corpus doc count, and the average document length —
    * so a reader serving from patched postings against an unpatched
    * lexicon scores with yesterday's idf. The patch is pure
    * sufficient-statistic subtraction, every delta frame ∝ the purged
    * batch: per-term df deltas and the (Δdocs, Δtokens) totals come
    * from ONE semi-join of the tf frame against the broadcast
    * tombstones; df′ = df − Δdf (terms reaching 0 drop out, exactly
    * as a rebuild drops them), N′/T′ adjust the avgdl scalar, and the
    * idf recomputes row-locally from the patched integers — so it is
    * bit-identical to a from-scratch rebuild, which is what the
    * DuckDB oracle computes (patch ≡ rebuild, cross-engine). The
    * standing (N, T) totals read off the cached |docs|-row doclens
    * frame — index metadata, not a corpus scan. */
  def pp40PatchLexicon(s: SparkSession, d: String): DataFrame = {
    val tomb = PurgeLedger.table(s, d)
    val tf = Similarity.termFreqsCached(s, d)
    val lex = Similarity.bm25Lexicon(s, d) // the standing artifact
    val purgedTf = tf.join(broadcast(tomb), Seq("doc_id"), "left_semi")
    val dfDelta = purgedTf.groupBy(col("tok"))
      .agg(count(lit(1)).as("df_delta"), sum(col("tf")).as("tf_delta"))
    val standingTot = Similarity.docLens(s, d)
      .agg(sum(col("dl")).as("t_tokens"), count(lit(1)).as("n_docs"))
    val purgedTot = purgedTf
      .agg(coalesce(sum(col("tf")), lit(0L)).as("t_delta"),
        countDistinct(col("doc_id")).as("n_delta"))
    val tot = standingTot.crossJoin(purgedTot)
      .select((col("t_tokens") - col("t_delta")).as("t_after"),
        (col("n_docs") - col("n_delta")).as("n_after"))
      .withColumn("a_c_after", expr("100 * t_after div n_after"))
    // dfDelta is batch-amplified (∝ the batch's term surface) — AQE's
    // call, same rule as pp37/39/41; only 1-row totals keep hints here
    lex.join(dfDelta, Seq("tok"), "left_outer")
      .withColumn("df", col("df") - coalesce(col("df_delta"), lit(0L)))
      .filter(col("df") > 0)
      .crossJoin(broadcast(tot))
      .select(col("tok"), col("df"),
        round(log((col("n_after") * 2 + lit(2)).cast("double")
          / (col("df") * 2 + lit(1)).cast("double"))
          * lit(1000000.0)).cast("long").as("idf_micro"),
        col("a_c_after").as("a_c"))
  }

  /** Cluster/keeper UPSERT over explicit frames — `pairs` the full
    * near-dup pair set (oriented d1 < d2), `newIds` the arrival
    * batch, `scores` the keep-best quality signal. Adding documents
    * only ADDS edges, so a standing cluster no new pair touches keeps
    * its component, its min-label AND its keeper verbatim (component
    * membership and keep-best depend only on the cluster's own edges
    * and members); a cluster containing any endpoint of a new pair is
    * AFFECTED — including both sides of a WELD, where a new doc
    * bridges two standing clusters (the dd26 chain risk, now arriving
    * incrementally) — and re-clusters over its own standing edges ∪
    * all new pairs. LSH pair generation is pairwise (bucket collision
    * depends only on the two docs' signatures), so the standing pair
    * set is exactly the full set with both endpoints standing — the
    * standing artifact needs no recompute at scale, and only the
    * batch's shingles hash against the signature index (pp05's
    * documented ingest shape). */
  private[graft] def clusterUpsertFrom(pairs: DataFrame, newIds: DataFrame,
      scores: DataFrame): DataFrame =
    clusterUpsertBoth(pairs, newIds, scores)._2

  /** Both halves of the upserted dedup artifact — `(members,
    * keepers)` off ONE affected-clusters computation, mirroring
    * [[pp39Patched]] so `IndexArtifacts.publishUpsertedDedup`
    * re-points the clusters AND keepers lines together (publishing
    * one and leaving the other stale is the silent-staleness bug
    * class the dd28 invalidation marker exists for).
    *
    * (A fancier standing-side derivation — patch the memoized FULL
    * clustering down to the standing one, affected-only — was built
    * and MEASURED SLOWER at the sf convention: src0 arrivals are
    * ~12% of docs spread across most clusters, so "affected" ≈
    * everything and the derivation just added a convergence loop;
    * the straight standing propagation below is the faster shape
    * whenever the batch's cluster surface is large, and at a true
    * weekly-batch : 100 TB ratio the production path loads the
    * standing artifact and runs NO standing-side loop at all.) */
  /** Standing-side (source ≠ src0) pair + cluster frames for corpus
    * `d`, MEMOIZED per session — pp43's and pp49's in-query
    * proofs (and publishUpsertedDedup) all derive the IDENTICAL
    * standing clustering, and a warm session must pay its convergence
    * loop once (the dd06/safe-chain memo discipline). */
  private[graft] def corpusStanding(s: SparkSession,
      d: String): (DataFrame, DataFrame) =
    memo(s, "corpusStanding", d) {
      val newIds = Tables.documents(s, d)
        .filter(col("source") === "src0").select(col("doc_id"))
      val pairs = CacheScope.cached(
        Dedup.dd02MinhashLsh(s, d).select(col("d1"), col("d2")))
      val standingPairs = CacheScope.cached(pairs
        .join(newIds.withColumnRenamed("doc_id", "d1"), Seq("d1"),
          "left_anti")
        .join(newIds.withColumnRenamed("doc_id", "d2"), Seq("d2"),
          "left_anti"))
      (standingPairs,
        CacheScope.cached(Dedup.propagateMinLabels(standingPairs)
          .select(col("doc").as("doc_id"), col("lbl").as("cluster_id"))))
    }

  private[graft] def clusterUpsertBoth(pairs0: DataFrame, newIds: DataFrame,
      scores: DataFrame,
      standing: Option[(DataFrame, DataFrame)] = None,
      recl: Option[DataFrame] = None)
      : (DataFrame, DataFrame) = {
    // CACHE the pair frame once: the composed output plan references
    // the pair subtree ~10× (standing/new/affected derivations, both
    // keep-best sides), and without the cache each reference re-runs
    // the whole LSH chain — measured 92 s vs ~14 s at sf0.01. The
    // frame is ∝ near-dup pairs, never corpus-sized.
    val pairs = CacheScope.cached(pairs0)
    // the standing artifact pair (in production: IndexArtifacts'
    // clusters/keepers lines, loaded — the pp37 convention; corpus
    // callers pass the memoized corpusStanding so a warm session runs
    // the standing convergence loop once across pp43/pp49)
    val (standingPairs, standingClusters) = standing.getOrElse {
      val sp = pairs
        .join(newIds.withColumnRenamed("doc_id", "d1"), Seq("d1"),
          "left_anti")
        .join(newIds.withColumnRenamed("doc_id", "d2"), Seq("d2"),
          "left_anti")
      (sp, Dedup.propagateMinLabels(sp)
        .select(col("doc").as("doc_id"), col("lbl").as("cluster_id")))
    }
    val standingKeepers = Dedup.keepBestFrom(standingClusters, scores)
    val newPairs = pairs.join(standingPairs, Seq("d1", "d2"), "left_anti")
    val newEnds = newPairs.select(col("d1").as("doc_id"))
      .unionByName(newPairs.select(col("d2").as("doc_id"))).distinct()
    // batch-amplified frames (∝ the batch's pair surface) — AQE's
    // call, no forced broadcast (the pp37/39/41/ss25 rule)
    val affected = standingClusters.join(newEnds, Seq("doc_id"), "left_semi")
      .select(col("cluster_id")).distinct()
    val passThrough = standingKeepers
      .join(affected, Seq("cluster_id"), "left_anti")
    val affMembers = standingClusters
      .join(affected, Seq("cluster_id"), "left_semi").select(col("doc_id"))
    // both endpoints of a standing pair share a component, so the
    // d1-side semi-join carries the whole affected edge set
    val affPairs = standingPairs
      .join(affMembers.withColumnRenamed("doc_id", "d1"), Seq("d1"),
        "left_semi")
    // corpus callers pass the memoized reclustering (one convergence
    // loop per warm session); explicit-frame callers (the artifact
    // publisher) run it fresh — the frames differ per fold there
    val reclustered = recl.getOrElse(Dedup.propagateMinLabels(
        affPairs.unionByName(newPairs))
      .select(col("doc").as("doc_id"), col("lbl").as("cluster_id")))
    val passMembers = standingClusters
      .join(affected, Seq("cluster_id"), "left_anti")
      .select(col("doc_id"), col("cluster_id"))
    (passMembers.unionByName(reclustered),
      passThrough.unionByName(Dedup.keepBestFrom(reclustered, scores)))
  }

  /** Batch pairs with endpoints mapped onto standing CLUSTER ids —
    * the quotient graph pp43FromArtifacts componentizes: nodes are
    * touched standing clusters plus joining docs (batch docs and
    * standing singletons a pair pulls in), so the frame is ∝ the
    * batch's pair surface, never the corpus. Exposed for the spec. */
  private[graft] def quotientPairs(standingClusters: DataFrame,
      newPairs: DataFrame): DataFrame =
    newPairs
      .join(standingClusters.select(col("doc_id").as("d1"),
        col("cluster_id").as("c1")), Seq("d1"), "left_outer")
      .join(standingClusters.select(col("doc_id").as("d2"),
        col("cluster_id").as("c2")), Seq("d2"), "left_outer")
      .select(coalesce(col("c1"), col("d1")).as("d1"),
        coalesce(col("c2"), col("d2")).as("d2"))

  /** pp43's PRODUCTION-SHAPE kernel (VERDICT r8 #6): fold an arrival
    * batch into the dedup keeper artifact by LOADING the standing
    * clusters/keepers lines — zero standing-side LSH, zero
    * standing-side convergence (the in-query pp43 derives the
    * standing frames only because the sf convention hands it no
    * published artifact; its own docstring names this twin as the
    * production path at weekly-batch : 100 TB ratios).
    *
    * Exactness argument (the reason loading suffices):
    *  - Components only MERGE under edge additions, so the patched
    *    clustering is the standing one quotiented by the batch's pair
    *    graph: min-label propagation over [[quotientPairs]] — and
    *    because every standing cluster id IS its min member id, the
    *    quotient's min label equals the true min doc_id over the
    *    merged membership. One convergence loop, ∝ batch surface.
    *  - Keeper retirement is artifact-local: a member that is not its
    *    own cluster's keeper loses to that keeper under
    *    (score desc, doc_id asc), so the merged cluster's keeper is
    *    the best of (involved clusters' keepers ∪ joining docs) — an
    *    argmax over a keeper-sized frame, scored request-time (tx02
    *    is row-local, so artifact-time and request-time scores agree).
    *  - n_members adds the involved standing counts to the joining
    *    docs (each weighs 1; a joining doc is never already a member
    *    since the artifact was published on the pre-batch corpus).
    * Untouched clusters' keeper rows pass through verbatim. The spec
    * asserts bit-equality with the in-query pp43 (whose hash is
    * already a cross-engine upsert ≡ rebuild proof). */
  private[graft] def clusterUpsertFromStanding(standingClusters: DataFrame,
      standingKeepers: DataFrame, newPairs0: DataFrame,
      scores: DataFrame): DataFrame =
    clusterUpsertFromStandingBoth(standingClusters, standingKeepers,
      newPairs0, scores)._2

  /** [[clusterUpsertFromStanding]] returning BOTH patched artifact
    * lines (members, keepers) off the one quotient-graph computation —
    * what [[graft.sources.IndexArtifacts.publishFoldedDedup]] publishes
    * so clusters and keepers advance together (re-pointing one line
    * and leaving the other stale is the silent-staleness bug class).
    * Member patch: untouched standing rows pass through verbatim;
    * members of a touched cluster re-map through their cluster node's
    * new quotient label; joining nodes (batch docs and standing
    * singletons — never standing CLUSTERED docs, those were mapped to
    * their cluster ids) label themselves. Same exactness argument as
    * the keeper side: the quotient min-label IS the true min doc_id
    * over the merged membership. */
  private[graft] def clusterUpsertFromStandingBoth(
      standingClusters: DataFrame, standingKeepers: DataFrame,
      newPairs0: DataFrame, scores: DataFrame): (DataFrame, DataFrame) = {
    val newPairs = CacheScope.cached(newPairs0)
    val qlabels = CacheScope.cached(Dedup.propagateMinLabels(
      quotientPairs(standingClusters, newPairs)))
    val touched = qlabels.select(col("doc").as("cluster_id"))
      .join(standingClusters.select(col("cluster_id")).distinct(),
        Seq("cluster_id"), "left_semi")
    val passThrough = standingKeepers
      .join(touched, Seq("cluster_id"), "left_anti")
    val membersPass = standingClusters
      .join(touched, Seq("cluster_id"), "left_anti")
      .select(col("doc_id"), col("cluster_id"))
    val remapped = standingClusters
      .join(touched, Seq("cluster_id"), "left_semi")
      .join(qlabels.select(col("doc").as("cluster_id"), col("lbl")),
        Seq("cluster_id"))
      .select(col("doc_id"), col("lbl").as("cluster_id"))
    val joining = qlabels
      .join(touched.withColumnRenamed("cluster_id", "doc"),
        Seq("doc"), "left_anti")
      .select(col("doc").as("doc_id"), col("lbl").as("cluster_id"))
    val members = membersPass.unionByName(remapped).unionByName(joining)
    // per-node weight: a standing-cluster node carries its published
    // member count, a joining doc weighs 1 (cluster ids are standing
    // doc ids of CLUSTERED docs, so the two node kinds cannot collide)
    val nodeCounts = qlabels
      .join(standingKeepers.select(col("cluster_id").as("doc"),
        col("n_members")), Seq("doc"), "left_outer")
      .groupBy(col("lbl").as("cluster_id"))
      .agg(sum(coalesce(col("n_members"), lit(1L))).as("n_members"))
    // keeper candidates: involved keepers stand in for their whole
    // membership; joining docs stand for themselves
    val cands = qlabels
      .join(standingKeepers.select(col("cluster_id").as("doc"),
        col("keeper_id")), Seq("doc"), "left_outer")
      .select(col("lbl"), coalesce(col("keeper_id"), col("doc")).as("cand_id"))
      .join(scores.withColumnRenamed("doc_id", "cand_id"), Seq("cand_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lbl"))
      .orderBy(col("score").desc, col("cand_id"))
    val merged = cands.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("lbl").as("cluster_id"), col("cand_id").as("keeper_id"))
      .join(nodeCounts, Seq("cluster_id"))
      .select(col("cluster_id"), col("keeper_id"), col("n_members"))
    (members, passThrough.unionByName(merged))
  }

  /** pp43: dedup-artifact UPSERT — the add direction for the LAST
    * artifact family without one (lexical has pp41, IVF has
    * st23/ss17, the graph has ss25): fold the pp05 arrival batch
    * (source = src0) into the standing keeper table without a dedup
    * rerun. Work ∝ the batch's pair surface plus the affected
    * clusters' edges; untouched clusters' keepers pass through
    * verbatim. Oracle = dd07 rebuilt on the FULL corpus (dd07's own
    * oracle, verbatim), so the hash is a cross-engine
    * upsert ≡ rebuild proof — including welds, where one arrival
    * bridges two standing clusters and the patched keeper table must
    * retire a previously-correct keeper. */
  /** pp43's affected-side reclustering, MEMOIZED per session —
    * the one eager convergence loop in the upsert proof. The
    * derivation mirrors [[clusterUpsertBoth]]'s internals over the
    * memoized corpusStanding frames (pp43's oracle is dd07's full
    * rebuild, so any drift between the two spellings fails the hash
    * gate immediately). */
  private def corpusUpsertRecl(s: SparkSession, d: String): DataFrame =
    memo(s, "corpusUpsertRecl", d) {
      val pairs = CacheScope.cached(
        Dedup.dd02MinhashLsh(s, d).select(col("d1"), col("d2")))
      val (standingPairs, standingClusters) = corpusStanding(s, d)
      val newPairs = pairs.join(standingPairs, Seq("d1", "d2"), "left_anti")
      val newEnds = newPairs.select(col("d1").as("doc_id"))
        .unionByName(newPairs.select(col("d2").as("doc_id"))).distinct()
      val affected = standingClusters.join(newEnds, Seq("doc_id"), "left_semi")
        .select(col("cluster_id")).distinct()
      val affMembers = standingClusters
        .join(affected, Seq("cluster_id"), "left_semi").select(col("doc_id"))
      val affPairs = standingPairs
        .join(affMembers.withColumnRenamed("doc_id", "d1"), Seq("d1"),
          "left_semi")
      Dedup.propagateMinLabels(affPairs.unionByName(newPairs))
        .select(col("doc").as("doc_id"), col("lbl").as("cluster_id"))
    }

  def pp43ClusterUpsert(s: SparkSession, d: String): DataFrame =
    clusterUpsertBoth(
      Dedup.dd02MinhashLsh(s, d).select(col("d1"), col("d2")),
      Tables.documents(s, d).filter(col("source") === "src0")
        .select(col("doc_id")),
      Text.tx02QualityScore(s, d).select(col("doc_id"), col("score")),
      Some(corpusStanding(s, d)),
      Some(corpusUpsertRecl(s, d)))._2

  /** pp45: safe-keeper PURGE patch — retires the one remaining
    * rebuild-class caveat: dd28's chain-weld-conservative keeper
    * table used to FAIL CLOSED after a purge (its safe sub-clusters
    * depend on dd26's triangle-support evidence); this patches it
    * with work ∝ the affected clusters' neighborhoods. The key
    * locality fact: near-dup pair edges never cross dd06 components,
    * so triangle support, the deg ≤ 64 hub guard, bridged-ness and
    * the safe decomposition of a cluster depend ONLY on that
    * cluster's own edges — a purge in one cluster cannot move any
    * other cluster's support counts, and every standing dd28 row of
    * an unaffected cluster passes through VERBATIM. Affected
    * clusters' survivors re-run the EXACT dd26→dd27→dd28 chain on
    * their self-contained subgraph (same wedge-safe kernel, same
    * bridged rule, same coalesce-to-self fallback for edge-less
    * docs). Oracle = dd28 rebuilt from scratch on the purged corpus,
    * so the hash is a cross-engine patch ≡ rebuild proof —
    * `publishPurgedIndex` now re-points safe_keepers here instead of
    * writing the fail-closed invalidation marker. */
  def pp45PatchSafe(s: SparkSession, d: String): DataFrame = {
    // the affected subgraph, its reclustering and its safe-member
    // decomposition all come from the memoized purge geometry — pp39
    // and pp51 derive the identical frames, and the chain's two
    // convergence loops run once per session instead of once per call
    val g = purgeGeom(s, d)
    val scores = Text.tx02QualityScore(s, d)
      .select(col("doc_id"), col("score"))
    val standing = Dedup.dd28SafeKeepBest(s, d) // the standing artifact
    val passThrough = standing.join(g.affected, Seq("cluster_id"), "left_anti")
    passThrough.unionByName(
      Dedup.safeKeepBestFrom(g.safeMembers, scores))
  }

  /** Safe-keeper UPSERT kernel over explicit frames — pp45's
    * component-locality argument applied to the ARRIVAL direction
    * (VERDICT r10 #1): `pairs` the full near-dup edge set of
    * corpus+batch, `standingClusters`/`standingSafe` the standing
    * artifact (derived in-query by pp49, LOADED by
    * `IndexArtifacts.publishFoldedDedup`), `newPairs` the edges with a
    * batch endpoint. An arrival only ADDS edges, so a standing
    * cluster no new pair touches keeps its edge set — hence its
    * triangle support, its bridged test and its whole safe
    * decomposition — verbatim, and its dd28 rows pass through
    * untouched. Touched clusters (including both sides of a WELD)
    * merge with their joining docs into self-contained components
    * whose full edge set is exactly [standing edges of touched
    * clusters ∪ new pairs] (the d1-side semi-join carries it — both
    * endpoints of a standing pair share a component, and every new
    * pair's d1 is an affected doc); those components re-run the
    * EXACT dd26→dd27→dd28 chain via the shared kernels, so a
    * previously-safe keeper retires when the weld's support evidence
    * says so. Every frame here is ∝ the batch's pair surface plus the
    * touched clusters' neighborhoods — never the standing corpus. */
  private[graft] def safeUpsertFrom(standingClusters: DataFrame,
      standingSafe: DataFrame, newPairs: DataFrame, scores: DataFrame)(
      affectedPairs: DataFrame => DataFrame): DataFrame = {
    val p = safeUpsertParts(standingClusters, newPairs, scores)(affectedPairs)
    standingSafe.join(p.touched, Seq("cluster_id"), "left_anti")
      .unionByName(p.affSafeRows)
  }

  /** The safe-upsert computation's shared pieces — factored so the
    * artifact fold can derive the POLICY patch (dd36's terminal) off
    * the same affected subgraph instead of re-running the chain:
    * `touched` the standing cluster ids an arrival pair reaches,
    * `affPairs`/`recl` the merged components' self-contained edge set
    * and labels (both truncated — flat lineage), `affSafeRows` their
    * dd28 rows. */
  private[graft] final case class SafeUpsertParts(
      touched: DataFrame, affPairs: DataFrame, recl: DataFrame,
      affSafeMembers: DataFrame, affSafeRows: DataFrame)

  private[graft] def safeUpsertParts(standingClusters: DataFrame,
      newPairs: DataFrame, scores: DataFrame)(
      affectedPairs: DataFrame => DataFrame): SafeUpsertParts = {
    val newEnds = newPairs.select(col("d1").as("doc_id"))
      .unionByName(newPairs.select(col("d2").as("doc_id"))).distinct()
    val touched = standingClusters.join(newEnds, Seq("doc_id"), "left_semi")
      .select(col("cluster_id")).distinct()
    // TRUNCATE the two small frames the chain fans out from: the
    // downstream plan references them multiplicatively (wedge support,
    // bridged test, both propagations, keep-best + lineage), and with
    // the batch-pair derivation nested inside each copy the composed
    // plan string grows geometrically — past what the SQL listener's
    // explainString can even materialize (the OOM this guards against
    // is the plan STRING, not the data; both frames are ∝ the affected
    // surface). Lazy localCheckpoints: no extra job, flat lineage.
    import graft.ops.Checkpoints.TruncateOps
    val affDocs = standingClusters
      .join(touched, Seq("cluster_id"), "left_semi")
      .select(col("doc_id")).unionByName(newEnds).distinct()
      .truncated
    // the affected components' self-contained edge set — the caller
    // picks the cheapest equivalent derivation (pp49 semi-joins its
    // already-cached full pair frame; the artifact fold re-hashes only
    // the affected docs' shingles)
    val affPairs = affectedPairs(affDocs).truncated
    val recl = Dedup.propagateMinLabels(affPairs)
      .select(col("doc").as("doc_id"), col("lbl").as("cluster_id"))
    val affSafeMembers = Dedup.safeMembersOf(affPairs, recl)
    SafeUpsertParts(touched, affPairs, recl, affSafeMembers,
      Dedup.safeKeepBestFrom(affSafeMembers, scores))
  }

  /** pp49: safe-keeper UPSERT patch — retires the LAST fail-closed
    * asymmetry in the artifact lifecycle (every other line has both
    * directions; safe_keepers had only pp45's purge side, so every
    * arrival fold used to invalidate the conservative table until a
    * full rebuild). The pp05 arrival batch (source = src0) folds into
    * the standing dd28 table through [[safeUpsertFrom]]: untouched
    * clusters' rows verbatim, affected components through the exact
    * chain kernels. Oracle = dd28 rebuilt from scratch on the FULL
    * corpus (dd28's own oracle, verbatim), so the hash is a
    * cross-engine patch ≡ rebuild proof — including welds, where one
    * arrival bridges two standing families and the bridge edge's
    * missing triangle support must split them back apart rather than
    * let dd07-style aggression discard half a family. The standing
    * side is derived in-query here (the sf convention hands no
    * published artifact — pp43's discipline); the production path is
    * `publishFoldedDedup`, which LOADS clusters + safe_keepers and
    * pays only the affected surface. */
  /** pp49's shared safe-upsert geometry — the touched cluster ids, the
    * UNTOUCHED subgraph's safe-member decomposition (the standing rows
    * the patch passes through) and the AFFECTED components' safe-member
    * decomposition — MEMOIZED per session: the three eager
    * convergence loops inside (untouched-chain propagation, affected
    * reclustering, affected supported-core propagation) mint fresh
    * checkpoint RDDs every call, so plain plan-identity caching can
    * never dedupe them across pp49's steady-state runs (the
    * dd06/corpusStanding/purgeGeom memo discipline; the round-11
    * verdict's proof-cost budget item). */
  private def pp49Geom(s: SparkSession,
      d: String): (DataFrame, DataFrame, DataFrame) =
    memo(s, "pp49Geom", d) {
      val scores = Text.tx02QualityScore(s, d)
        .select(col("doc_id"), col("score"))
      val pairs = CacheScope.cached(
        Dedup.dd02MinhashLsh(s, d).select(col("d1"), col("d2")))
      // the standing pair/cluster frames are the session-memoized pair
      // pp43's in-query proof also derives — one convergence loop
      // across both proofs in a warm session
      val (standingPairs, standingClusters) = corpusStanding(s, d)
      // CACHE the batch-side frame: the kernel and the untouched
      // derivation below reference it repeatedly, and every propagation-
      // round job would otherwise re-run the anti-join
      val newPairs = CacheScope.cached(
        pairs.join(standingPairs, Seq("d1", "d2"), "left_anti"))
      // the kernel consumes the standing safe table ONLY for its
      // untouched rows (touched clusters' rows are discarded and
      // recomputed), and untouched clusters' safe rows depend only on
      // their own edges — so the in-query derivation runs the standing
      // chain on the UNTOUCHED subgraph alone, exactly what those rows
      // are, at a fraction of the full standing chain's cost (at the sf
      // batch ratio most clusters are touched; the wedge + supported-
      // propagation bill concentrates in the affected recompute, which
      // is the patch's genuine work either way). Both subgraph frames
      // are TRUNCATED: the chain's convergence jobs must not re-run the
      // touched/anti-join lineage every round.
      import graft.ops.Checkpoints.TruncateOps
      val newEnds = newPairs.select(col("d1").as("doc_id"))
        .unionByName(newPairs.select(col("d2").as("doc_id"))).distinct()
      val touched = standingClusters.join(newEnds, Seq("doc_id"), "left_semi")
        .select(col("cluster_id")).distinct()
      val untouchedClusters = standingClusters
        .join(touched, Seq("cluster_id"), "left_anti")
        .truncated
      val untouchedPairs = standingPairs
        .join(standingClusters.select(col("doc_id").as("d1"),
          col("cluster_id")), Seq("d1"))
        .join(touched, Seq("cluster_id"), "left_anti")
        .select(col("d1"), col("d2"))
        .truncated
      // both safe-member frames truncated: flat leaves for the final
      // keep-best assembly (the purgeGeom discipline)
      val standingSafeMembers =
        Dedup.safeMembersOf(untouchedPairs, untouchedClusters).truncated
      // affected side: the identical derivation safeUpsertParts runs —
      // merged components' self-contained edge set, reclustered, then
      // the exact safe chain on the merged subgraph
      val p = safeUpsertParts(standingClusters, newPairs, scores)(
        affDocs => pairs.join(affDocs.withColumnRenamed("doc_id", "d1"),
          Seq("d1"), "left_semi"))
      (touched, standingSafeMembers, p.affSafeMembers.truncated)
    }

  def pp49UpsertSafe(s: SparkSession, d: String): DataFrame = {
    val scores = Text.tx02QualityScore(s, d)
      .select(col("doc_id"), col("score"))
    val (touched, standingSafeMembers, affSafeMembers) = pp49Geom(s, d)
    val standingSafe = Dedup.safeKeepBestFrom(standingSafeMembers, scores)
    standingSafe.join(touched, Seq("cluster_id"), "left_anti")
      .unionByName(Dedup.safeKeepBestFrom(affSafeMembers, scores))
  }

  /** pp44: lexicon UPSERT — the add direction of pp40, completing the
    * lexical statistics' lifecycle symmetry (pp41 upserts the
    * postings; without this, a reader scoring freshly-upserted
    * postings against the standing lexicon uses yesterday's idf in
    * the OTHER direction — new rare terms over-scored as df-0-ish,
    * N/avgdl stale). Pure sufficient-statistic ADDITION, every delta
    * frame ∝ the arrival batch: per-term Δdf from the batch's tf
    * (terms the standing lexicon never saw APPEAR via a full-outer
    * join — a rebuild would list them too), (Δdocs, Δtokens) adjust
    * the avgdl scalar, idf recomputes row-locally from the patched
    * integers — bit-identical to a from-scratch rebuild, which is
    * what the DuckDB oracle computes (upsert ≡ rebuild,
    * cross-engine; st33 is the streaming twin and this op is its
    * batch reconciliation partner alongside pp40). */
  def pp44UpsertLexicon(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val standingDocs = docs.filter(col("source") =!= "src0")
    val arrivals = docs.filter(col("source") === "src0")
    // the standing artifact (per-term df + the (N, T) scalars),
    // rebuilt in-query — pp37's standing-artifact convention
    val standingDf = Similarity.termFreqsOf(standingDocs)
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val standingTot = standingDocs
      .select(size(split(trim(col("text")), " ")).cast("long").as("dl"))
      .agg(coalesce(sum(col("dl")), lit(0L)).as("t_tokens"),
        count(lit(1)).as("n_docs"))
    val dfDelta = Similarity.termFreqsOf(arrivals)
      .groupBy(col("tok")).agg(count(lit(1)).as("df_delta"))
    val arrTot = arrivals
      .select(size(split(trim(col("text")), " ")).cast("long").as("dl"))
      .agg(coalesce(sum(col("dl")), lit(0L)).as("t_delta"),
        count(lit(1)).as("n_delta"))
    val tot = standingTot.crossJoin(arrTot)
      .select((col("t_tokens") + col("t_delta")).as("t_after"),
        (col("n_docs") + col("n_delta")).as("n_after"))
      .withColumn("a_c_after", expr("100 * t_after div n_after"))
    // dfDelta is batch-amplified (∝ the batch's term surface) — AQE's
    // call, the pp37/39/41 rule; only the 1-row totals keep hints
    standingDf.join(dfDelta, Seq("tok"), "full_outer")
      .select(col("tok"),
        (coalesce(col("df"), lit(0L)) + coalesce(col("df_delta"), lit(0L)))
          .as("df"))
      .crossJoin(broadcast(tot))
      .select(col("tok"), col("df"),
        round(log((col("n_after") * 2 + lit(2)).cast("double")
          / (col("df") * 2 + lit(1)).cast("double"))
          * lit(1000000.0)).cast("long").as("idf_micro"),
        col("a_c_after").as("a_c"))
  }

  /** pp42: BOT-GATED session features — ev54's gate in front of pp04,
    * closing the last ungated consumer the round-7 verdict named.
    * Every pp04 statistic is PER-USER-CLOSED (ev02's session windows
    * partition by user; ev12's features aggregate per user), so a
    * bot's removal cannot change any human's row — the output
    * anti-join is therefore EXACTLY the gated recomputation (contrast
    * ev57, whose population-relative quartiles force the gate before
    * the aggregate), and the already-verified pp04 plan is reused
    * untouched with one broadcast anti-join appended. */
  def pp42GatedSessions(s: SparkSession, d: String): DataFrame =
    pp04UserSessionFeatures(s, d)
      .join(broadcast(Events.flaggedBots(s, d)), Seq("user_id"), "left_anti")

  /** pp47: LEAKAGE-FREE splits — the constructive counterpart of
    * pp16's leakage audit. pp16 measures how many near-dup pairs a
    * per-document hash split tears across train/test; pp47 makes that
    * count zero BY CONSTRUCTION: the split hash is taken over the
    * document's dup-cluster representative (dd06's cluster id;
    * singletons are their own representative), so every member of a
    * duplication family lands in the same split and a test document
    * can never have a near-verbatim twin in train. This is the split
    * discipline an eval-honest 100 TB training corpus actually needs —
    * pp16's audit on THIS assignment returns zero rows
    * (spec-asserted). Per (split, source) rollup: docs, distinct
    * split groups, whitespace tokens. Scale: one left join of the
    * corpus against the (∝ dup docs) cluster frame + one aggregate;
    * the md5 split is the same engine-portable rule pp16/pp08 use. */
  def pp47ClusterSplit(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), " ")).cast("long").as("n_tokens"))
    val clusters = Dedup.dd06DupClusters(s, d)
    val rep = docs.join(clusters, Seq("doc_id"), "left_outer")
      .withColumn("rep_id", coalesce(col("cluster_id"), col("doc_id")))
    val h = substring(md5(col("rep_id").cast("string")), 1, 1)
    rep.withColumn("split",
        when(h === "f", "test").when(h === "e", "val").otherwise("train"))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("rep_id")).as("n_groups"),
        sum(col("n_tokens")).as("tokens"))
  }

  /** pp48: the DATASET CARD — one row per source uniting every signal
    * a mix designer reads before weighting it: volume (docs, tokens,
    * median doc length — an exact order statistic, robust to the
    * long-document tail that poisons tx25's mean), duplication (docs
    * in dd06 families + bp), language (tx03's stopword rule) and
    * quality (tx02's gate at 0.5, tx25's predicate verbatim). This is
    * the "data statement" artifact a 100 TB corpus publishes next to
    * the data: every number is derived from already-verified
    * operators, all-integer (counts, bp floors, percentile_disc), so
    * the card itself is hash-provable. Scale: one pass over documents
    * with the (∝ dup docs) cluster frame left-joined in; four
    * aggregates per source, no window over the corpus. */
  def pp48DatasetCard(s: SparkSession, d: String): DataFrame = {
    // tx02's formulas VERBATIM, computed inline next to `source` so the
    // card is ONE corpus scan — joining tx02's output back to documents
    // for the source column would scan the same parquet twice and
    // shuffle-join the two corpus-sized frames on doc_id
    val stopArr = array(Text.stopwords.map(lit): _*)
    val scored = Tables.documents(s, d)
      .withColumn("tk", split(trim(col("text")), " "))
      .withColumn("n_tokens", size(col("tk")))
      .withColumn("stop_cnt",
        size(filter(col("tk"), t => array_contains(stopArr, t))))
      .withColumn("score",
        round(col("stop_cnt") * 0.5 / col("n_tokens") +
          when(col("n_tokens").between(5, 200), 0.5).otherwise(0.0), 4))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("stop_cnt"), col("score"))
    val dup = Dedup.dd06DupClusters(s, d).select(col("doc_id"),
      lit(1L).as("is_dup"))
    scored
      .join(dup, Seq("doc_id"), "left_outer")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("bigint")).as("tokens_total"),
        expr("CAST(percentile_disc(0.5) WITHIN GROUP " +
          "(ORDER BY CAST(n_tokens AS BIGINT)) AS BIGINT)").as("p50_tokens"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_docs"),
        sum(when(col("stop_cnt") >= 2, 1L).otherwise(0L)).as("n_en"),
        sum(when(col("score") >= 0.5, 1L).otherwise(0L)).as("n_quality"))
      .withColumn("dup_bp", expr("n_dup_docs * 10000 div n_docs"))
      .withColumn("en_bp", expr("n_en * 10000 div n_docs"))
      .withColumn("quality_bp", expr("n_quality * 10000 div n_docs"))
  }
}
