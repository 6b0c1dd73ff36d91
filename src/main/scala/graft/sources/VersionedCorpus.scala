package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned-corpus read/write surface — "corpus as of version N",
  * the read-side contract incremental 100 TB pipelines live on (pp18
  * diffs two snapshots; this is where the snapshots come from).
  *
  * Layout under a root directory:
  * {{{
  *   root/_data/v3/part-*.parquet     immutable data files, one dir/version
  *   root/_versions/v3.json           atomically-published manifest
  * }}}
  *
  * The design carries the core idea of the table formats (Delta /
  * Iceberg) in miniature: the MANIFEST is the table. A version exists
  * iff its manifest file exists (written to a temp name and
  * atomic-renamed into `_versions/` — the graft-manifest sink's
  * two-phase discipline at the version level), data files are
  * immutable once published, and a read loads EXACTLY the files the
  * manifest lists — no directory listing of the data root, so reads
  * stay O(|version's files|) no matter how many versions accumulate,
  * and read-at-v1 is bit-exact forever because nothing ever rewrites
  * v1's files. A failed publish leaves an orphaned `_data` dir and no
  * manifest: invisible to readers, reclaimable by GC (mm09's audit
  * pattern).
  *
  * Single-writer version allocation (max+1, driver-side) — the same
  * assumption the local filesystem gives the manifest sink; a
  * production deployment would CAS the version number against a
  * catalog service.
  */
object VersionedCorpus {

  private def versionsDir(root: String) = new File(root, "_versions")

  /** All published versions, ascending. A version counts only once its
    * manifest is atomically in place. */
  def versions(root: String): Seq[Long] = {
    val files = Option(versionsDir(root).listFiles())
      .getOrElse(Array.empty[File])
    files.map(_.getName).collect {
      case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong
    }.sorted.toSeq
  }

  def latestVersion(root: String): Option[Long] = versions(root).lastOption

  /** Write `df` into `_data/<dirName>` and atomically (re)publish
    * version `version`'s manifest pointing at it. The shared tail of
    * publish (new version) and purge (history rewrite). With
    * `statsCol` set, the manifest additionally records that column's
    * min/max — the version-pruning statistic `purgeKeys` consults so
    * a tombstone batch entirely outside a version's key range skips
    * that version without opening a single data file (here computed
    * with one aggregate over the just-written files; a production
    * writer lifts it from the parquet footers it already wrote). */
  private def writeAndPublish(df: DataFrame, root: String, version: Long,
      dirName: String, statsCol: Option[String] = None): Unit = {
    val dataDir = new File(new File(root, "_data"), dirName)
    df.write.parquet(dataDir.getAbsolutePath)
    val parts = Option(dataDir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .sortBy(_.getName)
    // footer-only count: parquet row-group metadata, no data scan
    val written = Sources.readParquet(df.sparkSession, dataDir.getAbsolutePath)
    val (nRows, statsJson) = statsCol match {
      case Some(c) =>
        import org.apache.spark.sql.functions.{col, count, lit, max, min}
        // cast-to-long: stats keys are integral but arrive as int or
        // long depending on the producer's schema
        val r = written.agg(count(lit(1)),
          min(col(c).cast("long")), max(col(c).cast("long"))).head()
        val stats = if (r.isNullAt(1)) "" // empty version: no range
          else s""","stats":{"col":"$c","min":${r.getLong(1)},""" +
            s""""max":${r.getLong(2)}}"""
        (r.getLong(0), stats)
      case None => (written.count(), "")
    }
    val fileList = parts.map(f =>
      s"""{"file":"${f.getName}","bytes":${f.length}}""").mkString("[", ",", "]")
    val manifest =
      s"""{"version":$version,"dir":"$dirName","n_files":${parts.length},""" +
        s""""n_rows":$nRows,"n_bytes":${parts.map(_.length).sum}$statsJson,""" +
        s""""files":$fileList}"""
    versionsDir(root).mkdirs()
    val tmp = Paths.get(root, "_versions", s".v$version.json.tmp")
    Files.write(tmp, manifest.getBytes(StandardCharsets.UTF_8))
    // REPLACE_EXISTING: purge atomically swaps an existing version's
    // manifest; readers see either the old or the new snapshot, never
    // a partial one
    Files.move(tmp, Paths.get(root, "_versions", s"v$version.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Publish `df` as the next snapshot version; returns the version
    * number. Data lands first (private per-version dir), the manifest
    * publishes last and atomically. Pass `statsCol` (a long key
    * column, e.g. doc_id) to record its min/max in the manifest —
    * opt-in because it costs one aggregate at publish time and buys
    * driver-side version pruning in `purgeKeys`. */
  def publish(df: DataFrame, root: String,
      statsCol: Option[String] = None): Long = {
    val next = latestVersion(root).getOrElse(0L) + 1
    writeAndPublish(df, root, next, s"v$next", statsCol)
    next
  }

  /** A version's manifest, parsed on the driver (it is a few hundred
    * bytes; reading it through Spark would cost a job per read).
    * `dir` defaults to `v<version>` for manifests written before the
    * purge feature recorded it explicitly; `stats` is the key range
    * (column, min, max) if the publisher recorded one. */
  private case class Manifest(dir: String, files: Seq[String], nRows: Long,
      stats: Option[(String, Long, Long)])

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  private def readManifest(root: String, version: Long): Option[Manifest] = {
    val path = new File(versionsDir(root), s"v$version.json")
    if (!path.isFile) None
    else {
      val m = json.readTree(path)
      val stats = Option(m.get("stats")).map(st =>
        (st.get("col").asText, st.get("min").asLong, st.get("max").asLong))
      Some(Manifest(Option(m.get("dir")).fold(s"v$version")(_.asText),
        m.get("files").elements.asScala.map(_.get("file").asText).toSeq,
        m.get("n_rows").asLong, stats))
    }
  }

  /** Parsed manifest key-range stats, if the publisher recorded them:
    * (column, min, max). */
  private[graft] def manifestStats(root: String,
      version: Long): Option[(String, Long, Long)] =
    readManifest(root, version).flatMap(_.stats)

  private def manifest(root: String, version: Long): Manifest = {
    val m = readManifest(root, version)
    require(m.isDefined, s"version $version not published under $root")
    m.get
  }

  /** The corpus exactly as of `version`: loads only the files that
    * version's manifest lists. */
  def readAt(spark: SparkSession, root: String, version: Long): DataFrame = {
    val m = manifest(root, version)
    val paths = m.files.map(f =>
      new File(new File(new File(root, "_data"), m.dir), f).getAbsolutePath)
    Sources.readParquet(spark, paths: _*)
  }

  def readLatest(spark: SparkSession, root: String): DataFrame =
    readAt(spark, root, latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no published versions under $root")))

  /** Audit row count a version's manifest promises (reconcile against
    * `readAt(...).count()` — the graft-manifest completeness pattern). */
  def manifestRows(spark: SparkSession, root: String, version: Long): Long =
    manifest(root, version).nRows

  // ------------------------------------------------------------------
  // Retention: soft delete, GDPR purge, garbage collection
  // ------------------------------------------------------------------

  /** SOFT delete: the next snapshot version excludes rows matching
    * `cond`. History untouched — time travel to earlier versions still
    * shows the rows (a retracted-content workflow, not a legal purge:
    * for "forget doc X everywhere" use `purgeKeys`). */
  def deleteWhere(spark: SparkSession, root: String,
      cond: org.apache.spark.sql.Column): Long =
    publish(readLatest(spark, root).filter(!cond), root)

  /** HARD delete (the GDPR path): remove every row whose `keyCol` is
    * in `keys` from EVERY published version — history is rewritten in
    * place. Each affected version's surviving rows are written to a
    * fresh generation dir (`v3p1`, `v3p2`, …: data files stay
    * immutable, the purge never edits a published file) and its
    * manifest is atomically re-pointed, so version numbers, unaffected
    * rows, and time-travel semantics are all preserved; the orphaned
    * pre-purge dirs are reclaimed by `gc`. The match is a
    * broadcast-anti-join against the key set (the shape that holds
    * when a weekly deletion batch meets a 100 TB corpus: tombstone
    * keys are small, the corpus streams past them once per affected
    * version); versions with no matching row are left byte-identical.
    * An audit tombstone (`_tombstones/t<seq>.json`) records what was
    * purged and which versions were rewritten — the deletion
    * certificate a compliance review asks for. Returns the versions
    * rewritten. */
  def purgeKeys(spark: SparkSession, root: String, keyCol: String,
      keys: Seq[Long]): Seq[Long] = {
    import org.apache.spark.sql.functions.broadcast
    val tomb = spark.createDataset(keys)(
      org.apache.spark.sql.Encoders.scalaLong).toDF(keyCol)
    val rewritten = versions(root).filter { v =>
      // driver-side version pruning: a manifest that recorded this key
      // column's min/max and whose range excludes the whole batch is
      // skipped without opening a data file — at 100 TB × many
      // versions the probe pass, not the rewrite, dominates a purge,
      // and most weekly batches touch recent versions only
      val stats = manifestStats(root, v)
      val pruned = stats.exists { case (c, lo, hi) =>
        c == keyCol && keys.forall(k => k < lo || k > hi) }
      val hit = !pruned && {
        val snap = readAt(spark, root, v)
        snap.join(broadcast(tomb), Seq(keyCol), "left_semi")
          .limit(1).count() > 0
      }
      if (hit) {
        val snap = readAt(spark, root, v)
        val oldDir = manifest(root, v).dir
        val dataRoot = new File(root, "_data")
        val gen = Iterator.from(1)
          .find(g => !new File(dataRoot, s"v${v}p$g").exists()).get
        // a stats-bearing version keeps (refreshed) stats through the
        // rewrite so future purges keep pruning it
        writeAndPublish(
          snap.join(broadcast(tomb), Seq(keyCol), "left_anti"),
          root, v, s"v${v}p$gen", stats.map(_ => keyCol))
        assert(oldDir != s"v${v}p$gen")
      }
      hit
    }
    val tombDir = new File(root, "_tombstones")
    tombDir.mkdirs()
    val seq = Option(tombDir.listFiles()).getOrElse(Array.empty[File])
      .count(_.getName.endsWith(".json")) + 1
    val record =
      s"""{"seq":$seq,"key_col":"$keyCol",""" +
        s""""keys":${keys.sorted.mkString("[", ",", "]")},""" +
        s""""versions_rewritten":${rewritten.mkString("[", ",", "]")}}"""
    val tmp = Paths.get(root, "_tombstones", s".t$seq.json.tmp")
    Files.write(tmp, record.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(root, "_tombstones", s"t$seq.json"),
      StandardCopyOption.ATOMIC_MOVE)
    rewritten
  }

  /** Every key ever purged, from the `_tombstones` ledger — the
    * deny-list an INGEST gate applies so purged keys cannot re-enter
    * via late replays or backfills (purgeKeys erases the past; this
    * is how the future stays erased). Driver-side metadata read:
    * the ledger is ∝ deletion requests (KBs/week), never corpus-
    * sized. */
  def tombstoneKeys(root: String): Seq[Long] = {
    val tombDir = new File(root, "_tombstones")
    val keyArr = """"keys":\[([0-9,\-]*)\]""".r
    Option(tombDir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".json")).sortBy(_.getName)
      .flatMap { f =>
        val txt = new String(Files.readAllBytes(f.toPath),
          StandardCharsets.UTF_8)
        keyArr.findFirstMatchIn(txt).map(_.group(1)).toSeq
          .flatMap(g => if (g.isEmpty) Nil
            else g.split(",").toSeq.map(_.toLong))
      }.distinct.sorted.toSeq
  }

  /** Garbage-collect `_data` dirs no published manifest references:
    * pre-purge generations and failed-publish orphans (data written,
    * manifest never landed). Safe by construction — a reader resolves
    * files ONLY through manifests, so an unreferenced dir is invisible
    * to every reader before gc removes it. Returns
    * (dirs removed, bytes freed). */
  def gc(spark: SparkSession, root: String): (Long, Long) = {
    val referenced = versions(root)
      .map(v => manifest(root, v).dir).toSet
    val dataRoot = new File(root, "_data")
    val orphans = Option(dataRoot.listFiles()).getOrElse(Array.empty[File])
      .filter(d => d.isDirectory && !referenced(d.getName))
    var bytes = 0L
    // recursive: a failed-publish orphan (exactly what gc advertises it
    // reclaims) still holds the writer's `_temporary/` subtree — a
    // one-level delete would throw on the nested dir and abort gc with
    // some orphans gone and the rest never reclaimed
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rm)
      else bytes += f.length()
      Files.delete(f.toPath)
    }
    orphans.foreach(rm)
    (orphans.length.toLong, bytes)
  }
}
