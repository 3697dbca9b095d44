package graft.core

import java.util.UUID
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, IntegerType, LongType,
  MapType, ShortType, StructType}
import graft.cep.{EventProcessor, Process}
import graft.ops.Profile

/** Mutable table with a version-manifest commit protocol — the
  * ingest/point-op surface of the reference (`session.persist` /
  * `find` / PROCESS delete; reference: persistent/Session.java:436-457,
  * persistent/Table.java:1187-1407).
  *
  * Layout:
  *   <path>/files/<uuid>-part-*.parquet   immutable data files
  *   <path>/_versions/v{N}.manifest       "name<TAB>idMin<TAB>idMax<TAB>rowCount" per file,
  *                                        plus the committed schema ("#schema<TAB>json")
  *
  * A version is committed by renaming a temp manifest into place —
  * one atomic filesystem op, so there is NO window where a reader sees
  * a half-written table. Readers resolve the latest manifest at scan
  * time and keep reading that snapshot even while writers commit —
  * single-table snapshot isolation, the minimal parquet-only version of
  * what a transactional table format (Delta/Iceberg) provides.
  *
  * Appends are the hot path (the reference's 100k objects/s insert
  * claim): executor-parallel columnar writes of NEW files plus one
  * manifest commit — existing data is never rewritten, matching
  * @NoCheck fast-insert semantics (persistent/Table.java:577-584).
  *
  * Keyed mutations prune at file level: manifests carry per-file id
  * min/max (integral ids), so `upsert`/`deleteKeys` rewrite only files
  * whose id range intersects the incoming key range — point updates
  * are O(affected files), not O(table). This is the same data-skipping
  * idea the reference gets from its persistent id index
  * (persistent/Table.java:1880-2035) and Delta gets from file stats.
  * Arbitrary-predicate `delete` still rewrites the table. Old versions
  * remain for time-travel until `vacuum`.
  */
object TableStore {
  /** Per-table-path commit monitor (all mutations run on the driver). */
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def commitLock(path: String): Object =
    locks.computeIfAbsent(path, _ => new Object)

  /** Age after which a claim marker with no manifest is treated as a
    * crashed committer and stolen. High on purpose: stealing from a
    * LIVE committer that is merely paused (GC, fs hiccup) re-opens the
    * double-rename lost-update the claim exists to prevent, so the
    * threshold must exceed any plausible pause. The commit retry budget
    * (~2 min of backoff) exceeds it, so a genuinely crashed committer
    * still self-heals within one commit call. */
  private[core] val staleClaimMs: Long = 60000L
}

final class TableStore(val spark: SparkSession, val path: String, val idCol: String,
                       format: LogFormat = NativeManifestLog) {
  private val filesDir = s"$path/files"
  // commit-time mirror of files/ for streaming readers — see readStream
  private val streamedDir = s"$path/streamed"
  /** A table's on-disk log format is fixed at creation: reopening an
    * existing table resolves whatever log directory is already there;
    * the constructor's `format` applies only to fresh tables. */
  private val log: LogFormat = LogFormat.detect(fs, path).getOrElse(format)
  private val versionsDir = s"$path/${log.dirName}"
  /** Schema JSON of the last written/initialized rows — recorded so the
    * Delta-style log can embed a real schemaString in its metaData
    * action (None before any write on a reopened table: the format
    * emits a placeholder). */
  @volatile private var lastSchemaJson: Option[String] = None

  private def fs: FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Exclusive-create of a marker file carrying `token` (this commit
    * attempt's identity). Hadoop's local FileSystem implements
    * create(overwrite=false) as exists-then-create (not atomic), so on
    * file:// paths the claim is taken with java.nio.file CREATE_NEW —
    * a true O_CREAT|O_EXCL. On real cluster filesystems (HDFS, object
    * stores with conditional PUT) f.create(p, false) is the atomic
    * primitive. The create is atomic; the token bytes land just after —
    * `ownsClaim` treats a not-yet-readable token as not-ours (safe,
    * merely conservative). */
  private def createExclusive(f: FileSystem, p: Path, token: String): Boolean = {
    val scheme = Option(p.toUri.getScheme).getOrElse(f.getScheme)
    if (scheme == "file") {
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(p.toUri.getPath),
          token.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.io.IOException => false
      }
    } else {
      try {
        val out = f.create(p, false)
        try out.write(token.getBytes("UTF-8")) finally out.close()
        true
      }
      catch { case _: java.io.IOException => false }
    }
  }

  private def readUtf8(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Does the claim at `p` still carry OUR token? Guards the rename:
    * if a stale-claim steal re-issued the claim to another committer
    * while we were paused, the token differs and we must NOT rename
    * (a blind rename would clobber the new owner's manifest — the
    * double-rename lost-update). Narrows the unsafe window from
    * claim-to-rename (arbitrarily long under a pause) to
    * token-read-to-rename (microseconds). */
  private def ownsClaim(f: FileSystem, p: Path, token: String): Boolean =
    try readUtf8(f, p) == token
    catch { case _: java.io.IOException => false }

  private def listVersions(f: FileSystem): Seq[(Long, Path)] = {
    val dir = new Path(versionsDir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .map(_.getPath)
      .flatMap(p => log.versionOf(p.getName).map(v => (v, p)))
      .sortBy(_._1)
  }

  private def latestContent(f: FileSystem): Option[(Long, String)] =
    listVersions(f).lastOption.map { case (v, p) => (v, readUtf8(f, p)) }

  /** The table schema a version file records (None on legacy tables
    * written before the schema-enforcement change). */
  private def schemaOf(content: String): Option[StructType] =
    log.decodeSchema(content).map(j => DataType.fromJson(j).asInstanceOf[StructType])

  /** The committed table schema of the latest version (None on legacy
    * tables, which keep the old read path). */
  private def committedSchema: Option[StructType] =
    latestContent(fs).flatMap(c => schemaOf(c._2))

  /** Entries and committed schema of the latest version from ONE
    * version-log read — (empty, None) before the first commit. Paths
    * that need both take them from here: two separate reads can
    * straddle a commit and pair one version's files with another's
    * schema. */
  private def latestState: (Seq[FileEntry], Option[StructType]) =
    latestContent(fs).fold((Seq.empty[FileEntry], Option.empty[StructType])) {
      case (_, c) => (log.decode(c), schemaOf(c))
    }

  def exists: Boolean = listVersions(fs).nonEmpty

  /** Sum of per-file row counts; None when a legacy entry lacks one. */
  private def metaRows(entries: Seq[FileEntry]): Option[Long] =
    if (entries.forall(_.rows.isDefined)) Some(entries.flatMap(_.rows).sum) else None

  /** Committed row count resolved from manifest METADATA — O(1), no
    * Spark job (manifests carry per-file rowCounts). None when the
    * table doesn't exist or a legacy pre-rowCount manifest entry makes
    * the metadata count unknown (callers fall back to a probe job).
    * Lets hot per-batch paths (the dedup indexes' emptiness and
    * saturation checks) skip whole Spark jobs: on a long sequential
    * chain of small actions, every removed action is wall time. */
  def committedRowCount: Option[Long] =
    latestContent(fs).flatMap(c => metaRows(log.decode(c._2)))

  /** Row count AND snapshot DataFrame from ONE manifest resolution —
    * `None` when no version is committed; the inner count is `None` on
    * legacy stat-less manifests (callers fall back to a probe job over
    * the returned frame). Callers that need both MUST use this instead
    * of `committedRowCount` + `read`: those resolve the manifest twice,
    * and a commit landing between the two calls pairs a stale count
    * with a newer snapshot (the dedup indexes' O(1) saturation-skip
    * would then judge a larger index by a smaller count). */
  def committedSnapshot: Option[(Option[Long], DataFrame)] =
    committedSnapshotVersioned.map { case (_, n, df) => (n, df) }

  /** [[committedSnapshot]] plus the VERSION the snapshot came from —
    * for callers memoizing per-version facts about the immutable
    * snapshot (the dedup probes' saturation verdict): a version's
    * content never changes, so a fact computed against (path, version)
    * holds for every later read of that version. */
  def committedSnapshotVersioned: Option[(Long, Option[Long], DataFrame)] =
    latestContent(fs).map { case (v, c) =>
      val entries = log.decode(c)
      (v, metaRows(entries), readFiles(entries, schemaOf(c)))
    }

  /** Commit an empty version recording `schema`, so reads work before
    * the first persist (the reference's registerTable creates the
    * table eagerly — persistent/Session.java:181-277). Metadata only:
    * no data file and no Spark job. No-op if a version already exists. */
  def initialize(schema: StructType): Unit =
    TableStore.commitLock(path).synchronized {
      lastSchemaJson = Some(schema.json)
      if (!exists) commit(prev => prev)
    }

  /** `dt` with every field and container element nullable — the shape
    * a parquet scan reports, and the erasure schema enforcement
    * compares under (nullability is not a type change). */
  private def asNullable(dt: DataType): DataType = dt match {
    case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
    case m: MapType => MapType(asNullable(m.keyType), asNullable(m.valueType),
      valueContainsNull = true)
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case other => other
  }

  /** Read `entries` under `schema` when one is committed: parquet
    * scans given an explicit schema surface columns a file predates
    * as nulls — additive evolution needs NO rewrite of old files. */
  private def readFiles(entries: Seq[FileEntry], schema: Option[StructType] = None)
      : DataFrame = {
    if (entries.nonEmpty)
      schema.fold(spark.read)(s => spark.read.schema(s))
        .parquet(entries.map(e => s"$filesDir/${e.name}"): _*)
    else schema match {
      // empty snapshot: zero rows under the requested schema, shaped
      // like a scan, as a local frame — no Spark job
      case Some(s) =>
        spark.createDataFrame(new java.util.ArrayList[Row](),
          asNullable(s).asInstanceOf[StructType])
      // legacy schema-less manifest: the zero-row anchor older stores
      // wrote at creation, else infer from files/
      case None =>
        val anchor = s"$path/_schema"
        if (fs.exists(new Path(anchor))) spark.read.parquet(anchor)
        else spark.read.parquet(filesDir).limit(0)
    }
  }

  /** Current snapshot. The file list is resolved now; concurrent
    * commits do not disturb this DataFrame. */
  def read: DataFrame = {
    latestContent(fs) match {
      case Some((_, c)) => readFiles(log.decode(c), schemaOf(c))
      case None =>
        throw new IllegalStateException(s"table store at $path has no committed version")
    }
  }

  /** Streaming scan of the store: backlog (files already committed)
    * then tail (each append's new files arrive as a micro-batch) —
    * the reference's table-is-a-queue duality (SELECT STREAM on a
    * mutable table) rendered as a file stream source.
    *
    * The source streams `streamed/`, a commit-time mirror of files/:
    * writeFiles renames data into files/ BEFORE the manifest commit,
    * so a file source pointed straight at files/ could deliver rows
    * from files that never commit — a crashed append, or the orphans
    * appendOnce/upsertOnce/replaceOnce delete after losing the
    * idempotence race. streamed/ is populated (hardlink, or copy on
    * non-local filesystems) only INSIDE commit, after the manifest
    * rename succeeds, so only committed files are ever visible to a
    * streaming reader. Commits from any graft process reconcile the
    * mirror (shared storage), and readStream itself reconciles the
    * backlog at attach, which also repairs a crash between manifest
    * rename and link.
    *
    * CONTRACT: append-only while a streaming reader is attached —
    * compact/upsert/delete rewrite rows into NEW file names, which a
    * file source would re-deliver (the same caveat that makes Delta
    * route CDC readers through the commit log instead). Reads under
    * the committed schema, so evolved appends surface uniformly.
    *
    * CHECKPOINT COMPATIBILITY: the source path moved from files/ to
    * streamed/ in round 9. A file-source checkpoint records consumed
    * paths VERBATIM, so a durable checkpoint created against the old
    * files/ path does not cover streamed/ — resuming it re-delivers
    * the entire backlog as "new" files (duplicates downstream). Any
    * checkpoint predating the mirror must be discarded and the query
    * restarted fresh (or the sink deduplicated by key for one run).
    * Pass the query's checkpoint dir to [[readStream(checkpointLocation*]]
    * and the hazard fails LOUDLY up front instead of duplicating:
    * [[validateStreamCheckpoint]] refuses any checkpoint whose source
    * log references this store's files/ path. readStream stamps
    * `streamed/_source_v2` as the layout-generation marker. */
  def readStream: DataFrame = readStream(None)

  /** [[readStream]] with the resuming query's checkpoint directory:
    * validates the checkpoint against the current source layout before
    * handing out the source (see CHECKPOINT COMPATIBILITY above). */
  def readStream(checkpointLocation: Option[String]): DataFrame = {
    checkpointLocation.foreach(validateStreamCheckpoint)
    val schema = committedSchema.getOrElse(read.schema)
    val f = fs
    f.mkdirs(new Path(filesDir)) // a fresh store streams an empty backlog
    f.mkdirs(new Path(streamedDir))
    // generation marker: names the layout this source reads (pre-r9
    // checkpoints recorded files/ paths). pathGlobFilter keeps it out
    // of the data stream.
    val marker = new Path(s"$streamedDir/_source_v2")
    if (!f.exists(marker)) f.create(marker, true).close()
    TableStore.commitLock(path).synchronized {
      reconcileStreamed(f, currentEntries)
    }
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "*.parquet")
      .parquet(streamedDir)
  }

  /** Refuse a stream checkpoint created against the pre-mirror files/
    * source layout. A FileStreamSource checkpoint records consumed
    * paths VERBATIM under `<ckpt>/sources/<i>/`; if any recorded path
    * points into this store's files/ directory the checkpoint predates
    * the streamed/ mirror and a resume would re-deliver the whole
    * backlog as "new" files. Fail loudly with the remediation instead. */
  def validateStreamCheckpoint(checkpointDir: String): Unit = {
    val f = fs
    val srcRoot = new Path(s"$checkpointDir/sources")
    if (!f.exists(srcRoot)) return // fresh checkpoint: nothing recorded yet
    val filesAbs = new Path(filesDir).toUri.getPath
    val stale = new scala.collection.mutable.ArrayBuffer[String]()
    val it = f.listFiles(srcRoot, true)
    while (it.hasNext && stale.isEmpty) {
      val st = it.next()
      if (st.isFile) {
        val in = f.open(st.getPath)
        val text =
          try {
            val bos = new java.io.ByteArrayOutputStream()
            org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 8192, false)
            bos.toString("UTF-8")
          } finally in.close()
        if (text.contains(s"$filesAbs/")) stale += st.getPath.toString
      }
    }
    if (stale.nonEmpty)
      throw new IllegalStateException(
        s"stream checkpoint at $checkpointDir was created against this " +
        s"store's OLD files/ source layout (recorded path under $filesAbs " +
        s"in ${stale.head}); the source moved to streamed/ — resuming " +
        "would re-deliver the entire backlog as duplicates. Discard the " +
        "checkpoint and restart the query fresh (or deduplicate the sink " +
        "by key for one run).")
  }

  /** Mirror every committed file into streamed/ (no-op until a stream
    * reader has created the directory). Hardlinks on local FS — zero
    * data movement; byte copy elsewhere. Idempotent: an existing link
    * is left alone. */
  private def reconcileStreamed(f: FileSystem, entries: Seq[FileEntry]): Unit = {
    val sd = new Path(streamedDir)
    if (!f.exists(sd)) return
    val present = f.listStatus(sd).map(_.getPath.getName).toSet
    entries.filterNot(e => present.contains(e.name)).foreach { e =>
      linkOrCopy(f, new Path(s"$filesDir/${e.name}"), new Path(s"$streamedDir/${e.name}"))
    }
  }

  /** Hardlink `src` at `dst` on a local filesystem (no bytes move; an
    * existing link is left alone), byte copy elsewhere. */
  private def linkOrCopy(f: FileSystem, src: Path, dst: Path): Unit =
    if (f.getScheme == "file")
      try java.nio.file.Files.createLink(
        java.nio.file.Paths.get(dst.toUri.getPath),
        java.nio.file.Paths.get(src.toUri.getPath))
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
    else org.apache.hadoop.fs.FileUtil.copy(f, src, f, dst, false, f.getConf)

  /** Committed version numbers still present, oldest first — the
    * time-travel index (`vacuum` trims versions past its grace window). */
  def versions: Seq[Long] = listVersions(fs).map(_._1)

  /** Identity token for a committed version: the version-log file's
    * (length, modification time). A store deleted and recreated at the
    * same path restarts version NUMBERING, so `path@version` alone can
    * alias two different snapshots across store lifetimes — the token
    * disambiguates them (a recreated manifest has a new mtime, and
    * delete+recreate changes content/length too). Residual alias
    * window: a same-length recreate inside one mtime tick on a
    * coarse-granularity filesystem — accepted, because a recreated
    * manifest lists different data-file names, so equal length is
    * already a coincidence. Exactly ONE FS stat against the manifest
    * path built directly from the version number (r15 ADVICE: the old
    * implementation listed the whole version-log directory per call,
    * and it runs on every probe's memo-key construction). NOT memoized
    * per (path, version) on purpose — a cached token would survive a
    * delete+recreate and hand [[graft.ops.Dedup.saturationVerdict]]
    * the stale verdict the token exists to prevent. */
  def versionToken(v: Long): String =
    try {
      val st = fs.getFileStatus(new Path(s"$versionsDir/${log.fileName(v)}"))
      s"${st.getLen}.${st.getModificationTime}"
    } catch { case _: java.io.FileNotFoundException => "absent" }

  /** Snapshot read AS OF a past version (time travel): the manifest is
    * immutable, so this is exactly the table as committed then. Data
    * files of superseded versions survive until `vacuum`; after vacuum
    * only the latest version and versions inside the vacuum grace
    * window remain readable. The reference's MVCC keeps
    * superseded frames for in-flight READ COMMITTED readers
    * (persistent/UndoChunk.java:46-70); version manifests are the
    * table-format rendering of the same idea with an explicit handle. */
  def readVersion(version: Long): DataFrame = {
    val content = contentOfVersion(version)
    // time travel surfaces the schema AS COMMITTED THEN, not today's
    readFiles(log.decode(content), schemaOf(content))
  }

  private def contentOfVersion(version: Long): String = {
    val p = new Path(s"$versionsDir/${log.fileName(version)}")
    if (!fs.exists(p))
      throw new IllegalArgumentException(
        s"version $version not present at $path (available: ${versions.mkString(",")})")
    readUtf8(fs, p)
  }

  private def entriesOfVersion(version: Long): Seq[FileEntry] =
    log.decode(contentOfVersion(version))

  /** Row-level snapshot diff `fromV → toV`: (added, removed) frames.
    * Files are immutable, so files common to both manifests cancel
    * WITHOUT being read — only the file sets unique to each side are
    * scanned, then a multiset `exceptAll` each way removes rows a
    * rewrite merely copied between files. Cost tracks the CHANGED
    * files, not the table: an append's diff reads just the appended
    * files; a 1%-rewrite delete reads the 1%. The CDC shape for a
    * 100 TB table where any full-snapshot compare is off the table. */
  def diff(fromV: Long, toV: Long): (DataFrame, DataFrame) = {
    val from = entriesOfVersion(fromV)
    val toContent = contentOfVersion(toV)
    val to = log.decode(toContent)
    // both sides read under the TO version's (wider, additive) schema
    // so exceptAll compares congruent rows across an evolution
    val schema = schemaOf(toContent)
    val common = from.map(_.name).toSet.intersect(to.map(_.name).toSet)
    val onlyFrom = readFiles(from.filterNot(e => common(e.name)), schema)
    val onlyTo = readFiles(to.filterNot(e => common(e.name)), schema)
    (onlyTo.exceptAll(onlyFrom), onlyFrom.exceptAll(onlyTo))
  }

  /** Row-level change feed between two committed snapshots — Delta's
    * Change Data Feed shape, derived from the version log instead of
    * stored change files: for every commit step in (fromV, toV], the
    * rows it added surface as `insert` and the rows it removed as
    * `delete` (an upsert is its delete + insert pair), each tagged
    * with `_change_type` and `_commit_version`. Downstream consumers
    * (a derived-table backfill, an audit trail, an index refresher)
    * replay exactly the committed history without diffing snapshots
    * themselves.
    *
    * Each step's diff only reads the files that CHANGED in that
    * commit (diff skips files common to both manifests), so a feed
    * over appends scans the appended files once, not the table per
    * version. The plan unions one diff pair per step — fine for the
    * bounded ranges a consumer processes at a time; checkpoint and
    * advance `fromV` rather than feeding unbounded history. */
  def changes(fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV, s"changes: fromV $fromV > toV $toV")
    val vs = versions.filter(v => v >= fromV && v <= toV).sorted
    require(vs.headOption.contains(fromV) && vs.lastOption.contains(toV),
      s"changes: versions $fromV / $toV not in the log (have ${versions.mkString(",")})")
    val steps = vs.zip(vs.tail)
    val parts = steps.map { case (a, b) =>
      val (added, removed) = diff(a, b)
      added.withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(b))
        .unionByName(removed.withColumn("_change_type", lit("delete"))
          .withColumn("_commit_version", lit(b)))
    }
    // allowMissingColumns: a step before an additive schema evolution
    // has the narrower shape; its rows surface with the new column null
    parts.reduceOption(_.unionByName(_, allowMissingColumns = true)).getOrElse {
      val (a, _) = diff(fromV, toV)
      a.limit(0).withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(0L))
    }
  }

  private def isIntegralId(df: DataFrame): Boolean =
    df.schema.fields.find(_.name == idCol).map(_.dataType).exists {
      case _: LongType | _: IntegerType | _: ShortType | _: ByteType => true
      case _ => false
    }

  /** Write `rows` as new immutable files with per-file id stats. */
  private def writeFiles(rows: DataFrame): Seq[FileEntry] = {
    lastSchemaJson = Some(rows.schema.json)
    val f = fs
    f.mkdirs(new Path(filesDir))
    val tmp = s"$path/_tmp_${UUID.randomUUID().toString.take(8)}"
    rows.write.parquet(tmp)
    val parts = f.listStatus(new Path(tmp)).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
    val prefix = UUID.randomUUID().toString.take(8)
    val renamed = parts.map { p =>
      val name = s"$prefix-${p.getName}"
      f.rename(p, new Path(s"$filesDir/$name"))
      name
    }
    // per-file id range + emptiness from the parquet FOOTERS — pure
    // metadata reads, no data scan, so append throughput is untouched
    // (this is how transactional table formats collect file stats at
    // commit). Zero-row files (filter-everything rewrites produce
    // them) are dropped: committing one would poison pruning forever
    // (no stats ⇒ always affected).
    val integral = isIntegralId(rows)
    f.delete(new Path(tmp), true)
    // footer reads are independent metadata round-trips — parallelize
    // (sequential opens would make commit latency linear in file count
    // on an object store)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val statted = Await.result(
      Future.traverse(renamed) { n =>
        Future((n, footerStats(f, new Path(s"$filesDir/$n"), integral)))
      }, 10.minutes)
    statted.flatMap { case (n, (rowCount, range, colStats)) =>
      if (rowCount == 0L) { f.delete(new Path(s"$filesDir/$n"), false); None }
      else {
        if (colStats.nonEmpty) pendingColStats.put(n, colStats)
        Some(FileEntry(n, range.map(_._1), range.map(_._2), Some(rowCount)))
      }
    }
  }

  /** Per-file numeric column stats written at this store's next
    * commit (fileName → col → (min, max)); merged with the previous
    * version's stats inside `commit`, under the same lock. */
  private val pendingColStats =
    scala.collection.concurrent.TrieMap.empty[String, Map[String, (Double, Double)]]

  /** Largest magnitude a stat may have and still be EXACT as a
    * double (2^52): larger values are dropped rather than risk a
    * rounded bound wrongly pruning a file. */
  private val statExactMax = 4503599627370496.0

  /** (rowCount, id min/max, per-column numeric min/max) from a parquet
    * footer — metadata only. Column stats cover TOP-LEVEL int/long/
    * float/double columns where every block carries statistics; nulls
    * in a column are fine for VALUE-range pruning (a null row cannot
    * satisfy a range predicate), unlike the id range, which keyed
    * mutations rely on and which stays null-strict. */
  private def footerStats(f: FileSystem, p: Path, integral: Boolean)
      : (Long, Option[(Long, Long)], Map[String, (Double, Double)]) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(p, spark.sparkContext.hadoopConfiguration))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val range =
        if (!integral || rows == 0L) None
        else {
          val perBlock = blocks.flatMap { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == idCol).flatMap { c =>
              val st = c.getStatistics
              // a block containing NULL ids yields no stats: range
              // reasoning (file drops, key pruning) must not apply to
              // rows whose id is NULL
              if (st == null || !st.hasNonNullValue || st.getNumNulls != 0L) None
              else (st.genericGetMin, st.genericGetMax) match {
                case (lo: Number, hi: Number) => Some((lo.longValue(), hi.longValue()))
                case _ => None
              }
            }
          }
          // every block must carry stats or the range is unsound
          if (perBlock.length == blocks.length && perBlock.nonEmpty)
            Some((perBlock.map(_._1).min, perBlock.map(_._2).max))
          else None
        }
      val colStats: Map[String, (Double, Double)] =
        if (rows == 0L) Map.empty
        else {
          val names = blocks.headOption.toSeq.flatMap(_.getColumns.asScala)
            .map(_.getPath.toDotString).filterNot(_.contains('.'))
          names.flatMap { name =>
            val perBlock = blocks.flatMap { b =>
              b.getColumns.asScala.find(_.getPath.toDotString == name).flatMap { c =>
                val st = c.getStatistics
                if (st == null || !st.hasNonNullValue) None
                else (st.genericGetMin, st.genericGetMax) match {
                  case (lo: java.lang.Integer, hi: java.lang.Integer) =>
                    Some((lo.doubleValue(), hi.doubleValue()))
                  case (lo: java.lang.Long, hi: java.lang.Long) =>
                    Some((lo.doubleValue(), hi.doubleValue()))
                  case (lo: java.lang.Float, hi: java.lang.Float) =>
                    Some((lo.doubleValue(), hi.doubleValue()))
                  case (lo: java.lang.Double, hi: java.lang.Double) =>
                    Some((lo.doubleValue(), hi.doubleValue()))
                  case _ => None
                }
              }
            }
            if (perBlock.length == blocks.length && perBlock.nonEmpty &&
                perBlock.forall { case (lo, hi) =>
                  math.abs(lo) <= statExactMax && math.abs(hi) <= statExactMax &&
                    !lo.isNaN && !hi.isNaN })
              Some(name -> ((perBlock.map(_._1).min, perBlock.map(_._2).max)))
            else None
          }.toMap
        }
      (rows, range, colStats)
    } finally reader.close()
  }

  /** Atomically commit a new version whose content is `update(previous
    * entries)` — the update function is RE-EVALUATED on every retry, so
    * concurrent committers merge instead of clobbering each other
    * (rename fails if the version already exists → optimistic retry
    * with the newly observed entry list). `txnUpdate` folds this
    * commit's idempotence markers into the previous version's
    * cumulative (appId → version) state; it is re-evaluated on retry
    * too, and returning the input UNCHANGED while `alreadyApplied`
    * says so is how a replayed micro-batch becomes a no-op commit. */
  private def commit(update: Seq[FileEntry] => Seq[FileEntry],
                     txnUpdate: Map[String, Long] => Map[String, Long] = identity)
      : Unit =
    TableStore.commitLock(path).synchronized {
    // The monitor serializes commits from this driver JVM (where all
    // table mutations run). Cross-PROCESS racers are excluded by a
    // claim marker: v{N}.claim is taken with an exclusive create
    // (atomic even on local FS, where a bare rename would silently
    // overwrite a racing committer's manifest), and only the claim
    // holder renames its manifest into place — rename stays the
    // content-visibility barrier, so readers never observe a
    // half-written manifest. A losing claimer re-reads the latest
    // entries and retries at the next version (optimistic, merge-aware).
    val f = fs
    f.mkdirs(new Path(versionsDir))
    var attempts = 0
    var done = false
    var committedEntries: Seq[FileEntry] = Seq.empty
    while (!done) {
      val (prevVer, prevContent) = listVersions(f).lastOption
        .map { case (v, p) => (v, Some(readUtf8(f, p))) }.getOrElse((-1L, None))
      val prevEntries = prevContent.map(log.decode).getOrElse(Seq.empty)
      val prevTxn = prevContent.map(log.decodeTxn).getOrElse(Map.empty[String, Long])
      val entries = update(prevEntries)
      // schema carries forward: a data-free commit (revert, txn-only,
      // delete-to-empty) must not drop the committed schema, or an
      // evolved table's old files would silently stop surfacing the
      // newer columns
      val schemaJson = lastSchemaJson.orElse(prevContent.flatMap(log.decodeSchema))
      // column stats carry forward too: previous files keep theirs,
      // this commit's new files contribute pendingColStats; encode
      // drops entries for files no longer in the version
      val colStats = prevContent.map(log.decodeColStats)
        .getOrElse(Map.empty[String, Map[String, (Double, Double)]]) ++ pendingColStats
      val tmp = new Path(s"$versionsDir/.tmp-${UUID.randomUUID().toString.take(8)}")
      val out = f.create(tmp, false)
      try out.write(log.encode(prevVer + 1, prevEntries, entries, schemaJson,
          txnUpdate(prevTxn), colStats)
        .getBytes("UTF-8"))
      finally out.close()
      val claimPath = new Path(s"$versionsDir/v${prevVer + 1}.claim")
      val token = UUID.randomUUID().toString
      val claimed = createExclusive(f, claimPath, token)
      // re-verify claim ownership immediately before the rename: a
      // stale-claim steal during a long pause re-issues the claim to
      // someone else, and renaming anyway would clobber their manifest
      done = claimed && ownsClaim(f, claimPath, token) &&
        f.rename(tmp, new Path(s"$versionsDir/${log.fileName(prevVer + 1)}"))
      if (done) committedEntries = entries
      if (!done) {
        f.delete(tmp, false)
        if (claimed) {
          // our rename failed (or our claim was stolen) — release the
          // marker only if it is still ours, or it wedges every writer
          try { if (ownsClaim(f, claimPath, token)) f.delete(claimPath, false) }
          catch { case _: java.io.IOException => }
        } else {
          // a claim with no manifest after staleClaimMs is a crashed
          // committer — steal it so a dangling marker can't wedge the
          // table. The retry budget (sum of backoffs below ≈ 2 min)
          // deliberately exceeds this threshold so the steal path is
          // reachable before "commit contention" fires.
          try {
            if (!f.exists(new Path(s"$versionsDir/${log.fileName(prevVer + 1)}")) &&
                System.currentTimeMillis() -
                  f.getFileStatus(claimPath).getModificationTime > TableStore.staleClaimMs)
              f.delete(claimPath, false)
          } catch { case _: java.io.IOException => }
        }
        attempts += 1
        if (attempts > 80) throw new IllegalStateException(s"commit contention at $path")
        Thread.sleep(math.min(2000L, 50L * attempts)) // let the claim holder finish its rename
      }
    }
    // the commit point has passed — surface this version's files to any
    // attached streaming reader (no-op unless streamed/ exists)
    reconcileStreamed(f, committedEntries)
    // drop ONLY the stats this version committed: with two concurrent
    // writers on one store, a blanket clear() here would discard the
    // other writer's pending per-file stats before its commit, leaving
    // its files permanently stat-less (read conservatively forever).
    // Orphaned entries from losing once-writers are purged at their
    // own file-delete sites.
    committedEntries.foreach(e => pendingColStats.remove(e.name))
  }

  private def currentEntries: Seq[FileEntry] =
    latestContent(fs).map(c => log.decode(c._2)).getOrElse(Seq.empty)

  /** Rewrite commit: `replaced` (from the writer's snapshot) is swapped
    * for `newFiles`; files committed by OTHERS since the snapshot are
    * preserved (append-vs-mutation concurrency is safe; two concurrent
    * REWRITES are last-writer-wins, matching the reference's
    * single-mutator table lock for PROCESS — sql/SQLSelect.java:278-285). */
  private def commitRewrite(snapshot: Seq[FileEntry], replaced: Seq[FileEntry],
                            newFiles: Seq[FileEntry],
                            txnUpdate: Map[String, Long] => Map[String, Long] = identity)
      : Unit =
    commit(rewritten(snapshot, replaced, newFiles), txnUpdate)

  /** [[commitRewrite]]'s update: `prev` with `replaced` swapped for
    * `newFiles`, keeping files committed by others since `snapshot`. */
  private def rewritten(snapshot: Seq[FileEntry], replaced: Seq[FileEntry],
                        newFiles: Seq[FileEntry]): Seq[FileEntry] => Seq[FileEntry] = {
    val snapshotNames = snapshot.map(_.name).toSet
    val replacedNames = replaced.map(_.name).toSet
    prev => {
      val concurrentlyAdded = prev.filterNot(e => snapshotNames.contains(e.name))
      prev.filter(e => snapshotNames.contains(e.name) && !replacedNames.contains(e.name)) ++
        newFiles ++ concurrentlyAdded
    }
  }

  /** Largest id in the table, METADATA-ONLY when every live file
    * carries id stats (the normal case for integral, null-free ids);
    * falls back to a column scan for legacy/stat-less manifests. The
    * @DistributedId id-base read — reference keeps this in its id
    * generator (persistent/Table.java:61-157); here the manifest IS
    * that state. */
  private[graft] def maxId: Option[Long] = {
    val entries = currentEntries
    if (entries.isEmpty) None
    else if (entries.forall(_.idMax.isDefined)) Some(entries.flatMap(_.idMax).max)
    else read.agg(max(col(idCol))).head.get(0) match {
      case null => None
      case n: Number => Some(n.longValue())
    }
  }

  /** Total rows, metadata-only when possible (None forces the caller's
    * fallback — only legacy manifests lack per-file counts). */
  private[graft] def rowCountFromManifest: Option[Long] = metaRows(currentEntries)

  /** Cutoff id such that `deleteBelowId(cutoff)` retains the newest
    * `n` rows by id order; None when the table already holds <= n rows
    * (or when n exceeds Int.MaxValue — the limit below is an Int, and
    * a threshold that large is a no-op at any realistic table size).
    * With duplicate ids the retained count can exceed n: every row
    * sharing the cutoff id survives `deleteBelowId`, which only
    * compares ids. The total comes from manifest row counts, and the
    * top-n scan is pruned to files that can contain a top-n id:
    * sort files by idMax desc, take the shortest prefix holding >= n
    * rows, and scan only files with idMax >= that prefix's min idMin
    * (every row in the prefix has id >= that bound, so an id below it
    * is outranked by >= n rows — provably outside the top-n). On an
    * append-mostly @Threshold table that is the newest file or two,
    * O(affected files) not O(table). */
  private[graft] def newestCutoff(n: Long): Option[Long] = {
    if (n > Int.MaxValue) return None // limit(Int) would truncate silently
    val entries = currentEntries
    val statted = entries.nonEmpty &&
      entries.forall(e => e.rows.isDefined && e.idMin.isDefined && e.idMax.isDefined)
    val total: Long =
      if (statted) entries.flatMap(_.rows).sum
      else if (entries.isEmpty) 0L
      else read.count()
    if (total <= n) return None
    val scan =
      if (!statted) read
      else {
        val byMaxDesc = entries.sortBy(e => -e.idMax.get)
        val cum = byMaxDesc.scanLeft(0L)(_ + _.rows.get).tail
        val prefix = byMaxDesc.take(cum.indexWhere(_ >= n) + 1)
        val bound = prefix.map(_.idMin.get).min
        readFiles(entries.filter(_.idMax.get >= bound))
      }
    Some(scan.select(col(idCol))
      .orderBy(col(idCol).desc).limit(n.toInt)
      .agg(min(col(idCol))).head.get(0).asInstanceOf[Number].longValue())
  }

  // ---- durable rollback intent ----------------------------------------
  // A multi-table ROLLBACK that dies mid-loop would leave some tables
  // reverted and some not. The session writes each table's revert
  // target HERE before flipping any manifest; the next open of the
  // store completes the revert. revertTo is content-idempotent (a
  // re-run commits the same snapshot again), so recovery is safe even
  // when the crash happened after the flip but before the marker
  // cleanup. (The reference's per-table MVCC has the same cross-table
  // window; this journal closes it on our side.)
  private val pendingRevertPath = new Path(s"$path/_pending_revert")

  /** Durably record "this table must be at `version`'s content" before
    * a multi-table rollback starts flipping manifests. */
  def markPendingRevert(version: Long): Unit = {
    val tmp = new Path(s"$path/.pending-${UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, false)
    try out.write(version.toString.getBytes("UTF-8")) finally out.close()
    if (fs.exists(pendingRevertPath)) fs.delete(pendingRevertPath, false)
    if (!fs.rename(tmp, pendingRevertPath))
      throw new IllegalStateException(s"cannot journal revert intent at $path")
  }

  def clearPendingRevert(): Unit =
    if (fs.exists(pendingRevertPath)) fs.delete(pendingRevertPath, false)

  /** Complete an interrupted multi-table rollback: if a revert intent
    * is journaled, re-apply it and clear the journal. Returns true if
    * a revert was applied. Fails loudly (journal kept) when the target
    * version was vacuumed away — that is operator territory, silently
    * dropping the intent would un-atomically commit half a rollback. */
  def recoverPendingRevert(): Boolean = {
    if (!fs.exists(pendingRevertPath)) false
    else {
      val v = readUtf8(fs, pendingRevertPath).trim.toLong
      revertTo(v)
      clearPendingRevert()
      true
    }
  }

  /** Transaction revert: make the table's content equal to `version`'s
    * snapshot via a NEW commit — metadata-only (no data I/O), and
    * history-preserving: the revert is itself a version, so time travel
    * still sees the undone states. `version = -1` reverts to empty.
    * The target version's files must still exist: rollback windows must
    * stay inside vacuum's grace period (the same retention rule that
    * protects in-flight writers). Session-scoped ROLLBACK
    * (GraftSession) is built on this. */
  def revertTo(version: Long): Unit = {
    val target: Seq[FileEntry] =
      if (version < 0L) Seq.empty
      else entriesOfVersion(version)
    commit(_ => target)
  }

  /** Zero-copy SHALLOW CLONE (the Delta `CLONE` dev/test workflow):
    * `targetPath` becomes an independent table whose first version is
    * an exact snapshot of this table's latest — same file entries,
    * committed schema, and per-file column stats — with the data
    * files HARDLINKED (no bytes move; byte copy on non-local
    * filesystems). Sound because data files are immutable by the
    * store contract: every mutation writes NEW files, so the two
    * tables diverge freely after the clone, and vacuum on either side
    * is safe — the filesystem's link count keeps a file alive until
    * BOTH tables have dropped it. O(files) metadata ops total; a
    * 100 TB production snapshot clones in seconds. */
  def cloneTo(targetPath: String): TableStore = {
    val f = fs
    val (_, content) = latestContent(f).getOrElse(
      throw new IllegalStateException(s"clone: no committed version at $path"))
    val entries = log.decode(content)
    // the DETECTED format, not the constructor arg: a reopened table
    // (format auto-detected from disk) must clone into the same
    // on-disk log format it actually uses
    val target = new TableStore(spark, targetPath, idCol, log)
    require(!target.exists, s"clone: target $targetPath already has versions")
    f.mkdirs(new Path(target.filesDir))
    entries.foreach { e =>
      linkOrCopy(f, new Path(s"$filesDir/${e.name}"), new Path(s"${target.filesDir}/${e.name}"))
    }
    // carry the committed schema and column stats into the clone's
    // first commit — a clone that forgot stats would read its whole
    // inheritance conservatively (un-prunable)
    target.lastSchemaJson = log.decodeSchema(content)
    log.decodeColStats(content).foreach { case (n, st) =>
      target.pendingColStats.put(n, st); ()
    }
    target.commit(_ => entries)
    target
  }

  /** Schema enforcement + additive evolution (the Delta write
    * contract): an incoming batch may ADD nullable columns (the
    * committed schema widens; old files are never rewritten — reads
    * surface the absent columns as null) and may OMIT columns (filled
    * null on write), but may never CHANGE an existing column's type —
    * that is the silent-corruption path a 100 TB table cannot afford,
    * so it throws. Returns the incoming rows aligned to the merged
    * schema. `committed` is the table's schema (`committedSchema`, or
    * taken from the same version read as the caller's entries); legacy
    * tables with no committed schema pass through. */
  private def enforceSchema(rows: DataFrame, committed: Option[StructType]): DataFrame =
    committed match {
      case None => rows
      case Some(cur) =>
        // nullability (incl. containsNull/valueContainsNull inside
        // containers) is not a TYPE change — compare erased structure
        val curByName = cur.fields.map(f => f.name -> f).toMap
        rows.schema.fields.foreach { f =>
          curByName.get(f.name).foreach { c =>
            if (asNullable(c.dataType) != asNullable(f.dataType))
              throw new IllegalArgumentException(
                s"schema enforcement at $path: column '${f.name}' arrives as " +
                  s"${f.dataType.simpleString} but is committed as " +
                  s"${c.dataType.simpleString}; type changes require an explicit rewrite")
          }
        }
        val incomingByName = rows.schema.fields.map(f => f.name -> f).toMap
        val newFields = rows.schema.fields
          .filterNot(f => curByName.contains(f.name)).map(_.copy(nullable = true))
        val merged = StructType(cur.fields ++ newFields)
        rows.select(merged.fields.map { f =>
          if (incomingByName.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }.toIndexedSeq: _*)
    }

  /** Fast insert, no existence check (reference @NoCheck path): new
    * files + manifest commit, nothing rewritten. */
  def append(rows: DataFrame): Unit = Metrics.timer("persistInsertChunk").time {
    val added = writeFiles(enforceSchema(rows, committedSchema))
    commit(prev => prev ++ added)
  }

  /** CHECKED append — the Delta table-constraints write contract: the
    * batch's constraint suite (Profile.expectations: one aggregation
    * pass regardless of check count, NULL predicate = violation)
    * evaluates BEFORE anything commits; any violation aborts with the
    * per-check counts in the exception and the table untouched — no
    * version, no files, nothing for readers to see. The check scans
    * only the INCOMING batch, not the table, so the cost is
    * O(batch) at any table size. */
  def appendChecked(rows: DataFrame,
                    checks: Seq[(String, Column)],
                    uniqueKey: Option[String] = None): Unit = {
    // materialize ONCE: the constraint scan and the write read the
    // same batch (a re-evaluated nondeterministic upstream cannot
    // slip different rows past the checks)
    val pinned = rows.localCheckpoint(true)
    try {
      val report = Profile.expectations(pinned, checks, uniqueKey).collect()
      val failed = report.filter(_.getInt(2) == 0)
      if (failed.nonEmpty)
        throw new IllegalArgumentException(
          "appendChecked: constraint violations, append aborted — " +
            failed.map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", "))
      append(pinned)
    } finally pinned.unpersist()
  }

  /** Quarantine ingest — the routing sibling of [[appendChecked]]'s
    * abort: rows passing EVERY row-level check commit here, violating
    * rows commit to `quarantine` with `_violated` (comma-joined names
    * of the checks they failed) and `_quarantined_at` (the batch's
    * wall-clock, one value per batch) — nothing is dropped silently,
    * and the quarantine table is itself queryable/re-ingestable after
    * repair (the badRecordsPath pattern, but transactional on both
    * sides). A NULL check result counts as a violation, matching
    * appendChecked/expectations. One evaluation pass over the pinned
    * batch; the split is a map-side filter each way. Returns
    * (accepted, quarantined) row counts. Unlike appendChecked there is
    * no uniqueness option: uniqueness is a batch-level property with
    * no single guilty row to route.
    *
    * Crash ordering: the QUARANTINE side commits FIRST. The two sides
    * are separate stores, so a crash between the commits is possible —
    * the ordering picks which half survives alone. Quarantine-first
    * means a crash can only leave violations preserved with the
    * accepted half missing, which the caller repairs by re-running the
    * batch (the retry re-quarantines the same violations — duplicate
    * quarantine rows are diagnostic records, not data); the opposite
    * order could durably accept rows while silently losing the
    * violations, the exact failure this API exists to prevent. Callers
    * needing a fully idempotent retry should route the accepted half
    * through [[appendOnce]] semantics at their batch id. */
  def appendQuarantine(rows: DataFrame, checks: Seq[(String, Column)],
                       quarantine: TableStore): (Long, Long) = {
    require(checks.nonEmpty, "appendQuarantine: no checks")
    val pinned = rows.localCheckpoint(true)
    try {
      val violated = array(checks.map { case (name, pred) =>
        when(coalesce(pred, lit(false)), lit(null).cast("string"))
          .otherwise(lit(name))
      }: _*)
      val tagged = pinned.withColumn("_violated",
        array_join(filter(violated, c => c.isNotNull), ","))
      val good = tagged.filter(col("_violated") === "").drop("_violated")
      val bad = tagged.filter(col("_violated") =!= "")
        .withColumn("_quarantined_at", lit(System.currentTimeMillis()))
      val nBad = bad.count()
      val nGood = pinned.count() - nBad
      if (nBad > 0) quarantine.append(bad) // violations first — see crash ordering above
      if (nGood > 0) append(good)
      (nGood, nBad)
    } finally pinned.unpersist()
  }

  /** Last applied idempotence version for `appId` (a streaming sink's
    * micro-batch id), from the LATEST version file only — the state is
    * cumulative per version, never a chain replay. */
  def lastTxn(appId: String): Option[Long] =
    latestContent(fs).flatMap(c => log.decodeTxn(c._2).get(appId))

  /** EXACTLY-ONCE append: commit `rows` and the (appId, version)
    * idempotence marker in ONE atomic manifest rename. A replay of an
    * already-applied version (sink restart, task retry, duplicated
    * foreachBatch call) is dropped WITHOUT writing — there is no crash
    * window between "data committed" and "marker recorded" because
    * they are the same rename. Versions must be monotonically
    * increasing per appId (micro-batch ids are). Returns true when the
    * batch was applied, false when deduplicated. */
  def appendOnce(appId: String, version: Long, rows: DataFrame): Boolean = {
    if (lastTxn(appId).exists(_ >= version)) return false
    val added = writeFiles(enforceSchema(rows, committedSchema))
    var applied = false
    commit(
      prev => {
        // re-check INSIDE the commit attempt: a concurrent committer
        // for the same appId may have applied this version while we
        // were writing files (update fns re-evaluate on retry)
        applied = !lastTxn(appId).exists(_ >= version)
        if (applied) prev ++ added else prev
      },
      prevTxn =>
        if (prevTxn.get(appId).exists(_ >= version)) prevTxn
        else prevTxn + (appId -> version))
    if (!applied) dropOrphans(added) // lost the race
    applied
  }

  /** Delete the files a once-writer wrote but did not commit (it lost
    * the idempotence race), with their pending stats. */
  private def dropOrphans(files: Seq[FileEntry]): Unit = {
    val f = fs
    files.foreach { e =>
      pendingColStats.remove(e.name) // never let an orphan's stats linger
      try f.delete(new Path(s"$filesDir/${e.name}"), false)
      catch { case _: java.io.IOException => }
    }
  }

  /** Split `entries` into (files whose id range intersects the key
    * range, untouched rest). Range pruning is conservative: a superset
    * of truly-affected files. */
  private def pruneByKeys(entries: Seq[FileEntry],
                          keys: DataFrame): (Seq[FileEntry], Seq[FileEntry]) = {
    // nothing to prune: skip the key-range job (a first load into an
    // initialized store writes its files and nothing else)
    if (entries.isEmpty) return (Seq.empty, Seq.empty)
    if (!isIntegralId(keys)) return (entries, Seq.empty)
    val r = keys.agg(min(col(idCol)), max(col(idCol))).head
    if (r.isNullAt(0)) return (Seq.empty, entries) // no keys at all
    val kmin = r.get(0).asInstanceOf[Number].longValue()
    val kmax = r.get(1).asInstanceOf[Number].longValue()
    entries.partition(_.overlaps(kmin, kmax))
  }

  /** `session.persist(o)` = insert-or-update by id
    * (persistent/Session.java:436-457). Rewrites only files whose id
    * range intersects the incoming keys; pure inserts touch nothing.
    * `singleFile` shapes the rewrite output to one file (the
    * @NoDistribute dim-table layout) — coalescing only the incoming
    * batch would leave the MERGE rewrite multi-file. */
  def upsert(rows: DataFrame, singleFile: Boolean = false): Unit =
    latestContent(fs) match {
      // fresh-store delegation ticks the timer inside append — not
      // here, so one logical chunk insert never counts twice
      case None => append(if (singleFile) rows.coalesce(1) else rows)
      case Some((_, c)) => Metrics.timer("persistInsertChunk").time {
        upsertExisting(rows, singleFile, log.decode(c), schemaOf(c))
      }
    }

  /** EXACTLY-ONCE upsert: like [[appendOnce]] but MERGING on the id —
    * the sink primitive of a continuously-maintained materialized
    * view, where each micro-batch carries updated per-key aggregate
    * rows. The rewrite and the (appId, version) marker commit in one
    * manifest rename; a replayed batch no-ops. Returns true when
    * applied. */
  def upsertOnce(appId: String, version: Long, rows: DataFrame): Boolean = {
    // txn state, schema and entries all from ONE version read
    val content = latestContent(fs) match {
      case None => return appendOnce(appId, version, rows)
      case Some((_, c)) => c
    }
    if (log.decodeTxn(content).get(appId).exists(_ >= version)) return false
    val rowsE = enforceSchema(rows, schemaOf(content))
    val snapshot = log.decode(content)
    val (affected, _) = pruneByKeys(snapshot, rowsE.select(col(idCol)))
    val merged =
      if (affected.isEmpty) rowsE
      else readFiles(affected, Some(rowsE.schema))
        .join(rowsE.select(col(idCol)), Seq(idCol), "left_anti")
        .unionByName(rowsE)
    val newFiles = writeFiles(merged)
    val update = rewritten(snapshot, affected, newFiles)
    var applied = false
    commit({ prev =>
      // re-check INSIDE the attempt (update fns re-evaluate on retry)
      applied = !lastTxn(appId).exists(_ >= version)
      if (applied) update(prev) else prev
    }, prevTxn =>
      if (prevTxn.get(appId).exists(_ >= version)) prevTxn
      else prevTxn + (appId -> version))
    if (!applied) dropOrphans(newFiles)
    applied
  }

  /** EXACTLY-ONCE full-snapshot replacement: the new content and the
    * (appId, version) idempotence marker commit in one atomic manifest
    * rename; a replayed version no-ops. The sink primitive for
    * derived tables maintained as whole small snapshots (aggregate
    * views — group-cardinality-sized, where a full rewrite per sync
    * is cheaper than merge bookkeeping); [[upsertOnce]] is the
    * per-key-merge sibling for views too large to rewrite. */
  def replaceOnce(appId: String, version: Long, rows: DataFrame): Boolean = {
    val content = latestContent(fs) match {
      case None => return appendOnce(appId, version, rows)
      case Some((_, c)) => c
    }
    if (log.decodeTxn(content).get(appId).exists(_ >= version)) return false
    val newFiles = writeFiles(enforceSchema(rows, schemaOf(content)))
    var applied = false
    commit({ prev =>
      applied = !lastTxn(appId).exists(_ >= version)
      if (!applied) prev else newFiles
    }, prevTxn =>
      if (prevTxn.get(appId).exists(_ >= version)) prevTxn
      else prevTxn + (appId -> version))
    if (!applied) dropOrphans(newFiles)
    applied
  }

  private def upsertExisting(rows0: DataFrame, singleFile: Boolean,
                             snapshot: Seq[FileEntry], schema: Option[StructType]): Unit = {
    val rows = enforceSchema(rows0, schema)
    val (affected, _) = pruneByKeys(snapshot, rows.select(col(idCol)))
    val merged =
      if (affected.isEmpty) rows
      else readFiles(affected, Some(rows.schema))
        .join(rows.select(col(idCol)), Seq(idCol), "left_anti")
        .unionByName(rows)
    commitRewrite(snapshot, affected,
      writeFiles(if (singleFile) merged.coalesce(1) else merged))
  }

  /** Full MERGE INTO over the store — the Delta/Iceberg write
    * contract a warehouse user expects beyond plain upsert:
    *
    *   - target rows matching a source key (on the id) apply
    *     `matchedUpdate` (per-column assignment expressions; reference
    *     the target as `t.<col>` and the source as `s.<col>`), unless
    *     `matchedDeleteWhen` (same t/s vocabulary) holds — then they
    *     are deleted;
    *   - target rows with no source match are untouched;
    *   - source rows with no target match insert when
    *     `insertNotMatched` (full rows, schema-enforced).
    *
    * Scale shape: only files whose id range intersects the source
    * keys rewrite (manifest-stats pruning — a merge touching one hot
    * partition rewrites one file, not the table); untouched files
    * carry over by name in ONE atomic manifest commit, so readers see
    * the old or the new table, never a mix. Duplicate source keys are
    * rejected up front (a target row matching twice makes the update
    * nondeterministic — same rule as Delta). The id itself cannot be
    * assigned (file pruning and find() depend on it). */
  def merge(source: DataFrame,
            matchedUpdate: Map[String, Column] = Map.empty,
            matchedDeleteWhen: Option[Column] = None,
            insertNotMatched: Boolean = true): Unit = {
    require(!matchedUpdate.contains(idCol),
      s"merge: the id column '$idCol' cannot be assigned")
    // schema and entries from ONE version read
    val (snapshot, schema) = latestContent(fs) match {
      case None =>
        if (insertNotMatched) append(source)
        return
      case Some((_, c)) => (log.decode(c), schemaOf(c))
    }
    val src = enforceSchema(source, schema).localCheckpoint(true)
    try {
      val dups = src.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).limit(1).count()
      require(dups == 0L,
        "merge: duplicate source keys — a target row would match twice")
      val (affected, _) = pruneByKeys(snapshot, src.select(col(idCol)))
      // the ENFORCED source's schema = committed ++ new nullable
      // columns, so merge participates in additive evolution exactly
      // like append/upsert (target-side reads surface the new columns
      // as null; a source batch's added columns are persisted, not
      // silently dropped)
      val targetCols = src.schema.fieldNames.toSeq
      val outFiles =
        if (affected.isEmpty) {
          if (!insertNotMatched) return
          writeFiles(src)
        } else {
          val tgt = readFiles(affected, Some(src.schema)).alias("t")
          val joined = tgt.join(src.alias("s"),
            col(s"t.$idCol") === col(s"s.$idCol"), "left")
          val matched = col(s"s.$idCol").isNotNull
          val deleted = matchedDeleteWhen
            .map(c => matched && c).getOrElse(lit(false))
          val updated = joined.filter(!deleted).select(targetCols.map { f =>
            (if (matchedUpdate.contains(f))
               when(matched, matchedUpdate(f)).otherwise(col(s"t.$f"))
             else col(s"t.$f")).as(f)
          }: _*)
          val inserts =
            if (insertNotMatched)
              src.join(tgt.select(col(s"t.$idCol").as(idCol)), Seq(idCol), "left_anti")
                .select(targetCols.map(col): _*)
            else src.limit(0).select(targetCols.map(col): _*)
          writeFiles(updated.unionByName(inserts))
        }
      commitRewrite(snapshot, affected, outFiles)
    } finally src.unpersist()
  }

  /** `session.find(cls, id)` (persistent/Session.java:326-342): the
    * manifest's file stats prune to the file(s) whose range covers the
    * key, then parquet row-group min/max prune within. Reads under the
    * committed schema, so a row written before an additive evolution
    * carries the newer columns as null, as in `read`. */
  def find(id: Any): DataFrame = {
    val (entries, schema) = latestState
    val pruned = id match {
      case n: Number =>
        val k = n.longValue()
        entries.filter(_.overlaps(k, k))
      case _ => entries
    }
    readFiles(pruned, schema).filter(col(idCol) === lit(id))
  }

  /** Range scan with manifest-level data skipping: only files whose
    * id stats intersect [kmin, kmax] are handed to Spark at all — the
    * pruned files are never listed, opened, or footer-read. This is
    * the table-format half of data skipping (Delta/Iceberg file stats);
    * parquet row-group min/max pruning then works WITHIN the surviving
    * files. On a compacted (clustered, non-overlapping) 100 TB table a
    * narrow range reads O(range) files instead of O(table); on an
    * uncompacted key-interleaved table every file overlaps and this
    * degrades — gracefully — to the full scan, which is exactly why
    * `compact(clusterBy=id)` exists. Files without stats (non-integral
    * id, null ids) are conservatively always read. */
  def readRange(kmin: Long, kmax: Long): DataFrame = {
    val (entries, schema) = latestState
    readFiles(entries.filter(_.overlaps(kmin, kmax)), schema)
      .filter(col(idCol) >= lit(kmin) && col(idCol) <= lit(kmax))
  }

  /** Range scan with data skipping on an ARBITRARY numeric column
    * (the Delta/Iceberg file-stats generalization of [[readRange]]):
    * files whose committed (min, max) for `colName` miss [lo, hi] are
    * never handed to Spark; files without stats for the column read
    * conservatively. Stats exist for top-level int/long/float/double
    * columns whose values stay within double-exact range (2^52 —
    * collection drops anything that could round). A null row can
    * never satisfy the range predicate, so value pruning is sound on
    * columns WITH nulls, unlike the null-strict id range. Pair with
    * `compact(clusterBy = colName)` to make the ranges disjoint and
    * the pruning sharp. The residual row-exact filter is applied on
    * top. */
  def readWhere(colName: String, lo: Double, hi: Double): DataFrame =
    readPruned(Map(colName -> ((lo, hi))))
      .filter(col(colName) >= lit(lo) && col(colName) <= lit(hi))

  /** File-pruned snapshot under SEVERAL per-column range constraints
    * at once (conjunctive): a file survives only if every constrained
    * column's stats intersect its range. NO row filter is applied —
    * the caller (e.g. the dialect's lowered WHERE) owns row-exact
    * filtering; this only shrinks the file set, conservatively. */
  def readPruned(bounds: Map[String, (Double, Double)],
                 idRange: Option[(Long, Long)] = None): DataFrame = {
    // stats, entries and schema from ONE version read: separate reads
    // could pair one version's stats with another version's files
    val content = latestContent(fs).map(_._2)
    val stats = content.map(log.decodeColStats)
      .getOrElse(Map.empty[String, Map[String, (Double, Double)]])
    val entries = content.map(log.decode).getOrElse(Seq.empty).filter { e =>
      idRange.forall { case (klo, khi) => e.overlaps(klo, khi) } &&
      bounds.forall { case (c, (lo, hi)) =>
        stats.get(e.name).flatMap(_.get(c)) match {
          case Some((mn, mx)) => mn <= hi && mx >= lo
          case None => true // no stats → always read
        }
      }
    }
    readFiles(entries, content.flatMap(schemaOf))
  }

  /** DELETE WHERE: removes rows where the condition is TRUE only —
    * NULL-evaluating rows are retained (SQL three-valued semantics;
    * a bare `!cond` would silently drop them). Two-phase, like Delta's
    * DELETE: a find scan (predicate pushed to parquet, row-group stats
    * prune) locates the files that actually contain matches, then only
    * THOSE are rewritten — a delete touching 1% of a 100 TB table
    * rewrites 1% of it, not all of it. Only file NAMES reach the
    * driver (metadata-scale). Use deleteKeys for the stats-pruned
    * keyed path that avoids the find scan entirely. */
  def delete(condition: Column): Unit = {
    val snapshot = currentEntries
    if (snapshot.isEmpty) return
    // two evaluations of the predicate (find + rewrite) are only sound
    // when it is deterministic; a rand()/timestamp predicate would
    // match different rows per phase. Delta rejects those outright —
    // here the single-scan full rewrite is still available, so fall
    // back to it (one evaluation per row) instead of failing.
    if (!org.apache.spark.sql.graft.CatalystBridge.expression(condition).deterministic) {
      val retained = readFiles(snapshot).filter(not(coalesce(condition, lit(false))))
      commitRewrite(snapshot, snapshot, writeFiles(retained))
      return
    }
    // find phase: bare `condition` (not coalesce(cond,false)) so the
    // predicate reaches the parquet scan as a pushed filter and
    // row-group stats prune — Filter already drops NULL evaluations,
    // same row set, but Coalesce would not translate to a source filter
    val matchedFiles = readFiles(snapshot)
      .filter(condition).select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0)).toSet
    val affected = snapshot.filter(e => matchedFiles.exists(_.endsWith("/" + e.name)))
    if (affected.isEmpty) return // nothing matches: no new version
    val retained = readFiles(affected).filter(not(coalesce(condition, lit(false))))
    commitRewrite(snapshot, affected, writeFiles(retained))
  }

  /** Delete by key set: files outside the key range are untouched;
    * affected files are rewritten via one left-anti join (ids stay
    * distributed — the PROCESS STREAM per-batch delete path). */
  def deleteKeys(keys: DataFrame): Unit = {
    val k = keys.select(col(idCol)).distinct()
    val snapshot = currentEntries
    val (affected, _) = pruneByKeys(snapshot, k)
    if (affected.isEmpty) return
    val retained = readFiles(affected).join(k, Seq(idCol), "left_anti")
    commitRewrite(snapshot, affected, writeFiles(retained))
  }

  /** PROCESS … WITHIN over this table: run the callback, persist the
    * post-delete state (reference: cluster-locked table rewrite —
    * sql/SQLSelect.java:278-285). */
  def process(condition: Column, processor: EventProcessor): Process.Result = {
    val (snapshot, schema) = latestState
    val res = Process.run(readFiles(snapshot, schema), condition, processor, Some(idCol))
    if (processor.delete()) commitRewrite(snapshot, snapshot, writeFiles(res.retained))
    res
  }

  /** Retention truncation: remove all rows with id < cutoff. Files
    * entirely below the cutoff are dropped from the manifest with NO
    * data I/O; only the files straddling the cutoff (or lacking stats)
    * are rewritten — the @Threshold hot path stays O(1 file) per
    * enforcement instead of an O(table) rewrite. */
  def deleteBelowId(cutoff: Long): Unit = {
    val snapshot = currentEntries
    // whole-file drops require stats, and stats are only recorded for
    // null-free files (footerStats), so no NULL-id row is ever dropped
    // with a file; the straddling rewrite retains NULL ids explicitly
    // (SQL three-valued semantics, same as delete())
    val dropped = snapshot.filter(_.idMax.exists(_ < cutoff))
    val untouched = snapshot.filter(_.idMin.exists(_ >= cutoff))
    val straddling = snapshot.diff(dropped ++ untouched)
    if (dropped.isEmpty && straddling.isEmpty) return
    val newFiles =
      if (straddling.isEmpty) Seq.empty
      else writeFiles(readFiles(straddling)
        .filter(col(idCol) >= cutoff || col(idCol).isNull))
    commitRewrite(snapshot, dropped ++ straddling, newFiles)
  }

  /** Small-file compaction: rewrite the current snapshot into
    * ~targetFiles files (append-only ingest accumulates one file set
    * per commit). Atomic like any rewrite; files appended concurrently
    * since the snapshot survive.
    *
    * With `clusterBy`, the rewrite RANGE-partitions and sorts by those
    * columns (Delta OPTIMIZE ZORDER's job, done the single-key way —
    * for one sort key, range clustering is optimal): files stop
    * overlapping in the cluster key, so manifest id ranges and parquet
    * row-group min/max prune keyed reads to exactly one file instead of
    * "every file that ever appended". The maintenance companion of the
    * append hot path: appends stay O(batch), clustering restores
    * pruning precision off the hot path. */
  def compact(targetFiles: Int = 8, clusterBy: Seq[String] = Seq.empty): Unit = {
    val snapshot = currentEntries
    val n = math.max(targetFiles, 1)
    if (snapshot.isEmpty || (clusterBy.isEmpty && snapshot.size <= n)) return
    // clustered maintenance is idempotent: when the file count is
    // already at target and the id ranges don't overlap (what
    // clusterBy-on-the-id-key produces), a rewrite would only churn a
    // new version with the same layout — repeated maintenance runs
    // must converge to a no-op
    if (clusterBy == Seq(idCol) && snapshot.size <= n &&
        snapshot.forall(e => e.idMin.isDefined && e.idMax.isDefined) && {
          val ranges = snapshot.map(e => (e.idMin.get, e.idMax.get)).sorted
          ranges.zip(ranges.drop(1)).forall { case ((_, hi), (lo, _)) => hi < lo }
        }) return
    val base = readFiles(snapshot)
    val packed =
      if (clusterBy.isEmpty) base.repartition(n)
      else base.repartitionByRange(n, clusterBy.map(col): _*)
        .sortWithinPartitions(clusterBy.map(col): _*)
    commitRewrite(snapshot, snapshot, writeFiles(packed))
  }

  /** Per-file (idMin, idMax) of the current snapshot — lets tests and
    * maintenance tooling observe clustering/pruning precision. */
  private[graft] def fileIdRanges: Seq[(Option[Long], Option[Long])] =
    currentEntries.map(e => (e.idMin, e.idMax))

  /** Drop superseded manifests and unreferenced data files older than
    * `graceMs` (current snapshot unaffected). The grace window governs
    * BOTH kinds of state, for two distinct safety reasons:
    *   - data files: a concurrent writer may have renamed new files
    *     into files/ but not committed yet — age keeps their in-flight
    *     work safe (the same reason Delta's VACUUM has retention);
    *   - manifests: superseded versions committed within the window
    *     stay readable, so `revertTo`/ROLLBACK baselines and time
    *     travel survive any vacuum whose grace covers the transaction
    *     window (the invariant revertTo documents). A manifest older
    *     than the grace is past the time-travel horizon and dropped.
    * `graceMs = 0` reclaims everything superseded immediately —
    * time travel ends, only the latest version remains. */
  def vacuum(graceMs: Long = 10 * 60 * 1000L): Unit =
    TableStore.commitLock(path).synchronized {
      val f = fs
      val cutoff = System.currentTimeMillis() - graceMs
      val all = listVersions(f)
      // a journaled rollback target must survive vacuum regardless of
      // age: dropping it would turn an interrupted multi-table ROLLBACK
      // permanently unrecoverable (recoverPendingRevert fails loudly
      // rather than committing half a rollback)
      val pinned: Option[Long] =
        if (f.exists(pendingRevertPath))
          try Some(readUtf8(f, pendingRevertPath).trim.toLong)
          catch { case _: Exception => None }
        else None
      // latest always survives; older manifests survive inside grace
      val (dropped, keptOld) = all.dropRight(1).partition { case (v, p) =>
        !pinned.contains(v) && f.getFileStatus(p).getModificationTime <= cutoff }
      dropped.foreach { case (_, p) => f.delete(p, false) }
      // claim markers for superseded versions have done their job
      val latest = all.lastOption.map(_._1).getOrElse(-1L)
      if (f.exists(new Path(versionsDir)))
        f.listStatus(new Path(versionsDir)).toSeq.map(_.getPath)
          .filter(_.getName.matches("v\\d+\\.claim"))
          .filter(_.getName.stripPrefix("v").stripSuffix(".claim").toLong < latest)
          .foreach(p => f.delete(p, false))
      // a data file is live if ANY retained manifest references it —
      // deleting a file out from under a within-grace manifest would
      // leave readable versions pointing at nothing
      val live = (all.lastOption.toSeq ++ keptOld).flatMap { case (_, p) =>
        log.decode(readUtf8(f, p)).map(_.name)
      }.toSet
      if (f.exists(new Path(filesDir)))
        f.listStatus(new Path(filesDir)).toSeq
          .filterNot(s => live.contains(s.getPath.getName))
          .filter(_.getModificationTime <= cutoff) // inclusive: graceMs=0 means clean everything dead
          .foreach(s => f.delete(s.getPath, false))
      // streamed/ mirror entries dead in every retained manifest go
      // too, or a FRESH stream reader's backlog would include them
      if (f.exists(new Path(streamedDir)))
        f.listStatus(new Path(streamedDir)).toSeq
          .filterNot(s => live.contains(s.getPath.getName))
          .filterNot(_.getPath.getName == "_source_v2") // layout marker, not data
          .foreach(s => f.delete(s.getPath, false))
    }
}
