package graft.table

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ByteType, DataType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType, StructType}
import java.nio.charset.StandardCharsets
import java.util.UUID
import scala.util.matching.Regex

/**
 * Minimal versioned table layer over plain parquet.
 *
 * The reference stores every sink as a Delta table and reads back the last
 * commit's `operation/operationMetrics/readVersion/writeVersion/userMetadata`
 * for observability (reference: core/utils/delta.py:134-168, used from
 * write.py:303-317 etc.) and tags commits with user metadata
 * (write.py:66-68). No Delta jar ships in this environment, so this class
 * provides the same *capabilities* natively:
 *
 *   layout:  <root>/_graft_log/<%012d-version>.json   commit log (atomic rename)
 *            <root>/data/<version>-<uuid>/            parquet snapshots/deltas
 *
 * A commit records the **list of data dirs composing the snapshot**, so
 * `append` is O(new data) (adds one dir) and `replace` swaps the whole
 * composition — readers of old versions are unaffected (MVCC-ish, like
 * Delta's add/remove files, but at directory granularity). All IO goes
 * through Hadoop `FileSystem`, so the same code runs on HDFS/S3A on a real
 * cluster; `rename` gives atomic commit publication on HDFS (and is the
 * standard best-effort on local FS).
 *
 * Scale note: merge writes (`replace`) rewrite the table. For a 100 TB
 * table the caller should partition the table (`partitionBy`) on a stable
 * key (date or key-hash prefix) and merge per-partition — mirroring the
 * reference's `use_paritition_column_in_merge` file-skipping intent
 * (write.py:190-213). The dir-composition log supports that shape: a
 * partition-scoped replace commits prevDirs - touchedPartitionDirs + newDir.
 */
final class ManagedTable(spark: SparkSession, root: String) {
  import ManagedTable._

  private val rootPath = new Path(root)
  private val logPath = new Path(rootPath, "_graft_log")
  private def fs: FileSystem =
    rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists: Boolean = fs.exists(logPath) && latestVersion.isDefined

  /** Read one advisory pointer file (`_head.ptr` / `_floor.ptr`). A
    * missing, truncated, or mid-overwrite file reads as None — callers
    * fall back to the full directory listing. */
  private def readPtr(name: String): Option[Long] = {
    ManagedTable.ptrReads.incrementAndGet()
    val p = new Path(logPath, name)
    try {
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val s = try new String(org.apache.commons.io.IOUtils.toByteArray(in),
          StandardCharsets.UTF_8).trim finally in.close()
        s.toLongOption
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Best-effort pointer write — the pointers are ADVISORY (every read
    * verifies by probing actual entry files and heals staleness), so a
    * failed write degrades to the listing fallback, never to a wrong
    * answer. */
  private def writePtr(name: String, v: Long): Unit =
    try {
      val out = fs.create(new Path(logPath, name), true)
      try out.write(v.toString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () }

  private def commitFileExists(v: Long): Boolean = {
    ManagedTable.ptrProbes.incrementAndGet()
    fs.exists(new Path(logPath, f"$v%012d.json"))
  }

  /** The retained version range resolved from the advisory head/floor
    * pointers WITHOUT listing the log directory. Retained versions are
    * contiguous by construction (commits append head+1; vacuum deletes
    * an ascending prefix), so the range is (floor, head) with both ends
    * healed by existence probes: a head pointer that lost a race with a
    * newer commit probes UP to the real head, a floor pointer left
    * stale-low by a crash mid-vacuum probes up to the first retained
    * entry. None (→ full listing) when either pointer is absent or the
    * pointed head entry is gone — correctness never rests on the
    * pointers. Why this exists: a once-a-second micro-batch view
    * accumulates ~31M commits/year, and every watermark walk used to
    * pay a full directory listing of them; with the pointers the walk
    * costs O(probes), independent of history length. */
  private def pointerRange: Option[(Long, Long)] = {
    for {
      h0 <- readPtr(ManagedTable.HeadPtrFile)
      f0 <- readPtr(ManagedTable.FloorPtrFile)
      if h0 >= f0 && commitFileExists(h0)
    } yield {
      var h = h0
      while (commitFileExists(h + 1)) h += 1
      var f = math.min(f0, h)
      while (f < h && !commitFileExists(f)) f += 1
      (f, h)
    }
  }

  /** One log listing (a single driver FS round-trip) serving every
    * version-range question — never one RPC per commit. Served from the
    * advisory head/floor pointers (O(probes), no listing) whenever they
    * resolve; the listing is the fallback for pre-pointer tables and
    * unreadable pointers. */
  private def listVersions: Seq[Long] = pointerRange match {
    case Some((f, h)) => f to h
    case None =>
      if (!fs.exists(logPath)) return Nil
      ManagedTable.logListings.incrementAndGet()
      fs.listStatus(logPath).toSeq
        .map(_.getPath.getName)
        .collect { case CommitFile(v) => v.toLong }
  }

  def latestVersion: Option[Long] = {
    val vs = listVersions
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** Oldest version still present in the commit log (version 0 until a
    * [[vacuum]] prunes aged-out entries). */
  def earliestVersion: Option[Long] = {
    val vs = listVersions
    if (vs.isEmpty) None else Some(vs.min)
  }

  /** One raw log entry: the parsed commit (for delta entries `dirs` /
    * `dirStats` hold only the ADDED dirs/stats) plus the delta link. */
  private def readEntry(version: Long): (Commit, Option[ManagedTable.DeltaPart]) = {
    ManagedTable.logEntryReads.incrementAndGet()
    val p = new Path(logPath, f"$version%012d.json")
    val in = fs.open(p)
    val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    ManagedTable.parseLogEntry(new String(bytes, StandardCharsets.UTF_8))
  }

  /** Read many raw log entries with bounded-concurrency driver IO.
    * Sequential per-commit opens are fine at 30 commits but not at 30k —
    * on an object store that is 30k × round-trip latency. */
  private def readEntries(
      versions: Seq[Long]): Seq[(Commit, Option[ManagedTable.DeltaPart])] = {
    if (versions.isEmpty) return Nil
    // small batches read sequentially: metaHistory walks run on every
    // view refresh/search/micro-batch, and paying executor handoff (let
    // alone the old per-call pool create/shutdown) for a 2-entry read
    // costs more than the reads
    if (versions.size <= 4) return versions.map(readEntry)
    graft.DriverPool.map(spark, versions.map(v => () => readEntry(v)))
  }

  /** Resolve log entries to full snapshot commits. Delta entries chain to
    * their parent via `baseVersion`; chains are bounded by the forced full
    * snapshot every [[ManagedTable.LogSnapshotInterval]] versions, and any
    * base outside the requested set is fetched in a follow-up batch, so a
    * full-history resolve stays one listing + one bounded-concurrency read
    * round. */
  private def resolveAll(versions: Seq[Long]): Map[Long, Commit] = {
    if (versions.isEmpty) return Map.empty
    val raw = scala.collection.mutable.Map[Long, (Commit, Option[ManagedTable.DeltaPart])]()
    var frontier = versions.distinct
    while (frontier.nonEmpty) {
      val entries = readEntries(frontier)
      raw ++= frontier.zip(entries)
      frontier = entries.flatMap(_._2).map(_.baseVersion).distinct
        .filterNot(raw.contains)
    }
    val memo = scala.collection.mutable.Map[Long, Commit]()
    def resolve(v: Long): Commit = memo.get(v) match {
      case Some(c) => c
      case None =>
        val r = raw(v) match {
          case (c, None) => c
          case (e, Some(d)) =>
            require(d.baseVersion < v,
              s"corrupt commit log for $root: version $v chains to ${d.baseVersion}")
            val p = resolve(d.baseVersion)
            val removed = d.removeDirs.toSet
            e.copy(dirs = p.dirs.filterNot(removed) ++ e.dirs,
              dirStats = (p.dirStats -- d.removeDirs) ++ e.dirStats,
              dirBytes = (p.dirBytes -- d.removeDirs) ++ e.dirBytes)
        }
        memo(v) = r
        r
    }
    versions.distinct.map(v => v -> resolve(v)).toMap
  }

  def commitAt(version: Long): Commit = resolveAll(Seq(version))(version)

  /** Read many commits (resolved snapshots) — see [[resolveAll]]. */
  private def readCommits(versions: Seq[Long]): Seq[Commit] = {
    val m = resolveAll(versions)
    versions.map(m)
  }

  def lastCommit: Option[Commit] = latestVersion.map(commitAt)

  /** Highest sink-transaction version applied for `appId` (Delta
    * `txnVersion(appId)` analogue) — the exactly-once replay guard for
    * foreachBatch sinks: a micro-batch whose epoch is <= this value has
    * already been committed here and must be skipped on redelivery.
    * O(1): the txn map rides the latest commit. */
  def lastTxnVersion(appId: String): Option[Long] =
    lastCommit.flatMap(_.txn.get(appId))

  def history: Seq[Commit] = readCommits(listVersions.sorted.reverse)

  /** The newest `limit` commits, fully resolved — the bounded read for
    * operational inspection of a years-old table: O(limit + chain
    * bases) log entries instead of the whole log ([[resolveAll]]
    * fetches any out-of-range chain base in a follow-up batch, bounded
    * by the forced full snapshot every
    * [[ManagedTable.LogSnapshotInterval]] versions). */
  def historyNewest(limit: Int): Seq[Commit] = {
    require(limit >= 1, "historyNewest needs limit >= 1")
    readCommits(listVersions.sorted.reverse.take(limit))
  }

  /** Commit-log entries newest-first WITHOUT delta-chain resolution —
    * `version`, `operation`, `operationMetrics`, `userMetadata` and the
    * txn map are exact on every raw entry; only `dirs`/`dirStats`/
    * `dirBytes` of delta entries are partial (that commit's additions).
    * LAZY and batched: a walker that stops at its first matching entry
    * costs one log listing plus O(one batch) of entry reads, not the
    * whole log. The view watermark walks run on EVERY refresh, every
    * search, and every streaming micro-batch — after a year of
    * micro-batch commits, resolving the full history there would be
    * O(all commits) of driver IO per batch for a value that almost
    * always rides the newest commit. */
  def metaHistory: Iterator[Commit] = {
    // descending iterator WITHOUT materializing the version list — on a
    // pointer-served table that is two small values, and even a 31M-commit
    // stream view walks lazily (Range keeps O(1) memory; the fallback
    // listing pays its vector once)
    val vs: Iterator[Long] = pointerRange match {
      case Some((f, h)) => Iterator.iterate(h)(_ - 1L).takeWhile(_ >= f)
      case None => listVersions.sorted.reverseIterator
    }
    vs.grouped(ManagedTable.MetaWalkBatch)
      .flatMap(b => readEntries(b).map(_._1))
  }

  /** Current snapshot as a DataFrame. Fails if the table does not exist. */
  def read: DataFrame = {
    val c = lastCommit.getOrElse(
      throw new IllegalStateException(s"managed table $root does not exist"))
    readDirs(c.dirs, StructType.fromDDL(c.schemaDdl), c.partitionBy.nonEmpty,
      c.dvDirs, c.columnMap)
  }

  /** Snapshot as of a specific version (time travel over the commit log —
    * old versions' dirs are never mutated, only de-referenced; [[vacuum]]
    * prunes the oldest). */
  def readAt(version: Long): DataFrame = {
    val latest = latestVersion.getOrElse(
      throw new IllegalStateException(s"managed table $root does not exist"))
    val earliest = earliestVersion.get
    require(version >= earliest && version <= latest,
      s"version $version of $root does not exist (retained versions are " +
        s"[$earliest,$latest]" +
        (if (earliest > 0) " — older versions were vacuumed)" else ")"))
    val c = commitAt(version)
    // the commit's own cumulative DV list — time travel sees exactly the
    // tombstones that existed as of that version
    readDirs(c.dirs, StructType.fromDDL(c.schemaDdl), c.partitionBy.nonEmpty,
      c.dvDirs, c.columnMap)
  }

  /** Latest retained version whose commit time is at or before `tsMs` —
    * Delta's `timestampAsOf` resolution. Walks the log NEWEST-FIRST and
    * stops at the first commit old enough (commit timestamps are
    * non-decreasing in version order — one writer stamps them at
    * publish), so "as of yesterday" on a years-old table reads O(head
    * distance) entries, not the whole history. */
  def versionAsOf(tsMs: Long): Long = {
    require(latestVersion.isDefined, s"managed table $root does not exist")
    metaHistory.find(_.timestampMs <= tsMs).map(_.version).getOrElse {
      val e = earliestVersion.get
      throw new IllegalArgumentException(
        s"no retained version of $root exists at or before timestamp $tsMs " +
          s"(earliest commit is at ${readEntry(e)._1.timestampMs})")
    }
  }

  /** Snapshot as of a wall-clock time (`timestampAsOf` time travel). */
  def readAsOf(tsMs: Long): DataFrame = readAt(versionAsOf(tsMs))

  /**
   * RESTORE the table to an earlier version — a NEW commit whose dir
   * composition (and schema, stats, partitioning) is the target
   * version's. Metadata-only: no data moves, the restored dirs are
   * re-referenced, and the rolled-back versions stay in history (and
   * remain vacuum-able) — exactly Delta's RESTORE semantics. Fails if
   * the target version was already vacuumed away.
   */
  def restore(version: Long): Commit = synchronized {
    val cur = lastCommit.getOrElse(
      throw new IllegalStateException(s"managed table $root does not exist"))
    require(version != cur.version, s"table $root is already at version $version")
    val earliest = earliestVersion.get
    require(version >= earliest,
      s"cannot restore $root to version $version — vacuumed " +
        s"(earliest retained is $earliest)")
    val target = commitAt(version)
    // the restore commit CARRIES the target's userMetadata: for the
    // view family the metadata is the fold watermark, and the restored
    // state IS that commit's state — a restore without it would strand
    // the view between a newer recorded watermark and older data
    commitNext(cur, s"RESTORE(version=$version)",
      Map("restoredVersion" -> version.toString,
        "numRestoredDirs" -> target.dirs.size.toString))(
      _.copy(dirs = target.dirs, userMetadata = target.userMetadata,
        schemaDdl = target.schemaDdl, partitionBy = target.partitionBy,
        dirStats = target.dirStats, dvDirs = target.dvDirs,
        columnMap = target.columnMap, constraints = target.constraints,
        properties = target.properties))
  }

  /**
   * CLONE — Delta's `CREATE TABLE ... CLONE` analogue, optionally as of
   * an older version.
   *
   * SHALLOW (default): the target's v0 commit references this table's
   * data dirs BY PATH — zero bytes copied, constant time at any table
   * size. Skipping stats and recorded dir byte sizes carry over (keyed
   * by the same paths), so predicate pruning and byte-sized planning
   * work on the clone immediately. Clone and source then diverge freely:
   * dirs are immutable copy-on-write, so neither side's commits ever
   * rewrite shared files, and the clone's own [[vacuum]] never deletes
   * foreign roots (own-root guard above). The one lifecycle caveat is
   * Delta's own: VACUUM on the SOURCE can delete dirs a shallow clone
   * still references — deep-clone (or drop the clone) before vacuuming a
   * source out from under it.
   *
   * DEEP: every referenced dir is copied under the target's own data
   * area (one Spark job, one task per dir — driver does no byte work),
   * stats/bytes re-keyed to the copies; the clone is then fully
   * self-contained. O(data) by nature.
   */
  def cloneTo(targetRoot: String, deep: Boolean = false,
              asOfVersion: Option[Long] = None): Commit = {
    val latest = latestVersion.getOrElse(
      throw new IllegalStateException(s"managed table $root does not exist"))
    val v = asOfVersion.getOrElse(latest)
    val earliest = earliestVersion.get
    require(v >= earliest,
      s"cannot clone $root as of version $v — vacuumed (earliest is $earliest)")
    val src = commitAt(v)
    val target = new ManagedTable(spark, targetRoot)
    require(!target.exists, s"clone target $targetRoot already exists")
    val (dirs, stats, bytes, dvDirs) =
      if (!deep) (src.dirs, src.dirStats, src.dirBytes, src.dvDirs)
      else {
        // preserve each dir's path below the source's data/ node so
        // partition-subdir references stay structurally identical
        def relUnderData(dir: String): String = {
          var p = new Path(dir); var segs = List.empty[String]
          while (p.getParent != null && p.getParent.getName != "data") {
            segs = p.getName :: segs; p = p.getParent
          }
          (p.getName :: segs).mkString("/") // root segment, then subpath
        }
        val targetData = new Path(new Path(targetRoot), "data")
        // DV dirs copy like data dirs; their tombstone keys are
        // table-RELATIVE (path after `data/`) and the copy preserves
        // each dir's path below `data/`, so the copied tombstones match
        // the copied files without any rewrite
        val pairs = (src.dirs ++ src.dvDirs).map { d =>
          d -> new Path(targetData, relUnderData(d)).toString
        }
        val n = math.max(1, math.min(pairs.size, 64))
        // ship the session's Hadoop settings (credentials, endpoints,
        // defaultFS) to the copy tasks — a bare executor-side
        // Configuration would resolve an unauthenticated/wrong FS on
        // object stores. Configuration itself isn't serializable, so
        // broadcast its entries and rebuild per task.
        val confEntries = {
          val it = spark.sparkContext.hadoopConfiguration.iterator()
          val b = Seq.newBuilder[(String, String)]
          while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
          b.result()
        }
        val confBc = spark.sparkContext.broadcast(confEntries)
        spark.sparkContext.parallelize(pairs, n).foreach { case (from, to) =>
          val conf = new org.apache.hadoop.conf.Configuration()
          confBc.value.foreach { case (k, value) => conf.set(k, value) }
          val fp = new Path(from); val tp = new Path(to)
          val sfs = fp.getFileSystem(conf); val tfs = tp.getFileSystem(conf)
          if (!org.apache.hadoop.fs.FileUtil.copy(sfs, fp, tfs, tp, false, conf))
            throw new java.io.IOException(s"deep clone failed copying $from -> $to")
        }
        val remap = pairs.toMap
        (src.dirs.map(remap),
          src.dirStats.map { case (d, s) => remap.getOrElse(d, d) -> s },
          src.dirBytes.map { case (d, b) => remap.getOrElse(d, d) -> b },
          src.dvDirs.map(remap))
      }
    val commit = Commit.Genesis.next(
      s"CLONE(source=$root, version=$v, ${if (deep) "deep" else "shallow"})",
      System.currentTimeMillis(),
      Map("sourceVersion" -> v.toString,
        "numClonedDirs" -> dirs.size.toString,
        "cloneMode" -> (if (deep) "deep" else "shallow")))
      .copy(dirs = dirs, schemaDdl = src.schemaDdl, partitionBy = src.partitionBy,
        dirStats = stats, dirBytes = bytes, dvDirs = dvDirs,
        columnMap = src.columnMap, constraints = src.constraints,
        properties = src.properties)
    target.writeCommit(commit)
    commit
  }

  /** Read a commit's dir composition. Dirs may be whole data dirs or
    * partition subdirs (after a [[selectiveOverwrite]]); subdirs are read
    * with `basePath` grouped by their data-dir root so partition columns
    * survive. `partitioned` (recorded in the commit) forces whole dirs
    * into one read-with-basePath PER dir: several partitioned roots in a
    * single multi-path scan make Spark's partition discovery raise
    * CONFLICTING_DIRECTORY_STRUCTURES (and a basePath can't span roots).
    * Unpartitioned compositions keep the single multi-path scan. */
  private def dirFrames(dirs: Seq[String], schema: StructType,
                        partitioned: Boolean): Seq[DataFrame] = {
    val (subdirs, whole) = dirs.partition(d => ManagedTable.dataDirRoot(d) != d)
    val wholeFrames =
      if (whole.isEmpty) Nil
      else if (partitioned && whole.size > 1)
        whole.map(d => spark.read.option("basePath", d).schema(schema).parquet(d))
      else
        // one multi-path relation for all whole dirs (not an N-deep union)
        Seq(spark.read.schema(schema).parquet(whole: _*))
    wholeFrames ++
      subdirs.groupBy(ManagedTable.dataDirRoot).map { case (base, ds) =>
        spark.read.option("basePath", base).schema(schema).parquet(ds: _*)
      }
  }

  /** The LOGICAL schema's fields under their PHYSICAL parquet names —
    * what the scan must request when a column mapping is live. */
  private def physicalSchema(schema: StructType,
                             cmap: Map[String, String]): StructType =
    if (cmap.isEmpty) schema
    else StructType(schema.fields.map(f =>
      f.copy(name = cmap.getOrElse(f.name, f.name))))

  /** Select list renaming a physical-named frame back to logical. */
  private def logicalCols(schema: StructType,
                          cmap: Map[String, String]): IndexedSeq[org.apache.spark.sql.Column] =
    schema.fields.map { f =>
      org.apache.spark.sql.functions
        .col(s"`${cmap.getOrElse(f.name, f.name)}`").as(f.name)
    }.toIndexedSeq

  /** Rename a logical-named frame to its physical column names for
    * writing (layout columns like [[CLUSTER_COL]] pass through
    * unmapped) — applied AFTER any `.observe`, so recorded skipping
    * stats stay keyed by logical names forever. */
  private def toPhysical(df: DataFrame,
                         cmap: Map[String, String]): DataFrame =
    if (cmap.isEmpty) df
    else df.select(df.columns.map(n =>
      org.apache.spark.sql.functions.col(s"`$n`")
        .as(cmap.getOrElse(n, n))).toIndexedSeq: _*)

  /** The tombstone rows of a snapshot's deletion-vector dirs. */
  private def dvFrame(dvDirs: Seq[String]): DataFrame =
    spark.read.schema(ManagedTable.DvSchema).parquet(dvDirs: _*)

  /** Canonical DV file key of a scan row: the file path after the last
    * `/data/` segment — e.g. `000000000002-ab12cd34/part-0.parquet`.
    * Comparing relative keys (not full URIs) makes tombstones robust to
    * scheme spelling (`file:/` vs `file:///`), mount points, and deep
    * clones (which preserve each dir's path below `data/`). Commit data
    * dirs are `<version>-<uuid>` and partition subdirs are `col=val`,
    * so the only bare `data` path segments are table data roots. */
  private def dvKeyOf(fileCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.regexp_replace(fileCol, "^.*/data/", "")

  /** The one dir reader: `dirs` under the commit's `schema` and column
    * mapping, with the snapshot's deletion vectors applied. Each scan
    * keeps its file identity (`_metadata.file_path` canonicalized +
    * `_metadata.row_index`) and the union anti-joins the tombstone set
    * on (file key, row position). The DV relation is a parquet scan
    * Spark can size, so a typical (small) tombstone set broadcasts
    * under `autoBroadcastJoinThreshold` — the read tax is one
    * broadcast-hash anti-join, cleared entirely by [[purgeDeletes]].
    * With no deletion vectors the union is read plainly. A stream reads
    * dirs under its own fixed schema this way too: dirs committed after
    * a schema evolution are projected onto it (missing columns → NULL). */
  private[graft] def readDirs(dirs: Seq[String], schema: StructType,
                              partitioned: Boolean, dvDirs: Seq[String],
                              cmap: Map[String, String] = Map.empty): DataFrame =
    if (dirs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else if (dvDirs.isEmpty)
      // restrict to the commit's schema: partition discovery may append
      // dir-derived columns the schema doesn't declare (e.g. the synthetic
      // [[clusterBy]] bucket column) — they are storage layout, not data.
      // allowMissingColumns: a composition may MIX layouts (carried
      // cluster-bucket subdirs + a file-scoped merge's plain dir), so a
      // layout column present in one frame and absent in another must not
      // fail the union — it is dropped by the select either way
      dirFrames(dirs, physicalSchema(schema, cmap), partitioned)
        .reduce(_.unionByName(_, allowMissingColumns = true))
        .select(logicalCols(schema, cmap): _*)
    else {
      import org.apache.spark.sql.functions.col
      val cols = logicalCols(schema, cmap)
      val outCols = schema.fieldNames.map(n => col(s"`$n`")).toIndexedSeq
      val metaed = dirFrames(dirs, physicalSchema(schema, cmap), partitioned).map { f =>
        f.select(cols :+ dvKeyOf(col("_metadata.file_path")).as("__graft_dv_file__") :+
          col("_metadata.row_index").as("__graft_dv_pos__"): _*)
      }.reduce(_.unionByName(_))
      val dv = dvFrame(dvDirs)
      metaed.join(dv,
          metaed("__graft_dv_file__") === dv("file") &&
            metaed("__graft_dv_pos__") === dv("pos"), "left_anti")
        .select(outCols: _*)
    }

  /**
   * Change data feed between versions — the native analogue of Delta's
   * `readChangeFeed` / `startingVersion` / `endingVersion` read options the
   * reference consumes for CDC (reference: core/sources/delta_source.py:
   * 19-44, :198-250). Rows carry the data columns plus `_change_type`
   * (insert / update_preimage / update_postimage / delete),
   * `_commit_version` and `_commit_timestamp` — Delta CDF's column names.
   *
   * Per-version sourcing, cheapest first:
   *  - a commit with a recorded change dir (merges under
   *    `enable_change_data_feed`) reads stored change rows — the
   *    `_change_type` / `_commit_version` / `_commit_timestamp` columns are
   *    written INTO the change parquet at commit time, so the whole range
   *    is served as ONE multi-path scan per distinct schema (Delta serves
   *    CDF exactly this way), not a per-version union;
   *  - append / overwrite / selective-overwrite commits need **no stored
   *    change data at all**: the commit log's dir diff vs the previous
   *    version IS the change set (added dirs → inserts, dropped dirs →
   *    deletes). Synthesis is likewise batched: one scan over ALL added
   *    dirs and one over ALL removed dirs (per schema), with the commit
   *    version/timestamp recovered per row from the file's containing
   *    commit dir — so a feed over thousands of append commits is still a
   *    two-scan plan;
   *  - a merge commit written without CDF enabled has no per-row change
   *    record (its dir diff would claim the whole table rewritten), so —
   *    like Delta — the read fails for that version.
   *
   * Driver IO is one batched commit-log fetch for the range (each commit
   * read exactly once, predecessor included for the first dir-diff).
   * Commits record a `changeFormat` version for their stored change data;
   * change parquet written before the stored-stamp format lacks the
   * version/timestamp columns, and serving it through this path would
   * return NULL stamps — such commits are refused with a loud error
   * instead (rewrite the table, or replay the merge with CDF on).
   */
  def readChangeFeed(startingVersion: Long,
                     endingVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, udf}
    import scala.collection.mutable
    ManagedTable.changeFeedReads.incrementAndGet()
    val latest = latestVersion.getOrElse(
      throw new IllegalStateException(s"managed table $root does not exist"))
    val end = endingVersion.getOrElse(latest)
    require(startingVersion >= 0 && startingVersion <= end && end <= latest,
      s"change feed range [$startingVersion,$end] invalid for versions [0,$latest]")

    val fetched = readCommits(math.max(0L, startingVersion - 1) to end)
      .map(c => c.version -> c).toMap

    // Batched read lists, grouped by schema DDL (one scan per group; in the
    // common no-evolution case that is a single scan per change kind).
    val changeDirs = mutable.LinkedHashMap.empty[String, mutable.Buffer[String]]
    // synthesis groups carry the DV set to apply: none for adds (a
    // just-added dir's files are fresh — no tombstone can reference
    // them yet), the PREDECESSOR version's cumulative set for removes
    // (rows tombstoned before the dir was dropped were already deleted
    // then, and must not re-appear as deletes now)
    val addDirs = mutable.LinkedHashMap
      .empty[(String, Seq[String], Map[String, String]), mutable.Buffer[String]]
    val removeDirs = mutable.LinkedHashMap
      .empty[(String, Seq[String], Map[String, String]), mutable.Buffer[String]]
    // commit dir (path component, scheme-stripped) -> (version, timestamp)
    val addStamps = mutable.Map.empty[String, (Long, java.sql.Timestamp)]
    val removeStamps = mutable.Map.empty[String, (Long, java.sql.Timestamp)]
    def pathKey(dir: String): String = new Path(dir).toUri.getPath

    var prev: Option[Commit] =
      if (startingVersion == 0) None else fetched.get(startingVersion - 1)
    (startingVersion to end).foreach { v =>
      val c = fetched(v)
      c.changeDir match {
        case Some(dir) =>
          if (c.changeFormat < STAMPED_CHANGE_FORMAT)
            throw new IllegalStateException(
              s"version $v of $root stores change data in pre-stamp format " +
                s"${c.changeFormat} (no _commit_version/_commit_timestamp in the " +
                "parquet); this reader requires format " +
                s"$STAMPED_CHANGE_FORMAT — rewrite the table or replay the merge")
          changeDirs.getOrElseUpdate(c.schemaDdl, mutable.Buffer.empty) += dir
        case None if c.operation.startsWith("MERGE") =>
          throw new IllegalStateException(
            s"version $v of $root is a merge committed without " +
              "enable_change_data_feed — change data was not recorded")
        case None if c.operation.startsWith("RENAME COLUMN") ||
            c.operation.startsWith("DROP COLUMN") =>
          // metadata-only, but the LOGICAL schema shifts mid-range: rows
          // before and after would union under different names (Delta
          // likewise refuses CDF across column-mapping changes)
          throw new IllegalStateException(
            s"version $v of $root changes the column mapping " +
              s"(${c.operation}) — a change feed cannot span a " +
              "rename/drop; read ranges on either side of it")
        case None if c.operation.startsWith("DELETE VECTORS") &&
            c.operationMetrics.get("numDeletedRows").exists(_ != "0") =>
          // a DV delete changes no dirs, so dir-diff synthesis would
          // claim this version changed NOTHING — refuse like an
          // uncaptured merge rather than serve a silently-empty feed
          throw new IllegalStateException(
            s"version $v of $root is a deletion-vector delete committed " +
              "without change capture — replay with captureChangeData=true")
        case None =>
          val prevDirs = prev.map(_.dirs).getOrElse(Nil)
          val ts = new java.sql.Timestamp(c.timestampMs)
          c.dirs.diff(prevDirs).foreach { d =>
            addDirs.getOrElseUpdate((c.schemaDdl, Nil, c.columnMap),
              mutable.Buffer.empty) += d
            addStamps(pathKey(d)) = (v, ts)
          }
          val prevDdl = prev.map(_.schemaDdl).getOrElse(c.schemaDdl)
          val prevDv = prev.map(_.dvDirs).getOrElse(Nil)
          val prevMap = prev.map(_.columnMap).getOrElse(Map.empty)
          prevDirs.diff(c.dirs).foreach { d =>
            removeDirs.getOrElseUpdate((prevDdl, prevDv, prevMap),
              mutable.Buffer.empty) += d
            removeStamps(pathKey(d)) = (v, ts)
          }
      }
      prev = Some(c)
    }

    // Stored change rows: schema is data columns + the three stamped
    // meta columns, read as one multi-path relation per schema group.
    val changeFrames = changeDirs.map { case (ddl, dirs) =>
      val schema = StructType.fromDDL(ddl)
        .add("_change_type", "string")
        .add("_commit_version", "long")
        .add("_commit_timestamp", "timestamp")
      spark.read.schema(schema).parquet(dirs.toSeq: _*)
    }.toSeq

    // Dir-diff synthesis: the commit version of a synthesized row is a
    // function of the file's containing commit dir — recovered by walking
    // the file path upward against the (small, driver-built) dir map. A
    // UDF keeps the lookup out of the plan (no thousand-entry map literal
    // repeated per column) at the cost of codegen on these scans only.
    // several whole partitioned roots can't share one multi-path scan
    // (see readDirs) — partitioned-ness of any commit in range applies
    val anyPartitioned = fetched.values.exists(_.partitionBy.nonEmpty)

    def stamped(bySchema: mutable.LinkedHashMap[(String, Seq[String], Map[String, String]), mutable.Buffer[String]],
                stamps: mutable.Map[String, (Long, java.sql.Timestamp)],
                changeType: String): Seq[DataFrame] = {
      if (bySchema.isEmpty) return Nil
      val lookup = stamps.toMap
      val stampOf = udf { file: String =>
        var p = new Path(file).getParent
        var hit: (Long, java.sql.Timestamp) = null
        while (p != null && hit == null) {
          hit = lookup.getOrElse(p.toUri.getPath, null)
          p = p.getParent
        }
        if (hit == null)
          throw new IllegalStateException(s"change-feed file $file not in commit dir map")
        hit
      }
      bySchema.map { case ((ddl, dvAsOf, cmapAsOf), dirs) =>
        readDirsDvWithFile(dirs.toSeq, StructType.fromDDL(ddl), anyPartitioned,
            dvAsOf, "__graft_file__", cmapAsOf)
          .withColumn("_change_type", lit(changeType))
          .withColumn("__graft_stamp__", stampOf(col("__graft_file__")))
          .withColumn("_commit_version", col("__graft_stamp__._1"))
          .withColumn("_commit_timestamp", col("__graft_stamp__._2"))
          .drop("__graft_stamp__", "__graft_file__")
      }.toSeq
    }

    val frames = changeFrames ++
      stamped(addDirs, addStamps, "insert") ++
      stamped(removeDirs, removeStamps, "delete")
    frames
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .map { df =>
        val meta = Seq("_change_type", "_commit_version", "_commit_timestamp")
        df.select((df.columns.filterNot(meta.contains) ++ meta).map(col(_)).toIndexedSeq: _*)
      }
      .getOrElse {
        val empty = StructType.fromDDL(fetched(end).schemaDdl)
          .add("_change_type", "string")
          .add("_commit_version", "long").add("_commit_timestamp", "timestamp")
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], empty)
      }
  }

  /**
   * Read the current snapshot restricted by `predicate`, skipping every
   * data dir whose recorded min/max stats prove it cannot contain a
   * matching row (see [[DataSkipping]]) — dir-level file skipping from
   * commit-log metadata alone, before any scan is planned. The predicate
   * is re-applied on the surviving dirs, so results are identical to
   * `read.filter(predicate)`; only the scanned file set shrinks.
   */
  def readWhere(predicate: org.apache.spark.sql.Column): DataFrame = {
    val c = lastCommit.getOrElse(
      throw new IllegalStateException(s"managed table $root does not exist"))
    readDirs(splitDirsMayMatch(c, predicate)._1, StructType.fromDDL(c.schemaDdl),
        c.partitionBy.nonEmpty, c.dvDirs, c.columnMap)
      .filter(predicate)
  }

  /**
   * Row-level DELETE — the Delta `DELETE FROM ... WHERE` analogue, made
   * dir-scoped by data skipping: only dirs whose min/max stats say they
   * MAY contain matching rows are rewritten (their surviving rows land in
   * one new dir); every other dir carries over by reference, untouched on
   * disk. Cost is O(affected dirs), not a table rewrite — on an
   * append-heavy or clustered 100 TB table a selective delete touches a
   * handful of dirs. Returns the new commit; `numDeletedRows` /
   * `numRewrittenDirs` land in operationMetrics.
   */
  def delete(predicate: org.apache.spark.sql.Column,
             captureChangeData: Boolean = false): Commit = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    rewriteMatching(predicate, "DELETE",
      changeRows = if (!captureChangeData) None else Some { (df, pred) =>
        df.filter(coalesce(pred, lit(false)))
          .withColumn("_change_type", lit("delete"))
      }) { (df, pred) =>
      // SQL DELETE semantics: only rows where the predicate is TRUE go;
      // NULL-predicate rows stay (a bare !pred would drop them too)
      df.filter(!coalesce(pred, lit(false)))
    }
  }

  /**
   * Row-level UPDATE — `UPDATE ... SET col = expr WHERE pred`, with the
   * same dir-scoped rewrite as [[delete]]: non-matching dirs are never
   * read or written. `set` values may reference the row's columns.
   */
  def update(set: Map[String, org.apache.spark.sql.Column],
             predicate: org.apache.spark.sql.Column,
             captureChangeData: Boolean = false): Commit = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    val c = lastCommit.getOrElse(
      throw new IllegalStateException(s"managed table $root does not exist"))
    val schema = StructType.fromDDL(c.schemaDdl)
    set.keys.foreach(k => require(schema.fieldNames.contains(k),
      s"UPDATE sets unknown column $k"))
    def applySet(df: DataFrame, pred: org.apache.spark.sql.Column): DataFrame =
      df.select(schema.fields.map { f =>
        set.get(f.name) match {
          case Some(v) => when(pred, v.cast(f.dataType))
            .otherwise(col(s"`${f.name}`")).as(f.name)
          case None => col(s"`${f.name}`")
        }
      }.toIndexedSeq: _*)
    rewriteMatching(predicate, "UPDATE",
      changeRows = if (!captureChangeData) None else Some { (df, pred) =>
        val matched = df.filter(coalesce(pred, lit(false)))
        matched.withColumn("_change_type", lit("update_preimage"))
          .unionByName(applySet(matched, lit(true))
            .withColumn("_change_type", lit("update_postimage")))
      })(applySet)
  }

  /**
   * Row-level DELETE via DELETION VECTORS — Delta's merge-on-read
   * delete: instead of rewriting every affected dir (the [[delete]]
   * path — O(affected dirs) WRITE cost even for one row), the matching
   * rows' positions `(file key, row index)` are written as a tombstone
   * parquet and every subsequent snapshot read anti-joins them out.
   * Commit cost is O(deleted rows), independent of how much data sits
   * around them — on a 100 TB table, deleting 0.1 % of rows scattered
   * across every file writes megabytes, not the 100 TB a copy-on-write
   * rewrite would. The trade is a read tax (one anti-join against the
   * tombstone set, broadcast-sized in the typical case) that
   * [[purgeDeletes]] (REORG APPLY PURGE analogue) clears by rewriting
   * only the dirs that actually contain tombstoned rows.
   *
   * Dir-scoped like the rewrite path: stats-pruned dirs that provably
   * cannot match are never scanned. Rows already tombstoned are
   * excluded before matching, so re-deleting is a no-op and
   * `numDeletedRows` is exact. With `captureChangeData` (DEFAULT —
   * unlike [[delete]], a DV commit changes no dirs, so without stored
   * change rows a change feed would serve this version as empty;
   * [[readChangeFeed]] refuses that) the deleted rows are stored as
   * `delete` change rows in the same pass.
   *
   * Commits with live tombstones stamp reader protocol 2: a pre-DV
   * build refuses to read them rather than resurrecting deleted rows.
   */
  def deleteVectors(predicate: org.apache.spark.sql.Column,
                    captureChangeData: Boolean = true,
                    userMetadata: Option[String] = None,
                    expectedPrevVersion: Option[Long] = None,
                    txnUpdate: Option[(String, Long)] = None): Commit =
    deleteVectorsCore(Left(predicate), captureChangeData, userMetadata,
      expectedPrevVersion, txnUpdate)

  /**
   * FRAME-KEYED deletion vectors — [[deleteVectors]] whose matching rows
   * come from a null-safe LEFT SEMI join against `keys` (projected onto
   * `keyCols`) instead of a predicate. This is the delete path for a
   * DATA-SCALED key set: a predicate delete needs its keys as driver
   * state (an IN-list), capping it at the broadcast gate, but the
   * tombstone computation itself is fully distributed (a per-dir join on
   * executors, tombstone parquet written distributed) — so a
   * 1–10 %-of-corpus curation delete lands as an O(deleted rows) DV
   * commit with the key frame never leaving the cluster, instead of the
   * O(index) shuffled rewrite the driver gate used to force. NULL keys
   * match NULL-valued rows (`<=>` — a NULL group key is a legal key for
   * the view family's touched-group tombstones).
   *
   * The READ side dir-prunes too, on the key set's [[KeySet.bound]]:
   * the keys themselves up to the IN-list cap, past it each key
   * column's MIN/MAX + has-null (two scalars and a flag per column at
   * ANY key cardinality — the key frame never comes to the driver). The
   * scan drops every dir whose commit-log stats provably cannot meet
   * the bound (the same conservative [[DataSkipping]] walk the
   * predicate form uses) BEFORE the per-dir join; an empty key set
   * prunes every dir. A small fold against a range-clustered state
   * scans O(touched dirs), not O(state dirs); a key set spanning the
   * whole key space honestly degrades to every dir. With
   * `captureChangeData=false` the surviving dirs are also scanned at
   * KEY width (+ file/pos) instead of full row width — the tombstone
   * needs nothing else. [[ManagedTable.dvScanDirs]] /
   * [[ManagedTable.dvLiveDirs]] count scanned vs live dirs per call
   * (test-visible), so the pruning is pinnable.
   */
  def deleteVectorsMatching(keys: DataFrame, keyCols: Seq[String],
                            captureChangeData: Boolean = true,
                            userMetadata: Option[String] = None,
                            expectedPrevVersion: Option[Long] = None,
                            txnUpdate: Option[(String, Long)] = None): Commit =
    deleteVectorsMatching(KeySet(keys, keyCols), captureChangeData,
      userMetadata, expectedPrevVersion, txnUpdate)

  /** [[deleteVectorsMatching]] over a key set the caller already holds
    * (its collect or aggregate may already be paid). */
  private[table] def deleteVectorsMatching(keys: KeySet,
                                           captureChangeData: Boolean,
                                           userMetadata: Option[String],
                                           expectedPrevVersion: Option[Long],
                                           txnUpdate: Option[(String, Long)]): Commit =
    deleteVectorsCore(Right(keys), captureChangeData, userMetadata,
      expectedPrevVersion, txnUpdate)

  private def deleteVectorsCore(
      sel: Either[org.apache.spark.sql.Column, KeySet],
      captureChangeData: Boolean,
      userMetadata: Option[String],
      expectedPrevVersion: Option[Long],
      txnUpdate: Option[(String, Long)]): Commit = synchronized {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit}
    val c = lastCommit.getOrElse(
      throw new IllegalStateException(s"managed table $root does not exist"))
    // same fence as write(): callers that computed their tombstone set
    // against a specific version (the view family's watermark reads)
    // refuse to publish over an advanced head instead of silently
    // deleting rows the intervening commit may have re-shaped
    fence(expectedPrevVersion, Some(c), "a delete").foreach(e => throw e)
    val schema = StructType.fromDDL(c.schemaDdl)
    sel.foreach { keys =>
      require(keys.cols.nonEmpty, "deleteVectorsMatching needs key columns")
      keys.cols.foreach(k => require(schema.fieldNames.contains(k),
        s"deleteVectorsMatching key column $k is not in the table schema"))
    }
    // `frameBound` is the frame form's conservative key bound: it prunes
    // DIRS here and is re-applied to the surviving dirs' scan below,
    // where Catalyst pushes it into the parquet read (row-group pruning
    // INSIDE a dir whose stats span it) — the exact null-safe semi join
    // then narrows the superset, so it can only shrink the scan, never
    // change the matched set. An empty key set's bound is FALSE, which
    // prunes every dir
    val frameBound = sel.toOption.flatMap(_.bound)
    val affected = sel.left.toOption.orElse(frameBound)
      .fold(c.dirs)(splitDirsMayMatch(c, _)._1)
    ManagedTable.dvScanDirs.addAndGet(affected.size.toLong)
    ManagedTable.dvLiveDirs.addAndGet(c.dirs.size.toLong)
    val version = c.version + 1L
    val tsMs = System.currentTimeMillis()
    def noop(): Commit = commitNext(c, "DELETE VECTORS", Map("numDeletedRows" -> "0",
        "numDeletionVectors" -> c.dvDirs.size.toString))(
      _.copy(userMetadata = userMetadata, txn = c.txn ++ txnUpdate))
    if (affected.isEmpty) return noop()
    // scan WIDTH: the tombstone itself needs only (match columns, file,
    // pos). With change capture the matched rows also become full-width
    // change rows, so only a no-capture call prunes the scan's columns —
    // the view families' state tombstones (capture off) scan key-width.
    val scanSchema: StructType =
      if (captureChangeData) schema
      else {
        val keep: Option[Seq[String]] = sel match {
          case Right(keys) => Some(keys.cols)
          case Left(p) =>
            // conservative reference extraction: any shape that could
            // name columns beyond plain attributes keeps full width
            val predExpr = predicateExpr(schema, p)
            val opaque = predExpr.forall(_.exists {
              case _: org.apache.spark.sql.catalyst.analysis.UnresolvedStar => true
              case _: org.apache.spark.sql.catalyst.analysis.UnresolvedRegex => true
              case _ => false
            })
            val names = predExpr.toSeq.flatMap(_.collect {
              case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
                u.name
              case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
                a.name
            }).distinct
            if (opaque || names.isEmpty ||
                !names.forall(schema.fieldNames.contains)) None
            else Some(names)
        }
        keep.map(ks => StructType(schema.fields.filter(f => ks.contains(f.name))))
          .getOrElse(schema)
      }
    val cols = logicalCols(scanSchema, c.columnMap)
    val metaed = dirFrames(affected, physicalSchema(scanSchema, c.columnMap),
        c.partitionBy.nonEmpty).map { f =>
      f.select(cols :+ dvKeyOf(col("_metadata.file_path")).as("__graft_dv_file__") :+
        col("_metadata.row_index").as("__graft_dv_pos__"): _*)
    }.reduce(_.unionByName(_))
    val alive =
      if (c.dvDirs.isEmpty) metaed
      else {
        val dv = dvFrame(c.dvDirs)
        metaed.join(dv, metaed("__graft_dv_file__") === dv("file") &&
          metaed("__graft_dv_pos__") === dv("pos"), "left_anti")
      }
    // materialized once (it is the DELETED subset — small by the use
    // case) so the tombstone write and the change capture see the
    // identical row set. Predicate form keeps SQL DELETE NULL semantics
    // (only TRUE matches); frame form matches null-safely (a NULL key
    // names the NULL group).
    val matched = (sel match {
      case Left(predicate) => alive.filter(coalesce(predicate, lit(false)))
      case Right(keys) =>
        val k = keys.frame
          .select(keys.cols.map(kc => col(s"`$kc`").as(s"__graft_k_$kc")): _*)
          .distinct()
        val cond = keys.cols.map(kc => col(s"`$kc`") <=> col(s"`__graft_k_$kc`"))
          .reduce(_ && _)
        // bound pre-filter pushed into the scan (row-group pruning);
        // the exact semi join below narrows the superset
        val base = frameBound
          .map(r => alive.filter(coalesce(r, lit(false)))).getOrElse(alive)
        base.join(k, cond, "left_semi")
    }).localCheckpoint()
    val dvDir = freshDir("data", version, "dv-")
    val obs = org.apache.spark.sql.Observation(
      s"graft_dv_$version-${UUID.randomUUID()}")
    writingTo(dvDir)(matched.select(col("__graft_dv_file__").as("file"),
        col("__graft_dv_pos__").as("pos"))
      .observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(dvDir))
    val n = obs.get("rows").asInstanceOf[Long]
    if (n == 0L) { fs.delete(new Path(dvDir), true); return noop() }
    val changeRows =
      if (!captureChangeData) None
      else Some(matched
        .select(schema.fieldNames.map(n => col(s"`$n`")).toIndexedSeq: _*)
        .withColumn("_change_type", lit("delete")))
    // APPEND-commutative publication retry (Delta's conflict rule): our
    // tombstones reference files of the snapshot we scanned; a racer
    // that only ADDED dirs (concurrent ingest) leaves all of them live,
    // so the delete re-publishes over the new head — the racer's rows
    // simply were not in the deleted snapshot (the delete serializes
    // BEFORE the append). A racer that removed/rewrote a scanned dir,
    // changed tombstones, schema, mapping, or constraints surfaces the
    // conflict instead.
    publish(c, Seq(dvDir), changeRows, retry = (head, attempts) =>
      attempts < 10 &&
        c.dirs.forall(head.dirs.contains) && head.dvDirs == c.dvDirs &&
        head.sameDefinition(c) && head.properties == c.properties) {
      (b, attempt) =>
        b.next("DELETE VECTORS", tsMs, Map("numDeletedRows" -> n.toString,
            "numDeletionVectors" -> (b.dvDirs.size + 1).toString,
            "numRewrittenDirs" -> "0") ++ retried(attempt))
          .copy(userMetadata = userMetadata, txn = b.txn ++ txnUpdate,
            dvDirs = b.dvDirs :+ dvDir)
    }
  }

  /**
   * Materialize every live deletion vector — Delta's
   * `REORG TABLE ... APPLY (PURGE)`: rewrite ONLY the dirs that
   * actually contain tombstoned rows (identified from the tombstones'
   * own file keys — one column-pruned scan of the DV parquet, no data
   * read), carry every other dir by reference, and drop the whole
   * tombstone set. Afterwards reads pay no anti-join until the next
   * [[deleteVectors]]. Returns None when the table carries no
   * deletion vectors.
   */
  def purgeDeletes(): Option[Commit] = synchronized {
    import org.apache.spark.sql.functions.{col, split}
    val c = lastCommit.getOrElse(
      throw new IllegalStateException(s"managed table $root does not exist"))
    if (c.dvDirs.isEmpty) return None
    val tsMs = System.currentTimeMillis()
    // tombstone keys start with the data-dir root segment — the
    // distinct first segments (bounded by the dir count) name the
    // roots whose files carry deletes
    val roots = dvFrame(c.dvDirs)
      .select(split(col("file"), "/").getItem(0).as("r")).distinct()
      .collect().map(_.getString(0)).toSet
    val (affected, untouched) = c.dirs.partition(d =>
      roots.contains(new Path(ManagedTable.dataDirRoot(d)).getName))
    val metrics = Map("numRewrittenDirs" -> affected.size.toString,
      "numPurgedDvDirs" -> c.dvDirs.size.toString)
    // every tombstone references files no longer in the composition —
    // inert; dropping them is metadata-only
    if (affected.isEmpty)
      return Some(commitNext(c, "PURGE DELETES", metrics)(_.copy(dvDirs = Nil)))
    val (dataDir, outRows, added) = writeDataDir(
      readDirs(affected, StructType.fromDDL(c.schemaDdl), c.partitionBy.nonEmpty,
        c.dvDirs, c.columnMap),
      c.next("PURGE DELETES", tsMs, Map.empty))
    Some(publish(c, Seq(dataDir)) { (b, _) =>
      composed(b.next("PURGE DELETES", tsMs, metrics).copy(dvDirs = Nil),
        untouched, if (outRows == 0) Nil else added)
    })
  }

  /** Shared dir-scoped rewrite for row-level DML: stats-prune to the
    * affected dirs, apply `transform` (which sees the evaluable predicate
    * column), write the result as one new dir with fresh skipping stats,
    * commit untouched dirs by reference. Change feeds see the rewrite as
    * dir-diff (affected dirs' rows deleted, surviving rows inserted) —
    * coarser than Delta's minimal CDF but consistent with this table's
    * overwrite semantics. */
  private def rewriteMatching(predicate: org.apache.spark.sql.Column,
                              operation: String,
                              changeRows: Option[(DataFrame, org.apache.spark.sql.Column) => DataFrame] = None)(
      transform: (DataFrame, org.apache.spark.sql.Column) => DataFrame): Commit =
    synchronized {
      import org.apache.spark.sql.functions.{count, lit, when => whenF}
      val c = lastCommit.getOrElse(
        throw new IllegalStateException(s"managed table $root does not exist"))
      val schema = StructType.fromDDL(c.schemaDdl)
      val (affected, untouched) = splitDirsMayMatch(c, predicate)
      if (affected.isEmpty)
        return commitNext(c, operation,
          Map("numAffectedRows" -> "0", "numRewrittenDirs" -> "0"))(identity)
      val tsMs = System.currentTimeMillis()
      val layout = c.next(operation, tsMs, Map.empty)

      // DV-aware source read: a rewrite of a dir with live tombstones
      // must not resurrect its deleted rows (the rewrite MATERIALIZES
      // those deletes — tombstones for rewritten files go inert)
      def src = readDirs(affected, schema, c.partitionBy.nonEmpty, c.dvDirs,
        c.columnMap)
      // affected-row count observed above the transform, output rows +
      // skipping stats below it — one write job, no extra passes
      val obsIn = org.apache.spark.sql.Observation(
        s"graft_dml_in_${layout.version}-${UUID.randomUUID()}")
      val withIn = src.observe(obsIn,
        count(lit(1)).as("scanned"),
        count(whenF(predicate, 1)).as("matched"))
      val (dataDir, outRows, added) = writeDataDir(transform(withIn, predicate), layout)
      val matched = obsIn.get("matched").asInstanceOf[Long]
      // optional minimal CDF: exactly the touched rows (delete /
      // update pre+post images), stamped + stored so readChangeFeed
      // serves this version from the change parquet instead of the
      // coarse dir-diff (which would claim every affected dir's row
      // rewritten). One extra job over the affected dirs — opt-in.
      // Carried dvDirs stay live for the untouched dirs; entries pointing
      // at the rewritten files are inert (those files left the composition)
      publish(c, Seq(dataDir), changeRows.map(_(src, predicate))) { (b, _) =>
        composed(b.next(operation, tsMs, Map("numAffectedRows" -> matched.toString,
          "numRewrittenDirs" -> affected.size.toString)),
          untouched, if (outRows == 0) Nil else added)
      }
    }

  /** Stats-based dir split of commit `c`: dirs that MAY contain a row
    * matching `predicate` vs dirs that provably cannot — the
    * conservative [[DataSkipping]] walk [[readWhere]], the DML rewrites
    * and deletion vectors use, metadata-only. Dirs without stats (or
    * predicates the walker can't interpret) land on the "may match"
    * side. */
  private[graft] def splitDirsMayMatch(c: Commit,
      predicate: org.apache.spark.sql.Column): (Seq[String], Seq[String]) = {
    val schema = StructType.fromDDL(c.schemaDdl)
    val predExpr = predicateExpr(schema, predicate)
    c.dirs.partition { d =>
      (for (stats <- c.dirStats.get(d); e <- predExpr)
        yield DataSkipping.mayMatch(stats, schema, e)).getOrElse(true)
    }
  }

  /** `predicate`'s (unanalyzed) Catalyst expression, recovered through
    * public API only — Spark 4's Column hides it, but a Filter over an
    * empty frame of `schema` carries it as its condition. */
  private def predicateExpr(schema: StructType, predicate: org.apache.spark.sql.Column)
      : Option[org.apache.spark.sql.catalyst.expressions.Expression] =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .filter(predicate).queryExecution.logical
      .collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }

  /** Read a subset of the CURRENT snapshot's dirs (same read mechanics
    * as [[read]]; `dirs` must come from the latest commit). */
  private[graft] def readDirsSubset(dirs: Seq[String]): DataFrame = {
    val c = lastCommit.getOrElse(
      throw new IllegalStateException(s"managed table $root does not exist"))
    readDirs(dirs, StructType.fromDDL(c.schemaDdl), c.partitionBy.nonEmpty,
      c.dvDirs, c.columnMap)
  }

  /** Retained commits with `fromV <= version <= toV`, ascending — one log
    * listing + one batched resolve (streaming tails read version ranges
    * this way, never one RPC per commit). */
  def commitsBetween(fromV: Long, toV: Long): Seq[Commit] =
    readCommits(listVersions.filter(v => v >= fromV && v <= toV).sorted)

  /** [[readDirs]] keeping each row's source file path (full URI) as
    * `fileCol` — change-feed synthesis stamps commit version/timestamp
    * from the file's containing dir, and `input_file_name()` is
    * unusable once the DV anti-join makes the plan multi-source
    * (`_metadata.file_path` is per-relation and union/join-safe). */
  private def readDirsDvWithFile(dirs: Seq[String], schema: StructType,
      partitioned: Boolean, dvDirs: Seq[String], fileCol: String,
      cmap: Map[String, String] = Map.empty): DataFrame = {
    import org.apache.spark.sql.functions.col
    val cols = logicalCols(schema, cmap)
    val metaed = dirFrames(dirs, physicalSchema(schema, cmap), partitioned).map { f =>
      f.select(cols :+ col("_metadata.file_path").as(fileCol) :+
        col("_metadata.row_index").as("__graft_dv_pos__"): _*)
    }.reduce(_.unionByName(_))
    val alive =
      if (dvDirs.isEmpty) metaed
      else {
        val dv = dvFrame(dvDirs)
        metaed.join(dv, dvKeyOf(metaed(fileCol)) === dv("file") &&
          metaed("__graft_dv_pos__") === dv("pos"), "left_anti")
      }
    alive.drop("__graft_dv_pos__")
  }

  /**
   * Commit `df` as one new data dir PLUS `carried` dirs of the previous
   * version by reference — the file-scoped merge commit: prevDirs −
   * rewritten + new, the Delta move of rewriting only files that contain
   * matched keys. Carried dirs keep their bytes and their skipping stats
   * untouched.
   *
   * `expectedPrevVersion` is the version the merge RESOLVED its scope
   * against: if the table has advanced since (e.g. a concurrent append
   * landed between the scope split and this commit), committing
   * carried-from-the-old-version dirs would silently DROP the
   * concurrent commit's data from the snapshot. What happens then is the
   * caller's choice, Delta-conflict-resolution style:
   *
   *  - `rebase` provided: the callback receives the NEW head commit and
   *    answers "against this head, which dirs does my (unchanged) result
   *    carry?" — `Some(newCarried)` recomposes `headDirs − rewritten +
   *    new` and publishes against the new head WITHOUT recomputing the
   *    merge join (the data dir is written exactly once and reused
   *    across publication retries); `None` means the conflicting commit
   *    overlaps the result (it touched a rewritten dir, or added rows
   *    the merge should have seen), so the conflict surfaces for the
   *    caller to re-merge. The callback answers only that dir question:
   *    a head whose definition ([[Commit.sameDefinition]]) or deletion
   *    vectors differ from the commit the result was read at
   *    (`expectedPrevVersion`, else the entry-time head) surfaces the
   *    conflict without asking it.
   *  - no `rebase`: refuse with [[ManagedTable.ConcurrentCommitException]],
   *    exactly like Delta's conflict detection — a commit landing in the
   *    resolution window must never be silently dropped.
   *
   * Publication retries are bounded; the commit publishes
   * `head.version + 1`, so a racer landing inside the remaining window
   * loses the atomic rename/link and goes through the same resolution.
   */
  private[graft] def writeCarried(df: DataFrame, carried: Seq[String],
      operation: String, userMetadata: Option[String] = None,
      changeData: Option[DataFrame] = None,
      extraMetrics: Map[String, String] = Map.empty,
      expectedPrevVersion: Option[Long] = None,
      rebase: Option[Commit => Option[Seq[String]]] = None,
      txnUpdate: Option[(String, Long)] = None,
      groupedLayout: Boolean = false): Commit = synchronized {
    val entry = lastCommit.getOrElse(
      throw new IllegalStateException(s"managed table $root does not exist"))
    // the rebase's layout half, against the commit the result was read
    // at: a head with another definition would be reverted, and a head
    // with other deletion vectors may tombstone a row the result
    // rewrote into its new dir, which would resurrect it
    lazy val readAt = expectedPrevVersion.filter(_ != entry.version).fold(entry)(commitAt)
    def rebased(head: Commit): Option[Seq[String]] =
      rebase.filter(_ => head.sameDefinition(readAt) && head.dvDirs == readAt.dvDirs)
        .flatMap(_(head))
    // entry-time staleness: resolve BEFORE paying the data write
    var carry = fence(expectedPrevVersion, Some(entry), "a scoped merge")
      .fold(carried)(e => rebased(entry).getOrElse(throw e))
    val stale = carry.filterNot(entry.dirs.contains)
    require(stale.isEmpty,
      s"carried dirs are not part of the current version of $root: ${stale.mkString(", ")}")
    val tsMs = System.currentTimeMillis()
    // `groupedLayout`: `df` carries [[CLUSTER_COL]] (a STABLE per-row
    // group assignment — e.g. a literal per union branch) and lands one
    // subdir PER GROUP, each with its own skipping stats — so a fold of
    // range-adjacent small dirs keeps per-range stat tightness instead
    // of one wide-range dir. Same machinery as [[writeClusteredFrame]],
    // composed with carried dirs + conflict resolution.
    val dataSchema =
      if (groupedLayout) StructType(df.schema.filterNot(_.name == CLUSTER_COL))
      else df.schema
    // the data dir is written ONCE — publication retries rebase the
    // carried composition around it, never re-run the merge plan
    val (dataDir, numRows, added) =
      writeDataDir(df, entry.next(operation, tsMs, Map.empty), groupedLayout)
    publish(entry, Seq(dataDir), changeData, retry = (head, n) =>
      n < 10 && rebased(head).filter(_.forall(head.dirs.contains))
        .map(c2 => carry = c2).isDefined) { (b, n) =>
      // rebase can change the carried count — keep the caller's metric honest
      val metrics = Map("numOutputRows" -> numRows.toString) ++ extraMetrics ++
        (if (extraMetrics.contains("numCarriedDirs"))
           Map("numCarriedDirs" -> carry.size.toString) else Map.empty) ++
        retried(n)
      composed(b.next(operation, tsMs, metrics).copy(userMetadata = userMetadata,
        schemaDdl = dataSchema.toDDL, txn = b.txn ++ txnUpdate),
        carry, if (numRows == 0) Nil else added)
    }
  }

  /** Read if present, else an empty frame with the given schema. */
  def readOrEmpty(schema: StructType): DataFrame =
    if (exists) read
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Create version 0 with an empty snapshot (create-table-if-not-exists
    * pre-step analogue, reference: core/utils/delta.py:83-132). */
  def createIfNotExists(schema: StructType): Unit = synchronized {
    if (!exists)
      writeCommit(Commit.Genesis.next("CREATE TABLE", System.currentTimeMillis(), Map.empty)
        .copy(schemaDdl = schema.toDDL))
  }

  /**
   * Write `df` as the next version.
   * @param mode "replace" (snapshot becomes just the new dir) or
   *             "append" (new dir added to the previous composition)
   * @param changeData optional per-row change set for this commit
   *                   (rows + `_change_type`), persisted under
   *                   `_change_data/` with `_commit_version` /
   *                   `_commit_timestamp` stamped into the parquet (so
   *                   [[readChangeFeed]] can serve whole version ranges as
   *                   one scan) — required for merges when CDF is on;
   *                   appends and overwrites never need one (dir-diff
   *                   synthesis)
   * @param mergeSchema Delta's mergeSchema analogue for appends: when
   *                   true, new columns widen the table schema (old dirs
   *                   read NULL for them) and columns absent from this
   *                   batch stay (this dir reads NULL for them). When
   *                   false (default), an append whose schema does not
   *                   match the table's fails loudly — committing the
   *                   batch schema as-is would silently drop the columns
   *                   the batch lacks from every subsequent read.
   */
  def write(
      df: DataFrame,
      operation: String,
      mode: String,
      userMetadata: Option[String] = None,
      partitionBy: Seq[String] = Nil,
      changeData: Option[DataFrame] = None,
      mergeSchema: Boolean = false,
      expectedPrevVersion: Option[Long] = None,
      txnUpdate: Option[(String, Long)] = None,
      propertiesOverride: Option[Map[String, String]] = None): Commit = synchronized {
    import org.apache.spark.sql.functions.col
    if (mode != "append" && mode != "replace")
      throw new IllegalArgumentException(s"mode $mode")
    val append = mode == "append"
    val prev = lastCommit
    // merge callers pass the version their result was COMPUTED against:
    // replacing over a different head would silently erase the
    // intervening commit's data (appends never pass it — they are
    // commutative and retry instead)
    fence(expectedPrevVersion, prev, "a merge").foreach(e => throw e)
    val base = prev.getOrElse(Commit.Genesis)
    val tableSchema: StructType = prev match {
      case Some(p) if append && p.dirs.nonEmpty =>
        val old = StructType.fromDDL(p.schemaDdl)
        if (old.toDDL == df.schema.toDDL) df.schema
        else if (!mergeSchema)
          throw new IllegalArgumentException(
            s"append schema ${df.schema.toDDL} does not match table schema " +
              s"${old.toDDL} for $root; pass mergeSchema = true to evolve")
        else {
          // nullability widens where NULLs become observable (new columns
          // are NULL for old dirs; old columns the batch lacks are NULL
          // for this dir), and types may move UP a LOSSLESS widening
          // chain (Delta's type-widening feature): byte<short<int<long,
          // float→double, byte/short/int→double, decimal precision/scale
          // growth. Spark 4's parquet reader serves the old physical
          // type under the widened schema directly (int32 under
          // LongType/DoubleType, float under Double, decimal re-scale),
          // and skipping stats compare as BigDecimal strings — so
          // neither read nor prune needs a rewrite. Lossy or unrelated
          // changes (long→int, string→int, long→double) still refuse.
          StructType(
            old.fields.map { f =>
              df.schema.fields.find(_.name == f.name) match {
                case None => f.copy(nullable = true)
                case Some(g) if g.dataType == f.dataType =>
                  f.copy(nullable = f.nullable || g.nullable)
                case Some(g) =>
                  ManagedTable.widerOf(f.dataType, g.dataType) match {
                    case Some(w) =>
                      f.copy(dataType = w, nullable = f.nullable || g.nullable)
                    case None => throw new IllegalArgumentException(
                      s"column ${f.name} cannot change type " +
                        s"${f.dataType.simpleString} -> ${g.dataType.simpleString} " +
                        s"on append to $root — not a lossless widening " +
                        "(those need a replace)")
                  }
              }
            } ++
              df.schema.fields.filterNot(g => old.fieldNames.contains(g.name))
                .map(_.copy(nullable = true)))
        }
      case _ => df.schema
    }
    val tsMs = System.currentTimeMillis()
    // column mapping: a replace starts fresh files under the logical
    // names (map resets); an append writes the previous map's PHYSICAL
    // names so all live dirs stay uniformly named. A genuinely new
    // column whose logical name collides with an in-use physical name
    // (of a renamed or dropped column still present in old files) gets
    // a fresh generated physical name — reading old bytes under the
    // reused name would silently resurrect the old column's data.
    val commitMap: Map[String, String] =
      if (!append || base.columnMap.isEmpty) Map.empty
      else {
        val used = base.columnMap.values.toSet
        base.columnMap ++ df.schema.fieldNames
          .filter(n => !base.columnMap.contains(n) && used.contains(n))
          .map(n => n -> s"c_${UUID.randomUUID().toString.take(8)}")
      }
    // `propertiesOverride` (REPLACE TABLE AS SELECT): the DECLARED
    // property set both lands in this one commit (no separate
    // setProperties commit to crash between) and governs this very
    // write's layout knobs (clustering, bloom filters) — the first
    // files of the replaced table are born under the new properties
    def build(b: Commit, metrics: Map[String, String]): Commit =
      b.next(operation, tsMs, metrics).copy(userMetadata = userMetadata,
        schemaDdl = tableSchema.toDDL, partitionBy = partitionBy,
        txn = b.txn ++ txnUpdate,
        // a replace starts a fresh composition (all tombstoned files
        // leave it); an append keeps the previous snapshot's dirs and
        // with them its live tombstones
        dvDirs = if (append) b.dvDirs else Nil,
        columnMap = commitMap, constraints = base.constraints,
        properties = propertiesOverride.getOrElse(b.properties))
    val layout = build(base, Map.empty)
    // write-time clustering (`cluster.columns` property — the liquid-
    // clustering intent): range-partition + sort the batch on the
    // declared columns so every written FILE covers a disjoint value
    // range and every row group within it is tight. Dir-level min/max
    // still records the whole batch, but the scan's pushed filters now
    // prune at row-group grain inside the dirs — data is BORN clustered
    // instead of waiting for a clusterByRange/Z maintenance pass.
    val clusterCols = layout.properties
      .get(ManagedTable.ClusterColumnsProp).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
      .filter(df.columns.contains)
    val df1 =
      if (clusterCols.isEmpty) df
      else df.repartitionByRange(clusterCols.map(c => col(s"`$c`")): _*)
        .sortWithinPartitions(clusterCols.map(c => col(s"`$c`")): _*)
    val (dataDir, numRows, added) = writeDataDir(df1, layout)
    // optimistic retry, Delta-style: an APPEND is commutative with a
    // concurrent commit that leaves the table's definition alone —
    // recompose against the new head and re-publish the already-written
    // data dir (the dir name keeps the first attempt's version stamp;
    // only the log matters). A racer that changed the schema, column
    // mapping, constraints or partitioning surfaces the conflict: the
    // dir was written (and checked) under the base's, and republishing
    // would revert the racer's change. A replace/merge must surface
    // every conflict.
    publish(base, Seq(dataDir), changeData, (head, n) =>
      append && n <= 10 && head.sameDefinition(base)) { (b, _) =>
      val c = build(b, Map("numOutputRows" -> numRows.toString))
      if (append) c.copy(dirs = b.dirs :+ dataDir, dirStats = b.dirStats ++ added)
      else composed(c, Nil, added)
    }
  }

  // --------------------------- commit kernel ---------------------------
  // Every commit path ends here: it builds its entry as the base's
  // `Commit.next`, writes its data dir through `writeDataDir`, checks the
  // version fence through `fence`, and publishes through `publish`.

  /** A fresh dir name for an entry of `version` under `area`. */
  private def freshDir(area: String, version: Long, tag: String = ""): String =
    new Path(new Path(rootPath, area),
      f"$version%012d-$tag${UUID.randomUUID().toString.take(8)}").toString

  /** The version fence: a result computed against version `expected`
    * must not publish over a head that moved since — that would
    * silently erase the intervening commit. Some(conflict) when it
    * moved. */
  private def fence(expected: Option[Long], head: Option[Commit],
                    what: String): Option[ConcurrentCommitException] = {
    val h = head.fold(-1L)(_.version)
    expected.filter(_ != h).map(v => new ConcurrentCommitException(
      s"table $root advanced from version $v to $h while $what was computing"))
  }

  /**
   * The one data-dir writer: `df` lands as one fresh dir for `layout`
   * (the commit it is written for: its version names the dir, and its
   * column mapping, bloom properties, partitioning and constraints
   * govern the files) — or, `grouped`, one subdir per [[CLUSTER_COL]]
   * group. Row count, skipping stats and constraint violation counts
   * ride the write job's Observation (grouped: one aggregate pass per
   * group, since an Observation is global-only); a batch violating a
   * constraint deletes the dir and throws before anything publishes.
   * Returns the dir, the row count and the new composition entries
   * (the dir, or its group subdirs in group order) with their stats.
   */
  private def writeDataDir(df: DataFrame, layout: Commit, grouped: Boolean = false)
      : (String, Long, Seq[(String, Map[String, DataSkipping.ColMinMax])]) = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val dir = freshDir("data", layout.version)
    val schema =
      if (grouped) StructType(df.schema.filterNot(_.name == CLUSTER_COL)) else df.schema
    val aggs = (count(lit(1)).as("rows") +: DataSkipping.statAggs(schema)) ++
      constraintAggs(layout.constraints)
    val obs = org.apache.spark.sql.Observation(
      s"graft_write_${layout.version}-${UUID.randomUUID()}")
    val groups: Seq[(String, Map[String, Any])] =
      if (!grouped) Nil
      else {
        require(layout.partitionBy.isEmpty,
          "groupedLayout composes with unpartitioned tables only")
        df.groupBy(col(CLUSTER_COL)).agg(aggs.head, aggs.tail: _*).collect().toSeq
          .map(r => r.getInt(r.fieldIndex(CLUSTER_COL)) -> r.getValuesMap[Any](r.schema.fieldNames))
          .sortBy(_._1).map { case (g, vals) => s"$dir/$CLUSTER_COL=$g" -> vals }
      }
    val writer = toPhysical(if (grouped) df else df.observe(obs, aggs.head, aggs.tail: _*),
        layout.columnMap).write.mode("overwrite")
      .options(ManagedTable.bloomWriteOptions(layout.properties, layout.columnMap))
    val parts = if (grouped) Seq(CLUSTER_COL) else layout.partitionBy
    writingTo(dir)((if (parts.nonEmpty) writer.partitionBy(parts: _*) else writer).parquet(dir))
    val observed = if (grouped) groups else Seq(dir -> obs.get)
    // empty batches observe NULL sums (no rows → no violations)
    layout.constraints.toSeq.sortBy(_._1).foreach { case (name, dsl) =>
      val v = observed.flatMap(o => Option(o._2.getOrElse(s"cons:$name", null)))
        .map(_.asInstanceOf[Long]).sum
      if (v > 0L) {
        fs.delete(new Path(dir), true)
        throw new graft.write.WriteTableConstraintError(
          s"batch violates table constraint '$name' ($dsl) on $root: " +
            s"$v violating rows — write rolled back")
      }
    }
    (dir, observed.map(_._2("rows").asInstanceOf[Long]).sum,
      observed.map { case (d, vals) => d -> DataSkipping.statsOf(schema, vals) })
  }

  /** `c` recomposed as `carry` (dirs of its base, by reference, with
    * their stats) plus the `added` entries. */
  private def composed(c: Commit, carry: Seq[String],
      added: Seq[(String, Map[String, DataSkipping.ColMinMax])]): Commit =
    c.copy(dirs = carry ++ added.map(_._1),
      dirStats = c.dirStats.view.filterKeys(carry.contains).toMap ++ added)

  /** `numCommitRetries` for a path that reports its publication retries. */
  private def retried(attempt: Int): Map[String, String] =
    if (attempt > 1) Map("numCommitRetries" -> (attempt - 1).toString) else Map.empty

  /**
   * The one publication loop. `build(base, attempt)` makes the entry
   * published over `base`; each attempt stamps `changeData` with its own
   * version (the `_commit_version` rides the parquet, so a pre-stamped
   * dir must never re-publish under another version). An attempt that
   * loses the race asks `retry(newHead, attempts)` whether the result
   * still holds over the new head — yes re-publishes over it (the data
   * dirs are written once and reused), no surfaces the conflict. When
   * the loop gives up, or anything else fails before the entry
   * publishes, it deletes what this call wrote: the attempt's change dir
   * and the `written` data/DV dirs — never anything a published entry
   * references ([[writeCommit]] only throws before publication). A
   * published entry that drops a written dir (an empty result) deletes
   * that dir too.
   */
  private def publish(base: Commit, written: Seq[String] = Nil,
                      changeData: Option[DataFrame] = None,
                      retry: (Commit, Int) => Boolean = (_, _) => false)(
                      build: (Commit, Int) => Commit): Commit = {
    var b = base
    var attempt = 1
    while (true) {
      var changeDir: Option[String] = None
      try {
        val c0 = build(b, attempt)
        changeDir = changeData.map(writeChangeData(c0.version, c0.timestampMs, _))
        val c = c0.copy(changeDir = changeDir,
          changeFormat = if (changeDir.isDefined) STAMPED_CHANGE_FORMAT else 0)
        writeCommit(c, Some(b))
        val referenced = c.dirs.map(ManagedTable.dataDirRoot).toSet ++ c.dvDirs
        written.filterNot(referenced).foreach(d => fs.delete(new Path(d), true))
        return c
      } catch {
        case e: Throwable =>
          changeDir.foreach(d => fs.delete(new Path(d), true))
          val head = e match {
            case _: ConcurrentCommitException => lastCommit.filter(retry(_, attempt))
            case _ => None
          }
          if (head.isEmpty) {
            written.foreach(d => fs.delete(new Path(d), true))
            throw e
          }
          b = head.get
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Publish one metadata-only successor of `c` (`f` changes its
    * fields); a lost race surfaces. */
  private def commitNext(c: Commit, operation: String,
                         metrics: Map[String, String])(f: Commit => Commit): Commit =
    publish(c)((b, _) => f(b.next(operation, System.currentTimeMillis(), metrics)))

  /** Stamp + persist a per-row change set for a commit (see [[write]]). */
  private def writeChangeData(version: Long, tsMs: Long, cd: DataFrame): String = {
    import org.apache.spark.sql.functions.lit
    val dir = freshDir("_change_data", version)
    writingTo(dir)(cd.withColumn("_commit_version", lit(version))
      .withColumn("_commit_timestamp", lit(new java.sql.Timestamp(tsMs)))
      .write.mode("overwrite").parquet(dir))
    dir
  }

  /** Runs `write`, which fills the fresh `dir`; a write that throws
    * deletes `dir` before rethrowing: a failed Spark job leaves a partial
    * dir that no commit will ever reference, so vacuum would never
    * reclaim it. The job's tasks that were still running when it failed
    * write under `dir` too, so the delete waits for them to end. */
  private def writingTo(dir: String)(write: => Unit): Unit = {
    val sc = spark.sparkContext
    val tag = s"graft-write-${UUID.randomUUID()}"
    sc.addJobTag(tag)
    try write catch {
      case e: Throwable =>
        org.apache.spark.sql.classic.GraftShims.awaitTasksOf(sc, tag, 60000L)
        fs.delete(new Path(dir), true)
        throw e
    } finally sc.removeJobTag(tag)
  }

  /**
   * Selective overwrite: replace ONLY the partitions present in `df`,
   * leaving all other partitions' files untouched — the write pattern the
   * reference declares but never implements (`selective_overwrite`,
   * core/schemas/sources.py:85), realized here as partition-scoped
   * replace over the dir-composition log. This is the scale-critical
   * alternative to whole-table rewrite: cost is O(touched partitions).
   *
   * The table must be partitioned by `partitionBy`; previous commit dirs
   * are decomposed into their partition subdirs (FS listing, metadata
   * only), the replaced partitions' subdirs are dropped, and the new
   * data dir's subdirs are added.
   *
   * `operation`/`changeData` let partition-scoped MERGEs commit through
   * the same dir composition (reference `use_paritition_column_in_merge`
   * file-skipping intent, write.py:190-213, :729-766): the merge result
   * carries exactly the touched partitions, so the commit is
   * prevDirs − touched + new.
   */
  def selectiveOverwrite(df: DataFrame, partitionBy: Seq[String],
                         userMetadata: Option[String] = None,
                         operation: String = "SELECTIVE_OVERWRITE",
                         changeData: Option[DataFrame] = None,
                         expectedPrevVersion: Option[Long] = None,
                         txnUpdate: Option[(String, Long)] = None): Commit = synchronized {
    require(partitionBy.nonEmpty, "selectiveOverwrite requires partition columns")
    val prev = lastCommit
    // see write(): a partition-scoped merge result computed against an
    // older head must not replace a partition a concurrent commit wrote
    fence(expectedPrevVersion, prev, "a merge").foreach(e => throw e)
    val base = prev.getOrElse(Commit.Genesis)
    val tsMs = System.currentTimeMillis()
    val layout = base.next(operation, tsMs, Map.empty).copy(partitionBy = partitionBy)
    // every new subdir carries the incoming batch's whole-frame stats —
    // a conservative superset of the subdir's true interval
    val (dataDir, numRows, Seq((_, newStats))) = writeDataDir(df, layout)

    def partitionSubdirs(base: Path): Seq[String] =
      partitionSubdirsOf(base, partitionBy.size)
    // partition-layout sanity: every relative path must be col=value
    // segments for exactly the declared partition columns, in order —
    // otherwise the replace silently matches nothing and appends a second
    // layout into the snapshot
    def checkLayout(rel: String, origin: String): Unit = {
      val segs = rel.split("/")
      require(segs.length == partitionBy.length &&
        segs.zip(partitionBy).forall { case (s, c) => s.startsWith(s"$c=") },
        s"selectiveOverwrite(partitionBy=${partitionBy.mkString(",")}) does not " +
          s"match the $origin partition layout '$rel'")
    }
    publish(base, Seq(dataDir), changeData) { (b, _) =>
      val replaced = partitionSubdirs(new Path(dataDir)).toSet
      replaced.foreach(checkLayout(_, "incoming batch"))
      val newDirs = replaced.toSeq.sorted.map(r => s"$dataDir/$r")
      // previous composition, decomposed to partition granularity, minus
      // the replaced partitions; dirs may be whole data dirs (decompose) or
      // partition subdirs from an earlier selective overwrite (compare the
      // relative partition path directly). Kept dirs inherit their origin
      // dir's skipping stats — a whole root's interval is a superset of any
      // of its partition subdirs', so inheritance stays conservative.
      val keptPairs = b.dirs.flatMap { d =>
        val root = ManagedTable.dataDirRoot(d)
        if (root == d) {
          val subs = partitionSubdirs(new Path(d))
          if (subs.isEmpty)
            throw new IllegalStateException(
              s"selectiveOverwrite needs a table partitioned by ${partitionBy.mkString(",")}; " +
                s"dir $d has no matching partition layout")
          subs.foreach(checkLayout(_, "existing table"))
          subs.filterNot(replaced.contains).map(r => s"$d/$r" -> b.dirStats.get(d))
        } else {
          val rel = d.stripPrefix(root).stripPrefix("/")
          checkLayout(rel, "existing table")
          if (replaced.contains(rel)) Nil else Seq(d -> b.dirStats.get(d))
        }
      }
      b.next(operation, tsMs, Map("numOutputRows" -> numRows.toString,
          "replacedPartitions" -> replaced.size.toString))
        .copy(dirs = keptPairs.map(_._1) ++ newDirs,
          dirStats = keptPairs.collect { case (d, Some(st)) => d -> st }.toMap ++
            newDirs.map(_ -> newStats),
          userMetadata = userMetadata, schemaDdl = df.schema.toDDL,
          partitionBy = partitionBy, txn = b.txn ++ txnUpdate)
    }
  }

  /** Parsed violation-count aggregates for the table's persistent
    * constraints, aliased `cons:<name>` — appended to each write job's
    * existing Observation so enforcement costs ZERO extra scans. */
  private def constraintAggs(
      cons: Map[String, String]): Seq[org.apache.spark.sql.Column] =
    cons.toSeq.sortBy(_._1).map { case (name, dsl) =>
      graft.operators.Expectations.parseRules(dsl) match {
        case Seq(r) =>
          graft.operators.Expectations.violationsOf(r)
            .cast("long").as(s"cons:$name")
        case rs => throw new IllegalStateException(
          s"constraint $name of $root holds ${rs.size} rules — corrupt log")
      }
    }

  /**
   * ANALYZE — recompute the commit log's per-dir skipping stats from
   * the data, in ONE Spark job for the whole snapshot: every dir's
   * files scan once, rows map to their composition entry by the
   * longest matching table-relative prefix (entries may be whole data
   * roots or partition subdirs), and one grouped aggregation produces
   * each entry's min/max/null-count row. The refreshed stats land in a
   * metadata-only commit.
   *
   * When to run: legacy commits written before a stats field existed
   * (round-11 null counts), dirs fabricated outside the write path, or
   * after widening made string-rendered stats stale. Fresh writes
   * never need it — their stats ride the write job's Observation.
   */
  def recomputeStats(): Commit = synchronized {
    import org.apache.spark.sql.functions.{col, udf}
    val c = lastCommit.getOrElse(
      throw new IllegalStateException(s"managed table $root does not exist"))
    val schema = StructType.fromDDL(c.schemaDdl)
    if (c.dirs.isEmpty)
      return commitNext(c, "ANALYZE", Map("numAnalyzedDirs" -> "0"))(
        _.copy(dirStats = Map.empty))
    // composition entries by their table-relative key (path after data/)
    val byKey: Map[String, String] = c.dirs.map { d =>
      val root = ManagedTable.dataDirRoot(d)
      val rootName = new Path(root).getName
      val rel = if (d == root) rootName
        else rootName + "/" + d.stripPrefix(root).stripPrefix("/")
      rel -> d
    }.toMap
    val keys = byKey.keys.toSeq.sortBy(-_.length)
    val entryOf = udf { fileKey: String =>
      keys.find(k => fileKey.startsWith(k + "/"))
        .getOrElse(throw new IllegalStateException(
          s"analyze: file $fileKey matches no composition entry"))
    }
    val cols = logicalCols(schema, c.columnMap)
    // deliberately NO deletion-vector anti-join: stats over raw files
    // are a superset of the live rows' — conservative for pruning —
    // and skipping it keeps analyze a single pure scan
    val withEntry = dirFrames(c.dirs, physicalSchema(schema, c.columnMap),
        c.partitionBy.nonEmpty).map { f =>
      f.select(cols :+ dvKeyOf(col("_metadata.file_path")).as("__graft_key__"): _*)
    }.reduce(_.unionByName(_))
      .withColumn("__graft_entry__", entryOf(col("__graft_key__")))
    val aggs = DataSkipping.statAggs(schema)
    val dirStats = withEntry.groupBy(col("__graft_entry__"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        val vals = r.getValuesMap[Any](r.schema.fieldNames)
        byKey(r.getString(r.fieldIndex("__graft_entry__"))) ->
          DataSkipping.statsOf(schema, vals)
      }.toMap
    // dirs with zero surviving rows keep no stats row from the groupBy —
    // carry their previous stats (conservative) rather than dropping them
    val merged = c.dirs.map(d =>
      d -> dirStats.getOrElse(d, c.dirStats.getOrElse(d, Map.empty)))
      .filter(_._2.nonEmpty).toMap
    commitNext(c, "ANALYZE", Map("numAnalyzedDirs" -> dirStats.size.toString))(
      _.copy(dirStats = merged))
  }

  /**
   * ADD a persistent CHECK-style CONSTRAINT — Delta's
   * `ALTER TABLE ADD CONSTRAINT` analogue. `rule` is ONE
   * [[graft.operators.Expectations]] DSL entry (`not_null:col`,
   * `range:col:lo:hi`, `regex:col:pattern`, `one_of:col:v1|v2`,
   * `check:label:<sql predicate>`); it is validated against the
   * EXISTING data first (one aggregate scan, as Delta does), recorded
   * in the commit log, and from then on every data-adding write path
   * (append, replace, merge, update rewrite, selective overwrite)
   * enforces it by folding the violation count into the write job's
   * existing Observation — a violating batch rolls back before its
   * commit publishes. `unique:` rules refuse (distinct aggregates
   * cannot ride an Observation, and row-level CHECK semantics — the
   * Delta model — are per-row anyway; uniqueness belongs to merge
   * keys or the expectations task gate).
   */
  def addConstraint(name: String, rule: String): Commit = synchronized {
    import graft.operators.Expectations
    val c = lastCommit.getOrElse(
      throw new IllegalStateException(s"managed table $root does not exist"))
    require(name.nonEmpty && !name.contains(":"),
      s"constraint name must be non-empty without ':', got '$name'")
    require(!c.constraints.contains(name),
      s"constraint $name already exists on $root")
    val parsed = Expectations.parseRules(rule)
    require(parsed.size == 1,
      s"one rule per constraint — '$rule' parsed to ${parsed.size}")
    require(!parsed.head.isInstanceOf[Expectations.Unique],
      "unique: rules are not supported as persistent constraints " +
        "(enforce uniqueness via merge keys or the expectations task gate)")
    val bad = Expectations.check(read, parsed)
      .filter(org.apache.spark.sql.functions.col("passed") === 0).count()
    require(bad == 0L,
      s"existing rows of $root violate '$name' ($rule) — constraint not added")
    commitNext(c, s"ADD CONSTRAINT($name)", Map("constraint" -> rule))(
      _.copy(constraints = c.constraints + (name -> rule)))
  }

  /**
   * SET TBLPROPERTIES — metadata-only commit merging `props` into the
   * table's property map. Recognized keys steer the write paths:
   *
   *   - `bloom.columns` (csv of LOGICAL column names): every subsequent
   *     data write emits parquet-native bloom filters for these columns
   *     (`parquet.bloom.filter.enabled#<col>`), so equality/IN probes
   *     skip row groups whose filter excludes the value — the
   *     high-cardinality needle path dir-level min/max cannot serve
   *     (random keys make every dir's interval span the domain). The
   *     filters live IN the data files and are consulted by executors
   *     at scan time: zero driver state, which is the only bloom design
   *     that survives 100 TB (a driver-side bloom per dir per column
   *     would be GBs of log).
   *   - `bloom.ndv` / `bloom.ndv.<col>`: expected distinct count hint
   *     sizing the filter (parquet default 1M ≈ 1.2 MB/row-group/col;
   *     set it to the real per-row-group cardinality to shrink that).
   *
   * Unknown keys are stored verbatim (free-form, like Delta). Columns
   * named in `bloom.columns` must exist in the current schema.
   */
  def setProperties(props: Map[String, String]): Commit = synchronized {
    val c = lastCommit.getOrElse(
      throw new IllegalStateException(s"managed table $root does not exist"))
    require(props.nonEmpty, "setProperties needs at least one property")
    val merged = c.properties ++ props
    merged.get(ManagedTable.BloomColumnsProp).foreach { csv =>
      val schema = StructType.fromDDL(c.schemaDdl)
      val missing = csv.split(",").map(_.trim).filter(_.nonEmpty)
        .filterNot(n => schema.fieldNames.contains(n))
      require(missing.isEmpty,
        s"bloom.columns names absent from the schema: ${missing.mkString(", ")}")
    }
    commitNext(c, "SET TBLPROPERTIES", props.map { case (k, v) => s"property:$k" -> v })(
      _.copy(properties = merged))
  }

  /** UNSET TBLPROPERTIES — metadata-only commit dropping `keys`. */
  def unsetProperties(keys: Seq[String]): Commit = synchronized {
    val c = lastCommit.getOrElse(
      throw new IllegalStateException(s"managed table $root does not exist"))
    commitNext(c, "UNSET TBLPROPERTIES", Map("unsetProperties" -> keys.mkString(",")))(
      _.copy(properties = c.properties -- keys))
  }

  /** DROP a persistent constraint — metadata only. */
  def dropConstraint(name: String): Commit = synchronized {
    val c = lastCommit.getOrElse(
      throw new IllegalStateException(s"managed table $root does not exist"))
    require(c.constraints.contains(name), s"no constraint $name on $root")
    commitNext(c, s"DROP CONSTRAINT($name)", Map("droppedConstraint" -> name))(
      _.copy(constraints = c.constraints - name))
  }

  /**
   * RENAME COLUMN as METADATA ONLY — Delta's column-mapping rename:
   * the commit adopts the new logical name in `schemaDdl` while the
   * column mapping records that the parquet files keep carrying the
   * old PHYSICAL name. Zero files touched at any table size; reads
   * alias physical → logical at scan time, appends keep writing the
   * established physical name, skipping stats re-key to the new
   * logical name (they are commit metadata, also zero-cost). Partition
   * columns refuse — their name IS the directory layout. Entries with
   * a live mapping stamp reader protocol 3 (an older reader would
   * read the renamed column as NULL); change feeds refuse to SPAN the
   * rename commit (read ranges on either side); a full rewrite
   * (replace / clusterBy) materializes the logical names and clears
   * the mapping.
   */
  def renameColumn(oldName: String, newName: String): Commit = synchronized {
    val c = lastCommit.getOrElse(
      throw new IllegalStateException(s"managed table $root does not exist"))
    val schema = StructType.fromDDL(c.schemaDdl)
    require(schema.fieldNames.contains(oldName),
      s"no column $oldName in $root (have ${schema.fieldNames.mkString(", ")})")
    require(!schema.fieldNames.contains(newName),
      s"column $newName already exists in $root")
    require(oldName != newName, "rename to the same name is a no-op")
    require(!c.partitionBy.contains(oldName),
      s"cannot rename partition column $oldName — its name is the " +
        "directory layout; repartition via a full rewrite instead")
    val refing = c.constraints.filter { case (_, dsl) =>
      ("\\b" + java.util.regex.Pattern.quote(oldName) + "\\b").r
        .findFirstIn(dsl).isDefined
    }
    require(refing.isEmpty,
      s"constraints ${refing.keys.mkString(", ")} reference column $oldName " +
        "— drop them first and re-add under the new name")
    val phys = c.physicalOf(oldName)
    val newSchema = StructType(schema.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    val newMap = (c.columnMap - oldName) ++
      (if (phys == newName) Map.empty[String, String] else Map(newName -> phys))
    val newStats = c.dirStats.view.mapValues(m =>
      m.map { case (k, v) => (if (k == oldName) newName else k) -> v }).toMap
    commitNext(c, s"RENAME COLUMN($oldName -> $newName)",
      Map("renamedFrom" -> oldName, "renamedTo" -> newName))(
      _.copy(schemaDdl = newSchema.toDDL, dirStats = newStats, columnMap = newMap))
  }

  /**
   * ADD COLUMN — metadata only, zero file rewrites (Delta's schema
   * evolution): the commit schema gains a NULLABLE column at the end;
   * existing dirs simply have no such parquet column, and the
   * schema-first read serves NULL for them. Resurrection guard: a name
   * that is still a PHYSICAL column of live files (a dropped column's
   * tombstone mapping, or a renamed column's original) refuses — the
   * parquet reader matches by name, so re-adding it would silently
   * serve the OLD bytes as the new column's values.
   */
  def addColumn(name: String, dataType: org.apache.spark.sql.types.DataType): Commit =
    synchronized {
      val c = lastCommit.getOrElse(
        throw new IllegalStateException(s"managed table $root does not exist"))
      val schema = StructType.fromDDL(c.schemaDdl)
      require(!schema.fieldNames.contains(name),
        s"column $name already exists in $root")
      require(!c.columnMap.values.toSet.contains(name),
        s"column name $name is still a physical column of live files " +
          "(previously dropped or renamed away) — re-adding it would " +
          "resurrect the old stored values; pick another name or rewrite")
      val newSchema = StructType(schema.fields :+
        org.apache.spark.sql.types.StructField(name, dataType, nullable = true))
      commitNext(c, s"ADD COLUMN($name)",
        Map("addedColumn" -> name, "addedType" -> dataType.sql))(
        _.copy(schemaDdl = newSchema.toDDL))
    }

  /**
   * DROP COLUMN as METADATA ONLY: the logical schema loses the field;
   * the physical bytes stay in the files (reads simply never request
   * them — column pruning makes them free) until the next full
   * rewrite. The dropped column's PHYSICAL name is retained in the
   * mapping under a reserved tombstone key so a later `mergeSchema`
   * append re-adding the same logical name gets a FRESH physical name
   * instead of silently resurrecting the dropped column's old bytes.
   */
  def dropColumn(name: String): Commit = synchronized {
    val c = lastCommit.getOrElse(
      throw new IllegalStateException(s"managed table $root does not exist"))
    val schema = StructType.fromDDL(c.schemaDdl)
    require(schema.fieldNames.contains(name), s"no column $name in $root")
    require(schema.fields.length > 1, s"cannot drop the last column of $root")
    require(!c.partitionBy.contains(name),
      s"cannot drop partition column $name — its name is the directory layout")
    val refing = c.constraints.filter { case (_, dsl) =>
      ("\\b" + java.util.regex.Pattern.quote(name) + "\\b").r
        .findFirstIn(dsl).isDefined
    }
    require(refing.isEmpty,
      s"constraints ${refing.keys.mkString(", ")} reference column $name " +
        "— drop them first")
    val newSchema = StructType(schema.fields.filterNot(_.name == name))
    val tombstone =
      s"__graft_dropped_${UUID.randomUUID().toString.take(8)}" -> c.physicalOf(name)
    val newMap = (c.columnMap - name) + tombstone
    val newStats = c.dirStats.view.mapValues(_ - name).toMap
    commitNext(c, s"DROP COLUMN($name)", Map("droppedColumn" -> name))(
      _.copy(schemaDdl = newSchema.toDDL, dirStats = newStats, columnMap = newMap))
  }

  /**
   * Export a SNAPSHOT MANIFEST — Delta's `symlink_format_manifest`
   * analogue: plain text file(s) listing the fully-qualified data-file
   * URIs composing the current (or `asOfVersion`) snapshot, so
   * external engines with no commit-log reader (DuckDB, Trino, Presto,
   * Hive) can scan a CONSISTENT version of the table by reading
   * exactly those files. Unpartitioned snapshots write one
   * `manifest` file; partitioned snapshots write one
   * `<partition-path>/manifest` per partition (the Hive-compatible
   * layout, letting external engines keep partition pruning).
   *
   * Refuses while deletion vectors are live — an external reader
   * cannot apply tombstones, so exporting would resurrect deleted
   * rows; run [[purgeDeletes]] first. File listing is driver FS
   * metadata with the same bounded-concurrency pool as the commit-log
   * reader — one recursive listing per dir, no data read.
   */
  def exportManifest(outDir: String,
                     asOfVersion: Option[Long] = None): ManagedTable.ManifestStats = {
    val latest = latestVersion.getOrElse(
      throw new IllegalStateException(s"managed table $root does not exist"))
    val c = commitAt(asOfVersion.getOrElse(latest))
    require(c.dvDirs.isEmpty,
      s"version ${c.version} of $root has live deletion vectors — external " +
        "manifest readers cannot apply tombstones; purgeDeletes() first")
    require(c.columnMap.isEmpty,
      s"version ${c.version} of $root has a live column mapping — external " +
        "manifest readers would see the PHYSICAL column names; rewrite " +
        "(replace/clusterBy) to materialize the logical names first")
    // (file URI, partition rel path or "") per data file, listed with
    // bounded driver concurrency (30k dirs = 30k × RTT if sequential)
    val nParts = c.partitionBy.size
    val listed: Seq[(String, String)] = graft.DriverPool.map(spark, c.dirs.map { d => () =>
      val dp = new Path(d)
      val dfs = dp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val qd = dfs.makeQualified(dp)
      val out = Seq.newBuilder[(String, String)]
      val it = dfs.listFiles(qd, true)
      while (it.hasNext) {
        val st = it.next()
        val name = st.getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) {
          // partition rel path = the col=val segments between the
          // data-dir ROOT and the file (robust to subdir-scoped
          // compositions: segments counted from the root, not `d`)
          val rel =
            if (nParts == 0) ""
            else {
              var segs = List.empty[String]
              var p = st.getPath.getParent
              val rootName = new Path(ManagedTable.dataDirRoot(d)).getName
              while (p != null && p.getName != rootName) {
                segs = p.getName :: segs; p = p.getParent
              }
              segs.mkString("/")
            }
          out += (st.getPath.toUri.toString -> rel)
        }
      }
      out.result()
    }).flatten
    val outPath = new Path(outDir)
    val ofs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (ofs.exists(outPath)) ofs.delete(outPath, true)
    val groups = listed.groupBy(_._2)
    groups.foreach { case (rel, files) =>
      val mf = if (rel.isEmpty) new Path(outPath, "manifest")
        else new Path(new Path(outPath, rel), "manifest")
      ofs.mkdirs(mf.getParent)
      val out = ofs.create(mf, true)
      try out.write(files.map(_._1).sorted.mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
    ManagedTable.ManifestStats(c.version, listed.size, groups.size)
  }

  /**
   * Prune table history to the newest `keepLast` versions — the
   * Delta-VACUUM analogue a copy-on-write table needs at scale: every
   * replace/merge de-references its predecessor's dirs, and without
   * retention a 100 TB table holds every version's bytes forever.
   *
   * Deletes (a) the pruned commit-log entries, (b) data-dir roots
   * referenced ONLY by pruned commits — a root is retained whole if any
   * kept commit references it or any partition subdir of it (selective
   * overwrites keep untouched partitions by subdir reference, so
   * retention is conservative at root granularity), and (c) pruned
   * commits' change dirs. Time travel and change feeds older than the
   * new [[earliestVersion]] fail loudly afterwards, as in Delta.
   *
   * `dryRun` reports what WOULD be pruned (versions, data roots,
   * change dirs, DV dirs) without touching the filesystem — Delta's
   * `VACUUM ... DRY RUN`; see also [[vacuumOlderThan]] for age-based
   * retention.
   */
  def vacuum(keepLast: Int, dryRun: Boolean = false): ManagedTable.VacuumStats =
    synchronized {
      import ManagedTable.VacuumStats
      require(keepLast >= 1, "vacuum must keep at least one version")
      val versions = listVersions.sorted
      if (versions.size <= keepLast) return VacuumStats(0, 0, 0)
      vacuumCore(versions, versions(versions.size - keepLast), dryRun)
    }

  // ------------------------- retention holds -------------------------
  // A standing consumer (a CDF-maintained view) pins the versions it
  // still needs: its watermark version (the join view reads it as a
  // snapshot) and the change feed above it. Holds live as one tiny JSON
  // file per holder under _graft_holds — no commit contention with
  // writers, last-write-wins per holder, and every vacuum CLAMPS its
  // cut to the minimum held version, so routine retention can never
  // strand a view into an O(corpus) re-initialize. A dropped view's
  // stale hold is released explicitly (CALL graft.release_hold).

  private val holdsPath = new Path(rootPath, "_graft_holds")

  private def holdFile(holder: String): Path = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(holder.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    new Path(holdsPath, s"$h.json")
  }

  /** Pin versions >= `version` against vacuum, keyed by `holder` (the
    * consumer's identity — a view uses its state path). Re-setting a
    * holder's hold replaces it, so a view's refresh slides its pin
    * forward and releases history as it folds. */
  def setRetentionHold(holder: String, version: Long): Unit = {
    val esc = holder.replace("\\", "\\\\").replace("\"", "\\\"")
    val out = fs.create(holdFile(holder), true)
    try out.write(
      s"""{"holder": "$esc", "version": $version}""".getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Drop `holder`'s pin (a decommissioned view). No-op when absent. */
  def releaseRetentionHold(holder: String): Unit = {
    fs.delete(holdFile(holder), false); ()
  }

  private val HoldRe =
    """\{"holder": "((?:[^"\\]|\\.)*)", "version": (\d+)\}""".r

  /** Current holds, holder -> pinned version. FAIL-CLOSED on a present
    * but unparsable hold file (corrupt/truncated write): silently
    * dropping it would let vacuum proceed unclamped and prune past the
    * watermark of exactly the view the hold was protecting — the safety
    * mechanism must refuse loudly, not degrade silently. */
  def retentionHolds: Map[String, Long] = {
    if (!fs.exists(holdsPath)) return Map.empty
    fs.listStatus(holdsPath).toSeq.filter(_.isFile).map { st =>
      val in = fs.open(st.getPath)
      val s = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
      finally in.close()
      HoldRe.findFirstMatchIn(s).map(g =>
        g.group(1).replace("\\\"", "\"").replace("\\\\", "\\") ->
          g.group(2).toLong)
        .getOrElse(throw new IllegalStateException(
          s"retention hold file ${st.getPath} of $root is unparsable — " +
            "refusing to treat it as absent (vacuum would prune past the " +
            "version it protects). Re-set the hold (setRetentionHold) or " +
            "delete the file if its holder is decommissioned."))
    }.toMap
  }

  /** Age-based retention — Delta's `VACUUM ... RETAIN` semantics: prune
    * every version whose commit timestamp is strictly before `tsMs`
    * (the head always survives, whatever its age). Same chain-base
    * conservatism, dry-run, and own-root guard as [[vacuum]]. */
  def vacuumOlderThan(tsMs: Long,
                      dryRun: Boolean = false): ManagedTable.VacuumStats =
    synchronized {
      val versions = listVersions.sorted
      require(versions.nonEmpty, s"managed table $root does not exist")
      val commits = readCommits(versions)
      val firstKeep = commits.filter(_.timestampMs >= tsMs).map(_.version)
        .minOption.getOrElse(versions.last)
      vacuumCore(versions, firstKeep, dryRun)
    }

  /** Retained-version count of the commit log — the storage-lifecycle
    * twin of [[maintenanceDebt]]'s read-amplification pricing: resolved
    * from the advisory head/floor pointers (O(existence probes), zero
    * listings on a pointered table), so a fold loop can ask after every
    * commit what its history costs. */
  def retainedVersionCount: Int = listVersions.size

  /**
   * [[vacuum]] iff the retained-version count crosses
   * `keepLast + slackVersions` — retention as POLICY, the WHEN of
   * storage reclamation decided the same way [[maintainLayoutIfNeeded]]
   * decides the WHEN of compaction. A continuous fold loop commits
   * thousands of versions a day; without a policy either an operator
   * schedules VACUUM jobs per table or history (every superseded
   * version's full bytes on a copy-on-write table) grows forever.
   *
   * The slack is hysteresis, and it is the point: AT the threshold with
   * no slack, every commit would pay a full vacuum pass to prune ONE
   * version. With slack, the below-threshold ask is two pointer reads,
   * and each firing prunes ~`slackVersions` versions down to
   * `keepLast`, amortizing the pass's fixed cost (holds listing,
   * kept-chain resolution, per-dir deletes) across the slack's worth of
   * commits. Retention holds still clamp the cut inside [[vacuum]] — a
   * holds-clamped firing may prune nothing, which is transient for a
   * live view (its hold slides every fold) and surfaced via
   * `staleHolds` when the holder is forgotten. A firing can also prune
   * less than the slack when the kept chain's full-snapshot base
   * extends the cut back (≤ [[ManagedTable.LogSnapshotInterval]]−1
   * extra versions), so pick a slack comfortably above the interval —
   * the default 16 > 10 guarantees every firing reclaims something
   * unless a hold clamps it.
   */
  def vacuumIfNeeded(keepLast: Int, slackVersions: Int = 16,
                     dryRun: Boolean = false): Option[ManagedTable.VacuumStats] = {
    require(keepLast >= 1, "vacuumIfNeeded must keep at least one version")
    require(slackVersions >= 2,
      "slack below 2 versions degenerates to a full vacuum pass per commit")
    if (retainedVersionCount >= keepLast + slackVersions)
      Some(vacuum(keepLast, dryRun))
    else None
  }

  /** Age of the FLOOR (earliest retained) commit — the age policy's
    * quiet-path evidence; pointer reads plus one entry read. None when
    * the table does not exist. */
  def floorAgeMs(nowMs: Long = System.currentTimeMillis()): Option[Long] =
    earliestVersion.map(v => nowMs - readEntry(v)._1.timestampMs)

  /**
   * Age-based retention as POLICY — [[vacuumOlderThan]]'s WHEN, the
   * time-denominated twin of [[vacuumIfNeeded]] (Delta's operator
   * contract is "RETAIN n HOURS", not a version count). The quiet-path
   * ask is the floor pointer plus ONE log-entry read: the FLOOR
   * commit's own timestamp says whether anything even CAN be stale.
   * `slackMs` is the hysteresis — a firing prunes everything older
   * than `now − maxAgeMs`, which moves the floor to ~the cutoff, so
   * the next `slackMs` of wall clock asks quietly.
   *
   * A stale floor alone is not enough to fire: when every version is
   * old (a cold table) or the floor sits inside the kept chain's
   * snapshot block, [[vacuumOlderThan]] would pay its pass and prune
   * NOTHING, every ask, forever. So past the age gate the decision
   * resolves what the pass WOULD keep (timestamp scan of the retained
   * entries + the kept chain's base — O(retained) small entry reads,
   * only on stale-floor asks) and fires only when the cut lands above
   * the floor: a firing always reclaims, unless a retention hold
   * clamps it ([[vacuum]]'s rule, surfaced via `staleHolds`). Pair
   * with [[vacuumIfNeeded]] to keep the retained window — and with it
   * this path's worst-case ask — bounded.
   */
  def vacuumOlderThanIfNeeded(maxAgeMs: Long,
                              slackMs: Long = 6L * 3600 * 1000,
                              dryRun: Boolean = false,
                              nowMs: Long = System.currentTimeMillis())
      : Option[ManagedTable.VacuumStats] = {
    require(maxAgeMs > 0, "vacuumOlderThanIfNeeded needs a positive age")
    require(slackMs >= 0, "negative slack")
    val cutoff = nowMs - maxAgeMs
    earliestVersion.flatMap { floor =>
      if (readEntry(floor)._1.timestampMs >= cutoff - slackMs) None
      else {
        val versions = listVersions.sorted
        val entries = readEntries(versions).map(_._1)
        val firstKeep = entries.filter(_.timestampMs >= cutoff).map(_.version)
          .minOption.getOrElse(versions.last)
        if (chainBase(firstKeep) <= floor) None
        else Some(vacuumOlderThan(cutoff, dryRun))
      }
    }
  }

  /** The full-snapshot base of `version`'s delta chain: delta-encoded
    * entries chain to earlier versions, so vacuum keeps from here
    * (≤ LogSnapshotInterval−1 extra versions, conservative like Delta's
    * checkpoint retention). A link that does not point strictly back
    * is a corrupt log, refused rather than walked forever. */
  private def chainBase(version: Long): Long = {
    var base = version
    var link = readEntry(base)._2
    while (link.isDefined) {
      require(link.get.baseVersion < base,
        s"corrupt commit log for $root: version $base chains to ${link.get.baseVersion}")
      base = link.get.baseVersion
      link = readEntry(base)._2
    }
    base
  }

  /** Shared vacuum core: keep `firstKeep` and everything after it
    * (clamped DOWN to the minimum retention hold — a pinned consumer's
    * versions always survive — then extended back to the earliest kept
    * version's full-snapshot chain base), delete — or with `dryRun`
    * only COUNT — the rest. */
  private def vacuumCore(versions: Seq[Long], firstKeepRaw: Long,
                         dryRun: Boolean): ManagedTable.VacuumStats = {
    import ManagedTable.VacuumStats
    val holds = retentionHolds
    val firstKeep = holds.values.minOption
      .fold(firstKeepRaw)(h => math.min(firstKeepRaw, math.max(h, versions.head)))
    // surface forgotten pins: a live view slides its hold every fold, so
    // a pin trailing the REQUESTED cut by more than the warn threshold
    // is a decommissioned consumer pinning history forever
    val stale = holds.toSeq
      .filter { case (_, v) =>
        firstKeepRaw - v > ManagedTable.StaleHoldWarnVersions.toLong }
      .sortBy(_._1)
    // the earliest kept commit's whole delta chain must survive or
    // retained versions become unresolvable
    val base = chainBase(firstKeep)
    val (drop, keep) = versions.partition(_ < base)
    if (drop.isEmpty) return VacuumStats(0, 0, 0, 0, stale)
    val keepCommits = readCommits(keep)
    val dropCommits = readCommits(drop)

    val keptRoots = keepCommits.flatMap(_.dirs).map(ManagedTable.dataDirRoot).toSet
    val keptChange = keepCommits.flatMap(_.changeDir).toSet
    val keptDv = keepCommits.flatMap(_.dvDirs).toSet
    // Delta's rule: vacuum only ever deletes files under ITS OWN table
    // root. A shallow clone's early commits reference the SOURCE table's
    // dirs by path — deleting those would destroy the source's data from
    // the clone's vacuum. Foreign roots are simply dropped from the
    // delete set (the source's own vacuum governs their lifetime).
    // compare FULLY-QUALIFIED URIs (scheme + authority + path), not bare
    // paths: a mirrored layout on another filesystem (s3://staging/wh/t
    // cloned from s3://prod/wh/t) shares the path string, and a bare-path
    // match would treat the foreign root as our own — at best a Wrong-FS
    // crash on delete, at worst deleting the source's dirs
    val ownRoot = fs.makeQualified(rootPath).toUri.toString
      .stripSuffix("/") + "/"
    def underOwnRoot(d: String): Boolean = {
      val p = new Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(p).toUri.toString.startsWith(ownRoot)
    }
    val deadRoots = (dropCommits.flatMap(_.dirs).map(ManagedTable.dataDirRoot)
      .toSet -- keptRoots).filter(underOwnRoot)
    val deadChange = (dropCommits.flatMap(_.changeDir).toSet -- keptChange)
      .filter(underOwnRoot)
    // DV dirs referenced only by pruned commits (a purge/replace
    // de-referenced them) — same lifecycle as change dirs
    val deadDv = (dropCommits.flatMap(_.dvDirs).toSet -- keptDv)
      .filter(underOwnRoot)

    if (dryRun)
      return VacuumStats(drop.size, deadRoots.size, deadChange.size,
        deadDv.size, stale)
    // delete the log entries FIRST: a crash mid-vacuum then leaves orphan
    // data dirs (harmless; a later vacuum of any version sweeps nothing,
    // but no retained commit ever points at deleted data), never a live
    // commit referencing missing files. Entries delete in ASCENDING order
    // so the retained set stays contiguous even through a crash — the
    // invariant the advisory floor/head pointers rest on (a crash before
    // the floor update leaves the pointer stale-LOW, which the read-side
    // probe heals).
    drop.foreach(v => fs.delete(new Path(logPath, f"$v%012d.json"), false))
    writePtr(ManagedTable.FloorPtrFile, base)
    (deadRoots ++ deadChange ++ deadDv).foreach(d => fs.delete(new Path(d), true))
    VacuumStats(drop.size, deadRoots.size, deadChange.size, deadDv.size,
      stale)
  }

  /** Partition subdirs of a data dir as relative paths like "p=1/q=a"
    * (built from the trailing path segments — FS listings return
    * scheme-qualified paths, so string-prefix stripping is unreliable). */
  private def partitionSubdirsOf(base: Path, nCols: Int): Seq[String] = {
    def walk(p: Path, depth: Int): Seq[Path] =
      if (depth == nCols) Seq(p)
      else fs.listStatus(p).toSeq.filter(_.isDirectory)
        .filter(!_.getPath.getName.startsWith("_"))
        .flatMap(st => walk(st.getPath, depth + 1))
    walk(base, 0).map { p =>
      (0 until nCols).foldLeft((p, List.empty[String])) {
        case ((cur, acc), _) => (cur.getParent, cur.getName :: acc)
      }._2.mkString("/")
    }
  }

  /**
   * One-call ROUTINE layout maintenance, O(tombstones + append tail),
   * never a table rewrite: materialize accumulated deletion vectors
   * ([[purgeDeletes]] — only dirs holding tombstoned rows rewrite),
   * then fold the unclustered append tail onto the persisted bucket
   * grid when a [[clusterBy]]/[[clusterByHilbert]] pass established
   * one ([[clusterAppend]] — the clustered bulk carries by reference),
   * else bin-pack small dirs ([[compactDirs]]). The append-heavy
   * steady state every CDF-maintained index view produces is exactly
   * what this serves: each O(batch) refresh appends one dir spanning
   * the whole key range, and this pass keeps per-dir stats disjoint so
   * [[readWhere]] stays selective. Both commits are watermark-less
   * maintenance commits — transparent to view watermark walks and to
   * stream txn high-waters (both carry `txn` forward). Returns the
   * commits that actually landed (possibly none).
   */
  def maintainLayout(maxDirBytes: Long = 64L << 20): Seq[Commit] = {
    val purged = purgeDeletes()
    val hasGrid = lastCommit.exists(c =>
      c.properties.contains(ManagedTable.ClusterByColProp) ||
        c.properties.contains(ManagedTable.HilbertColsProp))
    val folded = if (hasGrid) clusterAppend() else compactDirs(maxDirBytes)
    purged.toSeq ++ folded.toSeq
  }

  /**
   * Layout debt of the CURRENT snapshot, priced from the head commit
   * alone — zero data scans, and zero FS calls on any table whose dirs
   * all carry write-time sizes (`Commit.dirBytes`; only dirs of legacy
   * pre-bytes commits fall back to one FS metadata walk each).
   * `smallDirs` counts data dirs under `maxDirBytes` — each is a
   * listing + parquet footer + task at EVERY read until folded;
   * `dvDirs` counts deletion-vector dirs — each is an anti-join input
   * at every read until purged. This is what makes CONTINUOUS
   * maintenance affordable: the decision to (not) rewrite costs one
   * log-entry read, so a pipeline can ask after every fold.
   *
   * Only FOLDABLE debt counts: on a table with a persisted cluster
   * grid, [[maintainLayout]] folds the unclustered append TAIL
   * ([[clusterAppend]]) and carries the bucket dirs by reference, so
   * small BUCKET dirs (inevitable at low fill, irreducible below the
   * bucket count) are excluded — otherwise a clustered mart's policy
   * would trigger on every fold forever and land nothing.
   */
  def maintenanceDebt(maxDirBytes: Long = 64L << 20): ManagedTable.MaintenanceDebt = {
    val c = lastCommit.getOrElse(throw new IllegalStateException(
      s"managed table $root does not exist"))
    val hasGrid = c.properties.contains(ManagedTable.ClusterByColProp) ||
      c.properties.contains(ManagedTable.HilbertColsProp)
    val foldable =
      if (hasGrid) c.dirs.filterNot(_.contains(s"/$CLUSTER_COL=")) else c.dirs
    val small = foldable.count(d =>
      c.dirBytes.getOrElse(d, measureDirBytes(d)) < maxDirBytes)
    ManagedTable.MaintenanceDebt(small, c.dvDirs.size)
  }

  /**
   * [[maintainLayout]] iff the head commit's [[maintenanceDebt]]
   * crosses a threshold — the WHEN of layout maintenance as policy, so
   * a fold loop (thousands of O(batch) DV+APPEND refreshes a day at
   * 100 TB) keeps its read amplification bounded without a scheduled
   * rewrite job or an operator watching dir counts. A below-threshold
   * call is one log-entry read and lands nothing; past a threshold the
   * pass pays exactly [[maintainLayout]]'s O(tombstones + small dirs).
   * Thresholds are denominated in read-side overhead units (dirs), not
   * bytes or rows, because dirs are what every snapshot read pays for.
   */
  def maintainLayoutIfNeeded(maxDirBytes: Long = 64L << 20,
                             minSmallDirs: Int = 16,
                             minDvDirs: Int = 8): Seq[Commit] = {
    require(minSmallDirs >= 2 && minDvDirs >= 1,
      "maintainLayoutIfNeeded thresholds below (2 small dirs, 1 dv dir) " +
        "would fire on states maintenance cannot improve")
    val d = maintenanceDebt(maxDirBytes)
    if (d.smallDirs >= minSmallDirs || d.dvDirs >= minDvDirs) {
      val c = lastCommit.get
      if (c.partitionBy.nonEmpty)
        // partitioned analogue of maintainLayout (whose compactDirs is
        // unpartitioned-only): materialize the tombstones, then fold
        // fragmented partitions partition-scoped — [[compact]] pays one
        // FS-metadata pass, but only AFTER the head-commit debt said a
        // rewrite is due, so the every-load decision stays zero-IO
        purgeDeletes().toSeq ++ compact(c.partitionBy).toSeq
      else maintainLayout(maxDirBytes)
    } else Nil
  }

  /**
   * Compact fragmented partitions — the OPTIMIZE analogue. Repeated
   * appends/merges leave a partition's rows spread over many small files
   * across many commit dirs; small files are the classic parquet-scan
   * killer at scale (one task per file, footer overhead per file).
   *
   * Partition-scoped by construction: an FS-metadata pass counts data
   * files per relative partition path across the whole current
   * composition, partitions with at least `minFiles` files are read back
   * (only those — O(fragmented partitions) IO, not a table rewrite),
   * clustered one-file-per-partition via `repartition(partition cols)`,
   * and committed through [[selectiveOverwrite]] so untouched partitions
   * carry over by reference. Returns None when nothing is fragmented.
   */
  def compact(partitionBy: Seq[String], minFiles: Int = 2,
              sortWithin: Seq[String] = Nil): Option[Commit] = {
    require(partitionBy.nonEmpty, "compact requires partition columns")
    require(minFiles >= 2, "compacting below 2 files per partition is a no-op")
    val c = lastCommit.getOrElse(
      throw new IllegalStateException(s"managed table $root does not exist"))

    // (relative partition path) -> source subdir paths across the snapshot
    val byPartition = c.dirs.flatMap { d =>
      val base = ManagedTable.dataDirRoot(d)
      if (base == d) partitionSubdirsOf(new Path(d), partitionBy.size)
        .map(rel => rel -> s"$d/$rel")
      else Seq(d.stripPrefix(base).stripPrefix("/") -> d)
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap

    def dataFileCount(dirs: Seq[String]): Int = dirs.map { d =>
      fs.listStatus(new Path(d)).count(st =>
        st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
    }.sum

    val fragmented = byPartition.filter { case (_, dirs) =>
      dataFileCount(dirs) >= minFiles
    }
    if (fragmented.isEmpty) return None

    val schema = StructType.fromDDL(c.schemaDdl)
    // DV-aware: compaction MATERIALIZES the tombstoned deletes for the
    // partitions it rewrites (their old files leave the composition)
    val frag0 = readDirs(fragmented.values.flatten.toSeq, schema,
        partitioned = false, c.dvDirs, c.columnMap)
      .repartition(partitionBy.map(org.apache.spark.sql.functions.col): _*)
    // optional intra-file clustering: sorted rows give parquet tight
    // per-row-group min/max on the sort columns, so pushed filters skip
    // row groups INSIDE the compacted files (complements dir-level
    // skipping at zero extra shuffle — sort is partition-local)
    val frag = if (sortWithin.isEmpty) frag0
      else frag0.sortWithinPartitions(
        sortWithin.map(org.apache.spark.sql.functions.col): _*)
    Some(selectiveOverwrite(frag, partitionBy,
      operation = s"OPTIMIZE(${fragmented.size} partitions)"))
  }

  /**
   * Merge small data dirs of an UNPARTITIONED snapshot into one —
   * the compaction a merge-heavy table needs: every file-scoped merge
   * adds one (often small) dir, and a snapshot of hundreds of tiny dirs
   * pays listing + footer + task overhead per dir on every scan. Dirs
   * whose total data bytes are under `maxDirBytes` (FS metadata only)
   * are read back and rewritten folded; every larger dir is carried
   * by reference, byte-identical, keeping its (tighter) skipping stats
   * — so compaction cost is O(small dirs), never a table rewrite, and
   * clustering of the big dirs survives. Returns None when fewer than
   * two dirs qualify. Re-clustering (`clusterBy`) remains the heavier
   * periodic operation that also re-tightens stats.
   *
   * The fold is RANGE-AWARE: small dirs are ordered by their min stat on
   * the most range-disjoint column (recovered from the per-dir stats
   * already in the commit — on a clustered merge-heavy table that is the
   * cluster/merge-key column, including for plain merge-result dirs that
   * carry no bucket path) and packed into byte-bounded groups, one
   * output dir per group with its own stats. Repeated auto-compactions
   * therefore keep per-dir min/max TIGHT and file-scope probes
   * selective, instead of gradually folding the whole key space into
   * one wide-range dir; groups close at `maxDirBytes`, so folded dirs
   * are themselves carried (not re-folded) by the next compaction.
   */
  def compactDirs(maxDirBytes: Long = 64L << 20): Option[Commit] = synchronized {
    val c = lastCommit.getOrElse(
      throw new IllegalStateException(s"managed table $root does not exist"))
    require(c.partitionBy.isEmpty,
      "compactDirs supports unpartitioned tables; partitioned tables use compact()")
    // dir sizes come from the commit log (recorded at write time);
    // only dirs from legacy pre-bytes commits pay an FS listing
    val sizes = c.dirs.map(d =>
      d -> c.dirBytes.getOrElse(d, measureDirBytes(d))).toMap
    val (small, big) = c.dirs.partition(d => sizes(d) < maxDirBytes)
    if (small.size < 2) return None
    val schema = StructType.fromDDL(c.schemaDdl)
    val groups = compactionGroups(c, small, maxDirBytes, sizes)
    val merged =
      if (groups.size <= 1)
        readDirs(small, schema, partitioned = false, c.dvDirs, c.columnMap)
      else groups.zipWithIndex.map { case (ds, g) =>
        readDirs(ds, schema, partitioned = false, c.dvDirs, c.columnMap)
          .withColumn(CLUSTER_COL, org.apache.spark.sql.functions.lit(g))
      }.reduce(_.unionByName(_))
    Some(writeCarried(merged, big,
      s"COMPACT(${small.size} dirs)",
      extraMetrics = Map("numCompactedDirs" -> small.size.toString,
        "numCompactionGroups" -> groups.size.toString,
        "numCarriedDirs" -> big.size.toString),
      expectedPrevVersion = Some(c.version),
      // a compaction is commutative with any racer that PRESERVES the
      // folded dirs (appends, merges/compactions of other dirs): carry
      // everything in the new head except what this compaction folded.
      // A racer that rewrote/removed a folded dir made the compacted
      // bytes stale — give up and surface (maintenance just re-runs).
      rebase = Some(head =>
        if (small.forall(head.dirs.contains)) Some(head.dirs.diff(small)) else None),
      groupedLayout = groups.size > 1))
  }

  /** Fold plan for [[compactDirs]]: order the small dirs by min stat on
    * the column whose per-dir ranges are most DISJOINT (min-sorted
    * adjacent pairs that don't overlap — this recovers the cluster /
    * merge-key column from commit stats alone, no recorded cluster spec
    * needed), then pack adjacent dirs greedily, closing a group once it
    * reaches `maxDirBytes`. With no usable stats (or no disjointness at
    * all) the order is the commit's and only the byte bound applies —
    * never worse than the previous fold-everything-into-one behavior. */
  private def compactionGroups(c: Commit, small: Seq[String],
                               maxDirBytes: Long,
                               sizes: Map[String, Long]): Seq[Seq[String]] = {
    val schema = StructType.fromDDL(c.schemaDdl)
    type Key = Either[BigDecimal, String]
    def key(f: org.apache.spark.sql.types.StructField, v: String): Option[Key] =
      f.dataType match {
        // timestamps are stored as unix_micros strings → numeric; ISO
        // dates, strings and booleans order lexically as rendered
        case _: org.apache.spark.sql.types.NumericType |
             org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType =>
          try Some(Left(BigDecimal(v))) catch { case _: NumberFormatException => None }
        case _ => Some(Right(v))
      }
    def lt(a: Key, b: Key): Boolean = (a, b) match {
      case (Left(x), Left(y)) => x < y
      case (Right(x), Right(y)) => x < y
      case _ => false
    }
    // candidate order columns: full min/max stats on every small dir
    val candidates = schema.fields.toSeq
      .filter(f => DataSkipping.eligible(f.dataType))
      .flatMap { f =>
        val ranges = small.flatMap { d =>
          for {
            cm <- c.dirStats.get(d).flatMap(_.get(f.name))
            mn <- cm.min.flatMap(key(f, _))
            mx <- cm.max.flatMap(key(f, _))
          } yield d -> (mn, mx)
        }.toMap
        if (ranges.size == small.size) Some(ranges) else None
      }
    def sortedBy(r: Map[String, (Key, Key)]): Seq[String] =
      small.sortWith((a, b) => lt(r(a)._1, r(b)._1))
    def disjointScore(r: Map[String, (Key, Key)]): Int =
      sortedBy(r).sliding(2).count {
        case Seq(a, b) => lt(r(a)._2, r(b)._1)
        case _ => false
      }
    val ordered = candidates.map(r => r -> disjointScore(r))
      .filter(_._2 > 0)
      .sortBy(-_._2).headOption
      .map { case (r, _) => sortedBy(r) }
      .getOrElse(small)
    val groups = Seq.newBuilder[Seq[String]]
    var cur = Vector.empty[String]
    var curBytes = 0L
    ordered.foreach { d =>
      cur :+= d; curBytes += sizes(d)
      if (curBytes >= maxDirBytes) {
        groups += cur; cur = Vector.empty; curBytes = 0L
      }
    }
    if (cur.nonEmpty) groups += cur
    groups.result()
  }

  /**
   * Range-cluster the table on a numeric or string column — the
   * OPTIMIZE ZORDER analogue for the 1-D case, and the operation that
   * makes [[readWhere]]'s data skipping SELECTIVE: bucket boundaries
   * come from an approximate-quantile sample for a number, or from a
   * sorted 5% sample for a string (one column-pruned pass, no global
   * sort), every row maps to its range bucket map-side, the rewrite
   * lands one directory per bucket, and the commit records each bucket's
   * own min/max stats. After clustering, a point/range query on the
   * cluster column scans ≈ 1/buckets of the table straight from
   * commit-log metadata.
   *
   * A copy-on-write full rewrite, like Delta's OPTIMIZE ZORDER — run it
   * at the cadence the read/write mix justifies. Currently for
   * unpartitioned tables (a partitioned table already prunes on its
   * partition column; clustering within partitions is a composition of
   * this with [[selectiveOverwrite]]).
   */
  def clusterBy(column: String, buckets: Int): Commit = {
    import org.apache.spark.sql.functions.{col, lit, when}
    require(buckets >= 2, "clusterBy needs at least 2 buckets")
    val c = lastCommit.getOrElse(
      throw new IllegalStateException(s"managed table $root does not exist"))
    require(c.partitionBy.isEmpty,
      "clusterBy supports unpartitioned tables; partitioned tables already " +
        "prune on their partition columns")
    val schema = StructType.fromDDL(c.schemaDdl)
    val field = schema.fields.find(_.name == column).getOrElse(
      throw new IllegalArgumentException(s"no column $column in $root"))
    val df = read
    // persist the boundaries: [[clusterAppend]] re-uses them to bucket
    // later appends WITHOUT rescanning the clustered bulk
    field.dataType match {
      case _: org.apache.spark.sql.types.NumericType =>
        val probs = (1 until buckets).map(_.toDouble / buckets).toArray
        val bounds = df.stat.approxQuantile(column, probs, 0.001).distinct
        val bucket = bounds.foldLeft(lit(0)) { (acc, b) =>
          acc + when(col(s"`$column`") >= lit(b), 1).otherwise(0)
        }
        writeClusteredFrame(c, df.withColumn(CLUSTER_COL, bucket),
          s"CLUSTER BY ($column)",
          extraProps = Map(
            ManagedTable.ClusterByColProp -> column,
            ManagedTable.ClusterByBoundsProp -> bounds.mkString(",")))
      case org.apache.spark.sql.types.StringType =>
        val bounds = stringQuantileBounds(df, column, buckets)
        writeClusteredFrame(c,
          df.withColumn(CLUSTER_COL,
            ManagedTable.stringBucket(column, bounds)),
          s"CLUSTER BY ($column)",
          extraProps = Map(
            ManagedTable.ClusterByColProp -> column,
            ManagedTable.ClusterByKindProp -> "string",
            ManagedTable.ClusterByBoundsProp ->
              bounds.map(ManagedTable.b64).mkString(",")))
      case dt => throw new IllegalArgumentException(
        s"clusterBy needs a numeric or string column, $column is ${dt.simpleString}")
    }
  }

  /** Quantile boundary STRINGS for [[clusterBy]] on a string column:
    * `ntile` over a sorted 5% sample (seed-fixed, so the grid is
    * reproducible), falling back to the full value set when the table
    * is too small for the sample to cover every tile. The sort runs
    * over the sample, never the table. */
  private def stringQuantileBounds(df: DataFrame, column: String,
                                   buckets: Int): Array[String] = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, min, ntile}
    val vals = df.select(col(s"`$column`")).filter(col(s"`$column`").isNotNull)
    val sampled = vals.sample(withReplacement = false, 0.05, seed = 42L)
    val source =
      if (sampled.limit(buckets * 8).count() < buckets * 8) vals else sampled
    source
      .withColumn("__nt__",
        ntile(buckets).over(Window.orderBy(col(s"`$column`"))))
      .groupBy("__nt__").agg(min(col(s"`$column`")).as("b"))
      .orderBy("__nt__")
      .collect().drop(1) // tile 1's min is the global min, not a boundary
      .map(_.getAs[String]("b"))
      .distinct
  }

  /**
   * INCREMENTAL re-clustering — the O(new data) maintenance loop a
   * 100 TB clustered table actually runs (a full [[clusterBy]] rewrite
   * is a table-sized job; Databricks liquid clustering is incremental
   * for the same reason): appends land as unclustered tail dirs; this
   * folds ONLY those tail rows into per-bucket dirs using the BUCKET
   * BOUNDARIES the original [[clusterBy]] persisted in the table
   * properties, and carries every already-clustered dir by reference.
   * Buckets therefore accumulate one dir per maintenance pass —
   * [[compactDirs]] folds them when they get small-file-heavy — and
   * bucket boundaries stay FIXED until a full re-cluster refreshes
   * them (quantile drift shows up as skewed bucket sizes, visible in
   * the commit's per-dir stats). No-op (None) when no tail exists.
   */
  def clusterAppend(): Option[Commit] = synchronized {
    import org.apache.spark.sql.functions.{col, lit, when}
    val c = lastCommit.getOrElse(
      throw new IllegalStateException(s"managed table $root does not exist"))
    val (clusteredDirs, tail) = c.dirs.partition(_.contains(s"/$CLUSTER_COL="))
    if (tail.isEmpty) return None
    val (bucket, what) = c.properties.get(ManagedTable.HilbertColsProp) match {
      case Some(csv) =>
        // Hilbert grid persisted by [[clusterByHilbert]]
        val columns = csv.split(",").toSeq
        val bits = c.properties(ManagedTable.HilbertBitsProp).toInt
        val buckets = c.properties(ManagedTable.HilbertBucketsProp).toInt
        val bounds = columns.map(n =>
          c.properties(s"${ManagedTable.HilbertBoundsPropPrefix}$n")
            .split(",").filter(_.nonEmpty).map(_.toDouble))
        (hilbertBucket(columns, bounds, bits, buckets), csv)
      case None =>
        val column = c.properties.getOrElse(ManagedTable.ClusterByColProp,
          throw new IllegalStateException(
            s"$root has no persisted cluster boundaries — run clusterBy " +
              "or clusterByHilbert first"))
        val raw = c.properties(ManagedTable.ClusterByBoundsProp)
          .split(",").filter(_.nonEmpty)
        // kind prop absent = legacy numeric grid
        if (c.properties.get(ManagedTable.ClusterByKindProp).contains("string"))
          (ManagedTable.stringBucket(column,
            raw.map(ManagedTable.unb64)), column)
        else
          (raw.map(_.toDouble).foldLeft(lit(0)) { (acc, b) =>
            acc + when(col(s"`$column`") >= lit(b), 1).otherwise(0)
          }, column)
    }
    val tailRows = readDirsSubset(tail)
    Some(writeClusteredFrame(c, tailRows.withColumn(CLUSTER_COL, bucket),
      s"CLUSTER APPEND ($what)", carriedDirs = clusteredDirs))
  }

  /**
   * Range-cluster the table on ANY orderable column — the sibling of
   * [[clusterBy]], whose persisted bucket grid covers numeric and string
   * columns only (dates, timestamps and other orderable types cluster
   * here, with no grid for [[clusterAppend]] to extend). The rewrite is
   * `repartitionByRange(buckets, col)` — Spark's sampled range
   * partitioner, the same machinery a global sort uses — with the
   * resulting partition id as the bucket. The frame is localCheckpointed
   * so the stats pass and the write pass see the IDENTICAL assignment
   * (range boundaries come from sampling; two executions could differ).
   * Per-bucket min/max stats then make merges on the cluster column
   * file-scoped, exactly as with [[clusterBy]].
   */
  def clusterByRange(column: String, buckets: Int): Commit = {
    import org.apache.spark.sql.functions.{col, spark_partition_id}
    require(buckets >= 2, "clusterByRange needs at least 2 buckets")
    val c = lastCommit.getOrElse(
      throw new IllegalStateException(s"managed table $root does not exist"))
    require(c.partitionBy.isEmpty, "clusterByRange supports unpartitioned tables")
    val schema = StructType.fromDDL(c.schemaDdl)
    require(schema.fields.exists(_.name == column), s"no column $column in $root")
    val clustered = read
      .repartitionByRange(buckets, col(s"`$column`"))
      .withColumn(CLUSTER_COL, spark_partition_id())
      .localCheckpoint()
    writeClusteredFrame(c, clustered, s"CLUSTER RANGE ($column)")
  }

  /**
   * Z-ORDER the table on several numeric columns: each column's value
   * maps to a quantile rank (`zLevels` levels, boundaries from one
   * sampled pass per column), the ranks' bits interleave into a Z-value
   * (Morton code — the standard multi-dimensional clustering key, what
   * Delta's OPTIMIZE ZORDER computes), and the Z-range splits into
   * `buckets` directories with per-bucket stats. Because every column
   * contributes interleaved bits, a point/range predicate on ANY of the
   * columns fixes that column's bit positions and prunes to roughly
   * buckets^(1/dims) of the table — the multi-column generalization of
   * [[clusterBy]]. Same copy-on-write cost model.
   */
  def clusterByZ(columns: Seq[String], buckets: Int = 16,
                 zLevels: Int = 16): Commit = {
    import org.apache.spark.sql.functions.{col, lit, shiftleft, shiftright, when}
    require(columns.size >= 2, "clusterByZ needs >= 2 columns (use clusterBy for 1)")
    require(zLevels >= 2 && (zLevels & (zLevels - 1)) == 0,
      s"zLevels must be a power of two, got $zLevels")
    require(buckets >= 2, "clusterByZ needs at least 2 buckets")
    val c = lastCommit.getOrElse(
      throw new IllegalStateException(s"managed table $root does not exist"))
    require(c.partitionBy.isEmpty, "clusterByZ supports unpartitioned tables")
    val schema = StructType.fromDDL(c.schemaDdl)
    columns.foreach { n =>
      val f = schema.fields.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no column $n in $root"))
      require(f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"clusterByZ needs numeric columns, $n is ${f.dataType.simpleString}")
    }
    val df = read
    val bits = Integer.numberOfTrailingZeros(zLevels)
    val ranks = quantileRanks(df, columns, zLevels)
    // Morton interleave: bit k of rank_i lands at position k*dims + i
    val dims = columns.size
    val z = (0 until bits).foldLeft(lit(0)) { (acc, k) =>
      ranks.zipWithIndex.foldLeft(acc) { case (a, (r, i)) =>
        a + shiftleft(shiftright(r, k).bitwiseAND(lit(1)), k * dims + i)
      }
    }
    // ranks are quantile-based → z is near-uniform → equal-width split
    val zSpace = math.pow(zLevels, dims)
    val bucket = org.apache.spark.sql.functions.least(
      org.apache.spark.sql.functions.floor(z * buckets / zSpace).cast("int"),
      lit(buckets - 1))
    writeClustered(c, df, bucket,
      s"ZORDER BY (${columns.mkString(", ")})")
  }

  /** Per-column quantile BOUNDARIES for a [0, levels) rank grid — one
    * sampled pass per column; persisted by the curve clusterings so the
    * incremental fold re-ranks later appends on the SAME grid. */
  private def quantileBounds(df: DataFrame, columns: Seq[String],
                             levels: Int): Seq[Array[Double]] = {
    val probs = (1 until levels).map(_.toDouble / levels).toArray
    columns.map(n => df.stat.approxQuantile(n, probs, 0.001).distinct)
  }

  /** Rank expressions over FIXED boundaries. */
  private def ranksFromBounds(columns: Seq[String],
                              bounds: Seq[Array[Double]]): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit, when}
    columns.zip(bounds).map { case (n, bs) =>
      bs.foldLeft(lit(0)) { (acc, b) =>
        acc + when(col(s"`$n`") >= lit(b), 1).otherwise(0)
      }
    }
  }

  private def quantileRanks(df: DataFrame, columns: Seq[String],
                            levels: Int): Seq[org.apache.spark.sql.Column] =
    ranksFromBounds(columns, quantileBounds(df, columns, levels))

  /**
   * HILBERT-cluster the table on several numeric columns — the same
   * quantile-rank grid as [[clusterByZ]], but orderd by the Hilbert
   * space-filling curve instead of the Morton one. Hilbert's defining
   * property (consecutive curve positions are ALWAYS grid neighbors —
   * no Morton "seam jumps" across half-space boundaries) makes each
   * equal-width bucket a contiguous curve segment covering a compact
   * blob of the grid, so per-bucket min/max intervals are tighter on
   * every axis and range probes prune more dirs at the same bucket
   * count (why Databricks liquid clustering orders by Hilbert). The
   * index kernel is Skilling's transpose algorithm ("Programming the
   * Hilbert curve", AIP CP707, 2004) over the rank coordinates.
   */
  def clusterByHilbert(columns: Seq[String], buckets: Int = 16,
                       levels: Int = 16): Commit = {
    import org.apache.spark.sql.functions.{array, col, lit, udf}
    require(columns.size >= 2,
      "clusterByHilbert needs >= 2 columns (use clusterBy for 1)")
    require(levels >= 2 && (levels & (levels - 1)) == 0,
      s"levels must be a power of two, got $levels")
    require(buckets >= 2, "clusterByHilbert needs at least 2 buckets")
    val c = lastCommit.getOrElse(
      throw new IllegalStateException(s"managed table $root does not exist"))
    require(c.partitionBy.isEmpty, "clusterByHilbert supports unpartitioned tables")
    val schema = StructType.fromDDL(c.schemaDdl)
    columns.foreach { n =>
      val f = schema.fields.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no column $n in $root"))
      require(f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"clusterByHilbert needs numeric columns, $n is ${f.dataType.simpleString}")
    }
    val df = read
    val bits = Integer.numberOfTrailingZeros(levels)
    val bounds = quantileBounds(df, columns, levels)
    val bucket = hilbertBucket(columns, bounds, bits, buckets)
    // persist the grid so [[clusterAppend]] folds later appends onto
    // the SAME curve without rescanning the clustered bulk
    val gridProps = Map(
      ManagedTable.HilbertColsProp -> columns.mkString(","),
      ManagedTable.HilbertBitsProp -> bits.toString,
      ManagedTable.HilbertBucketsProp -> buckets.toString) ++
      columns.zip(bounds).map { case (n, bs) =>
        s"${ManagedTable.HilbertBoundsPropPrefix}$n" -> bs.mkString(",")
      }
    writeClusteredFrame(c, df.withColumn(CLUSTER_COL, bucket),
      s"HILBERT BY (${columns.mkString(", ")})", extraProps = gridProps)
  }

  /** Hilbert bucket expression over a FIXED rank grid. */
  private def hilbertBucket(columns: Seq[String], bounds: Seq[Array[Double]],
                            bits: Int, buckets: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{array, lit, udf}
    val ranks = ranksFromBounds(columns, bounds)
    val hUdf = udf((rs: Seq[Int]) => ManagedTable.hilbertIndex(bits, rs.toArray))
    val h = hUdf(array(ranks: _*))
    val hSpace = math.pow(1 << bits, columns.size)
    org.apache.spark.sql.functions.least(
      org.apache.spark.sql.functions.floor(h * buckets / hSpace).cast("int"),
      lit(buckets - 1))
  }

  /** Shared clustered-rewrite commit path: per-bucket stats in one
    * aggregate pass (the write-job Observation is global-only), one
    * directory per bucket, stats rendered exactly like the write path's. */
  private def writeClustered(c: Commit, df: DataFrame,
                             bucket: org.apache.spark.sql.Column,
                             operation: String): Commit =
    writeClusteredFrame(c, df.withColumn(CLUSTER_COL, bucket), operation)

  /** `clustered` must already carry [[CLUSTER_COL]]; its assignment must
    * be stable across the stats pass and the write pass (an expression
    * over the row, or a materialized frame). */
  private def writeClusteredFrame(c: Commit, clustered: DataFrame,
                                  operation: String,
                                  carriedDirs: Seq[String] = Nil,
                                  extraProps: Map[String, String] = Map.empty): Commit = {
    val tsMs = System.currentTimeMillis()
    // a FULL re-cluster rewrites every file under the logical names (the
    // column mapping resets, like any replace); an incremental pass
    // carries physical-named clustered dirs, so its new files must keep
    // writing the SAME physical names for the one global mapping to fit.
    // Tombstones for rewritten tail files go inert (the files leave the
    // composition); carried clustered dirs keep theirs live. A full
    // re-cluster also drops every earlier layout's grid, so
    // [[clusterAppend]] folds onto this layout's grid or refuses
    def build(b: Commit, metrics: Map[String, String]): Commit =
      b.next(operation, tsMs, metrics).copy(partitionBy = Nil,
        dvDirs = if (carriedDirs.nonEmpty) b.dvDirs else Nil,
        columnMap = if (carriedDirs.nonEmpty) b.columnMap else Map.empty,
        properties = (if (carriedDirs.nonEmpty) b.properties
          else b.properties.filter { case (k, _) =>
            !k.startsWith("cluster.by.") && !k.startsWith("cluster.hilbert.")
          }) ++ extraProps)
    val (dataDir, rows, added) =
      writeDataDir(clustered, build(c, Map.empty), grouped = true)
    publish(c, Seq(dataDir)) { (b, _) =>
      composed(build(b, Map("numOutputRows" -> rows.toString,
        "buckets" -> added.size.toString)), carriedDirs, added)
    }
  }

  /** Payload bytes of one immutable data dir, by recursive listing —
    * the write-time measurement behind `Commit.dirBytes`, and the
    * read-side fallback for dirs committed before bytes were recorded.
    * Read-side calls (`counted`) tick the process-wide counter, making
    * "served from the log, zero FS walks" assertable across the
    * internal instances a stream opens; the one-time measurement of a
    * just-written dir inside [[writeCommit]] does not count. */
  private[graft] def measureDirBytes(d: String, counted: Boolean = true): Long = {
    if (counted) ManagedTable.sizeListings.incrementAndGet()
    val p = new Path(d)
    var n = 0L
    if (fs.exists(p)) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val st = it.next()
        if (!st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith(".")) n += st.getLen
      }
    }
    n
  }

  /** Test-visible so specs can fabricate large commit logs without paying
    * a Spark write job per version.
    *
    * Steady-state commits are DELTA-ENCODED against their parent (added /
    * removed dirs + added stats, Delta-log style) with a full snapshot
    * forced every [[ManagedTable.LogSnapshotInterval]] versions — so a
    * continuous-ingest commit costs O(changed dirs) log bytes, not
    * O(table dirs), and chain resolution stays bounded. `parent` (when it
    * is version−1, as every commit path's composition base is) avoids
    * re-reading the log to diff; encoding falls back to a full snapshot
    * whenever the delta would not reconstruct the commit byte-exactly or
    * would not be smaller. */
  private[graft] def writeCommit(c0: Commit, parent: Option[Commit] = None): Unit = {
    // Record every dir's byte size in the entry. Carried dirs inherit
    // the parent's recorded size (dirs are immutable); only dirs new to
    // this commit — just written, FS metadata hot — are measured. A
    // parent from a legacy log has no sizes, so its carried dirs are
    // measured once here and recorded forever after.
    val p: Option[Commit] =
      if (c0.version == 0L) None
      else parent.filter(_.version == c0.version - 1L).orElse(
        try Some(commitAt(c0.version - 1L))
        catch { case scala.util.control.NonFatal(_) => None })
    val known = p.map(_.dirBytes).getOrElse(Map.empty) ++ c0.dirBytes
    val c = c0.copy(dirBytes =
      c0.dirs.map(d => d -> known.getOrElse(d, measureDirBytes(d, counted = false))).toMap)
    val json: String =
      if (c.version % ManagedTable.LogSnapshotInterval == 0L) c.toJson
      else p.flatMap(ManagedTable.deltaJson(_, c)).getOrElse(c.toJson)
    fs.mkdirs(logPath)
    val tmp = new Path(logPath, s".${c.version}-${UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val finalPath = new Path(logPath, f"${c.version}%012d.json")
    // Publication must be atomic-if-absent. HDFS rename already refuses an
    // existing destination; POSIX rename OVERWRITES, so on a local FS two
    // racing writers could both "succeed" and one commit would vanish —
    // there, publish via hard link (link(2) fails with EEXIST atomically)
    // and drop the tmp name. Elsewhere keep exists-probe + rename.
    val scheme = Option(finalPath.toUri.getScheme)
      .getOrElse(Option(fs.getUri.getScheme).getOrElse(""))
    val linked = scheme == "" || scheme == "file"
    val published =
      if (linked)
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(finalPath.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      else !fs.exists(finalPath) && fs.rename(tmp, finalPath)
    if (!published) {
      fs.delete(tmp, false)
      throw new ConcurrentCommitException(
        s"concurrent commit detected for version ${c.version} of $root")
    }
    // The entry is published. What follows is housekeeping and, like
    // writePtr, best-effort: an exception escaping writeCommit must mean
    // the entry did NOT publish, so callers may delete what it references.
    // Advance the advisory head pointer (readers heal a lost race by
    // probing up, so last-write-wins between concurrent committers is
    // fine); seed the floor pointer once — for version 0 it IS 0, for a
    // pre-pointer table the one-time listing here retires every future
    // walk's listing (a failed listing leaves it for the next commit).
    try {
      if (linked) fs.delete(tmp, false)
      writePtr(ManagedTable.HeadPtrFile, c.version)
      if (readPtr(ManagedTable.FloorPtrFile).isEmpty) {
        val floor =
          if (c.version == 0L) 0L
          else fs.listStatus(logPath).toSeq.map(_.getPath.getName)
            .collect { case CommitFile(v) => v.toLong }
            .minOption.getOrElse(c.version)
        writePtr(ManagedTable.FloorPtrFile, floor)
      }
    } catch { case scala.util.control.NonFatal(_) => () }
  }
}

object ManagedTable {
  private val CommitFile: Regex = """(\d{12})\.json""".r

  /** Advisory newest-commit pointer under `_graft_log` — see
    * [[ManagedTable.pointerRange]]. */
  private[graft] val HeadPtrFile = "_head.ptr"

  /** Advisory oldest-retained-commit pointer (advanced by vacuum). */
  private[graft] val FloorPtrFile = "_floor.ptr"

  /** Count of full `_graft_log` directory listings (the fallback when
    * the advisory pointers do not resolve). Hot walks on a
    * pointer-maintained table must leave this untouched — the
    * O(one-listing-per-walk) cost at 31M commits is exactly what the
    * pointers retire. Test-visible. */
  private[graft] val logListings = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Count of change-feed range reads ([[ManagedTable.readChangeFeed]])
    * — the one-pass multi-view refresh pins "N views, ONE slice read"
    * against this. Test-visible. */
  private[graft] val changeFeedReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Dirs SCANNED by deletion-vector tombstone location (predicate and
    * frame form alike), cumulative — against [[dvLiveDirs]] (the live
    * dir totals at those same calls) this pins that a small delete
    * against a range-clustered table scans O(touched dirs), not every
    * dir: the view families' O(touched-groups) folds are incremental on
    * the READ side exactly when scanned < live. Test-visible. */
  private[graft] val dvScanDirs = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Live-dir totals at each deletion-vector scan — [[dvScanDirs]]'s
    * denominator. Test-visible. */
  private[graft] val dvLiveDirs = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Advisory-pointer file reads ([[ManagedTable.readPtr]]) — with
    * [[ptrProbes]] this attributes the fixed per-walk cost the log
    * pointers trade for the old full listing, so a bench regression on
    * a many-small-commit query can be pinned to pointer IO instead of
    * guessed at. Diagnostic, bench-visible. */
  private[graft] val ptrReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Commit-entry existence probes issued by pointer-range healing
    * ([[ManagedTable.pointerRange]]). Diagnostic, bench-visible. */
  private[graft] val ptrProbes = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Count of read-side dir-size FS walks — the legacy fallback when a
    * commit predates `Commit.dirBytes`. On a new-format table every
    * read path (stream admission, compaction sizing) must leave this
    * untouched: sizes come from the log. */
  private[graft] val sizeListings = new java.util.concurrent.atomic.AtomicLong(0L)

  final class ConcurrentCommitException(msg: String)
    extends IllegalStateException(msg)

  /** The wider of two types when one LOSSLESSLY widens to the other
    * (order-independent); None for lossy or unrelated pairs. The chains:
    * integral byte<short<int<long; float→double; byte/short/int→double
    * (exact in a 53-bit mantissa — long→double is NOT, and refused);
    * decimal growth that loses neither scale nor integer digits. */
  private[table] def widerOf(a: DataType, b: DataType): Option[DataType] = {
    val intRank = Map[DataType, Int](
      ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
    def pair(x: DataType, y: DataType): Option[DataType] = (x, y) match {
      case _ if x == y => Some(x)
      case _ if intRank.contains(x) && intRank.contains(y) =>
        Some(if (intRank(x) >= intRank(y)) x else y)
      case (FloatType, DoubleType) => Some(DoubleType)
      case (i, DoubleType) if intRank.get(i).exists(_ <= 3) => Some(DoubleType)
      case (d1: DecimalType, d2: DecimalType)
          if d2.scale >= d1.scale &&
            d2.precision - d2.scale >= d1.precision - d1.scale =>
        Some(d2)
      case _ => None
    }
    pair(a, b).orElse(pair(b, a))
  }

  /** Head-commit layout debt — see [[ManagedTable.maintenanceDebt]]. */
  final case class MaintenanceDebt(smallDirs: Int, dvDirs: Int)

  final case class VacuumStats(prunedVersions: Int, deletedDataDirs: Int,
                               deletedChangeDirs: Int, deletedDvDirs: Int = 0,
                               // holders whose pin lags the REQUESTED cut
                               // by more than StaleHoldWarnVersions — a
                               // forgotten hold (dropped view, dead
                               // consumer) pins history forever, and
                               // without this it does so silently
                               staleHolds: Seq[(String, Long)] = Nil)

  /** A retention hold trailing the requested vacuum cut by more than
    * this many versions is reported as STALE in [[VacuumStats]] — live
    * views slide their pins every fold, so a pin this far behind is a
    * decommissioned consumer someone forgot to release. */
  val StaleHoldWarnVersions: Int = 64

  /** [[ManagedTable.exportManifest]] result: the exported snapshot
    * version, data files listed, and manifest files written (1, or one
    * per partition for partitioned snapshots). */
  final case class ManifestStats(version: Long, numFiles: Int, numManifests: Int)

  /** Synthetic partition column holding [[ManagedTable.clusterBy]] range
    * buckets — storage layout only, never surfaced to readers. */
  val CLUSTER_COL: String = "__graft_cluster__"

  /** Change-data format with `_commit_version`/`_commit_timestamp` stamped
    * into the change parquet at commit time (readable as one multi-path
    * scan per version range). Format 0 = legacy unstamped change data,
    * which [[ManagedTable.readChangeFeed]] refuses to serve. */
  val STAMPED_CHANGE_FORMAT: Int = 1

  /** The data-dir root of a stored commit dir: the node whose parent is
    * the table's `data` directory. Structural (path-segment) detection —
    * robust to scheme-spelling differences between write and read. */
  private[table] def dataDirRoot(dir: String): String = {
    var p = new Path(dir)
    while (p.getParent != null && p.getParent.getName != "data") p = p.getParent
    p.toString
  }

  /** One commit-log entry — the Delta-history-lite record the reference
    * reads back after every write (delta.py:134-168). */
  final case class Commit(
      version: Long,
      operation: String,
      timestampMs: Long,
      dirs: Seq[String],
      operationMetrics: Map[String, String],
      userMetadata: Option[String],
      schemaDdl: String,
      readVersion: Long,
      changeDir: Option[String] = None,
      changeFormat: Int = 0,
      partitionBy: Seq[String] = Nil,
      dirStats: Map[String, Map[String, DataSkipping.ColMinMax]] = Map.empty,
      // per-dir payload byte sizes, recorded once at commit time (dirs
      // are immutable copy-on-write, so the size is exact forever).
      // Consumers that size work by bytes — TableStream's byte-bounded
      // admission, compactDirs' fold planning — read this instead of
      // walking the filesystem: at 100k dirs the difference is one log
      // read vs 100k driver-side FS metadata calls. Absent for dirs of
      // legacy (pre-round-10) commits → consumers fall back to listing.
      dirBytes: Map[String, Long] = Map.empty,
      // streaming-sink transaction high-waters (Delta SetTransaction
      // analogue): appId -> last applied epoch/version. CARRIED FORWARD
      // by every commit path so a crash-replayed micro-batch can be
      // recognized and skipped no matter what committed in between.
      txn: Map[String, Long] = Map.empty,
      // deletion-vector dirs composing this snapshot: parquet dirs of
      // (file, pos) tombstones (file = table-relative path after the
      // last `/data/` segment, pos = parquet row index within the
      // file). Cumulative — every snapshot read anti-joins them; rows
      // whose file is no longer in the composition are inert. Entries
      // with tombstones stamp minReaderVersion 2 so a pre-DV reader
      // refuses instead of resurrecting deleted rows.
      dvDirs: Seq[String] = Nil,
      // column mapping (Delta's column-mapping analogue): LOGICAL name
      // (as in schemaDdl, what callers see) -> PHYSICAL name (what the
      // parquet files carry). Lets RENAME/DROP COLUMN commit as
      // metadata only — zero file rewrites. Identity entries are
      // omitted; every partial writer renames batches to physical
      // before writing so ALL live dirs share one physical naming, and
      // full replaces reset the map (fresh files adopt the logical
      // names). Entries with a live mapping stamp minReaderVersion 3:
      // an older reader would scan physical files under logical names
      // and read every renamed column as NULL.
      columnMap: Map[String, String] = Map.empty,
      // persistent CHECK-style constraints (Delta ADD CONSTRAINT
      // analogue): name -> Expectations rule-DSL entry. Enforced by
      // every data-adding write path by folding violation counts into
      // the write job's existing Observation (zero extra scans); a
      // violating batch deletes its files and throws BEFORE the commit
      // publishes. Reader-safe for old builds (reads don't consult
      // them), so no protocol bump — enforcement, not interpretation.
      constraints: Map[String, String] = Map.empty,
      // table properties (Delta TBLPROPERTIES analogue): free-form
      // key -> value, carried forward by every commit path, set/unset
      // via [[ManagedTable.setProperties]]/[[unsetProperties]]. The
      // write paths consult `bloom.columns` / `bloom.ndv[.col]` to
      // enable parquet-native bloom filters on the named columns
      // (see [[ManagedTable.bloomWriteOptions]]). Reader-safe for old
      // builds (properties steer writes, never reinterpret stored
      // bytes), so no protocol bump.
      properties: Map[String, String] = Map.empty) {

    /** Physical parquet name of a logical column under this commit. */
    def physicalOf(logical: String): String =
      columnMap.getOrElse(logical, logical)

    /** Whether `o` defines the table as this commit does: schema, column
      * mapping, constraints and partitioning. Data written under one
      * definition republishes over a head with another only by reverting
      * the head's change. */
    def sameDefinition(o: Commit): Boolean =
      schemaDdl == o.schemaDdl && columnMap == o.columnMap &&
        constraints == o.constraints && partitionBy == o.partitionBy

    /** This commit's successor: version + 1, read at this version, with
      * every inheritable field carried forward (composition, stats,
      * schema, partitioning, txn high-waters, deletion vectors, column
      * mapping, constraints, properties) and the per-commit fields reset
      * (change data, user metadata, recorded dir bytes, which
      * `writeCommit` re-derives). Every commit path builds its entry
      * this way and `.copy`s only the fields it changes. */
    private[table] def next(operation: String, timestampMs: Long,
                            operationMetrics: Map[String, String]): Commit =
      copy(version = version + 1L, operation = operation,
        timestampMs = timestampMs, operationMetrics = operationMetrics,
        userMetadata = None, readVersion = version, changeDir = None,
        changeFormat = 0, dirBytes = Map.empty)

    /** Common log-entry node: `dirsKey`/`statsKey`/`bytesKey` name the
      * composition fields ("dirs"/"dirStats"/"dirBytes" for full
      * snapshots, "addDirs"/"addDirStats"/"addDirBytes" for delta
      * entries). */
    private[table] def jsonNode(m: com.fasterxml.jackson.databind.ObjectMapper,
        dirsKey: String, statsKey: String,
        bytesKey: String): com.fasterxml.jackson.databind.node.ObjectNode = {
      val node = m.createObjectNode()
      // the stamp is the MINIMUM protocol a reader needs for THIS entry,
      // not the writer's build version: DV-free tables stay readable by
      // pre-DV builds, while an entry with live tombstones makes an old
      // reader refuse loudly instead of silently resurrecting rows
      node.put("minReaderVersion",
        if (columnMap.nonEmpty) ManagedTable.ColumnMapProtocolVersion
        else if (dvDirs.nonEmpty) ManagedTable.DvProtocolVersion
        else 1)
      node.put("version", version)
      node.put("operation", operation)
      node.put("timestampMs", timestampMs)
      val arr = node.putArray(dirsKey); dirs.foreach(arr.add)
      val om = node.putObject("operationMetrics")
      operationMetrics.foreach { case (k, v) => om.put(k, v) }
      userMetadata.foreach(node.put("userMetadata", _))
      node.put("schemaDdl", schemaDdl)
      node.put("readVersion", readVersion)
      changeDir.foreach(node.put("changeDir", _))
      if (changeDir.isDefined) node.put("changeFormat", changeFormat)
      if (partitionBy.nonEmpty) {
        val pb = node.putArray("partitionBy"); partitionBy.foreach(pb.add)
      }
      if (txn.nonEmpty) {
        val tn = node.putObject("txn")
        txn.foreach { case (k, v) => tn.put(k, v) }
      }
      if (dirStats.nonEmpty) {
        val ds = node.putObject(statsKey)
        dirStats.foreach { case (dir, cols) =>
          val dn = ds.putObject(dir)
          cols.foreach { case (cName, mm) =>
            val cn = dn.putObject(cName)
            mm.min.foreach(cn.put("min", _))
            mm.max.foreach(cn.put("max", _))
            mm.nulls.foreach(cn.put("nulls", _))
          }
        }
      }
      if (dirBytes.nonEmpty) {
        val db = node.putObject(bytesKey)
        dirBytes.foreach { case (dir, n) => db.put(dir, n) }
      }
      // always the FULL cumulative list, in full and delta entries alike
      // (short — one dir per unpurged DV delete), so delta resolution
      // never needs the parent's
      if (dvDirs.nonEmpty) {
        val dv = node.putArray("dvDirs"); dvDirs.foreach(dv.add)
      }
      if (columnMap.nonEmpty) {
        val cm = node.putObject("columnMap")
        columnMap.foreach { case (l, p) => cm.put(l, p) }
      }
      if (constraints.nonEmpty) {
        val cs = node.putObject("constraints")
        constraints.foreach { case (n, r) => cs.put(n, r) }
      }
      if (properties.nonEmpty) {
        val ps = node.putObject("properties")
        properties.foreach { case (k, v) => ps.put(k, v) }
      }
      node
    }

    def toJson: String = {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      m.writerWithDefaultPrettyPrinter().writeValueAsString(
        jsonNode(m, "dirs", "dirStats", "dirBytes"))
    }
  }

  object Commit {
    /** The parent of version 0: a table with no commit yet, so every
      * first commit is a [[Commit.next]] like any other. */
    private[table] val Genesis: Commit =
      Commit(-1L, "", 0L, Nil, Map.empty, None, "", -1L)

    private[table] def fromNode(n: com.fasterxml.jackson.databind.JsonNode,
        dirsKey: String, statsKey: String, bytesKey: String): Commit = {
      import scala.jdk.CollectionConverters._
      Commit(
        version = n.get("version").asLong(),
        operation = n.get("operation").asText(),
        timestampMs = n.get("timestampMs").asLong(),
        dirs = n.get(dirsKey).elements().asScala.map(_.asText()).toSeq,
        operationMetrics = Option(n.get("operationMetrics")).map { o =>
          o.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
        }.getOrElse(Map.empty),
        userMetadata = Option(n.get("userMetadata")).map(_.asText()),
        schemaDdl = n.get("schemaDdl").asText(),
        readVersion = n.get("readVersion").asLong(),
        changeDir = Option(n.get("changeDir")).map(_.asText()),
        // absent in logs written before format stamping → legacy format 0
        changeFormat = Option(n.get("changeFormat")).map(_.asInt()).getOrElse(0),
        partitionBy = Option(n.get("partitionBy"))
          .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil),
        txn = Option(n.get("txn")).map { t =>
          t.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
        }.getOrElse(Map.empty),
        dirStats = Option(n.get(statsKey)).map { ds =>
          ds.properties().asScala.map { e =>
            e.getKey -> e.getValue.properties().asScala.map { ce =>
              ce.getKey -> DataSkipping.ColMinMax(
                Option(ce.getValue.get("min")).map(_.asText()),
                Option(ce.getValue.get("max")).map(_.asText()),
                Option(ce.getValue.get("nulls")).map(_.asLong()))
            }.toMap
          }.toMap
        }.getOrElse(Map.empty),
        // absent in logs written before byte recording → legacy, empty
        dirBytes = Option(n.get(bytesKey)).map { db =>
          db.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
        }.getOrElse(Map.empty),
        dvDirs = Option(n.get("dvDirs"))
          .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil),
        columnMap = Option(n.get("columnMap")).map { cm =>
          cm.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
        }.getOrElse(Map.empty),
        constraints = Option(n.get("constraints")).map { cs =>
          cs.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
        }.getOrElse(Map.empty),
        properties = Option(n.get("properties")).map { ps =>
          ps.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
        }.getOrElse(Map.empty))
    }

    /** Parse a FULL-snapshot entry (delta entries are internal to the log;
      * resolve them through [[ManagedTable.commitAt]]). */
    def fromJson(s: String): Commit = {
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)
      require(n.has("dirs"),
        "delta-encoded log entry — resolve via ManagedTable.commitAt, not Commit.fromJson")
      fromNode(n, "dirs", "dirStats", "dirBytes")
    }
  }

  /** Delta link of a log entry: the parent version its composition diffs
    * against and the parent dirs it drops (added dirs/stats ride the
    * entry's own `addDirs`/`addDirStats`). */
  private[graft] final case class DeltaPart(baseVersion: Long, removeDirs: Seq[String])

  /** Full snapshot forced every this-many versions; delta chains between
    * snapshots are at most this long. */
  val LogSnapshotInterval: Int = 10

  /** Entries per driver IO round of [[ManagedTable.metaHistory]]'s lazy
    * walk — small enough that a first-batch hit (the overwhelmingly
    * common case: the newest commit carries the watermark) stays O(1),
    * large enough to amortize round-trips when maintenance commits bury
    * the match a few entries deep. */
  val MetaWalkBatch: Int = 16

  /** Driver-side commit-log entry reads since JVM start — a diagnostic
    * counter for the log IO the lazy walks are designed to bound (tests
    * pin that a watermark read against a long history stays O(batch)). */
  val logEntryReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Log protocol this build reads. Every entry stamps the MINIMUM
    * protocol needed to read it as `minReaderVersion`; a format feature
    * that old readers would misinterpret bumps the stamp on the entries
    * that use it, and an older reader then refuses loudly instead of
    * returning silently wrong table state (Delta's reader-version
    * contract). Entries without the stamp predate it and read as
    * protocol 1. Protocol 2 = deletion vectors (`dvDirs`): a protocol-1
    * reader would scan the data dirs without the tombstone anti-join
    * and resurrect deleted rows. Protocol 3 = column mapping
    * (`columnMap`): an older reader would read renamed columns as
    * NULL. */
  val ProtocolVersion: Int = 3

  /** Reader protocol required by entries carrying deletion vectors. */
  val DvProtocolVersion: Int = 2

  /** Reader protocol required by entries carrying a column mapping: an
    * older reader would scan the physical files under the logical
    * schema and silently read every renamed column as NULL. */
  val ColumnMapProtocolVersion: Int = 3

  /**
   * Hilbert index of a grid cell — Skilling's transpose algorithm
   * ("Programming the Hilbert curve", AIP Conf. Proc. 707, 2004, public
   * domain): rotate/reflect each level so the curve enters and exits
   * neighboring sub-cells, Gray-decode, then interleave the transposed
   * bit planes into the scalar index. `coords` are `dims` values in
   * [0, 2^bits); the result covers [0, 2^(bits·dims)). Consecutive
   * indices always differ by exactly one unit step in one coordinate —
   * the locality property the clustering relies on (property-tested by
   * exhaustive enumeration in ManagedTableSpec).
   */
  private[graft] def hilbertIndex(bits: Int, coords: Array[Int]): Long = {
    val n = coords.length
    val x = coords.clone()
    // inverse undo: transpose from axes (AxestoTranspose)
    var q = 1 << (bits - 1)
    while (q > 1) {
      val p = q - 1
      var i = 0
      while (i < n) {
        if ((x(i) & q) != 0) x(0) ^= p
        else { val t = (x(0) ^ x(i)) & p; x(0) ^= t; x(i) ^= t }
        i += 1
      }
      q >>= 1
    }
    // Gray encode
    var i = 1
    while (i < n) { x(i) ^= x(i - 1); i += 1 }
    var t = 0
    q = 1 << (bits - 1)
    while (q > 1) { if ((x(n - 1) & q) != 0) t ^= q - 1; q >>= 1 }
    i = 0
    while (i < n) { x(i) ^= t; i += 1 }
    // interleave the transposed bit planes, most-significant first
    var h = 0L
    var b = bits - 1
    while (b >= 0) {
      var d = 0
      while (d < n) { h = (h << 1) | ((x(d) >> b) & 1L); d += 1 }
      b -= 1
    }
    h
  }

  /** Table property naming the columns that get parquet bloom filters. */
  val BloomColumnsProp = "bloom.columns"

  /** Properties persisted by [[ManagedTable.clusterBy]] so
    * [[ManagedTable.clusterAppend]] can bucket later appends against
    * the SAME boundaries without rescanning the clustered bulk. */
  val ClusterByColProp = "cluster.by.column"
  val ClusterByBoundsProp = "cluster.by.bounds"
  /** "string" when the persisted boundaries are base64 strings (string
    * column clustering); absent = numeric grid (legacy commits). */
  val ClusterByKindProp = "cluster.by.kind"

  private[table] def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  private[table] def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s),
      java.nio.charset.StandardCharsets.UTF_8)

  /** Bucket expression over FIXED string boundaries — shared by the
    * full rewrite and [[ManagedTable.clusterAppend]]'s tail fold. */
  private[table] def stringBucket(column: String,
                                  bounds: Array[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit, when}
    bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(col(s"`$column`") >= lit(b), 1).otherwise(0)
    }
  }

  /** Properties persisted by [[ManagedTable.clusterByHilbert]]: the
    * quantile-rank grid (columns, per-column boundaries, bits, bucket
    * count) so [[ManagedTable.clusterAppend]] folds later appends onto
    * the SAME curve without rescanning the clustered bulk. */
  val HilbertColsProp = "cluster.hilbert.columns"
  val HilbertBitsProp = "cluster.hilbert.bits"
  val HilbertBucketsProp = "cluster.hilbert.buckets"
  val HilbertBoundsPropPrefix = "cluster.hilbert.bounds."

  /** Table property naming write-time clustering columns: appends and
    * replaces range-partition + sort the batch on them, so files and
    * row groups are born value-disjoint and the scan's pushed filters
    * prune inside dirs (liquid-clustering intent — no maintenance pass
    * needed before skipping works). */
  val ClusterColumnsProp = "cluster.columns"

  /** Table property hinting expected distinct counts for bloom sizing
    * (global `bloom.ndv` or per-column `bloom.ndv.<col>`). */
  val BloomNdvProp = "bloom.ndv"

  /** Parquet write options realizing the `bloom.*` table properties for
    * one data write: per-column `parquet.bloom.filter.enabled#<phys>`
    * (+ ndv sizing hints), named by PHYSICAL column so the filters
    * follow renames. Spark copies datasource options into the write
    * job's Hadoop conf, so these reach parquet-mr unchanged; the read
    * side needs nothing — the scan's pushed equality filters consult
    * row-group bloom filters automatically. */
  private[table] def bloomWriteOptions(
      properties: Map[String, String],
      columnMap: Map[String, String]): Map[String, String] =
    properties.get(BloomColumnsProp).toSeq.flatMap { csv =>
      csv.split(",").map(_.trim).filter(_.nonEmpty).flatMap { logical =>
        val phys = columnMap.getOrElse(logical, logical)
        val ndv = properties.get(s"$BloomNdvProp.$logical")
          .orElse(properties.get(BloomNdvProp))
        Seq(s"parquet.bloom.filter.enabled#$phys" -> "true") ++
          ndv.map(n => s"parquet.bloom.filter.expected.ndv#$phys" -> n)
      }
    }.toMap

  /** Deletion-vector tombstone schema: `file` is the table-relative
    * file key (path after the last `/data/` segment — stable across
    * scheme spellings, clone copies, and mount points), `pos` the row's
    * parquet row index within that file (`_metadata.row_index`). */
  val DvSchema: StructType = StructType.fromDDL("file STRING, pos BIGINT")

  /** Parse one raw log entry: full → (commit, None); delta → (commit
    * holding ONLY the added dirs/stats, Some(link)). */
  private[graft] def parseLogEntry(s: String): (Commit, Option[DeltaPart]) = {
    import scala.jdk.CollectionConverters._
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)
    val needs = Option(n.get("minReaderVersion")).map(_.asInt()).getOrElse(1)
    if (needs > ProtocolVersion)
      throw new IllegalStateException(
        s"commit log entry requires reader protocol $needs but this build " +
          s"supports $ProtocolVersion — upgrade before reading this table " +
          "(refusing rather than misreading a newer log format)")
    if (n.has("dirs")) (Commit.fromNode(n, "dirs", "dirStats", "dirBytes"), None)
    else (Commit.fromNode(n, "addDirs", "addDirStats", "addDirBytes"),
      Some(DeltaPart(n.get("baseVersion").asLong(),
        Option(n.get("removeDirs"))
          .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil))))
  }

  /** Delta-encode `c` against its parent snapshot, or None when the delta
    * would not reconstruct `c` byte-exactly (carried-dir order changed,
    * stats dropped without their dir, duplicate dirs) or would not be
    * smaller than the full snapshot (e.g. a replace). */
  private[graft] def deltaJson(parent: Commit, c: Commit): Option[String] = {
    if (parent.version != c.version - 1L) return None
    val parentSet = parent.dirs.toSet
    val cSet = c.dirs.toSet
    val removed = parent.dirs.filterNot(cSet)
    val added = c.dirs.filterNot(parentSet)
    if (added.size + removed.size >= c.dirs.size) return None
    val removedSet = removed.toSet
    if (parent.dirs.filterNot(removedSet) ++ added != c.dirs) return None
    val carriedStats = parent.dirStats -- removed
    val addStats = c.dirStats.filter { case (d, s) => !carriedStats.get(d).contains(s) }
    if (carriedStats ++ addStats != c.dirStats) return None
    val carriedBytes = parent.dirBytes -- removed
    val addBytes = c.dirBytes.filter { case (d, b) => !carriedBytes.get(d).contains(b) }
    if (carriedBytes ++ addBytes != c.dirBytes) return None
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = c.copy(dirs = added, dirStats = addStats, dirBytes = addBytes)
      .jsonNode(m, "addDirs", "addDirStats", "addDirBytes")
    node.put("baseVersion", parent.version)
    if (removed.nonEmpty) {
      val rm = node.putArray("removeDirs"); removed.foreach(rm.add)
    }
    Some(m.writerWithDefaultPrettyPrinter().writeValueAsString(node))
  }

  def apply(spark: SparkSession, root: String): ManagedTable =
    new ManagedTable(spark, root)
}
