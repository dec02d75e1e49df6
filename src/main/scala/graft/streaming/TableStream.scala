package graft.streaming

import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper

import graft.table.ManagedTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** Offset of a [[TableStreamSource]]. `version` is the highest table
  * version consumed; `dirIdx >= 0` marks a position INSIDE the
  * initial-snapshot backfill (the first `dirIdx` snapshot dirs are
  * served), `dirIdx = -1` means the backfill is complete and offsets
  * advance by whole versions. Round-8 checkpoints logged bare
  * `LongOffset` numbers — those parse as `(version, -1)`. */
private[streaming] final case class TableOffset(version: Long, dirIdx: Long)
    extends V1Offset {
  override val json: String =
    if (dirIdx < 0) s"""{"version":$version}"""
    else s"""{"version":$version,"dirIdx":$dirIdx}"""
}

private[streaming] object TableOffset {
  def parse(o: V1Offset): TableOffset = o match {
    case t: TableOffset => t
    case other => parseJson(other.json)
  }

  def parseJson(s: String): TableOffset = {
    val t = s.trim
    if (t.startsWith("{")) {
      val n = new ObjectMapper().readTree(t)
      TableOffset(n.get("version").asLong(),
        Option(n.get("dirIdx")).map(_.asLong()).getOrElse(-1L))
    } else TableOffset(t.toLong, -1L)
  }

  /** Total order: backfill positions of a version precede that version's
    * completion marker (−1), which precedes every later version. */
  def cmp(a: TableOffset, b: TableOffset): Int = {
    def rank(i: Long): Long = if (i < 0) Long.MaxValue else i
    if (a.version != b.version) java.lang.Long.compare(a.version, b.version)
    else java.lang.Long.compare(rank(a.dirIdx), rank(b.dirIdx))
  }
}

/**
 * Stream FROM a managed table — the Delta streaming-source analogue
 * (reference tables are Delta and feed downstream streams the same way;
 * reference: core/sources/delta_source.py:19-44). Registered as
 * `format("graft-table")`:
 *
 * {{{
 *   spark.readStream.format("graft-table").option("path", root).load()
 * }}}
 *
 * Offsets are [[TableOffset]]s — `(version, dirIdx)` — so both the tail
 * AND the initial backfill advance in bounded, exactly-restartable
 * steps. Batch composition:
 *
 *  - default: the stream first serves the snapshot at the version
 *    current when the stream starts (the Delta initial-snapshot
 *    backfill), `maxDirsPerTrigger` dirs per micro-batch (default 1000,
 *    the Delta maxFilesPerTrigger posture — a 100 TB table must never
 *    land in trigger 1 whole); then each later version contributes
 *    exactly the data dirs its commit ADDED — an O(new data) tail read,
 *    never a rescan;
 *  - `startingVersion=N`: no snapshot backfill, tail from version N's
 *    own added dirs on;
 *  - non-append commits (merge/overwrite/DML/restore/optimize) fail the
 *    stream loudly, exactly like Delta, unless `skipChangeCommits=true`
 *    skips them (their rewrites carry dirs forward, so appended-dir
 *    diffing would misattribute rewritten history as new rows);
 *  - `maxVersionsPerTrigger=K` bounds tail admission by version count,
 *    `maxBytesPerTrigger=B` by ADDED BYTES (FS metadata, cached — dirs
 *    are immutable) — a single fat backfill-style commit of thousands
 *    of dirs no longer lands in one trigger. A CDF stream sizes
 *    versions by what the FEED serves — the stored change dir, or
 *    added + removed dirs for synthesized rewrites — so a large
 *    rewrite commit is byte-bounded there too. Both bounds hold across
 *    restarts: the last offered position is persisted in the source's
 *    checkpoint metadata dir, so a restart against a long backlog
 *    resumes bounded admission instead of offering the whole backlog
 *    as one batch.
 *
 * The stream's start version and schema are PINNED in the source
 * metadata path at first start and reloaded on restart, so a checkpoint
 * lineage always reads under the schema it started with; if the table's
 * schema changed since, the restart fails loudly (start a fresh
 * checkpoint to adopt the new schema) — Delta's posture. Mid-run
 * evolutions don't disturb a running stream: batches project added dirs
 * onto the pinned schema (missing columns NULL).
 *
 * 100 TB shape: a batch reads ONLY its dir slice under the pinned
 * schema; the driver does one log listing + one bounded-concurrency
 * commit-range resolve per trigger, plus cached FS metadata for byte
 * admission.
 */
final class TableStreamSource(
    sqlContext: SQLContext,
    path: String,
    metadataPath: String,
    options: Map[String, String]) extends Source {

  private val spark = sqlContext.sparkSession
  private val table = ManagedTable(spark, path)
  private val hadoopConf = spark.sessionState.newHadoopConf()
  private val mapper = new ObjectMapper()

  private def opt(key: String): Option[String] =
    options.collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v }

  private val startingVersion: Option[Long] = opt("startingVersion").map(_.toLong)
  private val skipChangeCommits: Boolean =
    opt("skipChangeCommits").exists(_.toBoolean)
  private val maxVersionsPerTrigger: Option[Long] =
    opt("maxVersionsPerTrigger").map(_.toLong)
  private val maxDirsPerTrigger: Int =
    opt("maxDirsPerTrigger").map(_.toInt).getOrElse(1000)
  private val maxBytesPerTrigger: Option[Long] =
    opt("maxBytesPerTrigger").map(_.toLong)

  /** `readChangeFeed=true` streams the CHANGE FEED instead of appended
    * rows (Delta CDF streaming): each version in a batch contributes its
    * per-row changes — stored change parquet for merges, dir-diff
    * synthesis for appends/overwrites — stamped with `_change_type` /
    * `_commit_version` / `_commit_timestamp`. No snapshot backfill:
    * default tails changes AFTER the stream-start version,
    * `startingVersion=N` serves changes from version N on. */
  private val cdf: Boolean = opt("readChangeFeed").exists(_.toBoolean)

  // ---------------------------------------------------------------- files
  private val metaFile = new Path(metadataPath, "graft-source-metadata")
  private val posFile = new Path(metadataPath, "graft-source-position")

  private def readSmallFile(p: Path): Option[String] = {
    val mfs = p.getFileSystem(hadoopConf)
    if (!mfs.exists(p)) None
    else {
      val in = mfs.open(p)
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  private def writeSmallFile(p: Path, content: String): Unit = {
    val mfs = p.getFileSystem(hadoopConf)
    mfs.mkdirs(p.getParent)
    val tmp = new Path(p.getParent, "." + p.getName + ".tmp")
    val out = mfs.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (mfs.exists(p)) mfs.delete(p, false)
    if (!mfs.rename(tmp, p))
      throw new java.io.IOException(s"cannot publish stream metadata $p")
  }

  /** True once the engine has logged any offset for this checkpoint —
    * distinguishes a restart from a first start when our sidecar files
    * are absent (legacy round-8 checkpoints wrote none). */
  private def offsetsLogged: Boolean = try {
    val off = new Path(new Path(metadataPath).getParent.getParent, "offsets")
    val mfs = off.getFileSystem(hadoopConf)
    mfs.exists(off) && mfs.listStatus(off).nonEmpty
  } catch { case NonFatal(_) => false }

  // ------------------------------------------------- pinned start metadata
  private val currentHead = table.lastCommit.getOrElse(
    throw new IllegalStateException(
      s"managed table $path does not exist — streams need a created table"))

  private val (startVersion: Long, startSchemaDdl: String, metaExisted: Boolean) =
    readSmallFile(metaFile) match {
      case Some(s) =>
        val n = mapper.readTree(s)
        (n.get("startVersion").asLong(), n.get("schemaDdl").asText(), true)
      case None =>
        val node = mapper.createObjectNode()
        node.put("startVersion", currentHead.version)
        node.put("schemaDdl", currentHead.schemaDdl)
        writeSmallFile(metaFile, node.toString)
        (currentHead.version, currentHead.schemaDdl, false)
    }

  if (metaExisted && currentHead.schemaDdl != startSchemaDdl)
    throw new IllegalStateException(
      s"schema of $path changed since this stream's checkpoint was started " +
        s"(pinned at version $startVersion); a checkpoint lineage reads under " +
        "one schema — restart with a fresh checkpoint to adopt the new schema")

  private val partitioned = currentHead.partitionBy.nonEmpty

  override val schema: StructType = {
    val base = StructType.fromDDL(startSchemaDdl)
    if (!cdf) base
    else base.add("_change_type", "string")
      .add("_commit_version", "long")
      .add("_commit_timestamp", "timestamp")
  }

  /** The backfill composition, in the commit log's (immutable) dir
    * order — index-based chunk boundaries are deterministic across
    * restarts. Resolved lazily: tail-only streams never touch it. */
  private lazy val snapshotCommit: ManagedTable.Commit =
    try {
      val c = table.commitAt(startVersion)
      seedDirBytes(c)
      c
    } catch {
      case NonFatal(e) => throw new IllegalStateException(
        s"version $startVersion of $path (this stream's backfill snapshot) " +
          "is no longer resolvable — vacuumed past the stream checkpoint; " +
          "restart the stream fresh", e)
    }

  private def snapshotDirs: Seq[String] = snapshotCommit.dirs

  /** Dir sizes for byte-bounded admission, served from the commit log's
    * write-time `dirBytes` record (seeded whenever a commit is resolved
    * for admission) — a 100k-dir backfill costs zero driver-side FS
    * walks. Only dirs from legacy pre-bytes commits fall back to a
    * one-time listing (dirs are immutable, so the size is exact
    * forever either way). */
  private val dirBytesCache = scala.collection.concurrent.TrieMap.empty[String, Long]
  private def seedDirBytes(c: ManagedTable.Commit): Unit =
    c.dirBytes.foreach { case (d, n) => dirBytesCache.putIfAbsent(d, n); () }
  private def dirBytes(d: String): Long =
    dirBytesCache.getOrElseUpdate(d, table.measureDirBytes(d))

  // ------------------------------------------------------ admission state
  /** Highest position OFFERED so far. Restored from the persisted
    * position sidecar so admission bounds survive restarts (a restart
    * against a 10k-version backlog must not offer it as one batch). */
  @volatile private var offered: TableOffset = readSmallFile(posFile) match {
    case Some(s) => TableOffset.parseJson(s)
    case None if metaExisted && offsetsLogged =>
      // a round-9 checkpoint always persists its position BEFORE the
      // engine logs the offset; a missing sidecar here means the
      // checkpoint dir lost files — resuming from a guess would re-serve
      // or skip data, so refuse loudly instead
      throw new IllegalStateException(
        s"stream position sidecar $posFile is missing for an existing " +
          "checkpoint — the checkpoint directory is damaged; restart the " +
          "stream with a fresh checkpoint")
    case None if offsetsLogged =>
      // legacy (round-8) checkpoint: no sidecars were ever written; keep
      // the old floor semantics (tail from the current head — the engine
      // replays any uncommitted batch from its own offset log)
      TableOffset(startingVersion.map(_ - 1L).getOrElse(
        if (cdf) currentHead.version else currentHead.version - 1L), -1L)
    case None =>
      startingVersion match {
        case Some(sv) => TableOffset(sv - 1L, -1L)
        case None if cdf => TableOffset(startVersion, -1L)
        case None => TableOffset(startVersion, 0L) // backfill pending
      }
  }

  @volatile private var persistedJson: Option[String] = None

  override def getOffset: Option[V1Offset] = {
    offered = advance(offered)
    // persist-then-log ordering: the engine writes its offset log only
    // after getOffset returns, so the sidecar is never behind the log
    if (!persistedJson.contains(offered.json)) {
      writeSmallFile(posFile, offered.json)
      persistedJson = Some(offered.json)
    }
    Some(offered)
  }

  private def advance(cur: TableOffset): TableOffset = {
    if (cur.dirIdx >= 0) {
      // mid-backfill over the pinned snapshot
      val n = snapshotDirs.length
      val i = cur.dirIdx.toInt
      if (i >= n) TableOffset(cur.version, -1L)
      else {
        val next = admitBackfill(i, n)
        if (next >= n) TableOffset(cur.version, -1L)
        else TableOffset(cur.version, next.toLong)
      }
    } else {
      val latest = table.latestVersion.getOrElse(cur.version)
      if (latest <= cur.version) cur
      else {
        val capV = maxVersionsPerTrigger
          .map(k => math.min(latest, cur.version + math.max(1L, k)))
          .getOrElse(latest)
        TableOffset(admitVersionsByBytes(cur.version, capV), -1L)
      }
    }
  }

  /** Next backfill boundary: at least one dir, at most `maxDirsPerTrigger`,
    * stopping early when the next dir would blow `maxBytesPerTrigger`. */
  private def admitBackfill(from: Int, n: Int): Int = {
    var i = from
    var bytes = 0L
    var count = 0
    while (i < n && count < maxDirsPerTrigger &&
        (count == 0 ||
          maxBytesPerTrigger.forall(bytes + dirBytes(snapshotDirs(i)) <= _))) {
      bytes += dirBytes(snapshotDirs(i)); i += 1; count += 1
    }
    i
  }

  /** Largest tail end ≤ `capV` whose versions' CHANGED bytes fit the
    * byte budget (always ≥ one version) — ADDED dirs for the append
    * tail; for a CDF stream, what the feed will actually serve per
    * version: the stored change dir when the commit captured one,
    * else added + removed dirs (an uncaptured rewrite synthesizes
    * delete-all + insert-survivors from exactly those dirs — a fat
    * rewrite commit sizes as fat, instead of slipping past the budget
    * as 'zero added'). All sizes come from the commit log's write-time
    * `dirBytes` ([[seedDirBytes]]); unresolvable history stops
    * bounding and lets [[getBatch]] surface its precise error. */
  private def admitVersionsByBytes(fromV: Long, capV: Long): Long =
    maxBytesPerTrigger match {
      case None => capV
      case Some(budget) =>
        val byVersion =
          try {
            val cs = table.commitsBetween(math.max(0L, fromV), capV)
            cs.foreach(seedDirBytes)
            cs.map(c => c.version -> c).toMap
          } catch { case NonFatal(_) => return capV }
        var v = fromV
        var bytes = 0L
        var done = false
        while (!done && v < capV) {
          val next = v + 1L
          val changed: Seq[String] = byVersion.get(next) match {
            case None => Nil
            case Some(c) if cdf && c.changeDir.isDefined => Seq(c.changeDir.get)
            case Some(c) if next == 0L => c.dirs
            case Some(c) =>
              val parent = byVersion.get(v)
              val added = parent
                .map(p => c.dirs.filterNot(p.dirs.toSet)).getOrElse(c.dirs)
              val removed =
                if (!cdf) Nil
                else parent.map(p => p.dirs.filterNot(c.dirs.toSet)).getOrElse(Nil)
              added ++ removed
          }
          val vb = changed.iterator.map(dirBytes).sum
          if (v > fromV && bytes + vb > budget) done = true
          else { bytes += vb; v = next }
        }
        v
    }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val endO = TableOffset.parse(end)
    if (TableOffset.cmp(endO, offered) > 0) offered = endO // legacy resync

    if (cdf) {
      val startV = start.map(TableOffset.parse(_).version).getOrElse(
        startingVersion.map(_ - 1L).getOrElse(startVersion))
      val batch =
        if (startV >= endO.version)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        else table.readChangeFeed(startV + 1L, Some(endO.version))
          .select(schema.fieldNames.map(org.apache.spark.sql.functions.col)
            .toIndexedSeq: _*)
      return org.apache.spark.sql.graft.StreamingFrame.mark(batch)
    }

    val startO = start.map(TableOffset.parse).getOrElse(
      startingVersion match {
        case Some(sv) => TableOffset(sv - 1L, -1L)
        case None => TableOffset(startVersion, 0L)
      })
    val (backfillDirs, backfillDv, tailDirsSeq) = dirsBetween(startO, endO)

    // backfill serves the pinned snapshot → its deletion vectors apply;
    // tail dirs are per-version ADDS whose files no tombstone can
    // reference at admission time → plain read
    val parts = Seq(
      if (backfillDirs.isEmpty) None
      else Some(table.readDirs(backfillDirs.distinct, schema, partitioned,
        backfillDv, snapshotCommit.columnMap)),
      if (tailDirsSeq.isEmpty) None
      else Some(table.readDirs(
        tailDirsSeq.distinct.filterNot(backfillDirs.toSet), schema, partitioned,
        Nil, currentHead.columnMap)))
      .flatten
    val batch = parts
      .reduceOption(_.unionByName(_))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    org.apache.spark.sql.graft.StreamingFrame.mark(batch)
  }

  /** Dirs of the half-open offset range (s, e]: the snapshot slice for
    * the backfill portion (with the snapshot's deletion-vector set)
    * plus the per-version added-dir tail. */
  private def dirsBetween(
      s: TableOffset, e: TableOffset): (Seq[String], Seq[String], Seq[String]) = {
    if (e.version < s.version) {
      // only reachable replaying a legacy (round-8) batch 0 whose
      // snapshot version predates this upgrade's metadata pin: serve the
      // old-style full snapshot at the logged end version
      val c = table.commitAt(e.version)
      return (c.dirs, c.dvDirs, Nil)
    }
    val backfill =
      if (s.dirIdx >= 0) {
        val endIdx =
          if (e.version == s.version && e.dirIdx >= 0) e.dirIdx.toInt
          else snapshotDirs.length
        snapshotDirs.slice(s.dirIdx.toInt, endIdx)
      } else Nil
    val tail =
      if (e.version > s.version) tailDirs(s.version, e.version) else Nil
    (backfill, if (backfill.isEmpty) Nil else snapshotCommit.dvDirs, tail)
  }

  /** Added dirs of versions (startV, endV]: each APPEND contributes its
    * dir-diff vs the parent; version 0 contributes its whole composition.
    * One batched commit-range resolve (parent included as diff base). */
  private def tailDirs(startV: Long, endV: Long): Seq[String] = {
    if (startV >= endV) return Nil
    val from = math.max(0L, startV)
    val byVersion = table.commitsBetween(from, endV).map(c => c.version -> c).toMap
    (startV + 1L to endV).flatMap { v =>
      byVersion.get(v) match {
        case None =>
          throw new IllegalStateException(
            s"version $v of $path was vacuumed past the stream checkpoint — " +
              "the tail cannot be reconstructed; restart the stream fresh")
        case Some(c) =>
          val op = c.operation.toUpperCase
          val isAppend = op.startsWith("APPEND") || op.startsWith("CREATE TABLE")
          if (isAppend) {
            if (v == 0L) c.dirs
            else byVersion.get(v - 1L).map(p => c.dirs.filterNot(p.dirs.toSet))
              .getOrElse(throw new IllegalStateException(
                s"cannot diff version $v of $path — parent commit vacuumed; " +
                  "restart the stream fresh"))
          } else if (skipChangeCommits) Nil
          else throw new IllegalStateException(
            s"stream over $path hit a data-changing commit at version $v " +
              s"(${c.operation}); streaming sources serve appends only — " +
              "set skipChangeCommits=true to skip rewrites, or restart " +
              "from the current snapshot")
      }
    }
  }

  override def stop(): Unit = ()

  override def toString: String = s"TableStreamSource[$path]"
}

/**
 * Managed-table streaming SINK — `writeStream.format("graft-table")`,
 * the Delta-sink analogue. Each micro-batch re-enters the batch writers
 * (append by default; `writeType=scd1|scd2` with `keys=a,b` merges), and
 * every commit carries `(appId, batchId)` in the table's txn map — the
 * same exactly-once guard the foreachBatch path uses — so a micro-batch
 * redelivered after a crash between sink commit and checkpoint advance
 * is recognized via `lastTxnVersion` and skipped, never double-written.
 * appId is keyed by the query's checkpoint location (the name of the
 * epoch sequence; a fresh checkpoint = a fresh sequence).
 */
final class TableStreamSink(
    sqlContext: SQLContext,
    path: String,
    options: Map[String, String],
    outputMode: org.apache.spark.sql.streaming.OutputMode =
      org.apache.spark.sql.streaming.OutputMode.Append()) extends org.apache.spark.sql.execution.streaming.Sink {

  private val spark = sqlContext.sparkSession
  private def opt(key: String): Option[String] =
    options.collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v }

  // Complete mode re-emits the WHOLE aggregation result each trigger —
  // appending it would duplicate every group, so the default there is a
  // per-batch overwrite. Update mode's batches carry only CHANGED rows;
  // defaulting to append would silently duplicate every updated key, so
  // the keyed merge must be explicit (Delta rejects this the same way).
  private val writeType = opt("writeType").getOrElse {
    if (outputMode == org.apache.spark.sql.streaming.OutputMode.Complete()) "overwrite"
    else if (outputMode == org.apache.spark.sql.streaming.OutputMode.Update())
      throw new IllegalArgumentException(
        "graft-table sink in Update output mode needs an explicit " +
          "writeType — Update batches carry only changed rows, so " +
          "appending duplicates keys; use .option(\"writeType\", \"scd1\") " +
          "with .option(\"keys\", ...)")
    else "append"
  }
  private val keys: Seq[String] =
    opt("keys").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
  private val appId = "graft-table-sink:" +
    opt("checkpointLocation").getOrElse(path)
  private val writeOpts = graft.write.WriteOptions(
    now = opt("now"),
    enableChangeDataFeed = opt("enableChangeDataFeed").exists(_.toBoolean),
    // merge-mode sinks accrete one small dir per micro-batch; the
    // auto-compaction threshold keeps them self-maintaining
    autoCompactMinDirs = opt("autoCompactMinDirs").map(_.toInt),
    mergeSchema = opt("mergeSchema").exists(_.toBoolean))

  override def addBatch(batchId: Long, data: org.apache.spark.sql.DataFrame): Unit = {
    val table = ManagedTable(spark, path)
    if (table.exists && table.lastTxnVersion(appId).exists(batchId <= _)) return
    val batch = org.apache.spark.sql.graft.StreamingFrame.unmark(data)
    val txn = Some((appId, batchId))
    writeType match {
      case "append" => graft.write.Writers.append(spark, path, batch, writeOpts, txn = txn)
      case "overwrite" => graft.write.Writers.overwrite(spark, path, batch, writeOpts, txn = txn)
      case "scd1" =>
        require(keys.nonEmpty, "writeType=scd1 requires .option(\"keys\", ...)")
        graft.write.Writers.scd1(spark, path, batch, keys, writeOpts, txn = txn)
      case "scd2" =>
        require(keys.nonEmpty, "writeType=scd2 requires .option(\"keys\", ...)")
        graft.write.Writers.scd2(spark, path, batch, keys, writeOpts, txn = txn)
      case other => throw new IllegalArgumentException(
        s"graft-table sink writeType $other (append, overwrite, scd1, scd2)")
    }
    ()
  }

  override def toString: String = s"TableStreamSink[$path,$writeType]"
}

/** `format("graft-table")` registration (META-INF services). */
final class TableStreamProvider extends StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider with DataSourceRegister {
  override def shortName(): String = "graft-table"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase("path") => v }
      .getOrElse(throw new IllegalArgumentException(
        "graft-table stream requires .option(\"path\", <table root>)"))

  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode):
      org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "graft-table sink: use the table's own clustering/partitioning, not partitionBy")
    new TableStreamSink(sqlContext, pathOf(parameters), parameters, outputMode)
  }

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val path = pathOf(parameters)
    val c = ManagedTable(sqlContext.sparkSession, path).lastCommit.getOrElse(
      throw new IllegalStateException(
        s"managed table $path does not exist — streams need a created table"))
    val cdf = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("readChangeFeed") => v.toBoolean
    }.getOrElse(false)
    val base = StructType.fromDDL(c.schemaDdl)
    val inferred =
      if (!cdf) base
      else base.add("_change_type", "string")
        .add("_commit_version", "long")
        .add("_commit_timestamp", "timestamp")
    (s"graft-table[$path]", schema.getOrElse(inferred))
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source =
    new TableStreamSource(sqlContext, pathOf(parameters), metadataPath, parameters)
}
