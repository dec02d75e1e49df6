package graft.write

import graft.table.{KeySet, ManagedTable}
import graft.table.ManagedTable.Commit
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Table constraint failure (reference: core/exception/execution.py). */
final class WriteTableConstraintError(msg: String) extends RuntimeException(msg)

/**
 * Binds the pure [[WritePatterns]] transforms to [[ManagedTable]]
 * persistence — the equivalent of the reference's write functions
 * executing Delta merges and then capturing commit stats
 * (write.py:303-317, :531-544, :997-1010, delta.py:134-168).
 *
 * `persist_dataset` / `stage_results` follow the reference
 * (write.py:81-86): DISK_ONLY persist around merges, `localCheckpoint`
 * to truncate lineage for long foreachBatch chains.
 */
object Writers {

  import MergeEmulator.{ChangeMark, PreMark}
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{coalesce, col, count, lit, max, when}

  /** How a merge's target read and commit are scoped. */
  private sealed trait MergeScope
  /** Read the whole table, commit a full replace. */
  private case object FullScope extends MergeScope
  /** Partition-scoped (`use_paritition_column_in_merge`): read + replace
    * only the source's partitions via [[ManagedTable.selectiveOverwrite]]. */
  private case object PartScope extends MergeScope
  /** File-scoped: read only `rewritten` dirs (those whose min/max key
    * stats MAY contain a source key), commit `carried` dirs by reference. */
  private final case class FileScope(rewritten: Seq[String],
                                     carried: Seq[String]) extends MergeScope

  /** Partition-scoped merge commits are active when the physical layout is
    * partitioned and every partition column participates in the merge
    * condition (`use_paritition_column_in_merge`, write.py:472-486) — only
    * then does the merge result contain the COMPLETE contents of every
    * touched partition, so the commit can be prevDirs − touched + new
    * instead of a full-table rewrite (the reference's file-skipping
    * intent, write.py:190-213). */
  private def partitionScoped(opts: WriteOptions, partitionBy: Seq[String]): Boolean =
    partitionBy.nonEmpty && partitionBy.forall(opts.usePartitionColumnInMerge.contains)

  /** Restrict the merge target to the partitions present in the source
    * batch: the distinct source partition tuples' [[KeySet.bound]] (one
    * small job over the already-staged source) becomes a literal
    * predicate, so the target scan prunes untouched partitions at
    * PLANNING time: a one-partition merge into a 100 TB table reads one
    * partition, not 100 TB. A backfill touching more tuples than the
    * IN-list cap gets the per-column [min,max] bound instead —
    * conservative: extra partitions read pass through the merge
    * unmatched and are replaced with identical content by
    * [[ManagedTable.selectiveOverwrite]], which keys the replacement off
    * the partitions PRESENT in the result, so correctness never depends
    * on the predicate being tight. */
  private[graft] def scopedTarget(table: ManagedTable, source: DataFrame,
                                  partitionBy: Seq[String]): DataFrame =
    KeySet(source.select(partitionBy.map(c => col(s"`$c`")): _*).distinct(),
      partitionBy).bound.fold(table.read)(table.read.filter)

  /** Max dirs one exact probe aggregate covers (the probe builds one
    * conjunction per dir into the agg); larger tables probe in chunks. */
  private val DirProbeCap = 512

  /** The batch-side column and a stat-string parser, in the same domain
    * [[graft.table.DataSkipping]] renders that type's stats in. None =
    * uninterpretable type (callers treat the dir as affected). */
  private def statDomain(dt: org.apache.spark.sql.types.DataType,
                         c: Column): Option[(Column, String => Option[Column])] = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType => Some((c, s => scala.util.Try {
        // validate DRIVER-side: an unparseable stat (NaN/Infinity/exotic)
        // must become "dir affected", never a runtime-null comparison
        // that would silently read as "dir carried"
        BigDecimal(s.trim)
        lit(s).cast(dt)
      }.toOption))
      case StringType => Some((c, s => Some(lit(s))))
      case DateType => Some((c, s =>
        scala.util.Try(lit(java.time.LocalDate.parse(s).toString).cast(DateType)).toOption))
      case TimestampType => Some((
        org.apache.spark.sql.functions.unix_micros(c),
        s => scala.util.Try(lit(s.toLong)).toOption))
      case _ => None
    }
  }

  /**
   * EXACT per-dir (affected, carried) split: one aggregate pass over
   * the batch per [[DirProbeCap]] dirs evaluates, for every dir, "does
   * any batch key fall inside this dir's per-key [min,max] box?" — no
   * IN-list cap, no interval coarseness, any stats-eligible key type,
   * any table size. This is what kills the bimodal-batch false
   * positive: a range bound must span the gap between the update range
   * and the new-id range, but the per-dir box test never conflates
   * them. NULL counts ride the first pass; None when a key is NULL (a
   * NULL key's null-safe match can't be boxed → full-table merge). Dirs
   * whose stats are absent/uninterpretable count as affected; dirs
   * all-NULL for a key can never match a (non-null-keyed) batch and are
   * carried.
   */
  private def probeAffectedDirs(c: Commit, source: DataFrame,
                                keys: Seq[String])
      : Option[(Seq[String], Seq[String])] = {
    import graft.table.DataSkipping.ColMinMax
    import org.apache.spark.sql.types.StructType
    val schema = StructType.fromDDL(c.schemaDdl)
    // the probe domain is the TABLE column's type — that is what
    // DataSkipping rendered the stat strings from, so stat values always
    // round-trip through it, where the SOURCE type might not hold them
    // (int batch keys probing a long-keyed table would cast the stats to
    // runtime NULL → a may-match dir wrongly carried → stale rows). The
    // batch column is cast INTO that domain: widening is lossless, and a
    // narrowing overflow can only make extra dirs look affected, never
    // hide a true match (cast is the identity on every value that could
    // equal a table key).
    val domains = keys.map { k =>
      k -> schema.fields.find(_.name == k)
        .flatMap(f => statDomain(f.dataType, col(s"`$k`").cast(f.dataType)))
    }.toMap
    // driver-side triage: per dir either a batch-side predicate to
    // probe, or an immediate affected/carried verdict
    val AlwaysAffected = Left(true); val NeverMatch = Left(false)
    val triaged: Seq[(String, Either[Boolean, Column])] = c.dirs.map { d =>
      d -> (c.dirStats.get(d) match {
        case None => AlwaysAffected
        case Some(st) =>
          val perKey: Seq[Either[Boolean, Column]] = keys.map { k =>
            (st.get(k), domains(k)) match {
              case (Some(ColMinMax(None, None, _)), _) => NeverMatch
              case (Some(ColMinMax(Some(mn), Some(mx), _)), Some((nk, parse))) =>
                (parse(mn), parse(mx)) match {
                  case (Some(lo), Some(hi)) => Right(nk >= lo && nk <= hi)
                  case _ => AlwaysAffected
                }
              case _ => AlwaysAffected
            }
          }
          if (perKey.contains(NeverMatch)) NeverMatch
          else if (perKey.forall(_.isRight))
            Right(perKey.collect { case Right(p) => p }.reduce(_ && _))
          else AlwaysAffected
      })
    }
    val probes = triaged.collect { case (d, Right(p)) => d -> p }
    val nullAggs = keys.zipWithIndex.map { case (k, i) =>
      count(when(col(s"`$k`").isNull, 1)).as(s"__nl$i")
    }
    val chunks = if (probes.isEmpty) Seq(Nil) else probes.grouped(DirProbeCap).toSeq
    val hit = chunks.zipWithIndex.flatMap { case (chunk, ci) =>
      // unknown → affected, mirroring DataSkipping.mayMatch: a probe can
      // still go NULL at runtime (decimal overflow on the batch-side
      // cast), and when(NULL, 1).otherwise(0) would read as "carried" —
      // exactly the false carry this probe exists to prevent
      val probeAggs = chunk.zipWithIndex.map { case ((_, p), i) =>
        max(when(coalesce(p, lit(true)), 1).otherwise(0)).as(s"__d$i")
      }
      val aggs = (if (ci == 0) nullAggs else Nil) ++ probeAggs
      val row = source.agg(aggs.head, aggs.tail: _*).head()
      if (ci == 0 && keys.indices.exists(i => row.getAs[Long](s"__nl$i") > 0))
        return None
      chunk.zipWithIndex.collect {
        case ((d, _), i) if !row.isNullAt(row.fieldIndex(s"__d$i")) &&
          row.getAs[Int](s"__d$i") == 1 => d
      }
    }.toSet
    val (affected, carried) = triaged.partition {
      case (_, Left(a)) => a
      case (d, Right(_)) => hit.contains(d)
    }
    Some((affected.map(_._1), carried.map(_._1)))
  }

  /**
   * Resolve how this merge is scoped. Partition scoping (explicitly
   * requested, exact) wins; otherwise, when the table's snapshot is
   * composed of several dirs (appends, [[ManagedTable.clusterBy]] /
   * [[ManagedTable.clusterByRange]] buckets, earlier file-scoped
   * merges), the stored per-dir min/max stats on the RAW merge keys
   * split the dirs into "may contain a source key" vs "provably cannot"
   * — the merge then reads only the former and commits the latter by
   * reference. The split comes from [[probeAffectedDirs]] (exact, one
   * batch pass per [[DirProbeCap]] dirs). Matching is on the key hash,
   * but key-hash equality implies raw-key equality, so a dir whose
   * raw-key box misses every source key can hold no matched row; the
   * probe is conservative (stat-less dirs rewrite).
   */
  private def resolveScope(table: ManagedTable, readCommit: Option[Commit],
                           source: DataFrame,
                           keys: Seq[String], opts: WriteOptions,
                           partitionBy: Seq[String]): MergeScope =
    if (partitionScoped(opts, partitionBy)) PartScope
    else readCommit match {
      // 1 dir: file scope degenerates to replace
      case Some(c) if c.dirs.size > 1 =>
        probeAffectedDirs(c, source, keys) match {
          case Some((rewritten, carried)) if carried.nonEmpty =>
            FileScope(rewritten, carried)
          case _ => FullScope
        }
      case _ => FullScope
    }

  /**
   * Commit a merge result, recording the change data feed when enabled
   * (the `delta.enableChangeDataFeed` analogue; reference consumes it via
   * delta_source.py:198-250). With CDF on, the merge output carries
   * [[MergeEmulator.ChangeMark]]/[[MergeEmulator.PreMark]]; one DISK_ONLY
   * persist materializes the full-outer join once and feeds BOTH the
   * snapshot write and the change-set write — at 100 TB the join is the
   * dominant cost and must never run twice.
   *
   * Partition-scoped merges commit through
   * [[ManagedTable.selectiveOverwrite]] and file-scoped merges through
   * [[ManagedTable.writeCarried]]: either way untouched files are
   * carried into the new version by reference, byte-identical.
   */
  private def commitMerge(table: ManagedTable, result: DataFrame, op: String,
                          opts: WriteOptions, userMetadata: Option[String],
                          partitionBy: Seq[String], scope: MergeScope,
                          readVersion: Option[Long],
                          rebase: Option[Commit => Option[Seq[String]]] = None,
                          txn: Option[(String, Long)] = None): Commit = {
    // every scope refuses to publish a result computed against a stale
    // head: a concurrent commit between scope/target resolution and here
    // would otherwise have its data silently dropped from the snapshot.
    // File-scoped commits additionally try the `rebase` resolution first
    // (recompose carried dirs against the new head, keep the result).
    def commit(snapshot: DataFrame, change: Option[DataFrame]): Commit =
      scope match {
        case PartScope =>
          table.selectiveOverwrite(snapshot, partitionBy, userMetadata, op,
            change, expectedPrevVersion = readVersion, txnUpdate = txn)
        case FileScope(rewritten, carried) =>
          table.writeCarried(snapshot, carried, op, userMetadata, change,
            Map("numRewrittenDirs" -> rewritten.size.toString,
              "numCarriedDirs" -> carried.size.toString),
            expectedPrevVersion = readVersion,
            rebase = rebase, txnUpdate = txn)
        case FullScope =>
          table.write(snapshot, op, "replace", userMetadata, partitionBy,
            change, expectedPrevVersion = readVersion, txnUpdate = txn)
      }
    if (!opts.enableChangeDataFeed)
      commit(result, None)
    else {
      val tracked = result.persist(StorageLevel.DISK_ONLY)
      try {
        val snapshot = tracked.drop(ChangeMark, PreMark)
        // Delta CDF row shape: postimages + inserts keep the data columns,
        // preimages expand the saved pre-update struct
        val post = tracked.filter(col(ChangeMark).isNotNull)
          .drop(PreMark)
          .withColumnRenamed(ChangeMark, "_change_type")
        val pre = tracked.filter(col(ChangeMark) === "update_postimage")
          .select(col(s"$PreMark.*"))
          .withColumn("_change_type", lit("update_preimage"))
        commit(snapshot, Some(post.unionByName(pre)))
      } finally { tracked.unpersist(); () }
    }
  }

  /** The target frame a merge reads under `scope`: the full snapshot,
    * only the source's partitions, or only the may-match dirs. */
  private def mergeTarget(table: ManagedTable, source: DataFrame,
                          partitionBy: Seq[String], scope: MergeScope): DataFrame =
    scope match {
      case PartScope => scopedTarget(table, source, partitionBy)
      case FileScope(rewritten, _) => table.readDirsSubset(rewritten)
      case FullScope => table.read
    }

  private def staged(df: DataFrame, opts: WriteOptions): DataFrame = {
    val p = if (opts.persistDataset) df.persist(StorageLevel.DISK_ONLY) else df
    if (opts.stageResults) p.localCheckpoint() else p
  }

  /** Bound on end-to-end merge attempts when every cheaper conflict
    * resolution (carried-dir rebase inside [[ManagedTable.writeCarried]])
    * declines and the merge must re-resolve scope and recompute. */
  private val MaxMergeAttempts = 5

  /**
   * Shared scd1/2/3 driver: stage the source, resolve the merge scope,
   * compute the pattern, commit — and resolve commit conflicts the way
   * Delta does, so continuous ingest and table maintenance can overlap:
   *
   *  1. FILE-SCOPED commits first try a REBASE (no join recompute): on
   *     conflict, re-probe the (checkpointed) source against the new
   *     head's dir stats; if the affected-dir set is UNCHANGED — the
   *     racer was an append of non-matching keys, or a compaction /
   *     merge of carried dirs — the already-computed result is still
   *     exactly right, and only the carried composition is recomposed
   *     to `headDirs − rewritten`. A head with another definition or
   *     other deletion vectors disqualifies the rebase
   *     ([[ManagedTable.writeCarried]] decides that half).
   *  2. Otherwise (overlapping racer, partition/full scope) the merge
   *     RE-RESOLVES scope against the new head and recomputes — bounded
   *     by [[MaxMergeAttempts]], then the conflict surfaces.
   *
   * The source is localCheckpoint'ed before any file-scope probe reads
   * it (unless the caller's persist/stage knobs already froze it): the
   * probe and the merge must see the SAME key set even for a
   * nondeterministic source plan, and the rebase re-probe relies on the
   * source being immutable across attempts.
   */
  private def runMerge(spark: SparkSession, path: String, source: DataFrame,
                       keys: Seq[String], opts: WriteOptions,
                       userMetadata: Option[String], partitionBy: Seq[String],
                       op: String,
                       targetSchema: org.apache.spark.sql.types.StructType,
                       pattern: (DataFrame, DataFrame) => DataFrame,
                       txn: Option[(String, Long)] = None): Commit = {
    val table = ManagedTable(spark, path)
    table.createIfNotExists(targetSchema)
    var s = staged(source, opts)
    var barriered = opts.stageResults || opts.persistDataset
    var attempt = 0
    var lastErr: ManagedTable.ConcurrentCommitException = null
    try {
      while (attempt < MaxMergeAttempts) {
        attempt += 1
        val readCommit = table.lastCommit
        val probeEngages = !partitionScoped(opts, partitionBy) &&
          readCommit.exists(_.dirs.size > 1)
        if (probeEngages && !barriered) { s = s.localCheckpoint(); barriered = true }
        val scope = resolveScope(table, readCommit, s, keys, opts, partitionBy)
        val result = pattern(
          evolveTarget(mergeTarget(table, s, partitionBy, scope), s, opts), s)
        val rebase: Option[Commit => Option[Seq[String]]] = scope match {
          case FileScope(rewritten, _) => Some(head =>
            probeAffectedDirs(head, s, keys).collect {
              case (affected, carried) if affected.toSet == rewritten.toSet =>
                carried
            })
          case _ => None
        }
        try {
          val committed = commitMerge(table, result, op, opts, userMetadata,
            partitionBy, scope, readCommit.map(_.version), rebase, txn)
          autoCompact(table, committed, opts)
          return committed
        } catch {
          case e: ManagedTable.ConcurrentCommitException => lastErr = e
        }
      }
      throw lastErr
    } finally unstage(s, opts)
  }

  private def unstage(df: DataFrame, opts: WriteOptions): Unit =
    if (opts.persistDataset) { df.unpersist(); () }

  /** Best-effort post-merge auto-compaction (see
    * `WriteOptions.autoCompactMinDirs`): folds small dirs when the
    * snapshot crosses the dir-count threshold. Never fails the merge —
    * a concurrent commit landing mid-compaction (compactDirs declines
    * its rebase when a folded dir was rewritten) just skips this round;
    * the next merge crosses the threshold again and retries. */
  private def autoCompact(table: ManagedTable, committed: Commit,
                          opts: WriteOptions): Unit =
    opts.autoCompactMinDirs.foreach { minDirs =>
      if (committed.partitionBy.isEmpty && committed.dirs.size >= minDirs)
        try { table.compactDirs(opts.autoCompactMaxDirBytes); () }
        catch { case _: ManagedTable.ConcurrentCommitException => () }
    }

  /** Schema evolution for merges (Delta `autoMerge` analogue): source
    * columns absent from the target widen it with typed NULLs, so the
    * merge output carries the union schema — matched rows take the new
    * values, untouched rows (and carried/old data dirs, which parquet
    * serves as NULL under the widened read schema) read NULL. Without
    * `mergeSchema` a new source column fails loudly: the merge's
    * target-schema projection would silently drop it while its value
    * still enters the stored data hash, leaving every matched key
    * perpetually "changed". */
  private def evolveTarget(target: DataFrame, source: DataFrame,
                           opts: WriteOptions): DataFrame = {
    val newFields = source.schema.fields.filterNot(f =>
      target.columns.exists(_.equalsIgnoreCase(f.name)))
    if (newFields.isEmpty) target
    else if (!opts.mergeSchema)
      throw new IllegalArgumentException(
        s"merge source brings columns not in the target schema: " +
          s"${newFields.map(_.name).mkString(", ")}; pass mergeSchema = true " +
          "to evolve the table (new columns read NULL for existing rows)")
    else newFields.foldLeft(target)((d, f) =>
      d.withColumn(f.name, lit(null).cast(f.dataType)))
  }

  def append(spark: SparkSession, path: String, source: DataFrame,
             opts: WriteOptions = WriteOptions(),
             userMetadata: Option[String] = None,
             partitionBy: Seq[String] = Nil,
             txn: Option[(String, Long)] = None): Commit = {
    val df = WritePatterns.appendColumns(source, opts)
    ManagedTable(spark, path).write(df, "APPEND", "append", userMetadata, partitionBy,
      txnUpdate = txn)
  }

  def overwrite(spark: SparkSession, path: String, source: DataFrame,
                opts: WriteOptions = WriteOptions(),
                userMetadata: Option[String] = None,
                partitionBy: Seq[String] = Nil,
                txn: Option[(String, Long)] = None): Commit = {
    val df = WritePatterns.appendColumns(source, opts)
    ManagedTable(spark, path).write(df, "OVERWRITE", "replace", userMetadata, partitionBy,
      txnUpdate = txn)
  }

  /** Partition-scoped replace — the `selective_overwrite` write type the
    * reference declares but never implements (sources.py:85). Stamps the
    * same append metadata columns, then replaces ONLY the partitions
    * present in the batch (ManagedTable.selectiveOverwrite). */
  def selectiveOverwrite(spark: SparkSession, path: String, source: DataFrame,
                         partitionBy: Seq[String],
                         opts: WriteOptions = WriteOptions(),
                         userMetadata: Option[String] = None,
                         txn: Option[(String, Long)] = None): Commit = {
    val df = WritePatterns.appendColumns(source, opts)
    ManagedTable(spark, path).selectiveOverwrite(df, partitionBy, userMetadata,
      txnUpdate = txn)
  }

  def scd1(spark: SparkSession, path: String, source: DataFrame, keys: Seq[String],
           opts: WriteOptions = WriteOptions(),
           userMetadata: Option[String] = None,
           partitionBy: Seq[String] = Nil,
           txn: Option[(String, Long)] = None): Commit =
    runMerge(spark, path, source, keys, opts, userMetadata, partitionBy,
      "MERGE(scd1)", WritePatterns.targetSchemaFor(source, "scd1", keys, Nil, opts),
      (target, s) => WritePatterns.scd1(target, s, keys, opts), txn)

  def scd2(spark: SparkSession, path: String, source: DataFrame, keys: Seq[String],
           opts: WriteOptions = WriteOptions(),
           userMetadata: Option[String] = None,
           partitionBy: Seq[String] = Nil,
           txn: Option[(String, Long)] = None): Commit =
    runMerge(spark, path, source, keys, opts, userMetadata, partitionBy,
      "MERGE(scd2)", WritePatterns.targetSchemaFor(source, "scd2", keys, Nil, opts),
      (target, s) => WritePatterns.scd2(target, s, keys, opts), txn)

  def scd3(spark: SparkSession, path: String, source: DataFrame, keys: Seq[String],
           columnAttributes: Seq[String],
           opts: WriteOptions = WriteOptions(),
           userMetadata: Option[String] = None,
           partitionBy: Seq[String] = Nil,
           changeTracking: Option[(String, Seq[String], String)] = None,
           txn: Option[(String, Long)] = None): Commit =
    runMerge(spark, path, source, keys, opts, userMetadata, partitionBy,
      "MERGE(scd3)",
      WritePatterns.targetSchemaFor(source, "scd3", keys, columnAttributes, opts),
      (target, s) => WritePatterns.scd3(target, s, keys, columnAttributes, opts,
        changeTracking), txn)

  /** Pre-write FK-ish constraint (write.py:1165-1189): every (table,
    * columns) dependency must cover all source rows. */
  def tableConstraint(source: DataFrame, targetName: String,
                      dependencies: Seq[(DataFrame, Seq[String])]): Unit =
    dependencies.foreach { case (ref, columns) =>
      val missing = WritePatterns.constraintViolations(source, ref, columns).count()
      if (missing > 0)
        throw new WriteTableConstraintError(
          s"Source dataframe of target table $targetName has $missing rows " +
            s"failing the table constraint on columns ${columns.mkString(",")}")
    }
}
