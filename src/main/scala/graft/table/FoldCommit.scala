package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The fold-commit protocol of every standing view's STATE table — one
 * kernel behind the aggregate marts ([[IncrementalAggView]],
 * [[IncrementalJoinAggView]]), the [[RowLocalIndexView]] family and the
 * additive model views ([[CorpusLmView]], [[ClassifierModelView]]).
 * Each family supplies only its delta math; what lands on the state
 * table, and how a refresh finds where it stands, is decided here.
 *
 * METADATA. Every fold's final commit carries the folded source
 * position in its `userMetadata`: `{"sourceVersion":v,…}` for a
 * single-source view, `{"leftVersion":l,"rightVersion":r,…}` for the
 * join mart (the two sources' watermarks). Families append their own
 * keys after the position (`stateRows`, the BM25 corpus scalars, the
 * classifier priors, quantizer versions). A pending tombstone carries
 * ONLY the target position under the `pending…` keys
 * (`{"pendingSourceVersion":v}`, or the left/right pair).
 *
 * COMMIT SHAPES (operation `<prefix>_INIT` / `_<append>` / `_REFRESH`):
 *   - init: one replace of the full state, position = the sources'
 *     current versions;
 *   - empty append: the slice nets to nothing, the position still
 *     advances so the sources' retention holds slide;
 *   - replace: the whole state rewritten in one commit;
 *   - tombstone-then-append: deletion vectors on the touched rows
 *     carrying the PENDING marker, then an append fenced on the
 *     tombstone's own version carrying the position, `txn` and the
 *     family's live-row stamp.
 * The holds slide only after a fold's final commit landed: a crashed
 * fold keeps the older, safer pin.
 *
 * THE WALK. [[walk]] reads the state's log newest-first (lazily —
 * O(one log batch) for the usual head-resident watermark) and stops at
 * the newest commit carrying a position or a pending marker; a pending
 * marker continues the walk to the position below it. Maintenance
 * commits (purge, compact, cluster, OPTIMIZE, ANALYZE) carry no
 * metadata and are transparent, and RESTORE confines the rest of the
 * walk to the restored version's history ([[commits]]).
 *
 * FENCE AND RESUME. The walk also records the head it read: the
 * position was read under that head, so a fold that fences its first
 * commit on it can never land over a racer — any commit in between
 * fails the fence with [[ManagedTable.ConcurrentCommitException]]. A
 * pending marker means a fold crashed between its tombstone and its
 * append (or a maintenance commit landed in between): [[resume]] lands
 * the missing append, fenced on the head the walk read, so a second
 * resumer loses the same way. The change-feed range is immutable and
 * the tombstoned rows stay readable one version below the tombstone,
 * so the family recomputes the identical append.
 */
private[table] final class FoldCommit(spark: SparkSession, statePath: String,
                                      val what: String,
                                      val sources: Seq[String],
                                      prefix: String,
                                      appendSuffix: String = "REFRESH") {
  import FoldCommit._

  require(sources.sizeIs == 1 || sources.sizeIs == 2,
    "a fold position covers one source or a join's two")
  private val (keys, pendingKeys) =
    if (sources.sizeIs == 1) SourceKeys else JoinKeys
  private val MarkRe =
    keys.map(k => s""""$k":(\\d+)""").mkString(",").r
  private val PendingRe =
    pendingKeys.map(k => s""""$k":(\\d+)""").mkString("\\{", ",", "\\}").r

  def state: ManagedTable = ManagedTable(spark, statePath)
  private val initOp = s"${prefix}_INIT"
  private val appendOp = s"${prefix}_$appendSuffix"
  private val replaceOp = s"${prefix}_REFRESH"

  /** The position metadata `{"<key>":v,…}` plus family `extra` keys. */
  def mark(to: Seq[Long], extra: (String, Long)*): String =
    (keys.zip(to) ++ extra).map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")

  /** The position plus the live-row stamp of an append of `appended`
    * rows over `tombstone`, from `old` live rows. */
  def markRows(to: Seq[Long], old: Long, tombstone: ManagedTable.Commit,
               appended: Long): String =
    mark(to, "stateRows" -> (old - deletedRows(tombstone) + appended))

  private def pending(to: Seq[Long]): String =
    pendingKeys.zip(to).map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")

  /** The position of the newest position-bearing commit at or below
    * `atOrBelow` (None = the head) — see the class doc. Throws when
    * the state does not exist or no commit carries a position. */
  def walk(atOrBelow: Option[Long] = None): Pos = {
    var head = -1L
    var open: Option[(ManagedTable.Commit, Seq[Long])] = None
    commits(state, atOrBelow).foreach { c =>
      if (head < 0) head = c.version
      c.userMetadata.foreach { m =>
        MarkRe.findFirstMatchIn(m) match {
          case Some(g) =>
            return Pos(head, (1 to keys.size).map(g.group(_).toLong), c, open)
          case None =>
            if (open.isEmpty) PendingRe.findFirstMatchIn(m).foreach(g =>
              open = Some((c, (1 to keys.size).map(g.group(_).toLong))))
        }
      }
    }
    require(head >= 0,
      s"$what state $statePath does not exist — call initialize() first")
    throw new IllegalStateException(atOrBelow match {
      case None => s"no commit in the $what state's history carries a " +
        "watermark — was the state table created outside the view?"
      case Some(v) => s"no commit at or below state version $v carries a " +
        s"watermark — is it before the $what's initialize()?"
    })
  }

  /** Land a half-applied fold's missing append (no-op without one):
    * `finish` recomputes the append's rows and metadata from the
    * pending tombstone and the position below it. The append is fenced
    * on the head the walk read. Returns the position after it. */
  def resume(pos: Pos)(finish: Pos => (DataFrame, String)): Pos =
    pos.pending match {
      case None => pos
      case Some((_, to)) =>
        val (rows, meta) = finish(pos)
        val c = state.write(rows, appendOp, "append", Some(meta),
          mergeSchema = true, expectedPrevVersion = Some(pos.head))
        hold(to)
        Pos(c.version, to, c)
    }

  /** Pin each source's retention at its folded version. */
  def hold(to: Seq[Long]): Unit =
    sources.zip(to).foreach { case (p, v) =>
      ManagedTable(spark, p).setRetentionHold(statePath, v)
    }

  /** The init commit: the full state from the sources' versions `to`. */
  def init(rows: DataFrame, to: Seq[Long], meta: String,
           properties: Option[Map[String, String]] = None): Unit = {
    state.write(rows, initOp, "replace", Some(meta),
      propertiesOverride = properties)
    hold(to)
  }

  /** An append fold (the empty append when `rows` is empty). Appends
    * merge schemas: names and types are fixed by the family, but
    * NULLABILITY can legitimately differ from the state's (a compaction
    * pass reads-and-rewrites, widening NOT NULL away) — exact-DDL
    * matching would refuse the append for that alone. */
  def append(rows: DataFrame, to: Seq[Long], meta: String, fence: Long,
             txn: Option[(String, Long)]): Unit = {
    state.write(rows, appendOp, "append", Some(meta), mergeSchema = true,
      expectedPrevVersion = Some(fence), txnUpdate = txn)
    hold(to)
  }

  /** A replace fold: the whole state in one commit. */
  def replace(rows: DataFrame, to: Seq[Long], meta: String, fence: Long,
              txn: Option[(String, Long)]): Unit = {
    state.write(rows, replaceOp, "replace", Some(meta),
      expectedPrevVersion = Some(fence), txnUpdate = txn)
    hold(to)
  }

  /** The two-commit fold: `tombstone(pendingMeta, fence)` lands the
    * deletion vectors under the pending marker, then the append built
    * by `rows(tombstoneCommit)` lands fenced on the tombstone's own
    * version — a resumer that finished this fold in between makes it
    * fail instead of landing twice. */
  def tombstoneThenAppend(to: Seq[Long], fence: Long,
                          txn: Option[(String, Long)])(
      tombstone: (Option[String], Option[Long]) => ManagedTable.Commit)(
      rows: ManagedTable.Commit => (DataFrame, String)): Unit = {
    val dvc = tombstone(Some(pending(to)), Some(fence))
    val (df, meta) = rows(dvc)
    state.write(df, appendOp, "append", Some(meta), mergeSchema = true,
      expectedPrevVersion = Some(dvc.version), txnUpdate = txn)
    hold(to)
  }

  /** Retention for the state, clamped to the newest position-bearing
    * commit: maintenance lands metadata-less commits above the last
    * fold, and a purely count-based cut could prune every positioned
    * commit and wedge the walk. */
  def vacuum(keepLast: Int): ManagedTable.VacuumStats = {
    val keep = scala.util.Try(walk()).toOption
      .map(p => math.max(keepLast.toLong, p.head - p.at.version + 1).toInt)
      .getOrElse(keepLast)
    state.vacuum(keep)
  }

  /** The batch refresh of a single-source view: fold the unprocessed
    * range `(position, latest]` of the source's change feed with
    * `fold(slice, position, latest)`. No-op (no commit) when current.
    * Returns the new watermark. */
  def refresh(pos: Pos)(fold: (DataFrame, Pos, Long) => Unit): Long = {
    val last = pos.version
    val source = ManagedTable(spark, sources.head)
    val latest = source.latestVersion.getOrElse(throw new IllegalStateException(
      s"source table ${sources.head} does not exist"))
    require(latest >= last,
      s"source went backwards: watermark $last, latest $latest — was the " +
        "source table recreated? Re-initialize the view.")
    if (latest != last)
      fold(CdfNetting.cdfSlice(source, last, latest, what), pos, latest)
    latest
  }
}

private[table] object FoldCommit {
  private val SourceKeys = (Seq("sourceVersion"), Seq("pendingSourceVersion"))
  private val JoinKeys = (Seq("leftVersion", "rightVersion"),
    Seq("pendingLeftVersion", "pendingRightVersion"))
  private val StateRowsRe = """"stateRows":(\d+)""".r

  /** Rows a tombstone commit hid. */
  def deletedRows(tombstone: ManagedTable.Commit): Long =
    tombstone.operationMetrics("numDeletedRows").toLong

  /** Where a state stands: `head` is the newest commit the walk read
    * (the fence of the next fold), `mark` the position carried by the
    * newest position-bearing commit `at`, and `pending` a half-applied
    * fold's tombstone above it with its target position. */
  final case class Pos(head: Long, mark: Seq[Long], at: ManagedTable.Commit,
                       pending: Option[(ManagedTable.Commit, Seq[Long])] = None) {
    /** The (primary) source watermark. */
    def version: Long = mark.head

    /** Live state rows at `at`, from the log alone: a `stateRows` stamp
      * when the fold carried one, else the commit's own output count
      * (a replace or init commit's rows ARE the state). */
    def stateRows: Long = at.userMetadata
      .flatMap(m => StateRowsRe.findFirstMatchIn(m).map(_.group(1).toLong))
      .getOrElse(at.operationMetrics.getOrElse("numOutputRows", "0").toLong)
  }

  /** The state's commits newest-first, RESTORE-confined: a restore TO a
    * metadata-less maintenance commit carries no position itself, and
    * the commits between the restore target and the restore (the
    * rolled-back folds) describe data the table no longer holds —
    * walking into them would pair the OLD restored fold with a NEWER
    * superseded watermark. So on meeting `RESTORE(version=V)` the walk
    * jumps to V (nested restores compose — each can only lower the
    * cap); an AS-OF walk starts its cap at the pinned version. Lazy
    * ([[ManagedTable.metaHistory]] — raw entries, batched). */
  def commits(state: ManagedTable,
              atOrBelow: Option[Long] = None): Iterator[ManagedTable.Commit] = {
    var cap = atOrBelow.getOrElse(Long.MaxValue)
    state.metaHistory.filter { c =>
      val in = c.version <= cap
      if (in) c.operationMetrics.get("restoredVersion")
        .foreach(v => cap = math.min(cap, v.toLong))
      in
    }
  }

  /** The first value `pick` finds in the state's metadata at or below
    * `atOrBelow`, walking like [[commits]] — for family keys that ride
    * beside the position (quantizer versions, corpus scalars). */
  def metaFirst[A](state: ManagedTable, what: String, statePath: String,
                   atOrBelow: Option[Long])(pick: String => Option[A]): Option[A] = {
    require(state.exists,
      s"$what state $statePath does not exist — call initialize() first")
    commits(state, atOrBelow).flatMap(_.userMetadata).flatMap(pick).nextOption()
  }
}
