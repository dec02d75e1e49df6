package graft.table

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Incrementally-maintained JOIN-aggregate view over TWO [[ManagedTable]]s
 * — the star-join materialization [[IncrementalAggView]] cannot express
 * (it folds one table's change feed; real marts aggregate fact ⋈
 * dimension). Maintains `SELECT groupCols, count(*), sum(sumCols) FROM
 * L JOIN R USING (joinKeys) GROUP BY groupCols` under ANY mix of
 * appends, deletes, and updates on EITHER side, reading only:
 *
 *   - each side's unprocessed change-feed range (`dL`, `dR`), and
 *   - the OTHER side's watermark snapshot, SEMI-JOIN PRUNED to the
 *     delta's join keys before the real join — so the big side is
 *     scanned narrow (one pass, no shuffle of it) and never re-joined
 *     wholesale.
 *
 * The algebra is the classic signed delta-join identity over signed
 * multisets (inner equi-join, additive aggregates):
 * {{{
 *   L1⋈R1 − L0⋈R0 = dL⋈R0 + L0⋈dR + dL⋈dR
 * }}}
 * where change rows carry sign +1 (insert / update_postimage) or −1
 * (delete / update_preimage) and a joined pair's sign is the product.
 * Update rows that move a join key or group key are just a (−1, +1)
 * pair, so they fall out of the same identity. A dir-rewrite commit's
 * coarse feed (all old dir rows − / survivors +) nets to the same
 * delta as a minimal per-row feed — the additivity argument of
 * [[IncrementalAggView]], unchanged.
 *
 * THE WRITE SIDE IS O(TOUCHED GROUPS), like [[IncrementalAggView]]: a
 * fold whose touched-group set stays under
 * [[RowLocalIndexView.RewriteFractionPct]] of the state's rows lands as
 * the [[FoldCommit]] tombstone-then-append shape (its pending marker
 * names both sides' target versions) — a per-customer mart at 10^9
 * groups folds a small delta by writing O(touched groups) rows, not by
 * replacing 10^9; a full-churn fold takes the one-replace path. State
 * is born range-clustered by group key; [[maintain]] purges tombstones
 * and folds the append tail.
 *
 * Sums carry as `DECIMAL(28,6)` (exact under subtraction, like the
 * single-table view); groups whose count reaches zero leave the state.
 * `minMaxCols` adds MIN/MAX, which are not delta-maintainable under
 * deletes — they maintain by TOUCHED-GROUP recompute over the new
 * watermark snapshots (each side semi-pruned by its own group columns
 * before the join), exactly the single-table view's rule lifted to a
 * join source; untouched groups carry their stored min/max unread.
 * Both watermark versions ride each fold's final commit (the kernel's
 * `leftVersion`/`rightVersion` position), so refresh is idempotent and
 * restart-safe; the kernel's fences keep racing refreshes from both
 * landing, and the live row count rides the log — the fraction decision
 * never scans the state.
 *
 * Non-key column names must be disjoint across the two sides (the
 * joined frame must resolve unambiguously) — checked loudly at
 * construction time against the CURRENT schemas.
 */
final class IncrementalJoinAggView(spark: SparkSession,
                                   leftPath: String, rightPath: String,
                                   statePath: String,
                                   joinKeys: Seq[String],
                                   groupCols: Seq[String],
                                   sumCols: Seq[String],
                                   minMaxCols: Seq[String] = Nil,
                                   captureStateChangeData: Boolean = false)
  extends SignedSliceView {
  require(joinKeys.nonEmpty, "IncrementalJoinAggView needs join keys")

  require(groupCols.nonEmpty, "IncrementalJoinAggView needs group columns")

  private[table] val kernel = new FoldCommit(spark, statePath, "join view",
    Seq(leftPath, rightPath), "JOINVIEW", "DELTA")
  private val alg = new GroupAlgebra(groupCols, sumCols, minMaxCols,
    captureStateChangeData)

  // one-pass multi-view orchestrator plumbing ([[StandingViews]]): the
  // LEFT (fact) table is the shared source — the orchestrator hands
  // this view its pre-read left slice and the fold derives the right
  // (dimension) side's range itself. sourceVersion is the LEFT watermark.
  private[table] def neededSliceCols: Seq[String] = {
    val lCols = left.read.columns.toSet
    (joinKeys ++ (groupCols ++ sumCols ++ minMaxCols).filter(lCols)).distinct
  }
  private[table] override def position(): FoldCommit.Pos =
    kernel.resume(kernel.walk())(finish)
  private[table] def foldRawSlice(slice: DataFrame, from: FoldCommit.Pos,
                                  latest: Long,
                                  txn: Option[(String, Long)]): Unit =
    refreshImpl(Some((slice, from.version, latest)), txn)
  // the DIMENSION side is an aux source: the orchestrator folds this
  // mart when only the right table moved (batch) and can open a
  // dimension-trigger stream (refreshStreamAllMulti(dimTriggers)) —
  // the fold is the same idempotent both-sides refresh either way
  private[table] override def auxSourcePaths: Seq[String] = Seq(rightPath)
  private[table] override def auxSourceVersion(path: String): Long = {
    require(path == rightPath, s"join view has no aux source $path")
    sourceVersions._2
  }
  private[table] override def foldPending(): Unit = {
    // RIGHT-ONLY: a dimension trigger must never advance the left
    // watermark — the fact stream's epoch slices are cut against it,
    // and folding the left range here would invalidate a slice already
    // in flight on the other stream
    refreshImpl(None, None)
  }

  private def left = ManagedTable(spark, leftPath)
  private def right = ManagedTable(spark, rightPath)
  private def state = kernel.state

  private def joined(l: DataFrame, r: DataFrame, sign: Column,
                     extra: Seq[Column] = Nil): DataFrame =
    alg.grouped(l.join(r, joinKeys), sign, extra)

  private def pair(p: FoldCommit.Pos): (Long, Long) = (p.mark(0), p.mark(1))

  /** The (leftVersion, rightVersion) pair folded into the state —
    * maintenance commits on the state table, and a half-applied fold's
    * pending delete commit, are transparent; RESTORE carries the
    * restored fold's own watermarks. */
  def sourceVersions: (Long, Long) = pair(kernel.walk())

  /** Build the state from both CURRENT snapshots — the only
    * both-sides-full join in the view's lifetime. Born range-clustered
    * by group key. */
  def initialize(): (Long, Long) = {
    val vl = left.latestVersion.getOrElse(throw new IllegalStateException(
      s"left table $leftPath does not exist"))
    val vr = right.latestVersion.getOrElse(throw new IllegalStateException(
      s"right table $rightPath does not exist"))
    checkDisjointColumns()
    kernel.init(joined(left.read, right.read, lit(1L), alg.mmAggs),
      Seq(vl, vr), kernel.mark(Seq(vl, vr)), Some(Map(
        ManagedTable.ClusterColumnsProp -> groupCols.mkString(","))))
    (vl, vr)
  }

  /** Loud schema guard, run at [[initialize]] AND at every [[refresh]]
    * (a column added to BOTH sides after init would otherwise surface
    * as an opaque ambiguous-reference analysis error mid-refresh), and
    * the view's internal working names (`__sign__`, `__t_*`, `__sl__`,
    * `__sr__`, `__src__`) are reserved — a source column wearing one
    * would silently collide with the signed-delta machinery. */
  private def checkDisjointColumns(): Unit = {
    val lAll = left.read.columns.toSet
    val rAll = right.read.columns.toSet
    val clash = (lAll -- joinKeys) intersect (rAll -- joinKeys)
    require(clash.isEmpty,
      s"non-key columns must be disjoint across the join sides, both have: " +
        clash.mkString(", "))
    val reserved = (lAll ++ rAll).filter(c =>
      c == "__sign__" || c == "__sl__" || c == "__sr__" || c == "__src__" ||
        c.startsWith("__t_"))
    require(reserved.isEmpty,
      "source columns collide with the view's reserved internal names " +
        s"(__sign__, __sl__, __sr__, __src__, __t_*): ${reserved.mkString(", ")}")
  }

  /** The other side's WATERMARK snapshot, semi-join pruned to the
    * delta's join keys — the big side is scanned once, narrow. The key
    * set broadcasts only under the family's driver gate: a routine
    * delta's keys are tiny, but a full-churn slice (re-ingest,
    * corpus-wide curation) carries state-scale keys and must shuffle
    * instead of OOMing the broadcast. */
  private def prunedSnapshot(t: ManagedTable, version: Long,
                             delta: DataFrame): DataFrame = {
    val keys = delta.select(joinKeys.map(c => col(s"`$c`")): _*).distinct()
    val gated =
      if (graft.llm.Similarity.fitsDriver(keys, CdfNetting.MaxBroadcastIds))
        broadcast(keys)
      else keys
    // key-bound pre-filter ahead of the semi join — Catalyst pushes it
    // into the snapshot's parquet scan (row-group pruning on a
    // key-clustered side), the join then narrows the superset
    val base = KeySet(keys, joinKeys).bound
      .map(t.readAt(version).filter).getOrElse(t.readAt(version))
    base.join(gated, joinKeys, "left_semi")
  }

  /** A raw slice in signed form: sign from `_change_type`, stream/meta
    * columns dropped (drop tolerates absent names, so batch and
    * streaming slices both land here). */
  private def signedOf(slice: DataFrame): DataFrame =
    slice.withColumn("__sign__", CdfNetting.sign)
      .drop("_change_type", "_commit_version", "_commit_timestamp")

  /** The grouped signed delta of the range (vl0,vr0] → (vl1,vr1] —
    * the three delta-join terms unioned — or None when both ranges are
    * empty after netting. `dLSlice`, when given, is the LEFT range's
    * already-read raw slice (the one-pass orchestrator's shared read —
    * this fold must not read the feed again). */
  private def groupedDelta(vl0: Long, vr0: Long, vl1: Long, vr1: Long,
                           dLSlice: Option[DataFrame] = None)
      : Option[DataFrame] = {
    def signed(t: ManagedTable, from: Long, to: Long) =
      if (to <= from) None
      else Some(signedOf(CdfNetting.cdfSlice(t, from, to, kernel.what))
        .localCheckpoint())
    val dL = dLSlice match {
      case Some(s) =>
        if (vl1 > vl0) Some(signedOf(s).localCheckpoint()) else None
      case None => signed(left, vl0, vl1)
    }
    val dR = signed(right, vr0, vr1)
    val parts = Seq(
      // dL ⋈ R0 — old right, pruned to dL's keys
      dL.map(d => joined(d, prunedSnapshot(right, vr0, d),
        col("__sign__"))),
      // L0 ⋈ dR — old left, pruned to dR's keys
      dR.map(d => joined(prunedSnapshot(left, vl0, d), d,
        col("__sign__"))),
      // dL ⋈ dR — sign is the product
      for { l <- dL; r <- dR } yield joined(
        l.withColumnRenamed("__sign__", "__sl__"),
        r.withColumnRenamed("__sign__", "__sr__"),
        col("__sl__") * col("__sr__"))
    ).flatten
    if (parts.isEmpty) return None
    // net the three terms per group ([[GroupAlgebra.dropZeroNet]])
    Some(alg.dropZeroNet(alg.net(parts.reduce(_ unionByName _)))
      .localCheckpoint())
  }

  /** MIN/MAX recomputed for exactly the touched groups over the NEW
    * watermark snapshots, pruned before the join: each side
    * semi-restricts by the touched values of ITS OWN group columns
    * (when it carries any), then the post-join semi restriction drops
    * the superset a partial-side prune admits. Sound against the new
    * snapshots for the same reason as the single-table view: a group
    * changed later is re-touched by those commits. */
  private def recomputeMinMax(touched: KeySet, vl1: Long,
                              vr1: Long): DataFrame = {
    val lCols = left.read.columns.toSet
    val rCols = right.read.columns.toSet
    def semi(df: DataFrame, own: Seq[String]) =
      if (own.isEmpty) df else alg.semiOn(touched, own, df.filter, df)
    semi(
      semi(left.readAt(vl1), groupCols.filter(lCols.contains))
        .join(semi(right.readAt(vr1), groupCols.filter(rCols.contains)),
          joinKeys),
      groupCols)
      .groupBy(alg.gCols: _*).agg(alg.mmAggs.head, alg.mmAggs.tail: _*)
  }

  /** Recomputed rows for EXACTLY the touched groups — the delta fold's
    * append payload. `cur` is the state the fold nets against (live
    * head, or the pre-delete snapshot on crash resume). */
  private def touchedRows(delta: DataFrame, touched: KeySet,
                          cur: DataFrame, vl1: Long,
                          vr1: Long): DataFrame =
    alg.touchedRows(alg.semiOn(touched, groupCols, cur.filter, cur), delta,
      recomputeMinMax(touched, vl1, vr1))

  /** The missing append of a half-applied delta fold: re-derive the
    * immutable ranges, recompute the touched rows against the
    * PRE-TOMBSTONE state snapshot. */
  private def finish(pos: FoldCommit.Pos): (DataFrame, String) = {
    val (dvc, to) = pos.pending.get
    val (vl0, vr0) = pair(pos)
    val delta = groupedDelta(vl0, vr0, to(0), to(1)).getOrElse(
      throw new IllegalStateException(
        "join view: a pending delete commit exists but the source " +
          "ranges are empty — was a source table recreated?"))
    val touched = KeySet(delta.select(alg.gCols: _*).distinct()
      .localCheckpoint(), groupCols)
    val newRows = touchedRows(delta, touched, state.readAt(dvc.version - 1),
      to(0), to(1)).localCheckpoint()
    (newRows, kernel.markRows(to, pos.stateRows, dvc, newRows.count()))
  }

  /** Fold both unprocessed ranges into the state
    * ([[StandingViews.refreshAll]] of this view alone: the left slice
    * through the driver, a right-only change through [[foldPending]]).
    * No-op (no commit) when both sides are current. Returns the new
    * watermark pair. */
  def refresh(): (Long, Long) = {
    StandingViews.refreshAll(spark, Seq(this))
    sourceVersions
  }

  /** The fold behind [[foldRawSlice]] (the left range arrives pre-read
    * as `(slice, from, latest)` — the driver's shared read) and
    * [[foldPending]] (`leftSlice` None — a dimension trigger folds ONLY
    * the right range, so the left watermark never moves under a
    * concurrently-streamed fact slice). `txn` rides the fold's FINAL
    * commit for the streaming driver's exactly-once ledger.
    * Synchronized, and re-walking its own position under the lock: the
    * dimension-trigger stream and the fact stream share this view
    * instance in one driver, so a position read before the lock may be
    * stale — cross-driver racers still surface as typed
    * [[ManagedTable.ConcurrentCommitException]] fence conflicts. */
  private def refreshImpl(leftSlice: Option[(DataFrame, Long, Long)],
                          txn: Option[(String, Long)]): Unit = synchronized {
    val pos = position()
    val (vl0, vr0) = pair(pos)
    leftSlice.foreach { case (_, from, _) =>
      require(vl0 == from,
        s"join view state advanced from $from to $vl0 while the shared " +
          "slice was read — a concurrent refresh interleaved; re-run")
    }
    val vl1 = leftSlice.fold(vl0)(_._3)
    val vr1 = right.latestVersion.getOrElse(throw new IllegalStateException(
      s"right table $rightPath does not exist"))
    require(vl1 >= vl0 && vr1 >= vr0,
      s"a source went backwards (left $vl0→$vl1, right $vr0→$vr1) — was a " +
        "table recreated? Re-initialize the view.")
    if (vl1 == vl0 && vr1 == vr0) return
    // retention seam, stricter than the slice alone: the delta-join
    // identity reads the OTHER side's WATERMARK snapshot (readAt(v0)),
    // so a side with unprocessed commits must still retain its
    // watermark VERSION, not just the range above it — refuse with the
    // remediation instead of a missing-file error mid-join
    Seq((left, leftPath, vl0, vl1), (right, rightPath, vr0, vr1)).foreach {
      case (t, p, v0, v1) =>
        if (v0 < v1) t.earliestVersion.foreach(e => require(e <= v0,
          s"join view: $p was vacuumed past the watermark (earliest " +
            s"retained commit $e > watermark $v0) — the delta-join fold " +
            "needs the watermark snapshot; re-initialize the view."))
    }
    checkDisjointColumns()
    val delta = groupedDelta(vl0, vr0, vl1, vr1, leftSlice.map(_._1)).get
    val touched = KeySet(delta.select(alg.gCols: _*).distinct()
      .localCheckpoint(), groupCols)
    val touchedN = touched.size
    val oldRows = pos.stateRows
    val to = Seq(vl1, vr1)
    if (touchedN == 0L)
      // the ranges cancel per group: an empty append advances both watermarks
      kernel.append(delta.limit(0), to, kernel.mark(to, "stateRows" -> oldRows),
        pos.head, txn)
    else if (touchedN * 100L >= oldRows * RowLocalIndexView.RewriteFractionPct)
      // full-churn fold (or tiny/empty state): one replace
      kernel.replace(alg.mergedState(state.read, delta, touched.frame,
        recomputeMinMax(touched, vl1, vr1)), to, kernel.mark(to), pos.head, txn)
    else {
      // O(touched groups): recompute first (against the pre-tombstone
      // state), then tombstone + append
      val newRows = touchedRows(delta, touched, state.read, vl1, vr1)
        .localCheckpoint()
      val newN = newRows.count()
      kernel.tombstoneThenAppend(to, pos.head, txn)(
        alg.tombstone(state, touched, _, _)) { dv =>
        (newRows, kernel.markRows(to, oldRows, dv, newN))
      }
    }
  }

  /** ROUTINE state maintenance, O(tombstones + append tail): purge the
    * deletion vectors delta folds accumulate and fold the append tail
    * onto the group-key clustering. Watermark-less commits, transparent
    * to the walk. */
  def maintain(maxDirBytes: Long = 64L << 20): Unit = {
    state.maintainLayout(maxDirBytes); ()
  }

  /** The maintained join aggregate. */
  def read: DataFrame = state.read

  /** The join aggregate AS OF a state version (lineage — see
    * [[IncrementalAggView.readAt]]). */
  def readAt(stateVersion: Long): DataFrame = state.readAt(stateVersion)

  /** The (leftVersion, rightVersion) pair the state at `stateVersion`
    * had folded — the watermark walk pinned at that version: the mart
    * at state version v describes exactly `L.readAt(l) ⋈ R.readAt(r)`
    * for the returned pair. */
  def sourceVersionsAt(stateVersion: Long): (Long, Long) =
    pair(kernel.walk(Some(stateVersion)))

  /** Retention clamped to the newest watermark-bearing commit
    * ([[FoldCommit.vacuum]]). */
  def vacuum(keepLast: Int): ManagedTable.VacuumStats = kernel.vacuum(keepLast)

  /** The maintained aggregate restricted by `predicate` with dir-stat
    * skipping — selective because the state is born clustered by group
    * key and [[maintain]] keeps the tail folded. */
  def readWhere(predicate: Column): DataFrame = state.readWhere(predicate)
}
