package graft.table

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Incrementally-maintained materialized aggregate over a [[ManagedTable]]'s
 * change feed — the "materialized view refresh" a 100 TB fact table needs:
 * recomputing `GROUP BY` aggregates over the whole fact on every load is an
 * O(table) scan per refresh; this view reads ONLY the change feed of the
 * unprocessed version range and folds it into the stored aggregate state.
 *
 * ADDITIVE aggregates — `count(*)` and `sum(col)` (avg is derivable as
 * sum/cnt by the reader) — maintain by exact delta, signed by change
 * type: insert / update_postimage add, delete / update_preimage
 * subtract. Additivity is what makes the view correct under ANY
 * change-feed granularity: a dir-rewrite commit that reports "all old
 * dir rows deleted + surviving rows inserted" (this table's DML without
 * `captureChangeData`, coarser than Delta's minimal CDF) nets out to
 * exactly the same delta as a minimal per-row feed.
 *
 * `minMaxCols` adds MIN/MAX, which are NOT delta-maintainable under
 * deletes (removing the current max says nothing about the runner-up).
 * They maintain by TOUCHED-GROUP recompute instead: each refresh
 * recomputes min/max for exactly the groups present in the change-feed
 * slice, reading those groups back from the fact — via
 * [[ManagedTable.readWhere]] dir-stat skipping when the (single) group
 * key's touched set fits an IN-list, else a semi-join — and merges them
 * with untouched state rows, whose min/max carry over unread. Cost is
 * O(changed groups' rows), not O(table); a change feed is COMPLETE by
 * construction, so any later change to a group re-touches it — which is
 * also why recomputing against the CURRENT snapshot is sound mid-stream:
 * a group whose future commits differ from the watermark snapshot will
 * be touched again by exactly those commits (min/max may transiently
 * lead the additive columns while a backlog drains; they converge at the
 * head, and batch [[refresh]] always runs at the head).
 *
 * THE WRITE SIDE IS O(TOUCHED GROUPS) TOO. The compute was always
 * O(delta), but state is GROUP-cardinality-sized — a per-user mart at
 * 10^9 groups rewriting its whole state to fold a 10^5-row daily delta
 * is the same write amplification the row-local index views retired, one
 * level up. So a fold whose touched-group set stays under
 * [[RowLocalIndexView.RewriteFractionPct]] of the state's rows tombstones
 * exactly the touched groups' rows and appends their recomputed rows —
 * the [[FoldCommit]] tombstone-then-append shape, whose commits,
 * watermark, pending marker, fence and crash resume are the kernel's.
 * Only a full-churn fold (touched ≳ a third of the groups, where
 * accumulated tombstones would read-amplify every read until purge)
 * takes the one-replace path. [[maintain]] purges accumulated
 * tombstones and folds the append tail; state is BORN clustered by
 * group key, so group-keyed serving reads prune at row-group grain.
 *
 * Sums are carried as `DECIMAL(28,6)` — exact integer arithmetic in
 * 10⁻⁶ units, so subtraction round-trips to zero exactly (a double
 * accumulator would drift: (a + b) − b ≠ a in floats, and a view that is
 * refreshed thousands of times compounds it). Min/max keep the source
 * column's own type (they are order statistics, not accumulations).
 * The live row count needed by the replace-vs-delta decision rides the
 * commit log ([[FoldCommit.Pos.stateRows]]) — no state scan.
 */
final class IncrementalAggView(spark: SparkSession, sourcePath: String,
                               statePath: String, groupCols: Seq[String],
                               sumCols: Seq[String],
                               minMaxCols: Seq[String] = Nil,
                               captureStateChangeData: Boolean = false)
  extends SignedSliceView {
  require(groupCols.nonEmpty, "IncrementalAggView needs group columns")

  private[table] val kernel = new FoldCommit(spark, statePath, "agg view",
    Seq(sourcePath), "VIEW", "DELTA")
  private val alg = new GroupAlgebra(groupCols, sumCols, minMaxCols,
    captureStateChangeData)

  // one-pass multi-view orchestrator plumbing ([[StandingViews]]): this
  // family consumes the RAW signed slice (its algebra nets per GROUP)
  private[table] def neededSliceCols: Seq[String] =
    (groupCols ++ sumCols ++ minMaxCols).distinct
  private[table] override def position(): FoldCommit.Pos =
    kernel.resume(kernel.walk())(finish)
  private[table] def foldRawSlice(slice: DataFrame, from: FoldCommit.Pos,
                                  latest: Long,
                                  txn: Option[(String, Long)]): Unit =
    foldDelta(slice, from, latest, txn)

  private def source = ManagedTable(spark, sourcePath)
  private def state = kernel.state

  /** Build the state from the source's CURRENT snapshot (one full
    * scan — the only O(table) step in the view's lifetime). The state
    * is born range-clustered by group key, so delta folds' tombstone
    * scans and group-keyed serving reads prune at row-group grain. */
  def initialize(): Long = {
    val v = source.latestVersion.getOrElse(throw new IllegalStateException(
      s"source table $sourcePath does not exist"))
    kernel.init(alg.grouped(source.read, lit(1L), alg.mmAggs), Seq(v),
      kernel.mark(Seq(v)), Some(Map(
        ManagedTable.ClusterColumnsProp -> groupCols.mkString(","))))
    v
  }

  /** `reader` restricted to the touched groups: the IN-list predicate
    * (dir-stat skipping via the caller's readWhere) when
    * [[GroupAlgebra.touchedPredicate]] has one, else the null-safe
    * range-pruned semi join ([[GroupAlgebra.semiOn]]). */
  private def touchedSlice(touched: DataFrame,
                           readWhere: Column => DataFrame,
                           readAll: => DataFrame): DataFrame =
    alg.touchedPredicate(touched) match {
      case Some(pred) => readWhere(pred)
      case None => alg.semiOn(touched, groupCols, readWhere, readAll)
    }

  /** MIN/MAX recomputed over the touched groups' fact rows. */
  private def recomputeMinMax(touched: DataFrame): DataFrame =
    touchedSlice(touched, source.readWhere, source.read)
      .groupBy(alg.gCols: _*).agg(alg.mmAggs.head, alg.mmAggs.tail: _*)

  /** The grouped signed delta of a raw slice and its touched groups. */
  private def deltaOf(cdf: DataFrame): (DataFrame, DataFrame) = {
    val delta = alg.dropZeroNet(alg.grouped(cdf, CdfNetting.sign))
      .localCheckpoint()
    (delta, delta.select(alg.gCols: _*).distinct().localCheckpoint())
  }

  /** Fold a change-feed slice into the state and advance the watermark
    * to `to` — the delta algebra behind [[refresh]], [[refreshStream]]
    * and the orchestrator. `pos` is where the slice was cut from; every
    * shape fences on its head ([[FoldCommit]]), so the additive fold can
    * never double-apply a slice. */
  private def foldDelta(cdf: DataFrame, pos: FoldCommit.Pos, to: Long,
                        txn: Option[(String, Long)]): Unit = {
    val (delta, touched) = deltaOf(cdf)
    val touchedN = touched.count()
    val oldRows = pos.stateRows
    val w = Seq(to)
    if (touchedN == 0L)
      // the slice cancels per group: an empty append advances the watermark
      kernel.append(delta.limit(0), w, kernel.mark(w, "stateRows" -> oldRows),
        pos.head, txn)
    else if (touchedN * 100L >= oldRows * RowLocalIndexView.RewriteFractionPct)
      // full-churn fold (or tiny/empty state): its numOutputRows is the count
      kernel.replace(alg.mergedState(state.read, delta, touched,
        recomputeMinMax(touched)), w, kernel.mark(w), pos.head, txn)
    else {
      // O(touched groups): recompute the touched rows FIRST (against the
      // pre-tombstone state, materialized), then tombstone + append
      val cur = touchedSlice(touched, state.readWhere, state.read)
      val newRows = alg.touchedRows(cur, delta, recomputeMinMax(touched))
        .localCheckpoint()
      val newN = newRows.count()
      kernel.tombstoneThenAppend(w, pos.head, txn)(
        alg.tombstone(state, touched, _, _)) { dv =>
        (newRows, kernel.markRows(w, oldRows, dv, newN))
      }
    }
  }

  /** The missing append of a half-applied delta fold: the change-feed
    * range is immutable and the touched rows recompute against the
    * PRE-TOMBSTONE snapshot (`readAt(tombstone − 1)`). */
  private def finish(pos: FoldCommit.Pos): (DataFrame, String) = {
    val (dvc, to) = pos.pending.get
    val (delta, touched) = deltaOf(
      CdfNetting.cdfSlice(source, pos.version, to.head, kernel.what))
    val preDelete = state.readAt(dvc.version - 1)
    val cur = touchedSlice(touched, preDelete.filter, preDelete)
    val newRows = alg.touchedRows(cur, delta, recomputeMinMax(touched))
      .localCheckpoint()
    (newRows, kernel.markRows(to, pos.stateRows, dvc, newRows.count()))
  }

  /** Fold the unprocessed change-feed range into the state. No-op (and
    * no new commit) when already current. Returns the new watermark. */
  def refresh(): Long =
    kernel.refresh(position())((cdf, pos, latest) =>
      foldDelta(cdf, pos, latest, None))

  /** STREAMING maintenance: the source's CDF stream folds into the
    * state per micro-batch with the SAME delta algebra as [[refresh]],
    * exactly-once through [[CdfNetting.startStream]] — the fold's FINAL
    * commit carries the (checkpoint, epoch) transaction high-water, a
    * half-applied fold resumes at the next epoch, and batch rows at or
    * below the watermark drop, so batch [[refresh]] calls interleave
    * safely with resumed and re-created checkpoints. Caller
    * drains/stops the returned query. */
  def refreshStream(checkpoint: String,
                    trigger: org.apache.spark.sql.streaming.Trigger =
                      org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    CdfNetting.startStream(spark, this, checkpoint, trigger) {
      (fresh, pos, maxV, txn) => foldDelta(fresh, pos, maxV, Some(txn))
    }

  /** ROUTINE state maintenance, O(tombstones + append tail): purge the
    * deletion vectors delta folds accumulate and fold the append tail
    * onto the group-key clustering ([[ManagedTable.maintainLayout]]).
    * Watermark-less maintenance commits, transparent to the walk. */
  def maintain(maxDirBytes: Long = 64L << 20): Unit = {
    state.maintainLayout(maxDirBytes); ()
  }

  /** The maintained aggregate. */
  def read: DataFrame = state.read

  /** The aggregate AS OF a state version — reproducible marts for
    * lineage, exactly the row-local family's contract. A version
    * inside a half-applied fold's delete-append window reflects the
    * tombstones only; pin the fold's FINAL commit. */
  def readAt(stateVersion: Long): DataFrame = state.readAt(stateVersion)

  /** The SOURCE version the state at `stateVersion` had folded — the
    * watermark walk pinned at that version, so time travel on the VIEW
    * names the matching time travel on the SOURCE: the aggregate at
    * state version v describes exactly
    * `source.readAt(sourceVersionAt(v))`. */
  def sourceVersionAt(stateVersion: Long): Long =
    kernel.walk(Some(stateVersion)).version

  /** Retention for the view state, clamped to the newest
    * watermark-bearing commit ([[FoldCommit.vacuum]]). */
  def vacuum(keepLast: Int): ManagedTable.VacuumStats = kernel.vacuum(keepLast)

  /** The maintained aggregate restricted by `predicate`, dir-stat
    * skipping through the state's commit-log stats
    * ([[ManagedTable.readWhere]]) — selective because the state is born
    * clustered by group key and [[maintain]] keeps the tail folded. */
  def readWhere(predicate: Column): DataFrame = state.readWhere(predicate)
}

/**
 * The group algebra both aggregate views fold with
 * ([[IncrementalAggView]], [[IncrementalJoinAggView]]): signed grouping
 * into `cnt` + `DECIMAL(28,6)` sums, zero-net filtering, the
 * touched-group set's predicate and tombstone forms, and the merges of
 * stored rows, the signed delta and recomputed MIN/MAX. The views
 * supply only where the delta and the recompute come from.
 */
private[table] final class GroupAlgebra(groupCols: Seq[String],
                                        sumCols: Seq[String],
                                        minMaxCols: Seq[String],
                                        captureStateChangeData: Boolean) {
  private val Dec = "decimal(28,6)"
  /** IN-list cap for the touched-group predicate: past this the
    * predicate stops paying (and the driver collect stops being free) —
    * the frame forms take over. */
  private val MaxInList = 1000

  def gCols: Seq[Column] = groupCols.map(c => col(s"`$c`"))
  private def addCols: Seq[Column] =
    col("cnt") +: sumCols.map(c => col(s"`sum_$c`"))
  def mmAggs: Seq[Column] = minMaxCols.flatMap(c => Seq(
    min(col(s"`$c`")).as(s"min_$c"), max(col(s"`$c`")).as(s"max_$c")))

  /** Signed count + sums of `df` per group (plus `extra` aggregates). */
  def grouped(df: DataFrame, sign: Column, extra: Seq[Column] = Nil): DataFrame =
    df.groupBy(gCols: _*)
      .agg(sum(sign).as("cnt"),
        (sumCols.map(c =>
          sum(sign * col(s"`$c`").cast(Dec)).cast(Dec).as(s"sum_$c")) ++
          extra): _*)

  /** Sum the additive columns of a (cur ∪ delta)-shaped frame per group. */
  def net(df: DataFrame): DataFrame =
    df.groupBy(gCols: _*)
      .agg(sum(col("cnt")).as("cnt"),
        sumCols.map(c => sum(col(s"`sum_$c`")).cast(Dec).as(s"sum_$c")): _*)

  private def foldAdditive(df: DataFrame): DataFrame =
    net(df).filter(col("cnt") > 0)

  /** Drop zero-net delta groups — ONLY sound for additive-only views:
    * a group whose slice nets to cnt=0 and every sum=0 needs nothing
    * folded (a coarse dir-rewrite feed marks every group of the
    * rewritten dir, and without this filter each such fold would treat
    * the whole dir as touched). With minMaxCols the zero-net group must
    * STAY touched: a swap like (−5,−8,+6,+7) nets to zero counts and
    * sums but reshapes the value multiset min/max are order statistics
    * of. */
  def dropZeroNet(delta: DataFrame): DataFrame =
    if (minMaxCols.nonEmpty) delta
    else delta.filter(sumCols
      .map(c => coalesce(col(s"`sum_$c`"), lit(0).cast(Dec)) =!= lit(0).cast(Dec))
      .foldLeft(col("cnt") =!= 0L)(_ || _))

  /** The touched-group set as a driver-side IN-list predicate, when it
    * HAS a driver-safe spelling: a single group key with at most
    * [[MaxInList]] distinct values (the common case — a daily load
    * touches few groups of a well-clustered fact/state). NULL is a
    * legal group key and rides as an explicit `IS NULL` arm (predicate
    * consumers use SQL match semantics — only TRUE matches — so the
    * IN-list alone would silently skip the NULL group). None past the
    * cap or for composite keys — consumers fall to frame form. */
  def touchedPredicate(touched: DataFrame): Option[Column] = {
    if (groupCols.size != 1) return None
    val g = groupCols.head
    val vals = touched.limit(MaxInList + 1).collect().map(_.get(0))
    if (vals.length > MaxInList) return None
    val nonNull = vals.filter(_ != null)
    val base: Column =
      if (nonNull.isEmpty) lit(false)
      else col(s"`$g`").isin(nonNull.toIndexedSeq: _*)
    Some(if (vals.contains(null)) base || col(s"`$g`").isNull else base)
  }

  /** A read restricted to the rows whose `cols` match a touched group:
    * a null-safe LEFT SEMI join (NULL is a legal group key; a plain equi
    * join would silently drop its rows) over a scan PRE-FILTERED by the
    * touched keys' min/max range
    * ([[IncrementalAggView.keyRangePredicate]] — dir-stat skipping
    * through `readWhere`, so the read is O(touched range), not O(table)). */
  def semiOn(touched: DataFrame, cols: Seq[String],
             readWhere: Column => DataFrame,
             readAll: => DataFrame): DataFrame = {
    val t = touched.select(cols.map(c => col(s"`$c`").as(s"__t_$c")): _*)
    val cond = cols.map(c => col(s"`$c`") <=> col(s"`__t_$c`")).reduce(_ && _)
    IncrementalAggView.keyRangePredicate(touched, cols)
      .map(readWhere).getOrElse(readAll)
      .join(t, cond, "left_semi")
  }

  /** Tombstone the touched groups' current state rows: predicate-form
    * deletion vectors (per-VALUE dir-stat pruning —
    * [[ManagedTable.deleteVectors]]) under the IN-list cap, frame-keyed
    * ones (key-RANGE dir pruning, the key frame never driver state —
    * [[ManagedTable.deleteVectorsMatching]]) past it. Change capture on
    * the STATE table is a deliberate choice (`captureStateChangeData`,
    * default off): nothing consumes the state's own change feed unless
    * the caller chains views, and capture forces the tombstone scan to
    * full row width. */
  def tombstone(state: ManagedTable, touched: DataFrame, meta: Option[String],
                fence: Option[Long]): ManagedTable.Commit =
    touchedPredicate(touched) match {
      case Some(pred) =>
        state.deleteVectors(pred, captureChangeData = captureStateChangeData,
          userMetadata = meta, expectedPrevVersion = fence)
      case None =>
        state.deleteVectorsMatching(touched, groupCols,
          captureChangeData = captureStateChangeData, userMetadata = meta,
          expectedPrevVersion = fence)
    }

  /** The recomputed state rows for EXACTLY the touched groups — the
    * delta fold's append payload. `cur` is the stored state ALREADY
    * RESTRICTED to the touched groups (an unrestricted state would
    * append every untouched group a duplicate row); `rec` the touched
    * groups' recomputed MIN/MAX. Every output group is touched, so the
    * tagged-union fold simplifies: additive columns sum over cur+delta,
    * min/max come from the recompute alone. */
  def touchedRows(cur: DataFrame, delta: DataFrame,
                  rec: => DataFrame): DataFrame = {
    val curT = cur.select((gCols ++ addCols): _*)
    if (minMaxCols.isEmpty) foldAdditive(curT.unionByName(delta))
    else {
      val tagged = curT.withColumn("__src__", lit("cur"))
        .unionByName(delta.withColumn("__src__", lit("delta")),
          allowMissingColumns = true)
        .unionByName(rec.withColumn("__src__", lit("rec")),
          allowMissingColumns = true)
      val additive = col("__src__").isin("cur", "delta")
      tagged.groupBy(gCols: _*)
        .agg(sum(when(additive, col("cnt"))).as("cnt"),
          (sumCols.map(c => sum(when(additive, col(s"`sum_$c`")))
            .cast(Dec).as(s"sum_$c")) ++
            minMaxCols.flatMap(c => Seq(
              min(when(col("__src__") === "rec", col(s"`min_$c`")))
                .as(s"min_$c"),
              max(when(col("__src__") === "rec", col(s"`max_$c`")))
                .as(s"max_$c")))): _*)
        .filter(col("cnt") > 0)
    }
  }

  /** The full-state merge — the REPLACE fold's payload. NULL group keys
    * are legal groups, so the merge avoids equi joins (NULL never equals
    * NULL there) and instead tags four row streams and folds them in ONE
    * null-safe groupBy:
    *   cur   — the stored state (additive + old min/max),
    *   delta — the signed change-feed aggregate,
    *   rec   — min/max recomputed over touched groups,
    *   touch — membership markers for the touched-group set.
    * Additive columns sum over cur+delta; min/max take rec's value when
    * the group was touched, else carry cur's — one shuffle total. */
  def mergedState(state: DataFrame, delta: DataFrame, touched: DataFrame,
                  rec: => DataFrame): DataFrame = {
    if (minMaxCols.isEmpty)
      foldAdditive(state.select((gCols ++ addCols): _*).unionByName(delta))
    else {
      val mmNames = minMaxCols.flatMap(c => Seq(s"min_$c", s"max_$c"))
      val cur = state.select((gCols ++ addCols ++
        mmNames.map(c => col(s"`$c`"))): _*)
        .withColumn("__src__", lit("cur"))
      val tagged = cur
        .unionByName(delta.withColumn("__src__", lit("delta")),
          allowMissingColumns = true)
        .unionByName(rec.withColumn("__src__", lit("rec")),
          allowMissingColumns = true)
        .unionByName(touched.withColumn("__src__", lit("touch")),
          allowMissingColumns = true)
      val additive = col("__src__").isin("cur", "delta")
      val isTouched = max(when(col("__src__") === "touch", 1).otherwise(0)) === 1
      def pick(c: String, agg: Column => Column) =
        when(isTouched, agg(when(col("__src__") === "rec", col(s"`$c`"))))
          .otherwise(agg(when(col("__src__") === "cur", col(s"`$c`")))).as(c)
      tagged.groupBy(gCols: _*)
        .agg(sum(when(additive, col("cnt"))).as("cnt"),
          (sumCols.map(c => sum(when(additive, col(s"`sum_$c`")))
            .cast(Dec).as(s"sum_$c")) ++
            minMaxCols.flatMap(c => Seq(
              pick(s"min_$c", min), pick(s"max_$c", max)))): _*)
        .filter(col("cnt") > 0)
    }
  }
}

object IncrementalAggView {
  /** Conservative range predicate covering every touched key — the
    * frame-DV dir prune's READ-side twin: the touched set itself is
    * data-scaled, but each eligible key column's min/max + has-null
    * (two scalars and a flag per column at any cardinality, one small
    * job over the already-checkpointed touched frame) spell a
    * predicate that provably admits every touched group, so the exact
    * null-safe semi join can run over a readWhere-pruned scan instead
    * of the whole state. None when no key column has orderable stats.
    * Strictly a superset filter — consumers ALWAYS follow with the
    * exact join. */
  private[table] def keyRangePredicate(touched: DataFrame,
                                       cols: Seq[String]): Option[Column] = {
    val fields = cols.flatMap(c => touched.schema.fields.find(_.name == c))
      .filter(f => DataSkipping.eligible(f.dataType))
    if (fields.isEmpty) return None
    val aggs = fields.flatMap { f =>
      val kc = col(s"`${f.name}`")
      Seq(min(kc).as(s"mn:${f.name}"), max(kc).as(s"mx:${f.name}"),
        sum(when(kc.isNull, 1L).otherwise(0L)).as(s"nl:${f.name}"))
    }
    val row = touched.agg(aggs.head, aggs.tail: _*).head()
    val preds = fields.map { f =>
      val mn = Option(row.get(row.fieldIndex(s"mn:${f.name}")))
      val mx = Option(row.get(row.fieldIndex(s"mx:${f.name}")))
      val hasNull = Option(row.get(row.fieldIndex(s"nl:${f.name}")))
        .exists(_.asInstanceOf[Long] > 0L)
      val kc = col(s"`${f.name}`")
      val range = (mn, mx) match {
        case (Some(a), Some(b)) => Some(kc >= lit(a) && kc <= lit(b))
        case _ => None
      }
      // no bare-literal arms — the stats walker treats a lone lit() as
      // may-match, defeating the prune under an OR (an EMPTY touched
      // frame lands here too: all stats NULL → IS NULL matches nothing
      // extra, and the exact join returns empty regardless)
      (range, hasNull) match {
        case (Some(r), true) => r || kc.isNull
        case (Some(r), false) => r
        case (None, _) => kc.isNull
      }
    }
    Some(preds.reduce(_ && _))
  }
}
