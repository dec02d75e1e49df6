package graft.table

import graft.llm.{Retrieval, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Shared machinery for CDF-maintained index views ([[Bm25IndexView]],
 * the [[RowLocalIndexView]] family, [[CorpusLmView]],
 * [[ClassifierModelView]]): net a change-feed slice per (id, payload)
 * under ±1 signs, and the id-membership gates every standing index
 * needs before folding a delta.
 */
private[table] object CdfNetting {

  /** A change row's sign: +1 for insert/update_postimage, −1 for
    * delete/update_preimage. */
  def sign: org.apache.spark.sql.Column =
    when(col("_change_type").isin("insert", "update_postimage"), 1L)
      .otherwise(-1L)

  /** Net `cdf` per (`idCol`, `payloadCols`) with sign +1 for
    * insert/update_postimage and −1 for delete/update_preimage, so a
    * dir-rewrite commit's coarse feed (all old dir rows − / survivors
    * +) cancels to the minimal delta. Returns `(ins, del)` — rows
    * entering and rows leaving, both checkpointed. Refuses feeds that
    * net to duplicate same-direction rows for one id (|net| ≠ 1, or
    * two different payloads entering for the same id) — duplicate ids
    * cannot index. */
  def net(cdf: DataFrame, idCol: String, payloadCols: Seq[String],
          what: String): (DataFrame, DataFrame) = {
    val cols = col(s"`$idCol`") +: payloadCols.map(c => col(s"`$c`"))
    val netted = cdf.select(cols :+ sign.as("__sign__"): _*)
      .groupBy(cols: _*)
      .agg(sum("__sign__").as("__cnt__"))
      .filter(col("__cnt__") =!= 0L)
      .localCheckpoint()
    // both duplicate shapes (|net sign| != 1 on a row, >1 same-direction
    // payloads per id) checked in ONE aggregation job over the already-
    // checkpointed netting, instead of two separate scans of it
    val viol = netted
      .groupBy(col(s"`$idCol`"), (col("__cnt__") > 0L).as("__pos__"))
      .agg(count(lit(1)).as("__n__"), max(abs(col("__cnt__"))).as("__m__"))
      .filter(col("__n__") > 1L || col("__m__") =!= 1L)
    require(viol.isEmpty,
      s"$what: the change-feed slice nets to duplicate rows for one id " +
        "(|net sign| != 1 or multiple same-direction payloads) — " +
        "duplicate ids cannot index; dedup upstream")
    (netted.filter(col("__cnt__") > 0L).select(cols: _*),
      netted.filter(col("__cnt__") < 0L).select(cols: _*))
  }

  /** Default query/delete-batch broadcast gate shared by the view
    * family — past it, maintenance joins run shuffled (a corpus-wide
    * curation pass can delete billions of ids; broadcasting that set
    * is a driver/executor OOM, Spark's 8 GB broadcast hard limit
    * aside). */
  val MaxBroadcastIds: Int = 65536

  /** Hint `small` for broadcast only while it fits the driver gate —
    * the delete-side sibling of [[Similarity.fitsDriver]]'s query-side
    * gating: a handful of curated ids broadcast (one narrow pass over
    * the index, no shuffle of it), a corpus-scale delete set falls
    * back to a shuffled join of the same shape. */
  private def gated(small: DataFrame, cap: Int): DataFrame =
    if (Similarity.fitsDriver(small, cap)) broadcast(small) else small

  /** Every id in `delIds` must exist among `indexIds` (subtracting
    * rows that were never added would corrupt the index silently).
    * One narrow pass over the index; the delete side broadcasts only
    * under the size gate. Callers must pass the ids the index is
    * EXPECTED to hold — for a row-local index that is the ids of the
    * delta's own buildRows output, NOT every deleted source id (a doc
    * whose payload indexes to zero rows — empty text, text shorter
    * than the shingle width — legitimately has no index rows, and
    * gating on it would wedge the view on a perfectly valid DELETE). */
  def requireExistingIds(indexIds: DataFrame, delIds: DataFrame,
                         what: String,
                         cap: Int = MaxBroadcastIds): Unit = {
    val del = delIds.distinct().localCheckpoint()
    val nDel = del.count()
    if (nDel == 0) return
    val matched = indexIds
      .join(gated(del, cap), indexIds.columns.toSeq, "semi")
      .distinct().count()
    require(matched == nDel,
      s"$what: ${nDel - matched} deleted ids are not in the index — the " +
        "delta does not describe this index's corpus")
  }

  /** Every id in `insIds` must be NEW relative to the surviving index
    * (`indexIds` minus `delIds`) — bloom-gated: only bloom-positive
    * suspects reach the exact semi-check, so the common all-new batch
    * never touches the index at all. An update's reused id passes
    * because its delete lands in the same delta. Ids compare as
    * strings (the blooms hash `xxhash64(cast(id as string))`). Both
    * delta-side joins broadcast only under the size gate (a re-ingest
    * after a corpus-wide dedup makes them delta-scaled). */
  def requireNewIds(spark: SparkSession, indexIds: DataFrame,
                    insIds: DataFrame, delIds: DataFrame,
                    bloom: Option[Array[Byte]], what: String,
                    cap: Int = MaxBroadcastIds): Unit = {
    val idName = insIds.columns.head
    val ins = insIds.distinct()
    val suspects = (bloom match {
      case Some(bytes) =>
        graft.expressions.MightContain.register(spark)
        ins.filter(call_function(graft.expressions.MightContain.Name,
          lit(bytes), xxhash64(col(s"`$idName`").cast("string"))))
      case None => ins
    }).localCheckpoint()
    if (suspects.isEmpty) return
    val dup = indexIds
      .join(gated(suspects, cap), indexIds.columns.toSeq, "semi")
      .join(gated(delIds.distinct().toDF("__del__"), cap),
        col(s"`${indexIds.columns.head}`").cast("string") ===
          col("__del__").cast("string"), "anti")
      .distinct().count()
    require(dup == 0L,
      s"$what: $dup inserted ids already exist in the surviving index — " +
        "inserts must be new or paired with a delete")
  }

  /** The shared `foreachBatch` choreography of every view's
    * `refreshStream` — exactly-once via a (checkpoint, epoch)
    * transaction high-water on each fold's final commit, watermark
    * filtering so batch refreshes and resumed checkpoints interleave
    * safely, and a loud refusal when a checkpoint path is deleted and
    * reused (replayed epoch numbers with commits BEYOND the watermark).
    * Every live epoch first takes the view's [[StandingView.position]]
    * (finishing a half-applied fold), then `fold` applies the raw slice
    * above it `(slice, position, maxVersion, txn)` and must land the
    * txn on its final commit. */
  def startStream(spark: SparkSession, view: StandingView, checkpoint: String,
                  trigger: org.apache.spark.sql.streaming.Trigger)(
      fold: (DataFrame, FoldCommit.Pos, Long, (String, Long)) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val appId = s"graft-view:$checkpoint"
    val stream = graft.streaming.StreamOps.streamTable(spark,
      view.sourceTablePath, startingVersion = Some(view.sourceVersion + 1),
      readChangeFeed = true)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        if (view.stateTxnVersion(appId).exists(_ >= epochId)) {
          // A genuinely replayed epoch re-delivers only commits the
          // watermark already covers; if it holds NEWER commits the
          // checkpoint path was deleted and reused — refuse instead of
          // silently dropping unseen data (epochs restarted at 0)
          val last = view.sourceVersion
          if (!batch.filter(col("_commit_version") > last).isEmpty)
            throw new IllegalStateException(
              s"view stream checkpoint '$checkpoint' was re-created: " +
                s"epoch $epochId is at or below the recorded high-water " +
                "but carries commits beyond the watermark. Use a FRESH " +
                "checkpoint path (epoch high-waters are keyed by path).")
        } else {
          val pos = view.position()
          // localCheckpoint so the slice is read once (max + fold are
          // two actions)
          val fresh = batch.filter(col("_commit_version") > pos.version)
            .localCheckpoint()
          val maxV = fresh.agg(max(col("_commit_version"))).head()
          if (!maxV.isNullAt(0))
            fold(fresh, pos, maxV.getLong(0), (appId, epochId))
        }
        ()
      }
      .trigger(trigger)
      .start()
  }

  /** The unprocessed change-feed range `from+1..to` of a view's SOURCE,
    * with the retention seam made loud: if the source was vacuumed PAST
    * the view's watermark, the range's early commits (and their change
    * dirs) are gone — the fold can never be completed incrementally, so
    * refuse with the remediation (re-initialize) instead of surfacing a
    * raw missing-file error from deep inside the scan. */
  def cdfSlice(source: ManagedTable, from: Long, to: Long,
               what: String): DataFrame = {
    source.earliestVersion.foreach { e =>
      require(e <= from + 1,
        s"$what: the source's change feed no longer covers versions " +
          s"${from + 1}..$to (earliest retained commit is $e — vacuumed " +
          "past the watermark?). The unprocessed range cannot be folded " +
          "incrementally; re-initialize the view.")
    }
    source.readChangeFeed(from + 1, Some(to))
  }
}

/**
 * Base contract of the one-pass multi-view orchestrator
 * ([[StandingViews]]): anything that maintains itself from a source
 * table's change feed and can fold a slice the orchestrator read FOR
 * it. Two shapes implement it — [[CdfMaintainedView]] folds PRE-NETTED
 * `(ins, del)` pairs (the row-local index views and the additive model
 * views, which all net per (id, payload)), and [[SignedSliceView]]
 * folds the RAW signed slice (the aggregate/join-aggregate views, whose
 * algebra nets per GROUP, not per id — handing them a per-id netting
 * would be wrong, and they need none). The orchestrator groups views by
 * source table, reads each (source, watermark) group's slice exactly
 * once (column-pruned to the union of the group's [[neededSliceCols]],
 * localCheckpoint'd), and fans it out to both shapes.
 */
trait StandingView {
  /** The fold-commit kernel of the view's state table. */
  private[table] def kernel: FoldCommit
  /** The last source version fully folded into the state. */
  def sourceVersion: Long = kernel.walk().version
  private[table] def sourceTablePath: String = kernel.sources.head
  private[table] def viewKind: String = kernel.what
  /** Columns this view needs from a shared change-feed slice (the
    * `_change_type` / `_commit_version` metadata rides implicitly). */
  private[table] def neededSliceCols: Seq[String]
  /** Where the state stands before a fold: the walk, after finishing any
    * half-applied two-commit fold (families that write one override). */
  private[table] def position(): FoldCommit.Pos = kernel.walk()
  private[table] def stateTxnVersion(appId: String): Option[Long] =
    stateTable.lastTxnVersion(appId)
  /** The view's STATE table — what layout maintenance rewrites. */
  private[table] def stateTable: ManagedTable = kernel.state

  /** Routine state-layout maintenance as POLICY
    * ([[ManagedTable.maintainLayoutIfNeeded]]): every DV+APPEND fold
    * adds ~2 read-side overhead units (one small dir, one DV dir), so a
    * continuous pipeline degrades its own serving reads unless SOMETHING
    * decides when to fold the debt. The decision here is one head-commit
    * read — no data scan, no FS listing — which is what lets the
    * orchestrator ask after EVERY fold/micro-batch instead of running a
    * scheduled rewrite job. Maintenance commits are watermark-less and
    * carry `txn` forward, so the family's watermark walks, AS-OF
    * lineage, and streaming exactly-once ledgers see straight through
    * them. Returns the commits that landed (usually none). */
  final def maintainIfNeeded(maxDirBytes: Long = 64L << 20,
                             minSmallDirs: Int = 16,
                             minDvDirs: Int = 8): Seq[ManagedTable.Commit] =
    stateTable.maintainLayoutIfNeeded(maxDirBytes, minSmallDirs, minDvDirs)

  /** Source tables beyond the primary slice feed whose changes this
    * view also folds — the join-aggregate mart's DIMENSION side. Empty
    * for single-source views. The orchestrator uses these to fold a
    * mart when ONLY a dimension changed (batch) and to open
    * dimension-trigger streams (`refreshStreamAllMulti(dimTriggers)`). */
  private[table] def auxSourcePaths: Seq[String] = Nil

  /** The view's watermark on an aux source — only defined for paths in
    * [[auxSourcePaths]]. */
  private[table] def auxSourceVersion(path: String): Long =
    throw new UnsupportedOperationException(
      s"$viewKind has no aux source $path")

  /** Fold every side's pending range WITHOUT a pre-read slice — the
    * aux-source trigger path. Must be idempotent (both-current is a
    * no-op) and fence-guarded (a concurrent primary fold surfaces as
    * [[ManagedTable.ConcurrentCommitException]], which the trigger
    * retries). No-op for single-source views. */
  private[table] def foldPending(): Unit = ()

  /** Retention policy for the view's STATE history
    * ([[ManagedTable.vacuumIfNeeded]]): every fold commits a version,
    * so a continuously-maintained view's state accretes history without
    * bound unless something prunes it. The below-threshold ask is two
    * pointer reads; a firing prunes down to `keepLast`, bounding how
    * far back [[ManagedTable.readAt]]-style AS-OF serving reaches —
    * callers that serve deep lineage choose `keepLast` accordingly. */
  final def vacuumStateIfNeeded(keepLast: Int, slackVersions: Int = 16)
      : Option[ManagedTable.VacuumStats] = {
    require(keepLast >= 1, "vacuumStateIfNeeded must keep at least one version")
    require(slackVersions >= 2,
      "slack below 2 versions degenerates to a full vacuum pass per commit")
    if (stateTable.retainedVersionCount >= keepLast + slackVersions)
      Some(vacuumState(keepLast))
    else None
  }

  /** Family-clamped state retention ([[FoldCommit.vacuum]]); the
    * row-local family also prunes its sidecar tables. */
  private[table] def vacuumState(keepLast: Int): ManagedTable.VacuumStats =
    kernel.vacuum(keepLast)
}

/**
 * A CDF-maintained standing view that folds PRE-NETTED change slices.
 * Every implementor nets its slice per `(netIdCol, netPayloadCols)`
 * with [[CdfNetting.net]], so the one-pass family refresh can net a
 * shared slice once per payload SIGNATURE (the text views AND the
 * corpus-LM share one netting; the classifier adds its label column;
 * the embedding views net separately) — each view then folds its
 * pre-netted `(ins, del)` through its own gates, fences, and write
 * choreography, exactly as an individual refresh would.
 */
trait CdfMaintainedView extends StandingView {
  /** Build the view from the source's current snapshot. */
  def initialize(): Long
  private[table] def netIdCol: String
  private[table] def netPayloadCols: Seq[String]
  private[table] final def neededSliceCols: Seq[String] =
    netIdCol +: netPayloadCols
  /** Apply one slice netted from position `from`, advancing the
    * watermark to `latest`; a nets-to-nothing slice still advances the
    * watermark (empty commit) so the retention hold slides. The slice's
    * FINAL commit must carry `txn`. */
  private[table] def foldNetted(ins: DataFrame, del: DataFrame,
                                from: FoldCommit.Pos, latest: Long,
                                txn: Option[(String, Long)]): Unit

  /** Batch refresh through the kernel's template: net the unprocessed
    * range and fold it. */
  private[table] final def refreshNetted(): Long =
    kernel.refresh(position()) { (cdf, pos, latest) =>
      val (ins, del) = CdfNetting.net(cdf, netIdCol, netPayloadCols, viewKind)
      foldNetted(ins, del, pos, latest, None)
    }

  /** Streaming refresh ([[CdfNetting.startStream]]) of a netted view: a
    * slice netting to nothing lands no commit — a replay nets to
    * nothing again, so skipping stays idempotent. */
  private[table] final def streamNetted(spark: SparkSession,
                                        checkpoint: String,
                                        trigger: org.apache.spark.sql.streaming.Trigger)
      : org.apache.spark.sql.streaming.StreamingQuery =
    CdfNetting.startStream(spark, this, checkpoint, trigger) {
      (fresh, pos, maxV, txn) =>
        val (ins, del) = CdfNetting.net(fresh, netIdCol, netPayloadCols, viewKind)
        if (!ins.isEmpty || !del.isEmpty)
          foldNetted(ins, del, pos, maxV, Some(txn))
    }
}

/**
 * A standing view that folds the RAW SIGNED slice — the
 * aggregate-view side of the orchestrator contract
 * ([[IncrementalAggView]], [[IncrementalJoinAggView]]). Their delta
 * algebra nets per GROUP inside the fold (signed by `_change_type`),
 * so the orchestrator hands the shared slice through untouched; the
 * win is the same as the netted family's: a corpus that keeps standing
 * indexes AND marts reads each TB-scale daily slice once, not once per
 * view family.
 */
trait SignedSliceView extends StandingView {
  /** Fold one RAW change-feed slice (rows carry `_change_type`; the
    * streaming form also carries `_commit_version`) covering
    * `(from, latest]`, advancing the watermark to `latest`. The fold's
    * FINAL commit must carry `txn` when given. */
  private[table] def foldRawSlice(slice: DataFrame, from: FoldCommit.Pos,
                                  latest: Long,
                                  txn: Option[(String, Long)]): Unit
}

/**
 * The shared lifecycle of every ROW-LOCAL standing-index view — an
 * index whose rows are a function of ONE source row (positions, BM25
 * postings, MinHash signatures, PQ codes, cell assignments, benchmark
 * shingles), so maintenance never moves a cross-document statistic:
 *
 *   - [[initialize]]: (optional per-view training hook), doc-id bloom
 *     written FIRST (a crash between bloom and state can only
 *     over-approximate, never under-cover), then one replace commit of
 *     the full index;
 *   - [[refresh]]: the unprocessed change-feed range nets per
 *     (id, payload) ([[CdfNetting.net]] — coarse dir-rewrite feeds
 *     cancel to the minimal delta); a PURE-INSERT slice lands as an
 *     APPEND commit of the batch's own rows (the standing index is not
 *     even read — O(batch) per day); a slice with deletes lands as
 *     merge-on-read DELETION VECTORS (O(deleted rows) — the index is
 *     STILL never rewritten) followed by an append of the entering
 *     rows; past the broadcast gate the DVs go FRAME-KEYED
 *     ([[ManagedTable.deleteVectorsMatching]] — tombstones computed
 *     per-dir on executors, the id set never driver state), so even a
 *     corpus-scale curation delete is an O(deleted rows) commit; only
 *     a delete above [[RowLocalIndexView.RewriteFractionPct]] of the
 *     state's rows rewrites, by SHUFFLED anti-join (read-amplification
 *     honesty). Updates are the (−pre, +post) pair. Insert-id
 *     collisions are bloom-gated against the surviving index; deletes
 *     must describe index rows the state holds — gated on the ids of
 *     the delta's own [[buildRows]] output, so a doc whose payload
 *     indexes to NOTHING (empty text, text shorter than the shingle
 *     width) deletes as a legal no-op instead of wedging the view.
 *
 * Exactly-once is the [[FoldCommit]] protocol: the folded source
 * version rides each slice's final commit, every slice fences on the
 * head its watermark was read under, and the DV path is its
 * tombstone-then-append shape — a crash between the two resumes by
 * re-netting the SAME immutable change-feed range and landing only the
 * missing append. The doc-id bloom lives in its own [[ManagedTable]]
 * (atomic replace via the commit log — no delete-then-write window
 * where a crash leaves NO bloom), written BEFORE the state commits so
 * any crash order only over-approximates.
 *
 * State-table housekeeping composes: [[purge]] materializes the
 * accumulated deletion vectors ([[ManagedTable.purgeDeletes]]) as a
 * watermark-less maintenance commit, transparent to the walk.
 * Subclasses supply only [[buildRows]] (the indexing function), names,
 * and optional training/layout/metadata hooks — the contract and its
 * tests are shared, not stamped.
 */
abstract class RowLocalIndexView(
    spark: SparkSession, sourcePath: String, statePath: String,
    idCol: String, payloadCols: Seq[String],
    what: String, opPrefix: String, expectedIds: Long)
  extends CdfMaintainedView {

  private[table] final val kernel =
    new FoldCommit(spark, statePath, what, Seq(sourcePath), opPrefix)

  // one-pass multi-view refresh plumbing ([[StandingViews.refreshAll]]):
  // the orchestrator groups views by source/watermark/payload signature,
  // nets each signature ONCE, and hands every view its pre-netted slice
  private[table] final def netIdCol: String = idCol
  private[table] final def netPayloadCols: Seq[String] = payloadCols

  /** The walk, after landing a half-applied slice's missing append: the
    * change-feed range is immutable and the netting deterministic, so
    * re-netting `(watermark, pending]` rebuilds exactly that append. */
  private[table] final override def position(): FoldCommit.Pos =
    kernel.resume(kernel.walk()) { pos =>
      val p = pos.pending.get._2.head
      val (ins, del) = CdfNetting.net(
        CdfNetting.cdfSlice(source, pos.version, p, what), idCol, payloadCols,
        what)
      (buildRows(ins), refreshMeta(p, ins, del))
    }

  /** Apply one pre-netted slice `(ins, del)` and advance the watermark
    * to `latest` — [[refresh]]'s tail, split out so the multi-view
    * orchestrator can net once and fold many ([[CdfMaintainedView]]).
    * Every commit fences on the head `from` was read under. */
  private[table] final def foldNetted(ins: DataFrame, del: DataFrame,
                                      from: FoldCommit.Pos, latest: Long,
                                      txn: Option[(String, Long)]): Unit =
    if (ins.isEmpty && del.isEmpty)
      kernel.append(buildRows(ins), Seq(latest),
        refreshMeta(latest, ins, del), from.head, txn)
    else foldSlice(ins, del, from.head, latest, txn)

  /** Index rows for a set of source rows — must be a per-row-local
    * function (a doc's index rows depend on that doc alone). */
  protected def buildRows(docs: DataFrame): DataFrame

  /** The id column NAME inside the state rows. */
  protected def stateIdColumn: String = idCol

  /** Hook before the init write — train and persist quantizers. */
  protected def beforeInitialize(snapshot: DataFrame): Unit = ()

  /** Hook after the init attempt, success or failure — subclasses drop
    * any state they staged for the init window (the ANN/semantic views
    * stage the just-trained quantizer version here until the init
    * commit's metadata names it). */
  protected def afterInitialize(): Unit = ()

  /** Properties landing IN the init commit (layout knobs governing the
    * index's very first files). */
  protected def initProperties: Option[Map[String, String]] = None

  /** Commit metadata of the init commit — subclasses append their own
    * keys AFTER `"sourceVersion"` ([[Bm25IndexView]] rides the corpus
    * scalars here). Must keep the `"sourceVersion":<v>` key. */
  protected def initMeta(v: Long, snapshot: DataFrame): String =
    s"""{"sourceVersion":$v}"""

  /** Commit metadata of the slice's FINAL commit — `ins`/`del` are the
    * netted payload frames. Must keep the `"sourceVersion":<v>` key. */
  protected def refreshMeta(v: Long, ins: DataFrame,
                            del: DataFrame): String =
    s"""{"sourceVersion":$v}"""

  /** Delete-id sets up to this size broadcast (and may collect into a
    * deletion-vector predicate); past it, maintenance joins run
    * shuffled and the delete rewrites the state once. */
  protected def maxBroadcastIds: Int = CdfNetting.MaxBroadcastIds

  /** Change capture on the STATE table's tombstone commits — a
    * deliberate choice, off by default: nothing consumes a standing
    * index's own change feed, capture forces the tombstone scan to
    * full row width instead of key width, and a reader that DOES need
    * the state's feed across a no-capture DV commit is refused loudly
    * by [[ManagedTable.readChangeFeed]] rather than served an empty
    * version. Subclasses that chain views off the state opt in. */
  protected def captureStateChangeData: Boolean = false

  private val ReplaceMarkerRe = """"stateReplace":true""".r
  // leading-quote anchored like the agg family's — an absolute
  // live-row anchor planted by past-the-gate DV folds
  private val StateRowsRe = """"stateRows":(\d+)""".r

  protected final def source: ManagedTable = ManagedTable(spark, sourcePath)
  protected final def state: ManagedTable = kernel.state
  private val bloomPath = statePath.stripSuffix("/") + "_bloom"
  private def bloomTable: ManagedTable = ManagedTable(spark, bloomPath)

  private def stateIds: DataFrame =
    state.read.select(col(s"`$stateIdColumn`").as("doc_id"))

  /** Mark a full-churn replace commit's metadata so [[liveStateRows]]
    * can anchor on its `numOutputRows` without re-classifying append
    * vs replace from dir composition. */
  private def markReplace(meta: String): String = {
    require(meta.startsWith("{"), s"refreshMeta must be a JSON object: $meta")
    meta.replaceFirst("\\{", "{\"stateReplace\":true,")
  }

  /** Live state rows derived from the COMMIT LOG alone — the
    * replace-vs-DV fraction decision used to pay a full state scan for
    * this one count (the single O(state) read left on the delete
    * path); the agg-view family reads its count off commit metadata
    * for exactly this reason ([[IncrementalAggView]]). Walk
    * newest-first, accumulating append folds' own `numOutputRows` and
    * DV commits' `numDeletedRows`, until an ABSOLUTE anchor: a
    * `stateRows` metadata stamp (planted by every past-the-gate DV
    * fold's append, so each walk amortizes into a fresh near-head
    * anchor), the INIT commit, or a marked full-churn replace (whose
    * `numOutputRows` IS the live count at that version). Maintenance commits
    * (purge/compact/cluster/analyze) preserve live rows and are
    * neutral; RESTORE is neutral because [[FoldCommit.commits]]
    * already continues the walk below the restore target — exactly the
    * history the restored rows came from. An operation the walk cannot
    * classify answers None and the caller falls back to one narrow
    * scan, counted by [[RowLocalIndexView.tierCountScans]] so tests
    * pin that the lifecycle's own commits never need it. */
  private def liveStateRows: Option[Long] = {
    val refreshOp = s"${opPrefix}_REFRESH"
    val initOp = s"${opPrefix}_INIT"
    var acc = 0L
    FoldCommit.commits(state).foreach { c =>
      def out = c.operationMetrics.getOrElse("numOutputRows", "0").toLong
      val anchor = c.userMetadata.flatMap(m =>
        StateRowsRe.findFirstMatchIn(m).map(_.group(1).toLong))
      if (anchor.isDefined) return anchor.map(_ + acc)
      c.operation match {
        case op if op == initOp => return Some(out + acc)
        case op if op == refreshOp =>
          if (c.userMetadata.exists(m =>
              ReplaceMarkerRe.findFirstIn(m).isDefined))
            return Some(out + acc)
          else acc += out
        case "DELETE VECTORS" =>
          acc -= c.operationMetrics.getOrElse("numDeletedRows", "0").toLong
        case "PURGE DELETES" | "ANALYZE" => ()
        case op if op.startsWith("COMPACT") || op.startsWith("CLUSTER") ||
          op.startsWith("OPTIMIZE") || op.startsWith("ZORDER") ||
          op.startsWith("RESTORE") => ()
        case _ => return None
      }
    }
    None
  }

  /** Build from the source table's CURRENT snapshot. */
  final def initialize(): Long = {
    val v = source.latestVersion.getOrElse(throw new IllegalStateException(
      s"source table $sourcePath does not exist"))
    val snapshot = source.read
    beforeInitialize(snapshot)
    try {
      bloomTable.write(
        Retrieval.bm25IndexBloom(snapshot.select(col(s"`$idCol`").as("doc_id")),
          expectedIds), s"${opPrefix}_BLOOM", "replace")
      // the init pins the watermark against source vacuum — routine
      // retention can then never strand this view into an O(corpus)
      // re-initialize; a refresh slides the pin forward
      kernel.init(buildRows(snapshot), Seq(v), initMeta(v, snapshot),
        initProperties)
      v
    } finally afterInitialize()
  }

  /** Fold the unprocessed change-feed range. A range netting to NOTHING
    * (pure source compaction: coarse add/remove feeds that cancel)
    * still advances the watermark with an empty commit, so the
    * retention hold slides — otherwise a source that only ever compacts
    * pins its whole history against vacuum forever. No-op (no commit)
    * when already current. */
  final def refresh(): Long = refreshNetted()

  /** Apply one netted slice and advance the watermark to `latest` —
    * the shared write choreography behind [[refresh]] (batch range)
    * and [[refreshStream]] (micro-batch), fenced on `fence`. The
    * slice's FINAL commit carries the watermark (and the stream's txn
    * high-water). */
  private def foldSlice(ins: DataFrame, del: DataFrame, fence: Long,
                        latest: Long, txn: Option[(String, Long)]): Unit = {
    val w = Seq(latest)
    val (bloomBytes, _, _) = Retrieval.bm25BloomFrom(bloomTable.read)
    val insIds = ins.select(col(s"`$idCol`").as("doc_id"))
    val delIds = del.select(col(s"`$idCol`").as("doc_id"))
    // collision gate's state scan, range-pruned: a state row colliding
    // with an entering id has its id inside the batch's [min,max] — on
    // an id-clustered state the exact re-check of bloom positives then
    // scans O(batch range), not every id (ascending-id ingest makes the
    // batch range disjoint from most of the state)
    val insGateIds = graft.table.IncrementalAggView
      .keyRangePredicate(insIds.select(col("doc_id").as(stateIdColumn)),
        Seq(stateIdColumn))
      .map(p => state.readWhere(p)
        .select(col(s"`$stateIdColumn`").as("doc_id")))
      .getOrElse(stateIds)
    CdfNetting.requireNewIds(spark, insGateIds, insIds, delIds,
      Some(bloomBytes), what, maxBroadcastIds)
    // bloom BEFORE the state commits (its replace is atomic through its
    // own commit log): any crash order leaves a bloom covering MORE ids
    // than the state — false positives routed to the exact re-check,
    // never a silently-skipped collision
    if (!ins.isEmpty)
      bloomTable.write(Retrieval.bm25BloomAdd(bloomTable.read, ins, idCol),
        s"${opPrefix}_BLOOM", "replace")
    if (del.isEmpty)
      kernel.append(buildRows(ins), w, refreshMeta(latest, ins, del), fence,
        txn)
    else {
      // gate on the ids the state actually HOLDS rows for — the ids of
      // the delta's own index rows, not every deleted source id (a
      // payload indexing to zero rows deletes as a legal no-op)
      val delRows = buildRows(del).localCheckpoint()
      val delStateIds = delRows
        .select(col(s"`$stateIdColumn`").as("doc_id"))
        .distinct().localCheckpoint()
      // the exists gate over ids the state holds, range-pruned: any
      // state row matching a deleted id has its id inside the deleted
      // set's [min,max] (the frame-DV prune's read-side twin), so the
      // gate's semi join scans O(touched range) of a key-clustered
      // state instead of every id
      val gateIds = graft.table.IncrementalAggView
        .keyRangePredicate(delStateIds.select(
          col("doc_id").as(stateIdColumn)), Seq(stateIdColumn))
        .map(p => state.readWhere(p)
          .select(col(s"`$stateIdColumn`").as("doc_id")))
        .getOrElse(stateIds)
      CdfNetting.requireExistingIds(gateIds, delStateIds, what,
        maxBroadcastIds)
      // how the delete lands, decided by SIZE then FRACTION:
      //   - id set under the broadcast gate → predicate DVs (the ids may
      //     collect into a driver-side IN-list);
      //   - past the gate but under RewriteFractionPct of the state's
      //     rows → FRAME-KEYED DVs (ManagedTable.deleteVectorsMatching:
      //     tombstones computed per-dir on executors, the id frame never
      //     becomes driver or broadcast state) — a 1-10%-of-corpus
      //     curation pass is an O(deleted rows) commit, the index is
      //     STILL never rewritten;
      //   - above the fraction → one SHUFFLED anti-join rewrite (honest:
      //     a half-tombstoned index read-amplifies every search until
      //     purge, so accumulating DVs past this point costs more than
      //     the rewrite). The two counts below run only on past-the-gate
      //     deletes — rare corpus-scale curation events, one narrow scan.
      // the fraction walk's result, when it ran — the DV-path append
      // below re-anchors the live-row count from it, so each walk's
      // cost amortizes: walks happen only on past-the-gate deletes, and
      // every such fold plants a fresh anchor one commit from the head
      var walkedOld: Option[Long] = None
      type Tombstone = (Option[String], Option[(String, Long)]) =>
        ManagedTable.Commit
      val dvDelete: Option[Tombstone] =
        if (Similarity.fitsDriver(delStateIds, maxBroadcastIds)) {
          val ids = delStateIds.collect().map(r => String.valueOf(r.get(0)))
          val pred = col(s"`$stateIdColumn`").cast("string")
            .isin(ids.toIndexedSeq: _*)
          Some((meta, t) => state.deleteVectors(pred,
            captureChangeData = captureStateChangeData, userMetadata = meta,
            expectedPrevVersion = Some(fence), txnUpdate = t))
        } else {
          val old = liveStateRows.getOrElse {
            RowLocalIndexView.tierCountScans.incrementAndGet()
            state.read.count()
          }
          walkedOld = Some(old)
          if (delRows.count() * 100L <
              old * RowLocalIndexView.RewriteFractionPct) {
            val keys = delRows.select(col(s"`$stateIdColumn`")).distinct()
            Some((meta, t) => state.deleteVectorsMatching(keys,
              Seq(stateIdColumn), captureChangeData = captureStateChangeData,
              userMetadata = meta,
              expectedPrevVersion = Some(fence), txnUpdate = t))
          } else None
        }
      dvDelete match {
        case Some(tombstone) =>
          // merge-on-read path: tombstone the deleted docs' rows —
          // O(deleted rows), the standing index is never rewritten. One
          // DV commit carrying the watermark when nothing enters, else
          // the kernel's tombstone-then-append
          if (ins.isEmpty) {
            tombstone(Some(refreshMeta(latest, ins, del)), txn)
            kernel.hold(w)
          } else kernel.tombstoneThenAppend(w, fence, txn)(
              (meta, _) => tombstone(meta, None)) { dvc =>
            walkedOld match {
              case Some(old) =>
                // the walk already priced the live count — spend one
                // count of the batch-scale insert rows to anchor it on
                // this commit (future walks stop here, not at INIT)
                val rows = buildRows(ins).localCheckpoint()
                val n = old - FoldCommit.deletedRows(dvc) + rows.count()
                (rows, refreshMeta(latest, ins, del)
                  .replaceFirst("\\{", s"""{"stateRows":$n,"""))
              case None => (buildRows(ins), refreshMeta(latest, ins, del))
            }
          }
        case None =>
          // corpus-scale delete of a state-rivaling FRACTION (a
          // re-curation of most of the corpus): one shuffled anti-join,
          // one rewrite — the id set still never broadcasts
          val survivors = state.read
            .join(delStateIds.toDF("__del__"),
              col(s"`$stateIdColumn`").cast("string") ===
                col("__del__").cast("string"), "anti")
          kernel.replace(survivors.unionByName(buildRows(ins)), w,
            markReplace(refreshMeta(latest, ins, del)), fence, txn)
      }
    }
  }

  /** STREAMING maintenance: the source's CDF stream folds into the
    * index per micro-batch with the SAME netting, gates, and write
    * choreography as [[refresh]] — a streaming curation pipeline's
    * indexes stay current without a batch CALL. Exactly-once is
    * [[CdfNetting.startStream]]'s: the slice's final commit carries the
    * (checkpoint, epoch) transaction high-water, batch rows at or below
    * the watermark drop, and a half-applied DV slice resumes first.
    * Caller drains/stops the returned query. */
  final def refreshStream(checkpoint: String,
                          trigger: org.apache.spark.sql.streaming.Trigger =
                            org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    streamNetted(spark, checkpoint, trigger)

  /** Materialize the deletion vectors the DV refresh path accumulates
    * — [[ManagedTable.purgeDeletes]] as the view's own maintenance
    * procedure; the commit carries no watermark and is transparent to
    * the walk. */
  final def purge(): Unit = { state.purgeDeletes(); () }

  // the retention policy must go through the family's own vacuum: it
  // also prunes the doc-id bloom and the quantizer lineage coherently
  private[table] final override def vacuumState(keepLast: Int)
      : ManagedTable.VacuumStats = vacuum(keepLast)

  /** Retention maintenance for the WHOLE view, coherent across its
    * artifacts: prune the state table's history to its last `keepLast`
    * versions ([[ManagedTable.vacuum]] — de-referenced MVCC dirs delete
    * with their aged-out log entries, which also bounds the log listing
    * the lazy watermark walk pays), keep only the doc-id bloom's head
    * (refresh gates read the head; AS-OF serving never consults the
    * bloom), and let subclasses prune their quantizer tables down to
    * the versions still NAMED by a retained state commit — so
    * [[readAt]]/[[searchAt]] keep working on exactly the state versions
    * that survive, never on a state whose quantizer was swept away.
    * AS-OF reads older than the horizon are gone by policy, exactly
    * like table time travel after vacuum. */
  final def vacuum(keepLast: Int): ManagedTable.VacuumStats = {
    // clamped to the newest watermark-bearing commit (FoldCommit.vacuum)
    val stats = kernel.vacuum(keepLast)
    if (bloomTable.exists) { bloomTable.vacuum(1); () }
    afterVacuum()
    stats
  }

  /** Hook after [[vacuum]] pruned the state — subclasses prune sidecar
    * tables to what retained state commits still name. */
  protected def afterVacuum(): Unit = ()

  /** HEAVY periodic maintenance — re-cluster the state table on
    * `column` into `buckets` range buckets ([[ManagedTable.clusterBy]]):
    * a full copy-on-write rewrite that lands one dir per bucket with
    * DISJOINT per-dir min/max stats and persists the bucket grid in the
    * table properties. Run at the cadence quantile drift justifies;
    * between runs [[maintain]] folds the append tail onto the SAME grid
    * incrementally. Why a view needs this at all: every O(batch)
    * refresh APPENDs a dir spanning the index's whole key space (a
    * daily batch touches the full vocabulary / cell range), so dir
    * stats overlap completely and [[readWhere]] degrades to a full-dir
    * listing as appends accumulate — write-time clustering keeps row
    * groups tight INSIDE each dir, but only the bucket grid restores
    * dir-grain skipping. The commit carries no watermark and is
    * transparent to the walk; DVs on rewritten dirs are materialized
    * (tombstones go inert with their files). */
  final def recluster(column: String, buckets: Int): Unit = {
    // The doc-id bloom only GROWS through refreshes (a deleted id stays
    // bloom-positive; a re-insert falls to the exact check) — after
    // years of curation churn the filter saturates and its fpp decays,
    // sending ever more inserts to the exact semi-join. The heavy pass
    // re-derives it from the CURRENT ids, fenced on the bloom table and
    // rebuilt BEFORE the state rewrite, which makes the must-always-
    // cover-the-state invariant unconditional: a racing refresh either
    // lands its bloom fold first (our fence fails → skip the rebuild
    // until the next heavy pass) or after ours (its fold unions the
    // batch into whichever bloom it read — both cover). The rebuild is
    // one distinct over the index ids, the same order as the rewrite
    // this pass already pays.
    val fence = bloomTable.latestVersion
    val fresh = Retrieval.bm25IndexBloom(stateIds, expectedIds)
    try bloomTable.write(fresh, s"${opPrefix}_BLOOM", "replace",
      expectedPrevVersion = fence)
    catch { case _: ManagedTable.ConcurrentCommitException => () }
    state.clusterBy(column, buckets); ()
  }

  /** CHEAP routine maintenance, O(tombstones + append tail), never a
    * table rewrite: materialize accumulated deletion vectors
    * ([[ManagedTable.purgeDeletes]] — only dirs holding tombstoned rows
    * rewrite), then fold the unclustered append tail onto the persisted
    * bucket grid when [[recluster]] established one
    * ([[ManagedTable.clusterAppend]] — clustered bulk carried by
    * reference), else bin-pack small dirs
    * ([[ManagedTable.compactDirs]]). All commits are watermark-less
    * maintenance commits, transparent to the walk and to concurrent
    * readers; a [[refresh]] racing a maintenance commit fails its
    * `expectedPrevVersion` fence loudly and simply re-runs. */
  final def maintain(maxDirBytes: Long = 64L << 20): Unit = {
    state.maintainLayout(maxDirBytes); ()
  }

  /** The maintained index restricted by `predicate`, skipping every
    * state dir whose commit-log stats prove it empty of matches
    * ([[ManagedTable.readWhere]]) — results identical to
    * `read.filter(predicate)`, only the scanned file set shrinks.
    * Selective exactly when maintenance keeps per-dir ranges disjoint
    * ([[recluster]] + [[maintain]]). */
  final def readWhere(predicate: org.apache.spark.sql.Column): DataFrame =
    state.readWhere(predicate)

  /** The index AS OF a state version — reproducible retrieval for
    * training-data lineage: the exact artifact a past pipeline run
    * served from, long after later refreshes moved the head. */
  final def readAt(stateVersion: Long): DataFrame =
    state.readAt(stateVersion)

  /** The SOURCE version the index at `stateVersion` had folded — the
    * watermark walk pinned at that version, so time travel on the
    * VIEW names the matching time travel on the SOURCE: the index at
    * state version v describes exactly `source.readAt(
    * sourceVersionAt(v))`. A pending half-applied delete commit at the
    * pin is transparent, exactly like the live walk. */
  final def sourceVersionAt(stateVersion: Long): Long =
    kernel.walk(Some(stateVersion)).version

  /** The maintained index. */
  final def read: DataFrame = state.read
}

/**
 * ONE-PASS maintenance for MANY standing views over one corpus — the
 * flagship curation pipeline keeps BM25 + positional + near-dup +
 * semantic + ANN + benchmark views of the same documents table, and
 * refreshing them one by one re-reads and re-nets the identical
 * change-feed slice once per view (and re-tokenizes it for every text
 * view). At 100 TB the daily slice is TB-scale; N scans of it is real
 * money. [[refreshAll]] reads the slice ONCE per (watermark) group
 * (column-pruned to the union of the views' id/payload columns,
 * localCheckpoint'd), nets it once per payload SIGNATURE (text views
 * share one netting, embedding views another), and hands each view its
 * pre-netted `(ins, del)` — per-view gates, bloom folds, write
 * choreography, and watermarks unchanged, so the result is
 * commit-for-commit what individual refreshes would build.
 * [[refreshStreamAll]] is the streaming form: ONE CDF stream, N folds
 * per micro-batch, exactly-once per view via (checkpoint, epoch)
 * transaction high-waters on each view's own state.
 */
object StandingViews {

  /** Refresh every view in `views`, reading each SOURCE's unprocessed
    * change feed once per distinct (source, watermark) group — views
    * may span MULTIPLE source tables (the README pipeline maintains
    * views over the corpus AND the benchmark table; one CALL, one
    * slice read per source, pinned by [[ManagedTable.changeFeedReads]]).
    * Within a group the slice is column-pruned to the union of the
    * group's needed columns and fanned out to both contract shapes:
    * netted views once per payload signature, signed views raw.
    * Returns the source version each source's views are current to,
    * keyed by source path.
    *
    * `autoMaintain` folds each view state's accumulated layout debt
    * (small fold dirs + deletion vectors) right after its fold whenever
    * the state's HEAD COMMIT says the debt crossed a threshold
    * ([[StandingView.maintainIfNeeded]] — the decision is one log-entry
    * read, so asking on every pass is free; the rewrite only ever pays
    * O(tombstones + small dirs)). Off by default: maintenance commits
    * are extra versions on the state, and callers that pin commit
    * shapes (tests, AS-OF consumers) should opt in deliberately. */
  def refreshAll(spark: SparkSession,
                 views: Seq[StandingView],
                 autoMaintain: Boolean = false): Map[String, Long] = {
    require(views.nonEmpty, "refreshAll needs at least one view")
    // source groups are mutually independent (disjoint state tables,
    // disjoint slices) — run them concurrently too, so a pipeline that
    // maintains views over a corpus AND a dimension table overlaps the
    // two sources' fold chains (guide §2.6)
    inParallel(views.groupBy(_.sourceTablePath).toSeq.map {
      case (srcPath, group) => () =>
      // each view's position, after finishing any half-applied DV
      // slice (its pending range is already tombstoned; the watermark
      // must reflect the completed fold before this pass nets from it)
      val at = group.map(v => v -> v.position())
      val source = ManagedTable(spark, srcPath)
      val latest = source.latestVersion.getOrElse(
        throw new IllegalStateException(
          s"source table $srcPath does not exist"))
      at.groupBy(_._2.version).foreach { case (wm, g) =>
        require(latest >= wm,
          s"source went backwards: watermark $wm, latest $latest — was " +
            "the source table recreated? Re-initialize the views.")
        if (latest != wm) {
          val needed = g.flatMap(_._1.neededSliceCols).distinct
          val slice = CdfNetting
            .cdfSlice(source, wm, latest, "multi-view refresh")
            .select((needed.map(c => col(s"`$c`")) :+ col("_change_type")): _*)
            .localCheckpoint()
          // nettings run sequentially (each is one shared checkpointed
          // frame per payload signature), then EVERY view's fold runs
          // CONCURRENTLY (guide §2.6 — overlap independent jobs): a
          // fold is a chain of small driver-latency-bound actions on
          // its OWN state table, so sequential folds leave the
          // executors idle between commits; concurrent folds back-fill.
          // Per-view choreography, fences, and watermarks are untouched
          // — only the cross-VIEW ordering (which nothing observes:
          // each state table is independent and exactly-once on its own
          // fence) becomes concurrent.
          val netFolds = g.collect { case (v: CdfMaintainedView, p) => (v, p) }
            .groupBy(vp => (vp._1.netIdCol, vp._1.netPayloadCols)).toSeq.flatMap {
              case ((id, pay), vs) =>
                val (ins, del) = CdfNetting.net(slice, id, pay,
                  s"multi-view refresh (${vs.map(_._1.viewKind).mkString(", ")})")
                vs.map { case (v, p) => () => v.foldNetted(ins, del, p, latest, None) }
            }
          val rawFolds = g.collect { case (v: SignedSliceView, p) =>
            () => v.foldRawSlice(slice, p, latest, None) }
          StandingViews.inParallel(netFolds ++ rawFolds)
        }
      }
      // marts whose DIMENSION side moved while the fact source was
      // current: the slice loop above never fires for them (it keys on
      // the primary watermark), so without this a dimension-only load
      // leaves the mart stale until the next fact commit. The ask is
      // pointer reads per aux source; the fold is the view's own
      // both-sides refresh and no-ops when the slice fold above already
      // carried the dimension range
      group.foreach { v =>
        if (v.auxSourcePaths.exists(p => ManagedTable(spark, p)
            .latestVersion.exists(_ > v.auxSourceVersion(p))))
          foldPendingRetry(v)
      }
      if (autoMaintain) group.foreach(_.maintainIfNeeded())
      srcPath -> latest
    }).toMap
  }

  /** Run independent per-view fold tasks concurrently on a bounded
    * driver pool and surface the FIRST failure (matching the sequential
    * loop's exception type). Spark's scheduler runs concurrent jobs
    * FIFO, so a fold's small jobs back-fill executor slots another
    * fold's driver round-trips leave idle. Views commit to their OWN
    * state tables under their own fences, so cross-view ordering was
    * never observable — a task that fails cannot corrupt a sibling
    * (each landed fold is independently exactly-once). */
  private[table] def inParallel[A](tasks: Seq[() => A]): Seq[A] = {
    if (tasks.sizeIs <= 1) return tasks.map(_())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(tasks.size, 6))
    try {
      import scala.jdk.CollectionConverters._
      val callables: Seq[java.util.concurrent.Callable[A]] =
        tasks.map(t => () => t())
      pool.invokeAll(callables.asJava).asScala.map { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        }
      }.toSeq
    } finally pool.shutdown()
  }

  /** Run an aux-triggered fold, retrying the typed fence conflict a
    * concurrent primary-stream fold produces — the fold re-reads both
    * watermarks per attempt, so a retry after a racer lands either
    * folds the honest remainder or no-ops. */
  private def foldPendingRetry(v: StandingView, attempts: Int = 3): Unit = {
    var left = attempts
    while (left > 0) {
      try { v.foldPending(); return }
      catch {
        case e: ManagedTable.ConcurrentCommitException =>
          left -= 1
          if (left == 0) throw e
      }
    }
  }

  /** Multi-SOURCE streaming form: one CDF stream per source table,
    * each under its own DETERMINISTIC checkpoint subdirectory of
    * `checkpoint` (keyed by a content hash of the source path, so a
    * restart resumes every source's stream from its own offsets —
    * list-order changes or added sources never shift an existing
    * source's checkpoint). Exactly-once per view is unchanged: each
    * fold's ledger lives on the view's own state keyed by its
    * subdirectory's appId. Returns the started query per source;
    * caller drains/stops each. */
  def refreshStreamAllMulti(spark: SparkSession, views: Seq[StandingView],
                            checkpoint: String,
                            trigger: org.apache.spark.sql.streaming.Trigger =
                              org.apache.spark.sql.streaming.Trigger
                                .AvailableNow(),
                            autoMaintain: Boolean = false,
                            dimTriggers: Boolean = false)
      : Map[String, org.apache.spark.sql.streaming.StreamingQuery] = {
    require(views.nonEmpty, "refreshStreamAllMulti needs at least one view")
    def subdir(prefix: String, src: String): String = {
      val digest = java.security.MessageDigest.getInstance("SHA-1")
        .digest(src.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(8).map(b => f"$b%02x").mkString
      new org.apache.hadoop.fs.Path(checkpoint, s"$prefix-$digest").toString
    }
    val primary = views.groupBy(_.sourceTablePath)
    // `dimTriggers` closes the streaming cadence gap: a join mart's
    // dimension-only change otherwise waits for the next FACT epoch.
    // Each aux source either rides an existing primary stream (its
    // epochs also trigger the marts) or gets a dedicated trigger stream
    val auxBySrc: Map[String, Seq[StandingView]] =
      if (!dimTriggers) Map.empty
      else views.flatMap(v => v.auxSourcePaths.map(_ -> v)).groupBy(_._1)
        .map { case (s, ps) => s -> ps.map(_._2).distinct }
    val base = primary.map { case (src, group) =>
      src -> refreshStreamAll(spark, group, subdir("src", src),
        trigger, autoMaintain, auxBySrc.getOrElse(src, Nil))
    }
    // aux-only sources stream under their own "aux-" checkpoint prefix:
    // if the topology later makes this table a PRIMARY source, its
    // "src-" checkpoint starts fresh from the views' watermarks instead
    // of silently inheriting trigger-stream offsets that no view ledger
    // ever folded from
    val auxOnly = (auxBySrc -- primary.keys).map { case (src, marts) =>
      val start = marts.map(_.auxSourceVersion(src)).min + 1
      src -> graft.streaming.StreamOps.streamTable(spark, src,
          startingVersion = Some(start), readChangeFeed = true)
        .writeStream
        .option("checkpointLocation", subdir("aux", src))
        .foreachBatch { (_: DataFrame, _: Long) =>
          // the epoch is only a TRIGGER: the fold re-derives both
          // sides' pending ranges itself and is idempotent, so replays
          // need no ledger and a racing fact fold retries on its fence
          marts.foreach(foldPendingRetry(_))
          if (autoMaintain) marts.foreach(_.maintainIfNeeded())
          ()
        }
        .trigger(trigger)
        .start()
    }
    base ++ auxOnly
  }

  /** STREAMING form: ONE CDF stream over the shared source drives every
    * view's fold per micro-batch — netted once per (watermark, payload
    * signature) from the checkpointed batch. Exactly-once PER VIEW: each
    * fold's final commit carries the (checkpoint, epoch) transaction
    * high-water on that view's own state, so a crash after view k folded
    * but view k+1 did not replays the epoch folding only the k+1 tail;
    * the re-created-checkpoint refusal is per view too. Caller
    * drains/stops the returned query. */
  def refreshStreamAll(spark: SparkSession, views: Seq[StandingView],
                       checkpoint: String,
                       trigger: org.apache.spark.sql.streaming.Trigger =
                         org.apache.spark.sql.streaming.Trigger.AvailableNow(),
                       autoMaintain: Boolean = false,
                       auxViews: Seq[StandingView] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(views.nonEmpty, "refreshStreamAll needs at least one view")
    val srcPath = views.head.sourceTablePath
    require(views.forall(_.sourceTablePath == srcPath),
      "refreshStreamAll streams ONE source's change feed — views span " +
        views.map(_.sourceTablePath).distinct.mkString(", ") +
        "; use refreshStreamAllMulti (one stream + checkpoint subdir " +
        "per source)")
    val appId = s"graft-view:$checkpoint"
    val start = views.map(_.sourceVersion).min + 1
    val stream = graft.streaming.StreamOps.streamTable(spark, srcPath,
      startingVersion = Some(start), readChangeFeed = true)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val live = views.filter(v =>
          !v.stateTxnVersion(appId).exists(_ >= epochId))
        if (live.isEmpty) {
          // every view recognizes the epoch as replayed; if it carries
          // commits BEYOND every watermark, the checkpoint path was
          // deleted and reused — refuse instead of dropping unseen data
          val maxWm = views.map(_.sourceVersion).max
          if (!batch.filter(col("_commit_version") > maxWm).isEmpty)
            throw new IllegalStateException(
              s"multi-view stream checkpoint '$checkpoint' was re-created: " +
                s"epoch $epochId is at or below every view's recorded " +
                "high-water but carries commits beyond the watermark. Use " +
                "a FRESH checkpoint path.")
        } else {
          val at = live.map(v => v -> v.position())
          val needed = live.flatMap(_.neededSliceCols).distinct
          val slice = batch.select((needed.map(c => col(s"`$c`")) :+
            col("_change_type") :+ col("_commit_version")): _*)
            .localCheckpoint()
          val txn = Some((appId, epochId))
          at.groupBy(_._2.version).foreach { case (wm, group) =>
            val fresh = slice.filter(col("_commit_version") > wm)
            val maxV = fresh.agg(max(col("_commit_version"))).head()
            if (!maxV.isNullAt(0)) {
              group.collect { case (v: CdfMaintainedView, p) => (v, p) }
                .groupBy(vp => (vp._1.netIdCol, vp._1.netPayloadCols)).foreach {
                  case ((id, pay), vs) =>
                    val (ins, del) = CdfNetting.net(fresh, id, pay,
                      s"multi-view stream (${vs.map(_._1.viewKind).mkString(", ")})")
                    vs.foreach { case (v, p) =>
                      v.foldNetted(ins, del, p, maxV.getLong(0), txn) }
                }
              group.collect { case (v: SignedSliceView, p) =>
                v.foldRawSlice(fresh, p, maxV.getLong(0), txn) }
            }
          }
          // continuous pipelines accrue ~2 read-overhead dirs per fold;
          // the zero-IO debt check makes per-epoch maintenance free to
          // ASK for, and the rewrite amortizes to O(batch) per epoch.
          // Maintenance commits carry txn forward, so a crash between a
          // fold and its maintenance replays safely (fold recognized by
          // the ledger, debt simply re-checked next epoch)
          if (autoMaintain) live.foreach(_.maintainIfNeeded())
        }
        // marts whose DIMENSION side is this stream's source: the epoch
        // is only a trigger (the fold re-derives both sides' pending
        // ranges, idempotent, fence-retried), so dimension changes fold
        // on THIS source's cadence instead of waiting for a fact epoch
        auxViews.foreach(foldPendingRetry(_))
        if (autoMaintain) auxViews.foreach(_.maintainIfNeeded())
        ()
      }
      .trigger(trigger)
      .start()
  }
}

object RowLocalIndexView {
  /** Past-the-broadcast-gate delete slices land as FRAME-KEYED deletion
    * vectors (O(deleted rows) writes, id set never driver state) while
    * the deleted index rows stay under this percentage of the state's
    * rows; at or above it the fold takes the single shuffled anti-join
    * rewrite — a state tombstoned past ~a third read-amplifies every
    * search until the next purge, so the rewrite is the cheaper honest
    * plan there. */
  val RewriteFractionPct: Long = 30L

  /** Full-scan fallbacks of the delete-tier row count — the fraction
    * decision reads live rows off the commit log
    * ([[RowLocalIndexView.liveStateRows]]) and only an unclassifiable
    * foreign commit on the state table forces a scan, so this stays 0
    * across the view lifecycle's own commits. Test-visible. */
  private[graft] val tierCountScans =
    new java.util.concurrent.atomic.AtomicLong(0L)
}

/**
 * The POSITIONAL index behind [[Retrieval.phraseSearchWith]] as a
 * standing, CDF-maintained view — `(doc_id, pos, tok)` occurrence rows
 * for exact phrase search. Positions are per-document, so the
 * [[RowLocalIndexView]] lifecycle applies verbatim: pure-insert slices
 * APPEND their own posexploded rows, deletes tombstone as deletion
 * vectors (shuffled rewrite only past the broadcast gate).
 */
final class PositionalIndexView(spark: SparkSession, sourcePath: String,
                                statePath: String,
                                textCol: String = "text",
                                idCol: String = "doc_id",
                                expectedDocs: Long = 10000000L,
                                deleteBroadcastCap: Int =
                                  CdfNetting.MaxBroadcastIds)
  extends RowLocalIndexView(spark, sourcePath, statePath, idCol,
    Seq(textCol), "positional index view", "PHRASE", expectedDocs) {

  override protected def stateIdColumn: String = "doc_id"

  override protected def maxBroadcastIds: Int = deleteBroadcastCap

  override protected def buildRows(docs: DataFrame): DataFrame =
    Retrieval.positionalIndex(docs, textCol, idCol)

  /** Exact phrase top-k served from the maintained occurrences
    * ([[Retrieval.phraseSearchWith]]). In the driver regime the index
    * comes from a SKIPPING read over the phrases' token set — after
    * [[recluster]]`("tok", …)` whole occurrence dirs prune from
    * commit-log stats; the phrase join only ever touches matching
    * tokens, so results are identical. Past the gate the full index
    * flows. */
  def search(phrases: DataFrame, k: Int = 10,
             maxPrunedToks: Int = 4096): DataFrame = {
    val qtoks = Retrieval.queryToks(phrases)
    // gate + collect fused into one bounded job (the old fitsDriver +
    // collect pair ran the distinct twice)
    val index = Similarity.collectUpTo(qtoks, maxPrunedToks) match {
      case Some(rows) =>
        val ts = rows.map(_.getString(0)).toIndexedSeq
        if (ts.isEmpty) read.limit(0)
        else readWhere(col("tok").isin(ts: _*))
      case None => read
    }
    Retrieval.phraseSearchWith(phrases, index, k)
  }

  /** [[search]] AS OF a state version — phrase results against the
    * exact occurrence index a past run served
    * ([[RowLocalIndexView.readAt]]). */
  def searchAt(stateVersion: Long, phrases: DataFrame,
               k: Int = 10): DataFrame =
    Retrieval.phraseSearchWith(phrases, readAt(stateVersion), k)
}

/**
 * The standing DECONTAMINATION benchmark index
 * ([[graft.llm.Dedup.benchmarkIndex]] — one `(gram, test_id)` row per
 * distinct eval-doc shingle) as a CDF-maintained view over the
 * BENCHMARK table. Benchmarks change too: suites gain members
 * (appends) and retire them (deletes) — and a stale index keeps a
 * retired benchmark's grams, so clean training documents are held
 * back as "contaminated" against eval items that no longer exist
 * (ghost contamination — the exact mirror of the corpus-side ghost
 * dedup).
 */
final class BenchmarkIndexView(spark: SparkSession, sourcePath: String,
                               statePath: String,
                               textCol: String = "text",
                               idCol: String = "doc_id",
                               shingleN: Int = 3,
                               expectedDocs: Long = 10000000L)
  extends RowLocalIndexView(spark, sourcePath, statePath, idCol,
    Seq(textCol), "benchmark view", "BENCH", expectedDocs) {

  override protected def stateIdColumn: String = "test_id"

  override protected def buildRows(docs: DataFrame): DataFrame =
    graft.llm.Dedup.benchmarkIndex(docs, textCol, idCol, shingleN)

  /** Keep only the batch docs safe to train on — not contaminated
    * against any CURRENT benchmark member
    * ([[graft.llm.Dedup.decontaminateWith]], ghost-free). */
  def decontaminate(batch: DataFrame, minShared: Int = 3,
                    commonGrams: Option[DataFrame] = None): DataFrame =
    graft.llm.Dedup.decontaminateWith(batch, read, textCol, idCol,
      shingleN, minShared, commonGrams)
}

/**
 * The standing NEAR-DUP index ([[graft.llm.Dedup.buildNearDupIndex]] —
 * MinHash signature + shingle set per document) as a CDF-maintained
 * view. This closes the most consequential curation asymmetry of the
 * dedup family itself: a stale index keeps DELETED documents'
 * signatures, so a re-submitted document is rejected as a duplicate of
 * a GHOST — a doc the corpus no longer contains.
 */
final class NearDupIndexView(spark: SparkSession, sourcePath: String,
                             statePath: String,
                             textCol: String = "text",
                             idCol: String = "doc_id",
                             numHashes: Int = 64, shingleN: Int = 3,
                             expectedDocs: Long = 10000000L)
  extends RowLocalIndexView(spark, sourcePath, statePath, idCol,
    Seq(textCol), "neardup view", "NEARDUP", expectedDocs) {

  override protected def buildRows(docs: DataFrame): DataFrame =
    graft.llm.Dedup.buildNearDupIndex(docs, textCol, idCol, numHashes,
      shingleN)

  /** Keep only the batch docs that are near-dups of NOTHING — neither
    * the maintained corpus index (ghost-free: deleted docs no longer
    * reject re-submissions) nor each other
    * ([[graft.llm.Dedup.dedupNewBatch]]). */
  def dedupBatch(newDocs: DataFrame, threshold: Double = 0.8,
                 bands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    graft.llm.Dedup.dedupNewBatch(newDocs, read, textCol, idCol, threshold,
      numHashes, shingleN, bands, rowsPerBand)
}

/**
 * The standing SEMANTIC-DEDUP index ([[Similarity.buildSemanticIndex]]
 * — each corpus vector with its k-means cell and centroid cosine) as a
 * CDF-maintained view — the embedding-space sibling of
 * [[NearDupIndexView]], closing the same ghost asymmetry: a stale
 * index keeps deleted vectors, so a re-submitted (or re-embedded)
 * document is semantically rejected against a doc the corpus no
 * longer contains. The cell quantizer trains ONCE at `initialize`,
 * persists in its own VERSIONED ManagedTable beside the state, and
 * each init commit's metadata names the version that encoded its cells
 * (the [[AnnIndexView]] add-vs-train split and crash/as-of consistency
 * contract — re-training on drift is an explicit re-initialize, and a
 * crash mid-re-initialize can never pair old cells with the new
 * quantizer).
 */
final class SemanticIndexView(spark: SparkSession, sourcePath: String,
                              statePath: String,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding",
                              nlist: Int = 16, trainIters: Int = 2,
                              expectedVecs: Long = 10000000L)
  extends RowLocalIndexView(spark, sourcePath, statePath, idCol,
    Seq(vecCol), "semantic view", "SEMANTIC", expectedVecs) {

  private val centsPath = statePath.stripSuffix("/") + "_centroids"
  private def centsTable: ManagedTable = ManagedTable(spark, centsPath)

  // The quantizer version the in-flight initialize staged but whose init
  // commit has not landed yet — buildRows/initMeta read it during the
  // init window; cleared (success or failure) once the attempt ends, so
  // every later read resolves through the state metadata walk and a
  // FAILED re-initialize can never leave this instance encoding refresh
  // batches under a quantizer the state's codes were not built with.
  @volatile private var stagedQuantizer: Option[Long] = None

  private val CentsRe = """"centsVersion":(\d+)""".r

  /** The quantizer version governing the state at `atOrBelow` (None =
    * current): the newest state commit naming a `centsVersion` — init
    * commits name it, refreshes inherit it through the walk, RESTORE
    * confines the walk, and a RE-initialize lands a new init commit
    * naming the retrained version. The quantizer table is versioned and
    * the state names which version encoded it, so a crash between the
    * quantizer write and the init commit leaves every read consistent
    * (old quantizer + old codes), and AS-OF reads across a re-initialize
    * decode historical codes under their HISTORICAL quantizer. */
  private def centsVersion(atOrBelow: Option[Long]): Long = {
    // resolved ONLY through the state metadata walk — the staged
    // (not-yet-committed) version is threaded explicitly into the init
    // path's buildRows/initMeta instead of taking global precedence
    // here, so a concurrent search/dedupBatch on this instance during
    // an in-flight re-initialize keeps decoding the OLD codes under
    // the OLD quantizer
    val walked =
      if (state.exists)
        FoldCommit.metaFirst(state, "semantic view", statePath, atOrBelow)(
          m => CentsRe.findFirstMatchIn(m).map(_.group(1).toLong))
      else None
    walked.getOrElse(throw new IllegalStateException(
      "no commit in the semantic view state's history names a quantizer " +
        "version — call initialize() first"))
  }

  /** The frozen cell quantizer governing the CURRENT state. */
  def centroids: Array[Array[Double]] =
    Similarity.centroidsFrom(centsTable.readAt(centsVersion(None)))

  /** The quantizer AS OF a state version — historical codes decode
    * under the quantizer that encoded them even across a re-initialize
    * (retention coupling: keep the quantizer table's old versions as
    * long as AS-OF reads of the state need them). */
  def centroidsAt(stateVersion: Long): Array[Array[Double]] =
    Similarity.centroidsFrom(centsTable.readAt(centsVersion(Some(stateVersion))))

  override protected def beforeInitialize(snapshot: DataFrame): Unit = {
    val cents = Similarity.trainCentroids(snapshot, nlist, trainIters,
      idCol, vecCol)
    centsTable.write(Similarity.centroidsTable(spark, cents),
      "SEMANTIC_QUANTIZER", "replace")
    stagedQuantizer = centsTable.latestVersion
  }

  override protected def afterInitialize(): Unit = stagedQuantizer = None

  override protected def initMeta(v: Long, snapshot: DataFrame): String =
    s"""{"sourceVersion":$v,"centsVersion":${stagedQuantizer.get}}"""

  // every watermark-bearing commit fully names its quantizer (the BM25
  // scalar pattern): vacuum can age out the init commit without the
  // walk losing the pin
  override protected def refreshMeta(v: Long, ins: DataFrame,
                                     del: DataFrame): String =
    s"""{"sourceVersion":$v,"centsVersion":${centsVersion(None)}}"""

  override protected def afterVacuum(): Unit = {
    val named = state.metaHistory.flatMap(c => c.userMetadata
      .flatMap(m => CentsRe.findFirstMatchIn(m)).map(_.group(1).toLong)).toSeq
    centsTable.latestVersion.foreach { l =>
      if (named.nonEmpty && named.min <= l)
        centsTable.vacuum((l - named.min + 1).toInt)
    }
  }

  /** Born clustered by `cell` like [[AnnIndexView]]'s codes — the
    * dedup probe's cell-keyed join prunes at row-group grain from the
    * first file, and [[RowLocalIndexView.recluster]]`("cell", …)`
    * restores dir-grain pruning as append slices accumulate. */
  override protected def initProperties: Option[Map[String, String]] =
    Some(Map(ManagedTable.ClusterColumnsProp -> "cell"))

  override protected def buildRows(docs: DataFrame): DataFrame = {
    // the init window's just-trained version threads in here (its init
    // commit has not named it yet); every other fold resolves through
    // the walk
    val cv = stagedQuantizer.getOrElse(centsVersion(None))
    Similarity.buildSemanticIndex(
      Similarity.centroidsFrom(centsTable.readAt(cv)), docs, idCol, vecCol)
  }

  /** Keep only the batch vectors that are semantic duplicates of
    * NOTHING — neither the maintained (ghost-free) corpus index nor
    * each other ([[Similarity.semanticDedupBatch]]). The corpus side
    * comes from a SKIPPING read over the batch's assigned-cell union
    * ([[Similarity.assignedCellUnion]] — at most `nlist` values at ANY
    * batch size, so the pruning needs no driver gate; the dedup's own
    * cell equi-join re-filters inside the survivors, results
    * identical). */
  def dedupBatch(batch: DataFrame, threshold: Double): DataFrame = {
    val cs = centroids
    val cells = Similarity.assignedCellUnion(cs, batch, vecCol)
    val index =
      if (cells.isEmpty) read.limit(0)
      else readWhere(col("cell").isin(cells: _*))
    Similarity.semanticDedupBatch(cs, batch, index, threshold, idCol, vecCol)
  }
}

/**
 * The IVF-PQ ANN index as a standing, CDF-maintained view: the codes
 * table `(vec_id, pq_codes, cell)` lives in its own ManagedTable, and
 * the quantizer (coarse centroids + PQ codebooks) trains ONCE at
 * `initialize` and persists in its own VERSIONED ManagedTables beside
 * the state — FAISS's add-vs-train split: appends append-encode
 * against the frozen quantizer ([[Similarity.ivfPqAppend]], O(batch));
 * deletes drop code rows; re-training is a POLICY decision (watch
 * [[Similarity.pqReconstructionError]] and re-initialize on drift),
 * never a refresh side effect. Each init commit's metadata NAMES the
 * quantizer versions that encoded its codes, so codes and quantizer
 * can never silently mix across a re-initialize: a crash between the
 * quantizer write and the init commit leaves every read consistent
 * (the state still names the old pair), and [[searchAt]] decodes
 * historical codes under their historical quantizer. The codes are
 * BORN clustered by `cell` (the property lands in the init commit and
 * governs its very first files; appends inherit it), so the
 * driver-regime probe's `cell IN (...)` filter prunes at dir-stat and
 * row-group grain.
 */
final class AnnIndexView(spark: SparkSession, sourcePath: String,
                         statePath: String,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         nlist: Int = 16, m: Int = 8, ksub: Int = 16,
                         trainIters: Int = 2,
                         expectedVecs: Long = 10000000L)
  extends RowLocalIndexView(spark, sourcePath, statePath, idCol,
    Seq(vecCol), "ann index view", "ANN", expectedVecs) {

  private val centsPath = statePath.stripSuffix("/") + "_centroids"
  private val booksPath = statePath.stripSuffix("/") + "_books"
  private def centsTable: ManagedTable = ManagedTable(spark, centsPath)
  private def booksTable: ManagedTable = ManagedTable(spark, booksPath)

  // Just-trained quantizer versions staged for the init window (see
  // [[SemanticIndexView.stagedQuantizer]] — same contract: cleared on
  // init success OR failure, every later read resolves through the
  // state metadata walk, so no crash order can pair codes with a
  // quantizer that did not encode them).
  @volatile private var stagedQuantizer: Option[(Long, Long)] = None

  private val QuantRe = """"centsVersion":(\d+),"booksVersion":(\d+)""".r

  /** (coarse-centroid version, PQ-codebook version) governing the state
    * at `atOrBelow` (None = current) — the newest state commit naming
    * them; a re-initialize lands a new init commit naming the retrained
    * pair, so AS-OF reads decode historical codes under their
    * historical quantizer. */
  private def quantVersions(atOrBelow: Option[Long]): (Long, Long) = {
    // resolved ONLY through the state metadata walk — the staged pair
    // threads explicitly into the init path's buildRows/initMeta (see
    // [[SemanticIndexView.centsVersion]]): a concurrent search on this
    // instance during an in-flight re-initialize must keep decoding the
    // OLD codes under the OLD quantizer pair
    val walked =
      if (state.exists)
        FoldCommit.metaFirst(state, "ann index view", statePath, atOrBelow)(
          m => QuantRe.findFirstMatchIn(m)
            .map(g => (g.group(1).toLong, g.group(2).toLong)))
      else None
    walked.getOrElse(throw new IllegalStateException(
      "no commit in the ann view state's history names quantizer " +
        "versions — call initialize() first"))
  }

  /** The governing quantizer pair, resolved with ONE metadata walk —
    * serving paths that need both artifacts read this instead of the
    * single getters (each getter is its own walk + log listing). */
  private def quantizerNow
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val (cv, bv) = quantVersions(None)
    (Similarity.centroidsFrom(centsTable.readAt(cv)),
      Similarity.pqBooksFrom(booksTable.readAt(bv)))
  }

  /** The frozen coarse quantizer governing the CURRENT state. */
  def centroids: Array[Array[Double]] =
    Similarity.centroidsFrom(centsTable.readAt(quantVersions(None)._1))

  /** The frozen PQ codebooks governing the CURRENT state. */
  def codebooks: Array[Array[Array[Double]]] =
    Similarity.pqBooksFrom(booksTable.readAt(quantVersions(None)._2))

  /** Quantizer pair AS OF a state version (retention coupling: keep the
    * quantizer tables' old versions as long as AS-OF reads need them). */
  def quantizerAt(stateVersion: Long)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val (cv, bv) = quantVersions(Some(stateVersion))
    (Similarity.centroidsFrom(centsTable.readAt(cv)),
      Similarity.pqBooksFrom(booksTable.readAt(bv)))
  }

  override protected def beforeInitialize(snapshot: DataFrame): Unit = {
    centsTable.write(Similarity.centroidsTable(spark,
        Similarity.trainCentroids(snapshot, nlist, trainIters, idCol, vecCol)),
      "ANN_QUANTIZER", "replace")
    booksTable.write(Similarity.pqBooksTable(spark,
        Similarity.pqTrain(snapshot, m, ksub, trainIters, idCol, vecCol)),
      "ANN_QUANTIZER", "replace")
    stagedQuantizer =
      Some((centsTable.latestVersion.get, booksTable.latestVersion.get))
  }

  override protected def afterInitialize(): Unit = stagedQuantizer = None

  override protected def initMeta(v: Long, snapshot: DataFrame): String = {
    val (cv, bv) = stagedQuantizer.get
    s"""{"sourceVersion":$v,"centsVersion":$cv,"booksVersion":$bv}"""
  }

  // every watermark-bearing commit fully names its quantizer pair (the
  // BM25 scalar pattern): vacuum can age out the init commit without
  // the walk losing the pin
  override protected def refreshMeta(v: Long, ins: DataFrame,
                                     del: DataFrame): String = {
    val (cv, bv) = quantVersions(None)
    s"""{"sourceVersion":$v,"centsVersion":$cv,"booksVersion":$bv}"""
  }

  override protected def afterVacuum(): Unit = {
    // keeps named.min..latest. A crashed re-initialize's ORPHAN version
    // (written above every named one) rides along: vacuum semantics
    // never drop the head, and once a later init lands the orphan sits
    // interior to the kept range — a small BOUNDED sidecar per crashed
    // re-init (two tiny quantizer tables), accepted over a
    // gap-tracking vacuum variant.
    val named = state.metaHistory.flatMap(c => c.userMetadata
      .flatMap(m => QuantRe.findFirstMatchIn(m))
      .map(g => (g.group(1).toLong, g.group(2).toLong))).toSeq
    if (named.nonEmpty) {
      centsTable.latestVersion.foreach { l =>
        if (named.map(_._1).min <= l)
          centsTable.vacuum((l - named.map(_._1).min + 1).toInt)
      }
      booksTable.latestVersion.foreach { l =>
        if (named.map(_._2).min <= l)
          booksTable.vacuum((l - named.map(_._2).min + 1).toInt)
      }
    }
  }

  override protected def initProperties: Option[Map[String, String]] =
    Some(Map(ManagedTable.ClusterColumnsProp -> "cell"))

  override protected def buildRows(docs: DataFrame): DataFrame = {
    // the init window's just-trained pair threads in here; every other
    // fold resolves through the walk
    val (cv, bv) = stagedQuantizer.getOrElse(quantVersions(None))
    Similarity.ivfPqAppend(Similarity.centroidsFrom(centsTable.readAt(cv)),
      Similarity.pqBooksFrom(booksTable.readAt(bv)), docs, idCol, vecCol)
  }

  /** [[refresh]] plus the FAISS retrain-when-stale loop as ONE call:
    * after the fold, the CURRENT corpus's PQ reconstruction MSE under
    * the governing codebooks ([[Similarity.pqReconstructionError]] —
    * the `CALL graft.ann_view_drift` signal) is compared to
    * `maxDrift`; past it the view re-[[initialize]]s — retrain, new
    * VERSIONED quantizer pair, a fresh init commit naming it — so the
    * policy loop is one idempotent maintenance call. AS-OF reads of
    * pre-re-init states keep decoding under their historical quantizer
    * (the versioned-lineage contract). Returns (watermark,
    * reinitialized?). */
  def refreshWithDriftPolicy(maxDrift: Double): (Long, Boolean) = {
    require(maxDrift > 0, "max_drift must be positive")
    val v = refresh()
    val mse = Similarity.pqReconstructionError(codebooks, source.read)
    if (mse > maxDrift) (initialize(), true) else (v, false)
  }

  /** Serve top-k from the standing artifacts: probe-pruned ADC scan
    * over the maintained codes, exact re-rank against the CURRENT
    * corpus snapshot ([[Similarity.ivfPqTopKWith]] — both query-batch
    * regimes apply). In the driver regime the codes come from a
    * SKIPPING read over the probed-cell union
    * ([[Similarity.probeCellUnion]] + [[readWhere]]) — after
    * [[recluster]]`("cell", …)` whole state dirs prune from
    * commit-log stats before any scan is planned; `ivfPqTopKWith`'s
    * per-query probe map re-filters inside the survivors, so results
    * are identical. Past the gate the full codes frame flows (the
    * cell set must not become driver state). */
  def search(queries: DataFrame, k: Int, nProbe: Int = 4,
             rerank: Int = 64): DataFrame = {
    val (cents, books) = quantizerNow
    val codes = Similarity.probeCellUnion(cents, queries, nProbe,
        vecCol = vecCol) match {
      case Some(cells) if cells.nonEmpty =>
        readWhere(col("cell").isin(cells: _*))
      case Some(_) => read.limit(0)
      case None => read
    }
    Similarity.ivfPqTopKWith(cents, books, codes, source.read,
      queries, k, nProbe, rerank, idCol, vecCol)
  }

  /** [[search]] AS OF a state version: codes from [[readAt]], exact
    * re-rank against the MATCHING corpus snapshot
    * (`source.readAt(sourceVersionAt(v))`), and the quantizer pair AS
    * OF the same state version ([[quantizerAt]]) — the neighbors a past
    * run retrieved, reproducible after later refreshes moved both
    * tables AND after a drift-triggered re-initialize retrained the
    * quantizer (historical codes always decode under the centroids/
    * codebooks that encoded them). */
  def searchAt(stateVersion: Long, queries: DataFrame, k: Int,
               nProbe: Int = 4, rerank: Int = 64): DataFrame = {
    val (cents, books) = quantizerAt(stateVersion)
    Similarity.ivfPqTopKWith(cents, books, readAt(stateVersion),
      source.readAt(sourceVersionAt(stateVersion)), queries, k, nProbe,
      rerank, idCol, vecCol)
  }
}

/**
 * The corpus unigram language model ([[graft.llm.TextOps.unigramModel]]
 * — the `(tok, freq)` table behind rare-token gating, tf-idf and the
 * rarity curation filters) as a standing, CDF-maintained view. Token
 * counts are PURELY ADDITIVE, so this is the cleanest member of the
 * family: an entering doc's term frequencies add, a leaving doc's
 * subtract, an update is the (−pre, +post) pair — the fold is exact
 * under any mix of appends, deletes, and updates, with no append-only
 * carve-out and no id-membership gates at all (a count can simply go
 * to zero and leave). This is what keeps ingest-gate models HONEST
 * under curation: after a dedup pass deletes corpus rows, the standing
 * LM still equals the model a full recompute would build — scoring
 * never drifts from the corpus it claims to describe.
 *
 * Refresh cost: O(batch) tokenization + one shuffle of the VOCABULARY
 * table (the state is token-type-sized — Heaps' law puts it orders of
 * magnitude below the corpus, so folding it through one hash aggregate
 * is the honest, simple plan; there is no 10^10-row frame anywhere).
 * A negative folded count (deleting occurrences that were never added
 * — a feed that does not describe this corpus) refuses loudly before
 * the commit. Watermark, restart recovery and the concurrency fence
 * are the [[FoldCommit]] kernel's.
 */
final class CorpusLmView(spark: SparkSession, sourcePath: String,
                         statePath: String,
                         textCol: String = "text",
                         idCol: String = "doc_id")
  extends CdfMaintainedView {

  private[table] val kernel =
    new FoldCommit(spark, statePath, "lm view", Seq(sourcePath), "LM")
  private def source = ManagedTable(spark, sourcePath)
  private def state = kernel.state

  // one-pass family refresh plumbing: the LM nets per (doc_id, text) —
  // the SAME signature as the text index views, so the orchestrator
  // tokenizes the shared slice's netting once for all of them
  private[table] def netIdCol: String = idCol
  private[table] def netPayloadCols: Seq[String] = Seq(textCol)

  /** Apply one netted slice onto the standing model and advance the
    * watermark to `latest`: one replace, fenced on the head the slice's
    * watermark was read under ([[FoldCommit]]) — the additive fold can
    * never land twice (a double-fold would silently double every count
    * in the slice, the quiet corruption the row-local family's id gates
    * catch structurally). A slice netting to nothing (pure compaction)
    * lands an EMPTY append (never an O(vocab) rewrite) so the retention
    * hold slides. */
  private[table] def foldNetted(ins: DataFrame, del: DataFrame,
                                from: FoldCommit.Pos, latest: Long,
                                txn: Option[(String, Long)]): Unit = {
    val w = Seq(latest)
    if (ins.isEmpty && del.isEmpty)
      kernel.append(state.read.limit(0), w, kernel.mark(w), from.head, txn)
    else {
      val lm = graft.llm.TextOps.unigramModel(_: DataFrame, textCol, idCol)
      val delta = lm(ins).select(col("tok"), col("freq"))
        .unionByName(lm(del).select(col("tok"), (-col("freq")).as("freq")))
      val merged = state.read.select("tok", "freq").unionByName(delta)
        .groupBy("tok").agg(sum("freq").as("freq"))
        .localCheckpoint()
      require(merged.filter(col("freq") < 0L).isEmpty,
        "lm view: the folded model went NEGATIVE for some token — the " +
          "slice subtracts occurrences this corpus never added; re-initialize")
      kernel.replace(merged.filter(col("freq") > 0L), w, kernel.mark(w),
        from.head, txn)
    }
  }

  /** Build the model from the corpus's CURRENT snapshot. */
  def initialize(): Long = {
    val v = source.latestVersion.getOrElse(throw new IllegalStateException(
      s"source table $sourcePath does not exist"))
    kernel.init(graft.llm.TextOps.unigramModel(source.read, textCol, idCol),
      Seq(v), kernel.mark(Seq(v)))
    v
  }

  /** Fold the unprocessed change-feed range. No-op (no commit) when
    * already current. */
  def refresh(): Long = refreshNetted()

  /** STREAMING maintenance — the corpus's CDF stream folds into the
    * standing model per micro-batch with the same netting and
    * choreography as [[refresh]] ([[CdfNetting.startStream]]):
    * exactly-once via the (checkpoint, epoch) txn high-water riding
    * the replace commit, watermark filtering so batch refreshes and
    * resumed checkpoints interleave safely. Caller drains/stops the
    * returned query. */
  def refreshStream(checkpoint: String,
                    trigger: org.apache.spark.sql.streaming.Trigger =
                      org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    streamNetted(spark, checkpoint, trigger)

  /** The maintained `(tok, freq)` model — feed straight into
    * [[graft.llm.TextOps.rareTokenScoreWith]] /
    * `tfidfKeywordsWith`-style standing-model scorers. */
  def read: DataFrame = state.read
}

/**
 * The Naive-Bayes quality-filter model
 * ([[graft.llm.QualityClassifier]] — the GPT-3/CCNet-style learned
 * ingest gate) as a standing, CDF-maintained view: the weakly-labeled
 * corpus lives in a [[ManagedTable]] (text + 0/1 label columns), the
 * `(token, n_pos, n_neg)` count model lives in its own ManagedTable,
 * and the doc-count priors ride each state commit's metadata (two
 * longs — no side table). Like [[CorpusLmView]], every statistic is
 * ADDITIVE, so the fold is exact under any mix of appends, deletes,
 * and label-or-text updates: an entering doc adds its per-class token
 * counts, a leaving doc subtracts them, priors move by signed doc
 * counts. After curation deletes corpus rows, [[score]] still decides
 * exactly as a model retrained from scratch would — the learned gate
 * never drifts from the corpus it claims to describe. The state is
 * vocabulary-sized; a count gone negative refuses loudly before the
 * commit.
 */
final class ClassifierModelView(spark: SparkSession, sourcePath: String,
                                statePath: String,
                                textCol: String = "text",
                                idCol: String = "doc_id",
                                labelCol: String = "weak_label")
  extends CdfMaintainedView {
  import graft.llm.QualityClassifier

  private[table] val kernel = new FoldCommit(spark, statePath,
    "classifier view", Seq(sourcePath), "NB")
  private def source = ManagedTable(spark, sourcePath)
  private def state = kernel.state

  // one-pass family refresh plumbing — the classifier nets per
  // (doc_id, text, label), its own payload signature
  private[table] def netIdCol: String = idCol
  private[table] def netPayloadCols: Seq[String] = Seq(textCol, labelCol)

  private def meta(v: Long, dPos: Long, dNeg: Long) =
    kernel.mark(Seq(v), "dPos" -> dPos, "dNeg" -> dNeg)
  private val PriorsRe = """"dPos":(\d+),"dNeg":(\d+)""".r

  /** The doc-count priors riding the watermark commit of `pos`. */
  private def priors(pos: FoldCommit.Pos): (Long, Long) =
    pos.at.userMetadata.flatMap(PriorsRe.findFirstMatchIn)
      .map(g => (g.group(1).toLong, g.group(2).toLong))
      .getOrElse(throw new IllegalStateException(
        s"classifier view state commit ${pos.at.version} carries no priors"))

  /** (folded source version, positive-doc prior, negative-doc prior)
    * — maintenance commits on the state table are transparent. */
  def watermark: (Long, Long, Long) = {
    val pos = kernel.walk()
    val (dp, dn) = priors(pos)
    (pos.version, dp, dn)
  }

  private def priorsOf(docs: DataFrame): (Long, Long) = {
    // coalesce: sum() over an empty side (e.g. a delete-less slice) is NULL
    val r = QualityClassifier.priors(docs, labelCol)
      .select(coalesce(col("d_pos"), lit(0L)),
        coalesce(col("d_neg"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Train from the corpus's CURRENT snapshot. */
  def initialize(): Long = {
    val v = source.latestVersion.getOrElse(throw new IllegalStateException(
      s"source table $sourcePath does not exist"))
    val snapshot = source.read
    val (dp, dn) = priorsOf(snapshot)
    kernel.init(QualityClassifier.train(snapshot, textCol, labelCol), Seq(v),
      meta(v, dp, dn))
    v
  }

  /** Fold the unprocessed change-feed range. No-op (no commit) when
    * already current. */
  def refresh(): Long = refreshNetted()

  /** Apply one netted slice onto the standing model and advance the
    * watermark to `latest` — the same contract as [[CorpusLmView]]'s
    * fold (a double-fold would silently double the slice's counts AND
    * move the priors twice); the priors carry over unchanged through a
    * slice netting to nothing. */
  private[table] def foldNetted(ins: DataFrame, del: DataFrame,
                                from: FoldCommit.Pos, latest: Long,
                                txn: Option[(String, Long)]): Unit = {
    val (dp0, dn0) = priors(from)
    val w = Seq(latest)
    if (ins.isEmpty && del.isEmpty)
      kernel.append(state.read.limit(0), w, meta(latest, dp0, dn0), from.head,
        txn)
    else {
      val train = QualityClassifier.train(_: DataFrame, textCol, labelCol)
      val delta = train(ins)
        .unionByName(train(del).select(col("token"),
          (-col("n_pos")).as("n_pos"), (-col("n_neg")).as("n_neg")))
      val merged = state.read.select("token", "n_pos", "n_neg")
        .unionByName(delta)
        .groupBy("token")
        .agg(sum("n_pos").as("n_pos"), sum("n_neg").as("n_neg"))
        .localCheckpoint()
      require(merged.filter(col("n_pos") < 0L || col("n_neg") < 0L).isEmpty,
        "classifier view: the folded model went NEGATIVE for some token — " +
          "the slice subtracts counts this corpus never added; re-initialize")
      val (dpi, dni) = priorsOf(ins)
      val (dpd, dnd) = priorsOf(del)
      kernel.replace(merged.filter(col("n_pos") > 0L || col("n_neg") > 0L), w,
        meta(latest, dp0 + dpi - dpd, dn0 + dni - dnd), from.head, txn)
    }
  }

  /** STREAMING maintenance — the labeled corpus's CDF stream folds
    * into the standing model per micro-batch, exactly-once via the
    * (checkpoint, epoch) txn high-water ([[CdfNetting.startStream]]);
    * the learned ingest gate stays current through a streaming
    * curation pipeline without a batch CALL. Caller drains/stops the
    * returned query. */
  def refreshStream(checkpoint: String,
                    trigger: org.apache.spark.sql.streaming.Trigger =
                      org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    streamNetted(spark, checkpoint, trigger)

  /** The maintained `(token, n_pos, n_neg)` model. */
  def read: DataFrame = state.read

  /** The maintained doc-count priors as the 1-row frame
    * [[graft.llm.QualityClassifier.scoreWith]] expects. */
  def priorsRow: DataFrame = {
    import spark.implicits._
    val (_, dp, dn) = watermark
    Seq((dp, dn)).toDF("d_pos", "d_neg")
  }

  /** Score a batch against the maintained model — identical decisions
    * to a model retrained on the current corpus snapshot. */
  def score(batch: DataFrame): DataFrame =
    QualityClassifier.scoreWith(batch, state.read, priorsRow, textCol, idCol)
}

/**
 * Retrieval served ENTIRELY from CDF-MAINTAINED standing views — the
 * composition that closes the loop between the maintenance family and
 * the serving family: [[graft.llm.Retrieval.hybridTopKWith]] serves
 * from artifacts a caller persisted once; this serves from artifacts
 * the view lifecycle keeps CURRENT through the corpus's own appends,
 * curation deletes, and updates. Both rankers carry their query-batch
 * size gates, the lexical side derives df over the matched posting
 * lists and reads the corpus scalars off the commit log, the vector
 * side probe-prunes the born-clustered codes — nothing here scans a
 * corpus-sized frame outside each ranker's candidate set.
 */
object IndexServing {

  /** Hybrid lexical+vector top-k: exact-mode BM25 from a
    * [[Bm25IndexView]] fused with IVF-PQ ANN from an [[AnnIndexView]]
    * by reciprocal-rank fusion. `queriesVec.vec_id` must equal the
    * matching text `query_id` (the fusion-join convention of
    * [[graft.llm.Retrieval.hybridTopK]]). */
  def hybridTopK(bm25: Bm25IndexView, ann: AnnIndexView,
                 queriesText: DataFrame, queriesVec: DataFrame, k: Int,
                 kPerRanker: Int = 20, rrfK: Int = 60,
                 nProbe: Int = 4, rerank: Int = 64): DataFrame = {
    val lex = bm25.search(queriesText, kPerRanker, exact = true)
      .select("query_id", "doc_id", "rank")
    val vec = ann.search(queriesVec, kPerRanker, nProbe, rerank)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    Retrieval.rrfFuse(Seq(lex, vec), k, rrfK)
  }
}
