package graft.write

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Coalesce, EqualNullSafe, EqualTo, Expression, If, IsNull, Literal, PredicateHelper, RowFrame, SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.Count
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, SubqueryAlias, Window => LogicalWindow}
import org.apache.spark.sql.classic.GraftShims
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/**
 * MERGE INTO emulation for plain-parquet managed tables.
 *
 * The reference delegates its SCD merges to Delta Lake's `DeltaTable.merge`
 * (reference: write.py:510-523, :985-991, :278-294). This environment ships no
 * Delta jar, so we re-express MERGE as a single **full-outer join** — the
 * Spark-first shape Catalyst can plan as one shuffle (sort-merge on the
 * extracted equi-keys, residual predicates as join filters, AQE skew-split):
 *
 *   - matched (both sides present)  -> first matching WHEN MATCHED UPDATE
 *     branch wins, else target row unchanged
 *   - target-only                   -> target row unchanged
 *   - source-only                   -> WHEN NOT MATCHED INSERT values
 *
 * At cluster scale this means the merge costs exactly one shuffle of
 * target + source on the merge key (vs two joins for the naive
 * "update-union-insert" formulation), and the output is written back
 * partition-atomically by [[graft.table.ManagedTable]].
 *
 * Semantics note: like Delta MERGE, one target row may match at most one
 * source row. Delta raises `DeltaUnsupportedOperationException` on multiple
 * matches; we do the same by default (see `failOnMultipleMatches`) — the
 * alternative, silently emitting one updated row PER matching source row,
 * turns a caller bug into data corruption.
 *
 * How the check works (all deterministic — no `monotonically_increasing_id`,
 * whose values can shift when a stage is recomputed after executor loss)
 * depends on the condition. Either way the raise rides a FILTER over the
 * merge output (not a data column), so no downstream projection can prune
 * it away — any action on any subset of columns still runs the check.
 *
 *   - Key-equality conditions (every conjunct an `=`/`<=>` between a
 *     target-only and a source-only expression, or a one-side predicate,
 *     with at least one such equality — every SCD pattern's condition):
 *     a window over the source counts, per join key, the source rows
 *     passing the source-only conjuncts; a matched row whose count
 *     exceeds 1 proves its target rows matched another source row. The
 *     window partitions by exactly the keys the sort-merge join shuffles
 *     the source on, so it costs no exchange of its own (see `KeyedJoin`).
 *   - Any other condition (a conjunct relating the sides other than by
 *     equality, e.g. `t.id = s.id AND s.ts > t.ts`, where a per-key count
 *     would over-approximate): target rows are keyed by `xxhash64` of the
 *     full row; a pre-join window counts identical target rows per key
 *     (n_t), and a post-join window counts joined rows per key (n_t ×
 *     matches-per-row). The joined count exceeding n_t proves some target
 *     row matched more than one source row — exact even under hash
 *     collisions, because a collision inflates both counts equally when
 *     every row matches at most once. Cost: one extra target-side shuffle
 *     plus one over the join output.
 *
 * Callers that pre-dedupe (the reference exposes `deduplicate_onkeys`,
 * write.py:488-491) can opt out of the check.
 */
object MergeEmulator {

  /** One WHEN MATCHED UPDATE branch: optional extra condition + SET map
    * keyed by plain target column name. Branch order = priority order. */
  final case class MatchedUpdate(condition: Option[Column], set: Map[String, Column])

  private val TMark = "__graft_t_mark__"
  private val SMark = "__graft_s_mark__"
  private val THash = "__graft_t_hash__"
  private val TCnt = "__graft_t_cnt__"
  private val SHash = "__graft_s_hash__"
  private val SCnt = "__graft_s_cnt__"
  private val GuardCol = "__graft_guard__"

  /** Internal change-tracking columns added by `merge(trackChanges=true)`:
    * [[ChangeMark]] is `update_postimage` / `insert` / NULL (row untouched),
    * [[PreMark]] holds the pre-update target row as a struct (NULL unless
    * updated). [[graft.write.Writers]] turns them into the public
    * change-data-feed rows; they never reach a stored snapshot. */
  val ChangeMark = "__graft_change__"
  val PreMark = "__graft_pre__"

  /**
   * The source-keyed guard's plan, built when every conjunct of the
   * merge condition is (a) an `=`/`<=>` between a target-only and a
   * source-only expression, (b) target-only or (c) source-only, and at
   * least one is (a). Then the target rows a source row matches depend
   * only on its (a) key values, so a target row matches several source
   * rows exactly when a matched source row's key group, counted over the
   * source rows passing the (c) conjuncts, holds more than one row.
   *
   * That count is a window over the source partitioned by the
   * source-side join keys in the order the planner extracts them (for
   * `<=>` its `coalesce`/`isnull` pair), so the sort-merge join's own
   * source exchange satisfies it. The join is rebuilt from the probe's
   * analyzed children, so the condition and the window name the same
   * attributes even for a self-merge. A `<=>` with a non-nullable side is
   * planned as `=` (the same matches): the optimizer folds
   * `coalesce(x, d)`/`isnull(x)` of a non-nullable `x` in the window but
   * not in the join keys, and the two would stop lining up.
   */
  private object KeyedJoin extends PredicateHelper {
    /** One conjunct as the join plans it, the source-side join keys it
      * contributes (none for a one-side predicate), and whether it is a
      * source-only predicate. */
    private final case class Part(planned: Expression, keys: Seq[Expression],
                                  sourceOnly: Boolean = false)

    def apply(probe: DataFrame): Option[DataFrame] = probe.queryExecution.analyzed match {
      case Join(l, r, FullOuter, Some(c), hint) =>
        def on(e: Expression, p: LogicalPlan) = e.references.subsetOf(p.outputSet)
        def key(e: Expression, p: LogicalPlan) = e.references.nonEmpty && on(e, p)
        def nullSafe(p: Expression, t: Expression, s: Expression) =
          if (!t.nullable || !s.nullable) Part(EqualTo(t, s), Seq(s))
          else Part(p, Seq(Coalesce(Seq(s, Literal.default(s.dataType))), IsNull(s)))
        val parts = splitConjunctivePredicates(c).map {
          case p if !p.deterministic => None
          case p @ EqualTo(a, b) if key(a, l) && key(b, r) => Some(Part(p, Seq(b)))
          case p @ EqualTo(a, b) if key(a, r) && key(b, l) => Some(Part(p, Seq(a)))
          case p @ EqualNullSafe(a, b) if key(a, l) && key(b, r) => Some(nullSafe(p, a, b))
          case p @ EqualNullSafe(a, b) if key(a, r) && key(b, l) => Some(nullSafe(p, b, a))
          case p if on(p, l) => Some(Part(p, Nil))
          case p if on(p, r) => Some(Part(p, Nil, sourceOnly = true))
          case _ => None // mixed
        }
        val ps = parts.flatten
        val keys = ps.flatMap(_.keys)
        if (ps.size < parts.size || keys.isEmpty) None
        else {
          // the window node is built directly: through the Dataset API the
          // analyzer would move expression keys into a projection below it
          // and partition by the projected attributes instead
          val passes = ps.filter(_.sourceOnly).map(_.planned).reduceOption(And(_, _))
          val counted = Alias(WindowExpression(
            Count(passes.fold[Expression](Literal(1))(If(_, Literal(1), Literal(null, IntegerType))))
              .toAggregateExpression(),
            WindowSpecDefinition(keys, Nil,
              SpecifiedWindowFrame(RowFrame, UnboundedPreceding, UnboundedFollowing))), SCnt)()
          val source = SubqueryAlias("source", LogicalWindow(Seq(counted), keys, Nil, r))
          val cond = ps.map(_.planned).reduce(And(_, _))
          Some(GraftShims.ofRows(probe.sparkSession, Join(l, source, FullOuter, Some(cond), hint)))
        }
      case _ => None
    }
  }

  /**
   * Emulate `MERGE INTO target USING source ON condition ...`.
   *
   * @param condition    join condition; reference columns as
   *                     `col("target.x")` / `col("source.x")`
   * @param matched      WHEN MATCHED UPDATE branches (first match wins)
   * @param insertValues the WHEN NOT MATCHED INSERT clause: values keyed
   *                     by target column name, target columns absent from
   *                     the map become NULL of the target type. None = the
   *                     statement has no insert clause, so source-only
   *                     rows are dropped (Delta's semantics) — in the
   *                     output's filter, at no extra job
   * @param trackChanges when true, append [[ChangeMark]] (which change the
   *                     merge made to this row, NULL if untouched) and
   *                     [[PreMark]] (the pre-update target row as a struct)
   *                     to the output — the raw material for a change data
   *                     feed, computed inside the same single-join
   *                     projection at zero extra shuffle cost
   * @param failOnMultipleMatches raise (inside the plan, like Delta's
   *                     cardinality check) when one target row matches
   *                     several source rows, instead of silently emitting
   *                     one updated row per match. The check is a filter
   *                     over the merge output, so it fires on ANY action
   *                     over ANY subset of the output's columns; opt out
   *                     to skip its window(s): one over the source for a
   *                     key-equality condition, two with their own
   *                     shuffles for any other.
   * @return the complete post-merge table state with the target's schema
   */
  def merge(
      target: DataFrame,
      source: DataFrame,
      condition: Column,
      matched: Seq[MatchedUpdate],
      insertValues: Option[Map[String, Column]],
      trackChanges: Boolean = false,
      failOnMultipleMatches: Boolean = true): DataFrame = {

    val tPresent = col(s"target.$TMark").isNotNull
    val sPresent = col(s"source.$SMark").isNotNull
    val bothPresent = tPresent && sPresent
    val insertOnly = !tPresent && sPresent

    val t0 = target.withColumn(TMark, lit(1))
    val s0 = source.withColumn(SMark, lit(1))
    val probe = t0.alias("target").join(s0.alias("source"), condition, "full_outer")
    // the join, and for a guarded merge what proves a violation on a
    // matched row plus the detail its message reports
    val (joined, check): (DataFrame, Option[(Column, Column)]) =
      if (!failOnMultipleMatches || target.schema.isEmpty) (probe, None)
      else KeyedJoin(probe) match {
        case Some(keyed) =>
          // a matched source row whose key group holds another row that
          // passes the source-only conjuncts shares its target rows
          val cnt = col(s"source.$SCnt")
          (keyed, Some((cnt > 1,
            concat(cnt.cast("string"), lit(" source rows share one merge key")))))
        case None =>
          // deterministic per-row-VALUE key + count of identical target
          // rows sharing it (n_t); both recompute identically on stage
          // retry. All joined copies of one target-row VALUE share the
          // group ("t", row hash); source-only rows group by their own
          // row hash ("s", ...) and are never checked.
          val t = t0.withColumn(THash, xxhash64(target.columns.map(col).toIndexedSeq: _*))
            .withColumn(TCnt, count(lit(1)).over(Window.partitionBy(col(THash))))
          val s = s0.withColumn(SHash, xxhash64(source.columns.map(col).toIndexedSeq: _*))
          val grp = when(tPresent, concat(lit("t"), col(s"target.$THash").cast("string")))
            .otherwise(concat(lit("s"), col(s"source.$SHash").cast("string")))
          val joinedCnt = count(lit(1)).over(Window.partitionBy(grp))
          (t.alias("target").join(s.alias("source"), condition, "full_outer"),
            Some((joinedCnt > col(s"target.$TCnt"),
              concat(joinedCnt.cast("string"), lit(" joined rows for "),
                col(s"target.$TCnt").cast("string"), lit(" target rows")))))
      }

    val out0 = target.schema.fields.map { f =>
      val keep = col(s"target.${f.name}")
      val branches: Seq[(Column, Column)] =
        matched.map { m =>
          val cond = m.condition.map(bothPresent && _).getOrElse(bothPresent)
          cond -> m.set.getOrElse(f.name, keep).cast(f.dataType)
        } ++ insertValues.map(iv =>
          insertOnly -> iv.getOrElse(f.name, lit(null)).cast(f.dataType))
      branches
        .foldLeft(Option.empty[Column]) {
          case (None, (c, v))      => Some(when(c, v))
          case (Some(acc), (c, v)) => Some(acc.when(c, v))
        }
        .fold(keep)(_.otherwise(keep))
        .as(f.name)
    }

    val base: Seq[Column] =
      if (!trackChanges) out0.toIndexedSeq
      else {
        // same branch priority as the value projection: a row is an update
        // iff some WHEN MATCHED branch fired, an insert iff source-only
        val anyMatched = matched
          .map(m => m.condition.map(bothPresent && _).getOrElse(bothPresent))
          .reduceOption(_ || _).getOrElse(lit(false))
        val mark = when(anyMatched, lit("update_postimage"))
          .when(insertOnly, lit("insert"))
          .otherwise(lit(null).cast("string"))
        val pre = when(anyMatched,
          struct(target.schema.fields.map(f => col(s"target.${f.name}").as(f.name))
            .toIndexedSeq: _*))
        out0.toIndexedSeq :+ mark.as(ChangeMark) :+ pre.as(PreMark)
      }

    // no insert clause: source-only rows leave in the output's filter
    val sourceOnlyDropped = if (insertValues.isEmpty) Some(insertOnly) else None
    check match {
      case None => sourceOnlyDropped.fold(joined)(d => joined.where(!d)).select(base: _*)
      case Some((violated, detail)) =>
        // the raise lives in a FILTER, so no downstream column pruning
        // can drop it
        val raise = when(bothPresent && violated, raise_error(concat(
          lit("MERGE cardinality violation: a target row matched multiple source rows ("),
          detail, lit("); deduplicate the source (deduplicate_onkeys) " +
            "or set allow_duplicate_matches"))))
        val guarded = sourceOnlyDropped.fold(raise)(d => raise.when(d, lit(false)))
          .otherwise(lit(true))
        joined.select((base :+ guarded.as(GuardCol)): _*)
          .where(col(GuardCol))
          .drop(GuardCol)
    }
  }
}
