package graft.table

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedIdentifier, UnresolvedTable}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.classic.GraftShims
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/**
 * SQL DML/DDL over managed tables — the statements beyond SELECT/INSERT
 * that [[SqlTableResolution]] compiles onto [[ManagedTable]] operations:
 *
 *   - `DELETE FROM graft.t [alias] WHERE ...`   → [[ManagedTable.delete]]
 *     (stats-pruned dir-scoped rewrite — only dirs whose interval may
 *     hold a match are touched)
 *   - `UPDATE graft.t SET c = e, ... [WHERE]`   → [[ManagedTable.update]]
 *   - `MERGE INTO graft.t USING src ON ...`     → the one-full-outer-join
 *     [[graft.write.MergeEmulator]] plan + a replace commit
 *   - `CREATE TABLE graft.t (cols) [TBLPROPERTIES]` → [[ManagedTable.createIfNotExists]]
 *   - `ALTER TABLE graft.t SET/UNSET TBLPROPERTIES` → [[ManagedTable.setProperties]]
 *
 * Spark's parser already produces typed plans for all of these
 * (`DeleteFromTable`, `UpdateTable`, `MergeIntoTable`, `CreateTable`,
 * `SetTableProperties`, ...); the resolution rule pattern-matches them,
 * recovers the table root from the substituted relation's alias marker,
 * and emits a runnable command — no parser injection, no custom grammar.
 *
 * MERGE scope (documented, loudly enforced): WHEN MATCHED
 * [AND cond] THEN UPDATE SET ... / SET * (first match wins, Delta-style
 * multi-match raise via the emulator's cardinality guard) and ONE
 * unconditional WHEN NOT MATCHED THEN INSERT ... / INSERT *.
 * `WHEN MATCHED DELETE` and `WHEN NOT MATCHED BY SOURCE` raise an
 * explicit unsupported error rather than mis-executing.
 */
object SqlDml {

  /** Opaque expression holder: a PLAIN case class (not a TreeNode), so
    * a parsed-but-unresolved expression can ride a runnable command
    * without `CheckAnalysis` walking it — the command resolves it
    * itself at run time against the table's own frame. */
  final case class ExprBox(e: Expression)

  /** Rule-time compilation of Spark's `MergeAction`s (which ARE
    * catalyst Expressions and would leak into analysis) into an inert
    * spec the command executes later. */
  sealed trait MatchedSpec
  final case class MatchedUpdateSpec(cond: Option[ExprBox],
                                     set: Seq[(String, ExprBox)]) extends MatchedSpec
  final case class MatchedStarSpec(cond: Option[ExprBox]) extends MatchedSpec
  sealed trait InsertSpec
  final case class InsertValuesSpec(set: Seq[(String, ExprBox)]) extends InsertSpec
  case object InsertStarSpec extends InsertSpec

  private def assignKey(k: Expression): String = k match {
    case UnresolvedAttribute(parts) => parts.last
    case other => throw new IllegalArgumentException(
      s"MERGE/UPDATE SET key must be a target column, got ${other.sql}")
  }

  /** Compile parser MergeActions → inert specs (validating scope NOW,
    * at analysis time, where the error points at the statement). */
  private[table] def compileMatched(as: Seq[MergeAction]): Seq[MatchedSpec] =
    as.map {
      case UpdateAction(c, assigns, _) =>
        MatchedUpdateSpec(c.map(ExprBox),
          assigns.map(a => assignKey(a.key) -> ExprBox(a.value)))
      case UpdateStarAction(c) => MatchedStarSpec(c.map(ExprBox))
      case other => throw new UnsupportedOperationException(
        s"MERGE matched action not supported for graft tables: $other " +
          "(supported: UPDATE SET ... / UPDATE SET *)")
    }

  private[table] def compileNotMatched(as: Seq[MergeAction]): Option[InsertSpec] =
    as match {
      case Nil => None
      case Seq(InsertAction(None, assigns)) =>
        Some(InsertValuesSpec(assigns.map(a =>
          assignKey(a.key) -> ExprBox(a.value))))
      case Seq(InsertStarAction(None)) => Some(InsertStarSpec)
      case other => throw new UnsupportedOperationException(
        "graft MERGE supports at most ONE unconditional " +
          s"WHEN NOT MATCHED THEN INSERT action, got: $other")
    }

  /** Strip user aliases down to the [[SqlTables.aliased]] marker and
    * recover (identifier parts, user-visible alias names). */
  private[table] object GraftTarget {
    def unapply(p: LogicalPlan): Option[(Seq[String], Seq[String])] = {
      def walk(q: LogicalPlan, names: Seq[String]): Option[(Seq[String], Seq[String])] =
        q match {
          case SubqueryAlias(id, child)
            if id.qualifier.headOption.contains(SqlTables.Namespace) =>
            Some((id.qualifier.tail :+ id.name, names :+ id.name))
          case SubqueryAlias(id, child) => walk(child, names :+ id.name)
          case _ => None
        }
      walk(p, Nil)
    }
  }

  /** Alias names that may qualify a column of `plan` in user SQL. */
  private[table] def aliasNamesOf(plan: LogicalPlan): Set[String] = {
    def walk(q: LogicalPlan, acc: Set[String]): Set[String] = q match {
      case SubqueryAlias(id, child) => walk(child, acc + id.name)
      case _ => acc
    }
    walk(plan, Set.empty)
  }

  /** Single-table DML predicates: drop any qualifier that names the
    * table/alias (including the `graft.<name>.col` namespace-qualified
    * spelling) so the expression resolves against the bare schema. */
  private[table] def unqualify(e: Expression, aliases: Set[String]): Expression =
    e.transform {
      case UnresolvedAttribute(parts) if parts.size > 2 &&
        parts.head.equalsIgnoreCase(SqlTables.Namespace) &&
        aliases.contains(parts(1)) =>
        UnresolvedAttribute(parts.drop(2))
      case UnresolvedAttribute(parts) if parts.size > 1 &&
        aliases.contains(parts.head) =>
        UnresolvedAttribute(parts.tail)
    }

  /** MERGE expressions: remap user-side qualifiers onto the emulator's
    * fixed `target` / `source` frame aliases; disambiguate unqualified
    * names by schema membership (error when both sides carry the name —
    * exactly SQL's ambiguity rule). */
  private[table] def remapMerge(
      e: Expression,
      targetAliases: Set[String], sourceAliases: Set[String],
      targetCols: Set[String], sourceCols: Set[String]): Expression =
    e.transform {
      case UnresolvedAttribute(parts) =>
        val mapped: Seq[String] = parts match {
          case ns +: q +: rest if ns.equalsIgnoreCase(SqlTables.Namespace) &&
            targetAliases.contains(q) && rest.nonEmpty => "target" +: rest
          case q +: rest if targetAliases.contains(q) => "target" +: rest
          case q +: rest if sourceAliases.contains(q) => "source" +: rest
          case Seq(n) =>
            val inT = targetCols.contains(n)
            val inS = sourceCols.contains(n)
            if (inT && inS) throw new IllegalArgumentException(
              s"MERGE reference `$n` is ambiguous (in both target and " +
                "source) — qualify it with the table alias")
            else if (inT) Seq("target", n)
            else if (inS) Seq("source", n)
            else parts
          case other => other
        }
        UnresolvedAttribute(mapped)
    }
}

/** `DELETE FROM graft.t WHERE cond` — dir-scoped rewrite commit. */
final case class GraftDeleteCommand(root: String, cond: SqlDml.ExprBox,
                                    aliases: Seq[String])
  extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    val pred = GraftShims.column(
      SqlDml.unqualify(cond.e, aliases.toSet))
    ManagedTable(spark, root).delete(pred)
    Nil
  }
}

/** `UPDATE graft.t SET ... [WHERE cond]` — dir-scoped rewrite commit. */
final case class GraftUpdateCommand(root: String,
                                    set: Seq[(String, SqlDml.ExprBox)],
                                    cond: Option[SqlDml.ExprBox],
                                    aliases: Seq[String])
  extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    val as = aliases.toSet
    val setCols = set.map { case (n, b) =>
      n -> GraftShims.column(SqlDml.unqualify(b.e, as))
    }.toMap
    val pred = cond.map(b => GraftShims.column(SqlDml.unqualify(b.e, as)))
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    ManagedTable(spark, root).update(setCols, pred)
    Nil
  }
}

/** `MERGE INTO graft.t USING src ON ...` compiled to the single
  * full-outer-join [[graft.write.MergeEmulator]] plan; the result
  * replaces the snapshot in one commit, fenced on the version the
  * target was read at. */
final case class GraftMergeCommand(root: String,
                                   source: LogicalPlan,
                                   targetAliases: Seq[String],
                                   mergeCond: SqlDml.ExprBox,
                                   matched: Seq[SqlDml.MatchedSpec],
                                   notMatched: Option[SqlDml.InsertSpec])
  extends LeafRunnableCommand {
  import graft.write.MergeEmulator

  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans.QueryPlan[_]] =
    Seq(source)
  override def output: Seq[Attribute] = Nil

  override def run(spark: SparkSession): Seq[Row] = {
    val t = ManagedTable(spark, root)
    val c = t.lastCommit.getOrElse(throw new IllegalStateException(
      s"MERGE INTO: managed table $root does not exist"))
    val targetSchema = StructType.fromDDL(c.schemaDdl)
    val sourceDf = GraftShims.ofRows(spark, source)
    val tAliases = targetAliases.toSet
    val sAliases = SqlDml.aliasNamesOf(source)
    val tCols = targetSchema.fieldNames.toSet
    val sCols = sourceDf.columns.toSet
    def cc(b: SqlDml.ExprBox): Column = GraftShims.column(
      SqlDml.remapMerge(b.e, tAliases, sAliases, tCols, sCols))
    def starSet: Map[String, Column] = {
      val missing = targetSchema.fieldNames.filterNot(sCols.contains)
      require(missing.isEmpty,
        s"SET * / INSERT *: source lacks target columns ${missing.mkString(", ")}")
      targetSchema.fieldNames.map(n => n -> col(s"source.`$n`")).toMap
    }
    val matchedUpdates = matched.map {
      case SqlDml.MatchedUpdateSpec(condOpt, set) =>
        MergeEmulator.MatchedUpdate(condOpt.map(cc),
          set.map { case (n, b) => n -> cc(b) }.toMap)
      case SqlDml.MatchedStarSpec(condOpt) =>
        MergeEmulator.MatchedUpdate(condOpt.map(cc), starSet)
    }
    val insertValues: Option[Map[String, Column]] = notMatched.map {
      case SqlDml.InsertValuesSpec(set) => set.map { case (n, b) => n -> cc(b) }.toMap
      case SqlDml.InsertStarSpec => starSet
    }
    // the target is read AT the version the commit is fenced on: a
    // commit landing mid-MERGE surfaces as a conflict instead of being
    // replaced away
    val target = t.readDirs(c.dirs, targetSchema, c.partitionBy.nonEmpty,
        c.dvDirs, c.columnMap)
      .select(targetSchema.fieldNames.map(n => col(s"`$n`")).toIndexedSeq: _*)
    val merged = MergeEmulator.merge(target, sourceDf, cc(mergeCond),
      matchedUpdates, insertValues)
    t.write(merged, "MERGE INTO", "replace", None, c.partitionBy,
      expectedPrevVersion = Some(c.version))
    Nil
  }
}

/** `CREATE TABLE graft.t (cols...) [TBLPROPERTIES (...)]`. */
final case class GraftCreateTableCommand(root: String,
                                         tableSchema: StructType,
                                         properties: Map[String, String],
                                         ignoreIfExists: Boolean,
                                         checkConstraints: Seq[(String, String)] = Nil)
  extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    val t = ManagedTable(spark, root)
    if (t.exists) {
      if (!ignoreIfExists)
        throw new IllegalStateException(s"graft table at $root already " +
          "exists (use CREATE TABLE IF NOT EXISTS)")
    } else {
      t.createIfNotExists(tableSchema)
      if (properties.nonEmpty) t.setProperties(properties)
      checkConstraints.foreach { case (name, cond) =>
        t.addConstraint(name, s"check:$name:$cond")
      }
    }
    Nil
  }
}

/** `CREATE TABLE graft.t [PARTITIONED BY ...] [TBLPROPERTIES ...] AS
  * SELECT ...` — the first statement of any SQL-first workflow. The
  * query analyzes at RUN time (it was captured in the pre-resolution
  * Hints batch), then: create with the query's schema, stamp
  * TBLPROPERTIES BEFORE the data write — so layout-bearing properties
  * (`graft.bloom.columns`, clustering hints) already govern the very
  * first files — and commit the data as one replace write carrying the
  * declared partitioning. `IF NOT EXISTS` on an existing table is a
  * no-op that never executes the query (standard CTAS semantics). */
final case class GraftCtasCommand(root: String,
                                  query: LogicalPlan,
                                  partitionBy: Seq[String],
                                  properties: Map[String, String],
                                  ignoreIfExists: Boolean)
  extends LeafRunnableCommand {
  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans.QueryPlan[_]] =
    Seq(query)
  override def output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    val t = ManagedTable(spark, root)
    if (t.exists) {
      if (!ignoreIfExists)
        throw new IllegalStateException(s"graft table at $root already " +
          "exists (use CREATE TABLE IF NOT EXISTS ... AS SELECT)")
    } else {
      val df = GraftShims.ofRows(spark, query)
      t.createIfNotExists(df.schema)
      if (properties.nonEmpty) t.setProperties(properties)
      t.write(df, "CREATE TABLE AS SELECT", "replace", None, partitionBy)
    }
    Nil
  }
}

/** `[CREATE OR] REPLACE TABLE graft.t [PARTITIONED BY ...]
  * [TBLPROPERTIES ...] AS SELECT ...` — the atomic redefinition form:
  * the new data, schema, partition layout, and properties land as ONE
  * replace commit on the SAME commit log (`propertiesOverride` rides
  * the data write, so a failing SELECT leaves properties untouched and
  * the declared set RESETS any pre-existing properties — Delta's
  * CREATE OR REPLACE semantics), and history/time travel still reach
  * every pre-replace version (a DROP + CTAS would orphan the history).
  * Layout-bearing properties (`cluster.columns`, bloom filters) govern
  * the replace's own files — the table is born under the new
  * properties. Plain `REPLACE TABLE` on a missing table errors;
  * `OR CREATE` falls back to the CTAS shape. */
final case class GraftRtasCommand(root: String,
                                  query: LogicalPlan,
                                  partitionBy: Seq[String],
                                  properties: Map[String, String],
                                  orCreate: Boolean)
  extends LeafRunnableCommand {
  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans.QueryPlan[_]] =
    Seq(query)
  override def output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    val t = ManagedTable(spark, root)
    if (!t.exists) {
      if (!orCreate)
        throw new IllegalStateException(s"graft table at $root does not " +
          "exist (use CREATE OR REPLACE TABLE ... AS SELECT)")
      val df = GraftShims.ofRows(spark, query)
      t.createIfNotExists(df.schema)
      t.write(df, "CREATE TABLE AS SELECT", "replace", None, partitionBy,
        propertiesOverride = Some(properties))
    } else {
      t.write(GraftShims.ofRows(spark, query), "REPLACE TABLE AS SELECT",
        "replace", None, partitionBy,
        propertiesOverride = Some(properties))
    }
    Nil
  }
}

/** `TRUNCATE TABLE graft.t` — an empty replace commit preserving the
  * schema, partitioning, properties and the whole commit history (a
  * pre-truncate `VERSION AS OF` still reads the data; `vacuum` is the
  * space-reclaim knob, deliberately separate). */
final case class GraftTruncateCommand(root: String)
  extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    val t = ManagedTable(spark, root)
    val c = t.lastCommit.getOrElse(throw new IllegalStateException(
      s"TRUNCATE TABLE: graft table at $root does not exist"))
    val schema = StructType.fromDDL(c.schemaDdl)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    t.write(empty, "TRUNCATE", "replace", None, c.partitionBy)
    Nil
  }
}

/** `ALTER TABLE graft.t SET TBLPROPERTIES (...)`. */
final case class GraftSetPropertiesCommand(root: String,
                                           props: Map[String, String])
  extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    ManagedTable(spark, root).setProperties(props)
    Nil
  }
}

/** `ALTER TABLE graft.t UNSET TBLPROPERTIES (...)`. */
final case class GraftUnsetPropertiesCommand(root: String, keys: Seq[String])
  extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    ManagedTable(spark, root).unsetProperties(keys)
    Nil
  }
}

/** `ALTER TABLE graft.t ADD COLUMN(S) ...` — metadata-only evolution. */
final case class GraftAddColumnsCommand(
    root: String,
    cols: Seq[(String, org.apache.spark.sql.types.DataType)])
  extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    val t = ManagedTable(spark, root)
    cols.foreach { case (n, dt) => t.addColumn(n, dt) }
    Nil
  }
}

/** `ALTER TABLE graft.t RENAME COLUMN a TO b` — column-mapping commit. */
final case class GraftRenameColumnCommand(root: String, from: String, to: String)
  extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    ManagedTable(spark, root).renameColumn(from, to)
    Nil
  }
}

/** `ALTER TABLE graft.t DROP COLUMN(S) ...` — column-mapping commit. */
final case class GraftDropColumnsCommand(root: String, names: Seq[String],
                                         ifExists: Boolean)
  extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    val t = ManagedTable(spark, root)
    val have = t.read.columns.toSet
    names.foreach { n =>
      if (have.contains(n)) { t.dropColumn(n); () }
      else if (!ifExists) throw new IllegalArgumentException(
        s"no column $n in graft table at $root (use DROP COLUMN IF EXISTS)")
    }
    Nil
  }
}

/** `ALTER TABLE graft.t ADD CONSTRAINT name CHECK (cond)` — persists the
  * rule through [[ManagedTable.addConstraint]]'s Expectations DSL
  * (`check:` entry carrying the original SQL condition text). */
final case class GraftAddConstraintCommand(root: String, name: String,
                                           conditionSql: String)
  extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    ManagedTable(spark, root).addConstraint(name, s"check:$name:$conditionSql")
    Nil
  }
}
