package graft.table

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum, unix_micros, when}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * File-level data skipping for [[ManagedTable]] — the Delta data-skipping
 * analogue (Delta stores per-file min/max stats in the transaction log and
 * prunes files whose interval cannot satisfy the query predicate; same
 * idea in the reference's Delta-backed sinks via the engine underneath).
 *
 * Stats are captured on the WRITE job itself through the existing
 * `Observation` (no second pass over the data), stored per data dir in the
 * commit log, and consulted by [[ManagedTable.readWhere]] before the scan
 * is even built: a dir whose [min,max] interval cannot contain a matching
 * row never reaches the multi-path parquet relation — at 100 TB this turns
 * a needle query over an append-heavy table from "scan every commit's
 * files" into "open the handful of dirs whose range overlaps", entirely
 * from driver-side metadata (the commit log is already in hand).
 *
 * Pruning is strictly conservative: any shape this walker does not
 * understand — casts, functions over the column, unknown operators, type
 * mismatches between stat and literal — keeps the dir. The residual
 * predicate is always re-applied by Spark, so skipping can only remove
 * dirs that provably contain no match, never change results.
 *
 * Values are stored as strings with type-faithful renderings: timestamps
 * as `unix_micros` (timezone-independent), dates as ISO days, numerics and
 * booleans as their literal forms — each re-parsed against the column's
 * schema type at prune time.
 */
object DataSkipping {

  /** Min/max (+ null count) of a column within one data dir; `None`/
    * `None` min/max means the dir holds only NULLs for the column
    * (prunable by any non-null-seeking comparison), which is different
    * from the column having no recorded stats at all (absent key →
    * never prune). `nulls` (recorded since round 11; absent on legacy
    * commits → never prune) enables `IS NULL` pruning: a dir with zero
    * nulls provably has no matching row. */
  final case class ColMinMax(min: Option[String], max: Option[String],
                             nulls: Option[Long] = None)

  def eligible(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case StringType | DateType | TimestampType | TimestampNTZType |
         BooleanType => true
    case _ => false
  }

  /** Aggregate columns for the write job's Observation: min+max per
    * eligible field, aliased `min:name` / `max:name`. */
  def statAggs(schema: StructType): Seq[Column] = {
    schema.fields.filter(f => eligible(f.dataType)).toSeq.flatMap { f =>
      val c = col(s"`${f.name}`") // quoted: field names may contain dots
      val (mn, mx) = f.dataType match {
        // unix_micros is timezone-independent; a cast-to-string rendering
        // would shift with the session timezone between writer and reader
        case TimestampType => (unix_micros(min(c)), unix_micros(max(c)))
        // NTZ has no zone: its cast-to-string wall-clock rendering is
        // already deterministic, re-parsed as UTC micros at prune time
        case _             => (min(c), max(c))
      }
      Seq(mn.cast("string").as(s"min:${f.name}"),
        mx.cast("string").as(s"max:${f.name}"),
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"nulls:${f.name}"))
    }
  }

  /** Decode the observed row back into per-column stats. */
  def statsOf(schema: StructType, observed: Map[String, Any]): Map[String, ColMinMax] =
    schema.fields.filter(f => eligible(f.dataType)).map { f =>
      f.name -> ColMinMax(
        Option(observed.getOrElse(s"min:${f.name}", null)).map(_.toString),
        Option(observed.getOrElse(s"max:${f.name}", null)).map(_.toString),
        Option(observed.getOrElse(s"nulls:${f.name}", null))
          .map(_.toString.toLong))
    }.toMap

  // ---- prune-time evaluation -------------------------------------------

  /** Total order domain: numbers (also dates/timestamps/booleans) compare
    * as BigDecimal, strings lexically. Mixed kinds never compare. */
  private sealed trait Ord
  private final case class NumOrd(v: BigDecimal) extends Ord
  private final case class StrOrd(v: String) extends Ord

  private def statOrd(dt: DataType, s: String): Option[Ord] =
    try dt match {
      case StringType => Some(StrOrd(s))
      case BooleanType => Some(NumOrd(if (s == "true") 1 else 0))
      case DateType =>
        Some(NumOrd(BigDecimal(java.time.LocalDate.parse(s).toEpochDay)))
      case TimestampType => Some(NumOrd(BigDecimal(s))) // stored as micros
      case TimestampNTZType =>
        val ldt = java.time.LocalDateTime.parse(s.replace(' ', 'T'))
        Some(NumOrd(BigDecimal(
          ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
            ldt.getNano / 1000L)))
      case _: NumericType => Some(NumOrd(BigDecimal(s)))
      case _ => None
    } catch { case _: Exception => None } // NaN, exotic renderings → no prune

  private def litOrd(l: Literal): Option[Ord] =
    if (l.value == null) None
    else try l.dataType match {
      case StringType => Some(StrOrd(l.value.toString))
      case BooleanType => Some(NumOrd(if (l.value == true) 1 else 0))
      case DateType => Some(NumOrd(BigDecimal(l.value.toString)))      // days
      case TimestampType => Some(NumOrd(BigDecimal(l.value.toString))) // micros
      case TimestampNTZType => Some(NumOrd(BigDecimal(l.value.toString))) // micros
      case _: NumericType => Some(NumOrd(BigDecimal(l.value.toString)))
      case _ => None
    } catch { case _: Exception => None }

  /** Strings compare as Spark compares them (and as the min/max stats
    * were taken): by UTF-8 bytes, i.e. by code point. Java's UTF-16
    * order puts a supplementary character before U+E000..U+FFFF. */
  private def compare(a: Ord, b: Ord): Option[Int] = (a, b) match {
    case (NumOrd(x), NumOrd(y)) => Some(x.compare(y))
    case (StrOrd(x), StrOrd(y)) =>
      Some(UTF8String.fromString(x).compareTo(UTF8String.fromString(y)))
    case _ => None
  }
  private def lte(a: Ord, b: Ord): Option[Boolean] = compare(a, b).map(_ <= 0)
  private def lt(a: Ord, b: Ord): Option[Boolean] = compare(a, b).map(_ < 0)

  private def attrName(e: Expression): Option[String] = e match {
    case u: UnresolvedAttribute => Some(u.name)
    case a: AttributeReference => Some(a.name)
    case _ => None // a cast/function over the column defeats interval logic
  }

  /** A comparison in either representation: resolved Catalyst nodes
    * (EqualTo, ...) or the UnresolvedFunction('=', args) shape Spark 4's
    * Column DSL produces before analysis. */
  private def asBinOp(e: Expression): Option[(String, Expression, Expression)] =
    e match {
      case c: EqualTo => Some(("=", c.left, c.right))
      case c: EqualNullSafe => Some(("=", c.left, c.right))
      case c: LessThan => Some(("<", c.left, c.right))
      case c: LessThanOrEqual => Some(("<=", c.left, c.right))
      case c: GreaterThan => Some((">", c.left, c.right))
      case c: GreaterThanOrEqual => Some((">=", c.left, c.right))
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.arguments.size == 2 =>
        f.nameParts.last.toLowerCase match {
          case op @ ("=" | "<" | "<=" | ">" | ">=") =>
            Some((op, f.arguments.head, f.arguments(1)))
          case "==" | "<=>" => Some(("=", f.arguments.head, f.arguments(1)))
          case _ => None
        }
      case _ => None
    }

  private def logicalParts(e: Expression, name: String): Option[(Expression, Expression)] =
    e match {
      case And(l, r) if name == "and" => Some((l, r))
      case Or(l, r) if name == "or" => Some((l, r))
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.arguments.size == 2 && f.nameParts.last.toLowerCase == name =>
        Some((f.arguments.head, f.arguments(1)))
      case _ => None
    }

  private def unresolvedFn(e: Expression, name: String): Option[Seq[Expression]] =
    e match {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.last.toLowerCase == name => Some(f.arguments)
      case _ => None
    }

  /** Could ANY row in a dir with these stats satisfy `e`? Unknown -> true. */
  def mayMatch(stats: Map[String, ColMinMax], schema: StructType,
               e: Expression): Boolean = {
    logicalParts(e, "and").map { case (l, r) =>
      mayMatch(stats, schema, l) && mayMatch(stats, schema, r)
    }.orElse(logicalParts(e, "or").map { case (l, r) =>
      mayMatch(stats, schema, l) || mayMatch(stats, schema, r)
    }).orElse(asBinOp(e).map { case (op, lhs, rhs) =>
      (attrName(lhs), rhs, attrName(rhs), lhs) match {
        case (Some(n), l: Literal, _, _) => cmp(stats, schema, n, l, op)
        case (_, _, Some(n), l: Literal) => cmp(stats, schema, n, l, flip(op))
        case _ => true
      }
    }).getOrElse(e match {
      case In(a, list) if list.forall(_.isInstanceOf[Literal]) =>
        attrName(a) match {
          case Some(n) =>
            list.exists(v => cmp(stats, schema, n, v.asInstanceOf[Literal], "="))
          case None => true
        }
      case _ if unresolvedFn(e, "in").exists(as =>
          as.nonEmpty && as.tail.forall(_.isInstanceOf[Literal])) =>
        val as = unresolvedFn(e, "in").get
        attrName(as.head) match {
          case Some(n) => as.tail
            .exists(v => cmp(stats, schema, n, v.asInstanceOf[Literal], "="))
          case None => true
        }
      case Literal(false, BooleanType) => false // an empty key set's exact
      case IsNull(a) => nullMayMatch(stats, a, wantNull = true)
      case IsNotNull(a) => nullMayMatch(stats, a, wantNull = false)
      case _ if unresolvedFn(e, "isnull").exists(_.size == 1) =>
        nullMayMatch(stats, unresolvedFn(e, "isnull").get.head, wantNull = true)
      case _ if unresolvedFn(e, "isnotnull").exists(_.size == 1) =>
        nullMayMatch(stats, unresolvedFn(e, "isnotnull").get.head,
          wantNull = false)
      case StartsWith(a, l: Literal) if l.value != null =>
        prefixMayMatch(stats, schema, a, l)
      case _ if unresolvedFn(e, "startswith").exists(_.size == 2) =>
        unresolvedFn(e, "startswith").get match {
          case Seq(a, l: Literal) if l.value != null =>
            prefixMayMatch(stats, schema, a, l)
          case _ => true
        }
      case _ => true
    })
  }

  private def prefixMayMatch(stats: Map[String, ColMinMax], schema: StructType,
                             a: Expression, l: Literal): Boolean =
    attrName(a) match {
      case Some(n) =>
        // the strings starting with p are one run that begins at p, so
        // [mn, mx] meets it iff p <= mx and mn is below p or inside it
        val p = l.value.toString
        interval(stats, schema, n).forall {
          case (mn @ StrOrd(m), mx @ StrOrd(_)) =>
            lte(StrOrd(p), mx).contains(true) &&
              (lt(mn, StrOrd(p)).contains(true) || m.startsWith(p))
          case _ => true
        }
      case None => true
    }

  /** `IS [NOT] NULL` pruning: zero recorded nulls defeats `IS NULL`;
    * an all-NULL dir (min/max both absent WITH recorded stats) defeats
    * `IS NOT NULL`. Legacy stats without a null count never prune. */
  private def nullMayMatch(stats: Map[String, ColMinMax], a: Expression,
                           wantNull: Boolean): Boolean =
    attrName(a) match {
      case Some(n) => stats.get(n) match {
        case Some(mm) if wantNull => !mm.nulls.contains(0L)
        case Some(ColMinMax(None, None, _)) =>
          // min/max absent with recorded stats: every value is NULL (or
          // the dir is empty) — no non-null row can exist
          false
        case _ => true
      }
      case None => true
    }

  private def flip(op: String): String = op match {
    case "<" => ">"
    case "<=" => ">="
    case ">" => "<"
    case ">=" => "<="
    case o => o
  }

  /** The dir's [min,max] as Ords, if stats exist and parse. Returns None
    * when unknown (→ keep); callers get Some only with a usable interval.
    * A `Some(null)`-free design: all-NULL dirs short-circuit in [[cmp]]. */
  private def interval(stats: Map[String, ColMinMax], schema: StructType,
                       name: String): Option[(Ord, Ord)] =
    for {
      mm <- stats.get(name)
      f <- schema.fields.find(_.name == name)
      mnS <- mm.min; mxS <- mm.max
      mn <- statOrd(f.dataType, mnS)
      mx <- statOrd(f.dataType, mxS)
    } yield (mn, mx)

  private def cmp(stats: Map[String, ColMinMax], schema: StructType,
                  name: String, l: Literal, op: String): Boolean = {
    // a NULL literal defeats interval logic entirely — keep. This also
    // guards `col <=> NULL` (mapped to "=" above): an all-NULL dir
    // MATCHES it, so the all-NULL prune below must not fire
    if (l.value == null) return true
    stats.get(name) match {
      case Some(ColMinMax(None, None, _)) =>
        // dir is all NULL for this column: no comparison can match
        false
      case _ =>
        (for {
          (mn, mx) <- interval(stats, schema, name)
          v <- litOrd(l)
          keep <- op match {
            case "=" => for (a <- lte(mn, v); b <- lte(v, mx)) yield a && b
            case "<" => lt(mn, v)
            case "<=" => lte(mn, v)
            case ">" => lt(v, mx)
            case ">=" => lte(v, mx)
            case _ => Some(true)
          }
        } yield keep).getOrElse(true)
    }
  }
}

/**
 * A key set and the one bound graft draws from it: which dirs and rows
 * can these keys touch? File-scoped merges, the standing views'
 * touched-group reads and tombstones, the join view's pruned snapshots
 * and frame-keyed deletion vectors all ask it here.
 *
 *  - [[exact]]: up to [[KeySet.Cap]] key rows, a null-safe IN-list —
 *    `k IN (...) [OR k IS NULL]` for one column, an OR of per-row
 *    conjunctions for several (NULL is a legal key, and predicate
 *    consumers keep only TRUE). None past the cap.
 *  - [[bound]]: a conservative superset filter — [[exact]] under the
 *    cap, past it each eligible column's `min..max [OR IS NULL]` AND-ed
 *    (None when no column has orderable stats). Strictly a superset:
 *    consumers always follow it with their exact join.
 *  - [[size]] / [[isEmpty]].
 *
 * Costs are lazy and paid once: one `limit(Cap + 1)` collect of the
 * frame as given and, past the cap only, one aggregate. Nothing here
 * adds a `distinct` or a shuffle — callers pass distinct frames where
 * they have them; duplicates only count toward the cap.
 */
final case class KeySet(frame: DataFrame, cols: Seq[String]) {
  private def kc(c: String): Column = col(s"`$c`")

  private lazy val rows: Option[Array[Row]] =
    graft.llm.Similarity.collectUpTo(frame.select(cols.map(kc): _*), KeySet.Cap)

  private lazy val ranged: Seq[String] =
    cols.filter(c => DataSkipping.eligible(frame.schema(c).dataType))

  /** count, then min, max and null count per [[ranged]] column. */
  private lazy val stats: Row = {
    val aggs = count(lit(1)) +: ranged.flatMap(c => Seq(min(kc(c)), max(kc(c)),
      sum(when(kc(c).isNull, 1L).otherwise(0L))))
    frame.agg(aggs.head, aggs.tail: _*).head()
  }

  def size: Long = rows.fold(stats.getLong(0))(_.length.toLong)

  def isEmpty: Boolean = rows.exists(_.isEmpty)

  def exact: Option[Column] = exact(cols)

  /** Nested and map keys have no literal spelling here. */
  private def exact(on: Seq[String]): Option[Column] =
    rows.filter(_ => on.forall(c => frame.schema(c).dataType match {
      case _: ArrayType | _: MapType | _: StructType => false
      case _ => true
    })).map { rs =>
      val idx = on.map(cols.indexOf)
      val tuples = rs.toSeq.map(r => idx.map(r.get)).distinct
      val arms =
        if (on.size == 1) {
          val (nulls, vals) = tuples.map(_.head).partition(_ == null)
          (if (vals.isEmpty) Nil else Seq(kc(on.head).isin(vals: _*))) ++
            (if (nulls.isEmpty) Nil else Seq(kc(on.head).isNull))
        } else tuples.map(_.zip(on).map {
          case (null, c) => kc(c).isNull
          case (v, c) => kc(c) === lit(v)
        }.reduce(_ && _))
      arms.reduceOption(_ || _).getOrElse(lit(false))
    }

  def bound: Option[Column] = bound(cols)

  /** [[bound]] on a subset of the key columns. */
  def bound(on: Seq[String]): Option[Column] = exact(on).orElse {
    val preds = ranged.zipWithIndex.filter(p => on.contains(p._1)).map {
      case (c, i) =>
        val (mn, mx) = (stats.get(1 + 3 * i), stats.get(2 + 3 * i))
        val hasNull = stats.getLong(3 + 3 * i) > 0L
        // no bare-literal arms: the stats walker reads an unknown shape
        // as may-match, which would defeat the prune under an OR
        if (mn == null) kc(c).isNull // every key is NULL here
        else {
          val range = kc(c) >= lit(mn) && kc(c) <= lit(mx)
          if (hasNull) range || kc(c).isNull else range
        }
    }
    preds.reduceOption(_ && _)
  }
}

object KeySet {
  /** The one IN-list cap: past it a literal predicate stops paying (and
    * the driver collect stops being free) — the range bound takes over. */
  val Cap = 1000
}
