package graft

import graft.table.{DataSkipping, KeySet}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalacheck.{Gen, Prop, Test => SCTest}

/**
 * Conservativeness property for [[DataSkipping.mayMatch]] — the invariant
 * the whole feature stands on: pruning may only drop a dir when NO row in
 * it can satisfy the predicate. A false prune silently loses rows from
 * `readWhere`, the worst failure mode a skipping layer can have, so the
 * pruner is pitted against real Spark filter evaluation on random row
 * sets × random predicate trees rather than a handful of examples.
 *
 * Stats come from the REAL capture path ([[DataSkipping.statAggs]] over a
 * DataFrame aggregate — the same expressions the write job's Observation
 * runs), and ground truth is `df.filter(pred).count()` — Spark's own
 * semantics, including its null handling and type coercions.
 */
class DataSkippingPropertySpec extends SparkSpec {
  import spark.implicits._

  private val schema: StructType =
    StructType.fromDDL("id INT, s STRING, f DOUBLE")

  private def statsOf(df: DataFrame): Map[String, DataSkipping.ColMinMax] = {
    val aggs = DataSkipping.statAggs(schema)
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    DataSkipping.statsOf(schema, row.getValuesMap[Any](row.schema.fieldNames))
  }

  private def predExpr(predicate: Column) =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .filter(predicate).queryExecution.logical
      .collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.get

  // rows from a narrow domain so predicates overlap the data often
  private val rowGen: Gen[(Option[Int], Option[String], Option[Double])] = for {
    id <- Gen.option(Gen.chooseNum(-20, 20))
    s <- Gen.option(Gen.oneOf("apple", "banana", "cherry", "aardvark", "zebra", ""))
    f <- Gen.option(Gen.oneOf(-1.5, 0.0, 2.25, 10.0, 1e9))
  } yield (id, s, f)

  private val leafGen: Gen[Column] = {
    val ops: Seq[(Column, Column) => Column] =
      Seq(_ === _, _ < _, _ <= _, _ > _, _ >= _)
    val idLeaf = for {
      op <- Gen.oneOf(ops); v <- Gen.chooseNum(-25, 25)
    } yield op(col("id"), lit(v))
    val fLeaf = for {
      op <- Gen.oneOf(ops); v <- Gen.oneOf(-2.0, 0.0, 2.25, 9.5, 2e9)
    } yield op(col("f"), lit(v))
    val sLeaf = for {
      op <- Gen.oneOf(ops)
      v <- Gen.oneOf("apple", "banana", "coconut", "a", "zz")
    } yield op(col("s"), lit(v))
    val inLeaf = Gen.someOf(Seq(-20, 0, 7, 20, 99)).map(vs =>
      col("id").isin(vs.toSeq: _*))
    val swLeaf = Gen.oneOf("a", "ban", "che", "x").map(p => col("s").startsWith(p))
    val flipped = for { v <- Gen.chooseNum(-25, 25) } yield lit(v) <= col("id")
    val nullLeaf = Gen.oneOf(
      col("id").isNull, col("id").isNotNull, col("s").isNull,
      col("s").isNotNull, col("f").isNull, col("f") <=> lit(null))
    Gen.oneOf(idLeaf, fLeaf, sLeaf, inLeaf, swLeaf, flipped, nullLeaf)
  }

  private val predGen: Gen[Column] = for {
    a <- leafGen; b <- leafGen; c <- leafGen
    shape <- Gen.chooseNum(0, 3)
  } yield shape match {
    case 0 => a
    case 1 => a && b
    case 2 => a || b
    case 3 => (a && b) || c
  }

  test("mayMatch never prunes a dir containing a matching row") {
    var pruned = 0
    var total = 0
    val prop = Prop.forAll(Gen.nonEmptyListOf(rowGen).map(_.take(10)), predGen) {
      (rows, pred) =>
        val df = rows.toDF("id", "s", "f")
        val stats = statsOf(df)
        val anyMatch = df.filter(pred).limit(1).count() > 0
        val keep = DataSkipping.mayMatch(stats, schema, predExpr(pred))
        total += 1
        if (!keep) pruned += 1
        // conservative: a matching row forces keep; the converse (no match
        // → prune) is NOT required — that's what makes it skipping, not
        // evaluation
        !anyMatch || keep
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(r.passed, s"conservativeness violated: ${r.status}")
    // non-vacuous: the pruner must actually prune sometimes on this domain
    assert(pruned > 0, s"pruner never pruned in $total cases — feature inert")
  }

  test("all-NULL columns prune comparisons but never IsNull-style shapes") {
    val df = Seq((Option.empty[Int], Some("x")), (None, Some("y")))
      .toDF("id", "s")
    val sc = StructType.fromDDL("id INT, s STRING")
    val aggs = DataSkipping.statAggs(sc)
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val stats = DataSkipping.statsOf(sc, row.getValuesMap[Any](row.schema.fieldNames))
    def e(p: Column) =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc)
        .filter(p).queryExecution.logical.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
        }.get
    assert(!DataSkipping.mayMatch(stats, sc, e(col("id") === 5)))
    assert(!DataSkipping.mayMatch(stats, sc, e(col("id") < 100)))
    assert(DataSkipping.mayMatch(stats, sc, e(col("id").isNull)),
      "all-NULL dir MATCHES IS NULL — must keep")
    // an all-NULL dir provably has no non-null row
    assert(!DataSkipping.mayMatch(stats, sc, e(col("id").isNotNull)))
    // `col <=> NULL` matches the all-NULL rows — the "=" mapping must
    // not fire the all-NULL prune
    assert(DataSkipping.mayMatch(stats, sc, e(col("id") <=> lit(null))))
  }

  test("null counts prune IS NULL on null-free dirs and keep mixed dirs") {
    val sc = StructType.fromDDL("id INT, s STRING")
    def e(p: Column) =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc)
        .filter(p).queryExecution.logical.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
        }.get
    def st(df: DataFrame): Map[String, DataSkipping.ColMinMax] = {
      val aggs = DataSkipping.statAggs(sc)
      val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      DataSkipping.statsOf(sc, row.getValuesMap[Any](row.schema.fieldNames))
    }
    val noNulls = st(Seq((Some(1), Some("a")), (Some(2), Some("b")))
      .toDF("id", "s"))
    assert(noNulls("id").nulls === Some(0L))
    assert(!DataSkipping.mayMatch(noNulls, sc, e(col("id").isNull)),
      "zero recorded nulls must prune IS NULL")
    assert(DataSkipping.mayMatch(noNulls, sc, e(col("id").isNotNull)))
    val mixed = st(Seq((Some(1), Some("a")), (None, Some("b")))
      .toDF("id", "s"))
    assert(DataSkipping.mayMatch(mixed, sc, e(col("id").isNull)))
    assert(DataSkipping.mayMatch(mixed, sc, e(col("id").isNotNull)))
    // legacy stats (no null count) never prune null predicates
    val legacy = noNulls.view.mapValues(_.copy(nulls = None)).toMap
    assert(DataSkipping.mayMatch(legacy, sc, e(col("id").isNull)))
  }

  // ---- KeySet: the one key-set bound -----------------------------------

  private val keyTypes: Seq[(org.apache.spark.sql.types.DataType, Gen[Any])] = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    Seq(
      IntegerType -> Gen.frequency(9 -> Gen.chooseNum(-6, 6),
        1 -> Gen.oneOf(Int.MinValue, Int.MaxValue)),
      LongType -> Gen.frequency(9 -> Gen.chooseNum(-6L, 6L),
        1 -> Gen.oneOf(Long.MinValue, Long.MaxValue)),
      // supplementary characters sort after U+E000..U+FFFF by code point
      // (Spark's order) but before them in UTF-16 (Java's)
      StringType -> Gen.oneOf("", "a", "ab", "b", "zz", "\uE000", "\uFFFF",
        "\uD83D\uDE00", "a\uD83D\uDE00", "\uD834\uDD1E"))
  }

  private case class KeyCase(schema: StructType,
                             keys: Seq[org.apache.spark.sql.Row],
                             table: Seq[org.apache.spark.sql.Row])

  private val keyCaseGen: Gen[KeyCase] = for {
    n <- Gen.chooseNum(1, 3)
    types <- Gen.listOfN(n, Gen.oneOf(keyTypes))
    cell = Gen.sequence[Seq[Any], Any](types.map { case (_, g) =>
      Gen.frequency(5 -> g, 1 -> Gen.const(null)) })
    size <- Gen.frequency(2 -> Gen.const(0), 10 -> Gen.chooseNum(1, 12),
      1 -> Gen.const(KeySet.Cap), 4 -> Gen.chooseNum(KeySet.Cap + 1, KeySet.Cap + 40))
    keys <- Gen.listOfN(size, cell)
    table <- Gen.listOfN(24, for (c <- cell; d <- Gen.chooseNum(0, 3))
      yield c :+ d)
  } yield KeyCase(
    StructType(types.zipWithIndex.map { case ((t, _), i) =>
      org.apache.spark.sql.types.StructField(s"k$i", t) }),
    keys.map(org.apache.spark.sql.Row.fromSeq),
    table.map(org.apache.spark.sql.Row.fromSeq))

  test("KeySet: every key satisfies bound; exact selects exactly the " +
      "null-safe key matches; no dir pruned under bound holds a key") {
    import org.apache.spark.sql.types.IntegerType
    var pruned = 0
    var pastCap = 0
    val prop = Prop.forAll(keyCaseGen) { kc =>
      val cols = kc.schema.fieldNames.toSeq
      def frame(rows: Seq[org.apache.spark.sql.Row], sc: StructType) =
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), sc)
      val keys = frame(kc.keys, kc.schema)
      val table = frame(kc.table, kc.schema.add("dir", IntegerType))
      val ks = KeySet(keys, cols)
      val bound = ks.bound.getOrElse(fail("every key type here has stats"))
      if (kc.keys.size > KeySet.Cap) pastCap += 1
      // the key rows a table row null-safely matches
      val t = keys.select(cols.map(c => col(c).as(s"t_$c")): _*)
      val hits = table.join(t, cols.map(c => col(c) <=> col(s"t_$c"))
        .reduce(_ && _), "left_semi")
      def canon(df: DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      // directory stats of the table, rendered as the write path does
      val aggs = DataSkipping.statAggs(kc.schema)
      val hitDirs = hits.select("dir").distinct().collect().map(_.getInt(0)).toSet
      val prunedDirs = table.groupBy("dir").agg(aggs.head, aggs.tail: _*)
        .collect().filterNot { r =>
          val stats = DataSkipping.statsOf(kc.schema,
            r.getValuesMap[Any](r.schema.fieldNames))
          DataSkipping.mayMatch(stats, kc.schema, keyExpr(kc.schema, bound))
        }.map(_.getAs[Int]("dir")).toSet
      pruned += prunedDirs.size
      ks.size == kc.keys.size && ks.isEmpty == kc.keys.isEmpty &&
        keys.filter(!coalesce(bound, lit(false))).isEmpty &&
        ks.exact.isDefined == (kc.keys.size <= KeySet.Cap) &&
        ks.exact.forall(e => canon(table.filter(e)) == canon(hits)) &&
        (prunedDirs intersect hitDirs).isEmpty
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(r.passed, s"KeySet bound violated: ${r.status}")
    assert(pruned > 0 && pastCap > 0,
      s"vacuous: $pruned dirs pruned, $pastCap cases past the cap")
  }

  private def keyExpr(sc: StructType, predicate: Column) =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc)
      .filter(predicate).queryExecution.logical
      .collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.get
}
