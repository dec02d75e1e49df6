package graft

import graft.write.{MergeEmulator, WriteOptions, Writers}
import graft.write.MergeEmulator.MatchedUpdate
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import scala.util.{Failure, Success, Try}

/** MERGE INTO emulation semantics (mirrors Delta MERGE as used by
  * reference write.py:510-523, :985-991, :278-294). */
class MergeEmulatorSpec extends SparkSpec {
  import spark.implicits._

  private def target = Seq(
    (1, "a", 10), (2, "b", 20), (3, "c", 30)).toDF("id", "v", "x")

  test("matched update, unmatched-target keep, source-only insert") {
    val source = Seq((2, "B", 200), (4, "d", 40)).toDF("id", "v", "x")
    val out = MergeEmulator.merge(
      target, source,
      col("target.id") === col("source.id"),
      Seq(MatchedUpdate(None, Map("v" -> col("source.v"), "x" -> col("source.x")))),
      Some(Map("id" -> col("source.id"), "v" -> col("source.v"), "x" -> col("source.x"))))
    val got = out.as[(Int, String, Int)].collect().toSet
    assert(got === Set((1, "a", 10), (2, "B", 200), (3, "c", 30), (4, "d", 40)))
  }

  test("conditional matched branch: only rows passing the condition update") {
    val source = Seq((1, "A", 10), (2, "b", 20)).toDF("id", "v", "x")
    val out = MergeEmulator.merge(
      target, source,
      col("target.id") === col("source.id"),
      Seq(MatchedUpdate(Some(col("target.v") =!= col("source.v")),
        Map("v" -> col("source.v")))),
      Some(Map("id" -> col("source.id"), "v" -> col("source.v"), "x" -> col("source.x"))))
    val got = out.as[(Int, String, Int)].collect().toSet
    assert(got === Set((1, "A", 10), (2, "b", 20), (3, "c", 30)))
  }

  test("first matching WHEN MATCHED branch wins") {
    val source = Seq((1, "z", 99)).toDF("id", "v", "x")
    val out = MergeEmulator.merge(
      target, source,
      col("target.id") === col("source.id"),
      Seq(
        MatchedUpdate(Some(lit(true)), Map("v" -> lit("first"))),
        MatchedUpdate(Some(lit(true)), Map("v" -> lit("second")))),
      Some(Map("id" -> col("source.id"), "v" -> col("source.v"), "x" -> col("source.x"))))
    assert(out.filter($"id" === 1).select("v").as[String].head() === "first")
  }

  test("insert columns absent from insertValues become NULL of target type") {
    val source = Seq((9, "i")).toDF("id", "v")
    val out = MergeEmulator.merge(
      target, source,
      col("target.id") === col("source.id"),
      Nil,
      Some(Map("id" -> col("source.id"), "v" -> col("source.v"))))
    val r = out.filter($"id" === 9).collect()(0)
    assert(r.isNullAt(r.fieldIndex("x")))
    // names+types preserved; nullability widens (an unmatched insert can
    // legitimately introduce NULL into a previously non-nullable column)
    assert(out.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      target.schema.fields.map(f => (f.name, f.dataType)).toSeq)
  }

  test("multiple source rows matching one target row raise like Delta MERGE") {
    val source = Seq((2, "B1", 21), (2, "B2", 22)).toDF("id", "v", "x")
    val out = MergeEmulator.merge(
      target, source,
      col("target.id") === col("source.id"),
      Seq(MatchedUpdate(None, Map("v" -> col("source.v")))),
      Some(Map("id" -> col("source.id"), "v" -> col("source.v"), "x" -> col("source.x"))))
    val e = intercept[Exception](out.collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("MERGE cardinality violation")))
  }

  test("cardinality guard survives column pruning (fires on a subset select)") {
    val source = Seq((2, "B1", 21), (2, "B2", 22)).toDF("id", "v", "x")
    val out = MergeEmulator.merge(
      target, source,
      col("target.id") === col("source.id"),
      Seq(MatchedUpdate(None, Map("v" -> col("source.v")))),
      Some(Map("id" -> col("source.id"), "v" -> col("source.v"), "x" -> col("source.x"))))
    // consumer prunes down to one column — the guard is a filter, not a
    // rider on a data column, so it must still raise
    val e = intercept[Exception](out.select("x").collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("MERGE cardinality violation")))
  }

  test("identical duplicate target rows each matching once do not raise") {
    // n_t = 2 identical target rows, one source match → 2 joined rows in
    // the group, equal to n_t: legal (Delta: many targets may match one
    // source), and both copies update
    val dupTarget = Seq((2, "b", 20), (2, "b", 20), (3, "c", 30)).toDF("id", "v", "x")
    val source = Seq((2, "B", 200)).toDF("id", "v", "x")
    val out = MergeEmulator.merge(
      dupTarget, source,
      col("target.id") === col("source.id"),
      Seq(MatchedUpdate(None, Map("v" -> col("source.v"), "x" -> col("source.x")))),
      Some(Map("id" -> col("source.id"), "v" -> col("source.v"), "x" -> col("source.x"))))
    val got = out.as[(Int, String, Int)].collect().toSeq.sorted
    assert(got === Seq((2, "B", 200), (2, "B", 200), (3, "c", 30)))
  }

  test("duplicate matches pass with failOnMultipleMatches off (documented fan-out)") {
    val source = Seq((2, "B1", 21), (2, "B2", 22)).toDF("id", "v", "x")
    val out = MergeEmulator.merge(
      target, source,
      col("target.id") === col("source.id"),
      Seq(MatchedUpdate(None, Map("v" -> col("source.v"), "x" -> col("source.x")))),
      Some(Map("id" -> col("source.id"), "v" -> col("source.v"), "x" -> col("source.x"))),
      failOnMultipleMatches = false)
    assert(out.filter($"id" === 2).count() === 2)
  }

  test("guard ignores many inserts and many unmatched targets") {
    // 100 source-only rows + 3 target-only rows: no both-present group,
    // nothing raises, all rows come through
    val source = (100 to 199).map(i => (i, s"v$i", i)).toDF("id", "v", "x")
    val out = MergeEmulator.merge(
      target, source,
      col("target.id") === col("source.id"),
      Seq(MatchedUpdate(None, Map("v" -> col("source.v")))),
      Some(Map("id" -> col("source.id"), "v" -> col("source.v"), "x" -> col("source.x"))))
    assert(out.count() === 103)
  }

  test("output schema always equals target schema") {
    val source = Seq((2, "B", 200, "extra")).toDF("id", "v", "x", "junk")
    val out = MergeEmulator.merge(
      target, source,
      col("target.id") === col("source.id"),
      Seq(MatchedUpdate(None, Map("v" -> col("source.v")))),
      Some(Map("id" -> col("source.id"), "v" -> col("source.v"))))
    assert(out.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      target.schema.fields.map(f => (f.name, f.dataType)).toSeq)
  }

  /** Raise-or-rows outcome of a merge: the sorted output rows, or None
    * when the cardinality guard raised. */
  private def outcome(out: DataFrame): Option[Seq[String]] = {
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    Try(out.collect()) match {
      case Success(rows) => Some(rows.toSeq.map(_.toString).sorted)
      case Failure(e) if msgs(e).exists(_.contains("MERGE cardinality violation")) => None
      case Failure(e) => throw e
    }
  }

  test("property: the source-keyed guard agrees with the general guard") {
    // small domains so keys, whole target rows and source rows repeat;
    // NULL ids exercise `<=>`, inactive rows a target-only residual
    val idGen = Gen.frequency(5 -> Gen.chooseNum(1, 4).map(Option(_)), 1 -> Gen.const(None))
    val tRow = for { id <- idGen; v <- Gen.oneOf("a", "b"); act <- Gen.oneOf("Y", "Y", "N") }
      yield (id, v, act)
    val sRow = for { id <- idGen; v <- Gen.oneOf("a", "b", "c"); x <- Gen.chooseNum(0, 3) }
      yield (id, v, x)
    val t = (c: String) => col(s"target.$c")
    val s = (c: String) => col(s"source.$c")
    val conds: Seq[(String, Column)] = Seq(
      "=" -> (t("id") === s("id")),
      "<=>" -> (t("id") <=> s("id")),
      "= and target-only" -> (t("id") === s("id") && t("act") === "Y"),
      "<=> and source-only" -> (t("id") <=> s("id") && s("x") > 1),
      "swapped = and both residuals" -> (s("id") === t("id") && t("act") === "Y" && s("x") =!= 0))
    // always true, references both sides, and Catalyst cannot fold it
    val mixedTrue = length(concat_ws("", t("v"), s("v"))) >= 0
    val scenario = for {
      tr <- Gen.listOfN(6, tRow)
      sr <- Gen.choose(0, 4).flatMap(Gen.listOfN(_, sRow))
      c <- Gen.oneOf(conds)
    } yield (tr, sr, c)
    val prop = Prop.forAll(scenario) { case (tr, sr, (_, cond)) =>
      val tgt = tr.toDF("id", "v", "act")
      val src = sr.toDF("id", "v", "x")
      def run(c: Column) = MergeEmulator.merge(tgt, src, c,
        Seq(MatchedUpdate(Some(t("v") =!= s("v")), Map("v" -> s("v"), "act" -> lit("U")))),
        Some(Map("id" -> s("id"), "v" -> s("v"), "act" -> lit("I"))))
      val keyed = run(cond)
      val general = run(cond && mixedTrue)
      // each side really took its path
      val keyedPlan = keyed.queryExecution.analyzed.toString
      val generalPlan = general.queryExecution.analyzed.toString
      keyedPlan.contains("__graft_s_cnt__") && !keyedPlan.contains("__graft_t_cnt__") &&
        generalPlan.contains("__graft_t_cnt__") &&
        outcome(keyed) == outcome(general)
    }
    val result = SCTest.check(prop)(_.withMinSuccessfulTests(30).withWorkers(1))
    assert(result.passed, result.status.toString)
  }

  test("a `<=>` key raises on duplicate NULL source keys that match a NULL target key") {
    val tgt = Seq((Option.empty[Int], "a"), (Some(1), "b")).toDF("id", "v")
    val src = Seq((Option.empty[Int], "x"), (Option.empty[Int], "y")).toDF("id", "v")
    def run(c: Column) = outcome(MergeEmulator.merge(tgt, src, c,
      Seq(MatchedUpdate(None, Map("v" -> col("source.v")))),
      Some(Map("id" -> col("source.id"), "v" -> col("source.v")))))
    assert(run(col("target.id") <=> col("source.id")).isEmpty)
    // under `=` NULL keys never match: both source rows insert
    assert(run(col("target.id") === col("source.id")).exists(_.size == 4))
  }

  /** Jobs `op` starts, counted through a job group. */
  private def jobsOf(op: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"merge-jobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "merge job count")
    try op finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("job counts: SCD merges into a single-dir target check cardinality on the join's exchange") {
    val base = (1 to 40).map(i => (i, s"k$i", s"v$i", i % 3)).toDF("id", "sk", "v", "c")
    val batch = (30 to 45).map(i => (i, s"k$i", s"w$i", i % 4)).toDF("id", "sk", "v", "c")
    /** Jobs of the second merge, after a first one leaves one dir. */
    def second(merge: (String, DataFrame) => Any): Int = {
      val path = tmpDir("mergejobs")
      merge(path, base)
      jobsOf(merge(path, batch))
    }
    val scd1 = second((p, d) => Writers.scd1(spark, p, d, Seq("id")))
    val scd2 = second((p, d) => Writers.scd2(spark, p, d, Seq("id")))
    val scd3 = second((p, d) => Writers.scd3(spark, p, d, Seq("id"), Seq("c")))
    assert(scd1 <= 3, s"scd1 started $scd1 jobs")
    assert(scd2 <= 4, s"scd2 started $scd2 jobs")
    assert(scd3 <= 3, s"scd3 started $scd3 jobs")
    // `<=>` key conjuncts: a window over the raw key columns instead of
    // the planner's coalesce/isnull keys would cost its own exchange.
    // `id` is non-nullable in the batch, `sk` nullable.
    val useKeys = WriteOptions(useKeyAttributesInMerge = true)
    val byId = second((p, d) => Writers.scd1(spark, p, d, Seq("id"), useKeys))
    val bySk = second((p, d) => Writers.scd1(spark, p, d, Seq("sk"), useKeys))
    assert(byId <= scd1 && bySk <= scd1,
      s"use_key_attributes_in_merge scd1 started $byId / $bySk jobs, plain $scd1")
  }
}
