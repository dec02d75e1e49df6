package graft

import graft.table.{IncrementalJoinAggView, ManagedTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Delta-join maintenance pins: every refresh must equal the full
  * join-aggregate recompute under appends, deletes, and updates on
  * EITHER side — including the cross terms (new facts meeting new
  * dims in the same range) and group moves via dimension updates. */
class IncrementalJoinViewSpec extends SparkSpec {
  import spark.implicits._

  private def fullRecompute(l: DataFrame, r: DataFrame): DataFrame =
    l.join(r, Seq("k"))
      .groupBy("d")
      .agg(sum(lit(1L)).as("cnt"),
        sum(col("x").cast("decimal(28,6)")).cast("decimal(28,6)").as("sum_x"))

  private def check(view: IncrementalJoinAggView, l: ManagedTable,
                    r: ManagedTable): Unit = {
    val got = view.read.select("d", "cnt", "sum_x")
    val want = fullRecompute(l.read, r.read)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"view drifted from full recompute:\n got ${got.collect().mkString}\n " +
        s"want ${want.collect().mkString}")
  }

  test("refresh equals the full recompute under appends, deletes, updates, " +
      "and cross terms on both sides") {
    val lp = tmpDir("jv_left")
    val rp = tmpDir("jv_right")
    val sp = tmpDir("jv_state")
    val l = ManagedTable(spark, lp)
    val r = ManagedTable(spark, rp)
    l.write(Seq((1L, 10.0), (1L, 5.0), (2L, 7.0), (3L, 2.0))
      .toDF("k", "x"), "APPEND", "append")
    r.write(Seq((1L, "a"), (2L, "b")).toDF("k", "d"), "APPEND", "append")
    val view = new IncrementalJoinAggView(spark, lp, rp, sp,
      joinKeys = Seq("k"), groupCols = Seq("d"), sumCols = Seq("x"))
    view.initialize()
    check(view, l, r)

    // left append: new facts against existing dims (dL ⋈ R0)
    l.write(Seq((2L, 1.0), (3L, 9.0)).toDF("k", "x"), "APPEND", "append")
    view.refresh(); check(view, l, r)

    // right append: the dangling k=3 facts light up (L0 ⋈ dR)
    r.write(Seq((3L, "c")).toDF("k", "d"), "APPEND", "append")
    view.refresh(); check(view, l, r)

    // BOTH sides in one range: the dL ⋈ dR cross term must fire —
    // k=4 exists in neither old snapshot
    l.write(Seq((4L, 11.0), (4L, 3.0)).toDF("k", "x"), "APPEND", "append")
    r.write(Seq((4L, "a")).toDF("k", "d"), "APPEND", "append")
    view.refresh(); check(view, l, r)

    // left delete (coarse dir-rewrite feed nets out)
    l.delete(col("x") > 8.0)
    view.refresh(); check(view, l, r)

    // right update moving a group: (−1 pre, +1 post) pair
    r.update(Map("d" -> lit("moved")), col("k") === 2L,
      captureChangeData = true)
    view.refresh(); check(view, l, r)

    // already-current refresh commits nothing
    val v = ManagedTable(spark, sp).latestVersion
    assert(view.refresh() === view.sourceVersions)
    assert(ManagedTable(spark, sp).latestVersion === v)

    // restart: a fresh instance resumes from the recorded watermarks
    l.write(Seq((1L, 100.0)).toDF("k", "x"), "APPEND", "append")
    val again = new IncrementalJoinAggView(spark, lp, rp, sp,
      Seq("k"), Seq("d"), Seq("x"))
    again.refresh(); check(again, l, r)
  }

  test("minMaxCols: deletes resurface the runner-up, group moves recompute " +
      "both sides, untouched groups carry over") {
    val lp = tmpDir("jvm_l"); val rp = tmpDir("jvm_r"); val sp = tmpDir("jvm_s")
    val l = ManagedTable(spark, lp)
    val r = ManagedTable(spark, rp)
    l.write(Seq((1L, 10.0), (1L, 4.0), (2L, 7.0), (3L, 99.0))
      .toDF("k", "x"), "APPEND", "append")
    r.write(Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("k", "d"),
      "APPEND", "append")
    val view = new IncrementalJoinAggView(spark, lp, rp, sp,
      Seq("k"), Seq("d"), Seq("x"), minMaxCols = Seq("x"))
    view.initialize()
    def mm(d: String): (Double, Double) = {
      val row = view.read.filter(col("d") === d)
        .select("min_x", "max_x").head()
      (row.getDouble(0), row.getDouble(1))
    }
    assert(mm("a") === ((4.0, 10.0)))
    // delete group a's max: the runner-up must resurface (a pure delta
    // could never know it); group b untouched — carried over unread
    l.delete(col("x") === 10.0)
    view.refresh()
    assert(mm("a") === ((4.0, 7.0)))
    assert(mm("b") === ((99.0, 99.0)))
    // dimension update MOVES k=2 from group a to group b: both groups
    // are touched and both recompute
    r.update(Map("d" -> lit("b")), col("k") === 2L, captureChangeData = true)
    view.refresh()
    assert(mm("a") === ((4.0, 4.0)))
    assert(mm("b") === ((7.0, 99.0)))
    // additive columns must agree with the full recompute throughout
    val want = l.read.join(r.read, Seq("k")).groupBy("d")
      .agg(sum(lit(1L)).as("cnt"),
        sum(col("x").cast("decimal(28,6)")).cast("decimal(28,6)").as("sum_x"),
        min("x").as("min_x"), max("x").as("max_x"))
    val got = view.read.select("d", "cnt", "sum_x", "min_x", "max_x")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("a small delta folds as DV+APPEND — O(touched groups) writes; " +
      "full churn replaces") {
    val lp = tmpDir("jv_dv_l"); val rp = tmpDir("jv_dv_r")
    val sp = tmpDir("jv_dv_s")
    val l = ManagedTable(spark, lp); val r = ManagedTable(spark, rp)
    // 100 one-row groups (the group-cardinality-sized mart shape)
    l.write((1 to 100).map(i => (i % 10, s"d$i", i * 1.0))
      .toDF("k", "d", "x"), "APPEND", "append")
    r.write((0 until 10).map(k => (k, s"w$k")).toDF("k", "w"),
      "APPEND", "append")
    val view = new IncrementalJoinAggView(spark, lp, rp, sp,
      joinKeys = Seq("k"), groupCols = Seq("d"), sumCols = Seq("x"))
    view.initialize()
    val s = ManagedTable(spark, sp)
    val dirs0 = s.lastCommit.get.dirs
    // 3 new groups enter, 2 leave (coarse feed — the per-group netting
    // must shrink the touched set to exactly these 5)
    l.write(Seq((1, "d101", 1.0), (2, "d102", 2.0), (3, "d103", 3.0))
      .toDF("k", "d", "x"), "APPEND", "append")
    l.delete(col("d") === "d7" || col("d") === "d13")
    view.refresh()
    val appendC = s.lastCommit.get
    assert(appendC.operation === "JOINVIEW_DELTA",
      s"a small-delta fold must APPEND, got ${appendC.operation}")
    assert(appendC.operationMetrics("numOutputRows") === "3")
    assert(dirs0.forall(appendC.dirs.contains),
      "standing state dirs carry over untouched")
    val dvC = s.commitAt(appendC.version - 1)
    assert(dvC.operation === "DELETE VECTORS" &&
      dvC.operationMetrics("numDeletedRows") === "2")
    assert(appendC.userMetadata.get.contains("\"stateRows\":101"))
    check(view, l, r)
    // a dim-side update that changes NO aggregated column nets to
    // nothing — the fold advances the watermark with an empty append
    r.update(Map("w" -> lit("renamed")), col("k") < 5,
      captureChangeData = true)
    view.refresh()
    assert(view.sourceVersions === (l.latestVersion.get, r.latestVersion.get))
    check(view, l, r)
    // full fact churn: every group's sum moves → one replace
    l.update(Map("x" -> (col("x") * 2)), lit(true))
    view.refresh()
    val replaceC = s.lastCommit.get
    assert(replaceC.operation === "JOINVIEW_REFRESH" &&
      replaceC.dvDirs.isEmpty,
      s"a full-churn fold must land one replace, got ${replaceC.operation}")
    check(view, l, r)
    view.maintain()
    check(view, l, r)
  }

  test("a crash between the touched-group delete and the append resumes " +
      "exactly-once") {
    val lp = tmpDir("jv_cr_l"); val rp = tmpDir("jv_cr_r")
    val sp = tmpDir("jv_cr_s")
    val l = ManagedTable(spark, lp); val r = ManagedTable(spark, rp)
    l.write((1 to 50).map(i => (i % 5, s"d$i", i * 1.0))
      .toDF("k", "d", "x"), "APPEND", "append")
    r.write((0 until 5).map(k => (k, s"w$k")).toDF("k", "w"),
      "APPEND", "append")
    val view = new IncrementalJoinAggView(spark, lp, rp, sp,
      joinKeys = Seq("k"), groupCols = Seq("d"), sumCols = Seq("x"))
    view.initialize()
    // the slice a refresh would net: d3, d5 change; d51 enters
    l.update(Map("x" -> (col("x") + 100)), col("d").isin("d3", "d5"),
      captureChangeData = true)
    l.write(Seq((1, "d51", 7.0)).toDF("k", "d", "x"), "APPEND", "append")
    // crashed fold's surviving prefix: frame-keyed delete with the
    // pending pair landed, append missing
    ManagedTable(spark, sp).deleteVectorsMatching(
      Seq("d3", "d5").toDF("d"), Seq("d"),
      userMetadata = Some(
        """{"pendingLeftVersion":2,"pendingRightVersion":0}"""))
    assert(view.sourceVersions === ((0L, 0L)))
    assert(view.refresh() === ((2L, 0L)))
    val s = ManagedTable(spark, sp)
    assert(s.lastCommit.get.operation === "JOINVIEW_DELTA" &&
      s.lastCommit.get.operationMetrics("numOutputRows") === "3",
      "the resume lands ONLY the missing append (d3, d5, d51)")
    assert(s.lastCommit.get.userMetadata.get.contains("\"stateRows\":51"))
    check(view, l, r)
    // the resumed state keeps folding
    l.delete(col("d") === "d51")
    view.refresh()
    check(view, l, r)
  }

  test("AS-OF lineage: readAt/sourceVersionsAt pin past folds; vacuum " +
      "clamps to the newest watermark commit") {
    val lp = tmpDir("jv_ao_l"); val rp = tmpDir("jv_ao_r")
    val sp = tmpDir("jv_ao_s")
    val l = ManagedTable(spark, lp); val r = ManagedTable(spark, rp)
    l.write((1 to 60).map(i => (i % 6, s"d$i", i * 1.0))
      .toDF("k", "d", "x"), "APPEND", "append")
    r.write((0 until 6).map(k => (k, s"w$k")).toDF("k", "w"),
      "APPEND", "append")
    val view = new IncrementalJoinAggView(spark, lp, rp, sp,
      joinKeys = Seq("k"), groupCols = Seq("d"), sumCols = Seq("x"))
    view.initialize()
    l.write(Seq((1, "d61", 9.0)).toDF("k", "d", "x"), "APPEND", "append")
    view.refresh()
    val s = ManagedTable(spark, sp)
    val pin = s.latestVersion.get
    l.delete(col("d") === "d61")
    r.update(Map("w" -> lit("renamed")), col("k") === 1,
      captureChangeData = true)
    view.refresh()
    val (lv, rv) = view.sourceVersionsAt(pin)
    val want = l.readAt(lv).join(r.readAt(rv), Seq("k"))
      .groupBy("d")
      .agg(sum(lit(1L)).as("cnt"),
        sum(col("x").cast("decimal(28,6)")).cast("decimal(28,6)")
          .as("sum_x"))
    val got = view.readAt(pin).select("d", "cnt", "sum_x")
    assert(got.exceptAll(want).count() === 0 &&
      want.exceptAll(got).count() === 0,
      "readAt(pin) drifted from the recompute over the pinned sources")
    view.maintain()
    val wmBefore = view.sourceVersions
    view.vacuum(1)
    assert(view.sourceVersions === wmBefore,
      "vacuum after maintenance commits wedged the watermark walk")
    check(view, l, r)
  }

  test("non-key column clashes across sides refuse at initialize") {
    val lp = tmpDir("jv_l2"); val rp = tmpDir("jv_r2"); val sp = tmpDir("jv_s2")
    ManagedTable(spark, lp).write(Seq((1L, 1.0)).toDF("k", "x"),
      "APPEND", "append")
    ManagedTable(spark, rp).write(Seq((1L, 2.0)).toDF("k", "x"),
      "APPEND", "append")
    val e = intercept[IllegalArgumentException] {
      new IncrementalJoinAggView(spark, lp, rp, sp,
        Seq("k"), Seq("x"), Nil).initialize()
    }
    assert(e.getMessage.contains("disjoint"))
  }

  test("a clash introduced AFTER init refuses loudly at refresh; reserved " +
      "internal names refuse too") {
    val lp = tmpDir("jv_l3"); val rp = tmpDir("jv_r3"); val sp = tmpDir("jv_s3")
    val l = ManagedTable(spark, lp)
    val r = ManagedTable(spark, rp)
    l.write(Seq((1L, 1.0)).toDF("k", "x"), "APPEND", "append")
    r.write(Seq((1L, "a")).toDF("k", "d"), "APPEND", "append")
    val view = new IncrementalJoinAggView(spark, lp, rp, sp,
      Seq("k"), Seq("d"), Seq("x"))
    view.initialize()
    // schema evolution lands `d` on the LEFT side too — the next refresh
    // must refuse with the construction-time message, not an opaque
    // ambiguous-reference analysis error mid-plan
    l.addColumn("d", org.apache.spark.sql.types.StringType)
    l.write(Seq((2L, 3.0, "z")).toDF("k", "x", "d"), "APPEND", "append")
    val e = intercept[IllegalArgumentException] { view.refresh() }
    assert(e.getMessage.contains("disjoint"))
    // a source column wearing a reserved internal name refuses at init
    val lp2 = tmpDir("jv_l4"); val rp2 = tmpDir("jv_r4"); val sp2 = tmpDir("jv_s4")
    ManagedTable(spark, lp2).write(
      Seq((1L, 1.0)).toDF("k", "__sign__"), "APPEND", "append")
    ManagedTable(spark, rp2).write(Seq((1L, "a")).toDF("k", "d"),
      "APPEND", "append")
    val e2 = intercept[IllegalArgumentException] {
      new IncrementalJoinAggView(spark, lp2, rp2, sp2,
        Seq("k"), Seq("d"), Seq("__sign__")).initialize()
    }
    assert(e2.getMessage.contains("reserved"))
  }

  test("refreshStream: the fact side's CDF stream triggers folds that " +
      "pick up BOTH sides' deltas; resume folds only the new slice; " +
      "batch refresh interleaves as a no-op") {
    val lp = tmpDir("jv_sl"); val rp = tmpDir("jv_sr")
    val sp = tmpDir("jv_ss"); val ck = tmpDir("jv_sck")
    val l = ManagedTable(spark, lp)
    val r = ManagedTable(spark, rp)
    l.write(Seq((1L, 10.0), (2L, 7.0)).toDF("k", "x"), "APPEND", "append")
    r.write(Seq((1L, "a"), (2L, "b")).toDF("k", "d"), "APPEND", "append")
    val view = new IncrementalJoinAggView(spark, lp, rp, sp,
      joinKeys = Seq("k"), groupCols = Seq("d"), sumCols = Seq("x"))
    view.initialize()
    // facts append AND a dimension moves between epochs — the left
    // stream is the trigger, but the fold must carry the right delta too
    l.write(Seq((1L, 5.0), (3L, 2.0)).toDF("k", "x"), "APPEND", "append")
    r.write(Seq((3L, "c")).toDF("k", "d"), "APPEND", "append")
    assert(view.refreshStream(ck).awaitTermination(120000),
      "the join view stream did not drain")
    check(view, l, r)
    // resume the SAME checkpoint after one more slice on each side
    l.write(Seq((3L, 4.0)).toDF("k", "x"), "APPEND", "append")
    r.update(Map("d" -> lit("a")), col("k") === 2L)
    assert(view.refreshStream(ck).awaitTermination(120000))
    check(view, l, r)
    // a batch refresh interleaves as a no-op (both sides current)
    val vBefore = ManagedTable(spark, sp).latestVersion
    view.refresh()
    assert(ManagedTable(spark, sp).latestVersion === vBefore)
    // the checkpoint deleted and reused: its epochs restart at 0, at or
    // below the ledger's high-water, while carrying a commit past the
    // watermark — refused instead of silently dropped
    l.write(Seq((2L, 1.0)).toDF("k", "x"), "APPEND", "append")
    val ckPath = new org.apache.hadoop.fs.Path(ck)
    ckPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(ckPath, true)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      view.refreshStream(ck).awaitTermination(120000)
    }
    assert(e.getMessage.contains("re-created"), e.getMessage)
    assert(ManagedTable(spark, sp).latestVersion === vBefore,
      "the refused epoch must not fold")
  }

  test("a maintenance commit on top of a pending tombstone does not hide " +
      "it: the next refresh still lands the missing append") {
    val lp = tmpDir("jv_crm_l"); val rp = tmpDir("jv_crm_r")
    val sp = tmpDir("jv_crm_s")
    val l = ManagedTable(spark, lp); val r = ManagedTable(spark, rp)
    l.write((1 to 50).map(i => (i % 5, s"d$i", i * 1.0))
      .toDF("k", "d", "x"), "APPEND", "append")
    r.write((0 until 5).map(k => (k, s"w$k")).toDF("k", "w"),
      "APPEND", "append")
    val view = new IncrementalJoinAggView(spark, lp, rp, sp,
      joinKeys = Seq("k"), groupCols = Seq("d"), sumCols = Seq("x"))
    view.initialize()
    l.update(Map("x" -> (col("x") + 100)), col("d").isin("d3", "d5"),
      captureChangeData = true)
    l.write(Seq((1, "d51", 7.0)).toDF("k", "d", "x"), "APPEND", "append")
    val s = ManagedTable(spark, sp)
    s.deleteVectorsMatching(Seq("d3", "d5").toDF("d"), Seq("d"),
      userMetadata = Some(
        """{"pendingLeftVersion":2,"pendingRightVersion":0}"""))
    s.purgeDeletes()
    assert(view.refresh() === ((2L, 0L)))
    check(view, l, r)
  }

  test("on-disk format: each join fold shape writes its exact operation " +
      "and metadata") {
    val lp = tmpDir("jv_fmt_l"); val rp = tmpDir("jv_fmt_r")
    val sp = tmpDir("jv_fmt_s")
    val l = ManagedTable(spark, lp); val r = ManagedTable(spark, rp)
    l.write((1 to 20).map(i => (i % 5, s"d$i", i * 1.0))
      .toDF("k", "d", "x"), "APPEND", "append")
    r.write((0 until 5).map(k => (k, s"w$k")).toDF("k", "w"),
      "APPEND", "append")
    val view = new IncrementalJoinAggView(spark, lp, rp, sp,
      joinKeys = Seq("k"), groupCols = Seq("d"), sumCols = Seq("x"))
    view.initialize()
    l.update(Map("x" -> col("x")), col("d") === "d1", captureChangeData = true)
    view.refresh()
    l.write(Seq((1, "d21", 1.0)).toDF("k", "d", "x"), "APPEND", "append")
    l.delete(col("d") === "d2")
    view.refresh()
    l.update(Map("x" -> (col("x") * 2)), lit(true))
    view.refresh()
    assert(ManagedTable(spark, sp).history.reverse
        .map(c => (c.operation, c.userMetadata.orNull)) === Seq(
      ("JOINVIEW_INIT", """{"leftVersion":0,"rightVersion":0}"""),
      ("JOINVIEW_DELTA",
        """{"leftVersion":1,"rightVersion":0,"stateRows":20}"""),
      ("DELETE VECTORS",
        """{"pendingLeftVersion":3,"pendingRightVersion":0}"""),
      ("JOINVIEW_DELTA",
        """{"leftVersion":3,"rightVersion":0,"stateRows":20}"""),
      ("JOINVIEW_REFRESH", """{"leftVersion":4,"rightVersion":0}""")))
  }
}
