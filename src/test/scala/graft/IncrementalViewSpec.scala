package graft

import graft.table.{IncrementalAggView, ManagedTable}
import org.apache.spark.sql.functions._

/** IncrementalAggView: materialized aggregates folded from the change
  * feed must equal a full recompute after every kind of source commit —
  * append (dir-diff CDF), delete without capture (coarse dir-rewrite
  * CDF), update with capture (minimal pre/post CDF). */
class IncrementalViewSpec extends SparkSpec {
  import spark.implicits._

  private def fullRecompute(t: ManagedTable) =
    t.read.groupBy("g")
      .agg(sum(lit(1L)).as("cnt"),
        sum(col("v").cast("decimal(28,6)")).cast("decimal(28,6)").as("sum_v"))

  private def mkView(src: String, st: String) =
    new IncrementalAggView(spark, src, st, Seq("g"), Seq("v"))

  private def assertCurrent(view: IncrementalAggView, t: ManagedTable): Unit = {
    val got = view.read.select("g", "cnt", "sum_v")
    val want = fullRecompute(t)
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
      s"view drifted:\ngot ${got.collect().mkString(",")}\nwant ${want.collect().mkString(",")}")
  }

  test("append, coarse delete, captured update all fold to the exact aggregate") {
    val src = tmpDir("iv_src"); val st = tmpDir("iv_st")
    val t = ManagedTable(spark, src)
    t.write((1 to 40).map(i => (i.toLong, s"g${i % 4}", i * 1.5)).toDF("id", "g", "v"),
      "APPEND", "append")
    val view = mkView(src, st)
    view.initialize()
    assertCurrent(view, t)

    t.write((41 to 60).map(i => (i.toLong, s"g${i % 4}", i * 1.5)).toDF("id", "g", "v"),
      "APPEND", "append")
    view.refresh()
    assertCurrent(view, t)

    // delete WITHOUT captureChangeData: the feed reports the rewritten
    // dir as delete-all + insert-survivors — additivity must net it out
    t.delete(col("id") % 5 === 0)
    view.refresh()
    assertCurrent(view, t)

    t.update(Map("v" -> (col("v") * 2)), col("id") % 7 === 0,
      captureChangeData = true)
    view.refresh()
    assertCurrent(view, t)
  }

  test("min/max maintain through deletes via touched-group recompute") {
    val src = tmpDir("iv_mm_src"); val st = tmpDir("iv_mm_st")
    val t = ManagedTable(spark, src)
    t.write((1 to 40).map(i => (i.toLong, s"g${i % 4}", i * 1.5)).toDF("id", "g", "v"),
      "APPEND", "append")
    val view = new IncrementalAggView(spark, src, st, Seq("g"), Seq("v"),
      minMaxCols = Seq("v"))
    view.initialize()
    def assertMm(): Unit = {
      val got = view.read.select("g", "cnt", "sum_v", "min_v", "max_v")
      val want = t.read.groupBy("g")
        .agg(sum(lit(1L)).as("cnt"),
          sum(col("v").cast("decimal(28,6)")).cast("decimal(28,6)").as("sum_v"),
          min("v").as("min_v"), max("v").as("max_v"))
      assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
        s"min/max view drifted:\ngot ${got.collect().sortBy(_.getString(0)).mkString(",")}" +
          s"\nwant ${want.collect().sortBy(_.getString(0)).mkString(",")}")
    }
    assertMm()
    // deleting the top rows MUST lower maxes — the not-delta-maintainable
    // case: the runner-up is only discoverable by reading the group back
    val before = view.read.select("g", "max_v").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    t.delete(col("v") > 30.0)
    view.refresh()
    assertMm()
    val after = view.read.select("g", "max_v").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(after.forall { case (g, m) => m < before(g) },
      s"every group's max should have dropped: $before -> $after")
    // captured update halving some values must lower mins too
    t.update(Map("v" -> (col("v") * 0.5)), col("id") % 3 === 0,
      captureChangeData = true)
    view.refresh()
    assertMm()
    // append touching ONE group leaves other groups' min/max carried over
    t.write(Seq((100L, "g0", 1000.0)).toDF("id", "g", "v"), "APPEND", "append")
    view.refresh()
    assertMm()
  }

  test("min/max: a semi-join fallback (composite keys) and NULL group keys stay exact") {
    val src = tmpDir("iv_mm2_src"); val st = tmpDir("iv_mm2_st")
    val t = ManagedTable(spark, src)
    val rows = Seq((1L, "a", "x", 5.0), (2L, "a", "y", 9.0), (3L, null, "x", 2.0),
      (4L, "b", "x", 7.0), (5L, null, "x", 11.0))
    t.write(rows.toDF("id", "g1", "g2", "v"), "APPEND", "append")
    // two group columns -> touchedFact takes the semi-join path
    val view = new IncrementalAggView(spark, src, st, Seq("g1", "g2"),
      Nil, minMaxCols = Seq("v"))
    view.initialize()
    t.delete(col("v") > 8.0) // drops (a,y,9) and (null,x,11)
    view.refresh()
    val got = view.read.select("g1", "g2", "cnt", "min_v", "max_v")
    val want = t.read.groupBy("g1", "g2")
      .agg(sum(lit(1L)).as("cnt"), min("v").as("min_v"), max("v").as("max_v"))
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
      s"got ${got.collect().mkString(",")} want ${want.collect().mkString(",")}")
    // the NULL group survived with its max recomputed down to 2.0
    assert(view.read.filter(col("g1").isNull).select("max_v").head().getDouble(0) === 2.0)
  }

  test("refresh is idempotent and restart-safe via the commit watermark") {
    val src = tmpDir("iv_src2"); val st = tmpDir("iv_st2")
    val t = ManagedTable(spark, src)
    t.write(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "g", "v"),
      "APPEND", "append")
    val view = mkView(src, st)
    view.initialize()
    val stateV = ManagedTable(spark, st).latestVersion
    // current → no-op, no new state commit
    assert(view.refresh() === view.sourceVersion)
    assert(ManagedTable(spark, st).latestVersion === stateV)
    t.write(Seq((3L, "a", 3.0)).toDF("id", "g", "v"), "APPEND", "append")
    // a FRESH view object on the same paths resumes from the watermark
    mkView(src, st).refresh()
    assertCurrent(mkView(src, st), t)
  }

  test("streaming maintenance folds CDF micro-batches; batch refresh interleaves safely") {
    val src = tmpDir("iv_src4"); val st = tmpDir("iv_st4")
    val ck = tmpDir("iv_ck4")
    val t = ManagedTable(spark, src)
    t.write((1 to 30).map(i => (i.toLong, s"g${i % 3}", i * 0.5)).toDF("id", "g", "v"),
      "APPEND", "append")
    val view = mkView(src, st)
    view.initialize()
    // two more source commits, drained by the CDF stream
    t.write((31 to 45).map(i => (i.toLong, s"g${i % 3}", i * 0.5)).toDF("id", "g", "v"),
      "APPEND", "append")
    t.delete(col("id") % 4 === 0)
    val q = view.refreshStream(ck)
    assert(q.awaitTermination(120000), "view stream did not drain")
    assertCurrent(view, t)
    assert(view.sourceVersion === t.latestVersion.get,
      "stream fold must advance the watermark to the folded commit")
    // a BATCH refresh after more source commits continues from there
    t.write(Seq((100L, "g0", 9.0)).toDF("id", "g", "v"), "APPEND", "append")
    view.refresh()
    assertCurrent(view, t)
    // re-running the drained stream replays nothing (txn guard + empty feed)
    val before = ManagedTable(spark, st).latestVersion
    val q2 = view.refreshStream(tmpDir("iv_ck4b"))
    assert(q2.awaitTermination(120000))
    assertCurrent(view, t)
    assert(ManagedTable(spark, st).latestVersion === before,
      "an up-to-date stream pass must not commit")
  }

  test("a RESUMED checkpoint after an interleaved batch refresh never double-applies") {
    val src = tmpDir("iv_src5"); val st = tmpDir("iv_st5")
    val ck = tmpDir("iv_ck5")
    val t = ManagedTable(spark, src)
    t.write((1 to 10).map(i => (i.toLong, "g", 1.0)).toDF("id", "g", "v"),
      "APPEND", "append")
    val view = mkView(src, st)
    view.initialize()
    t.write((11 to 20).map(i => (i.toLong, "g", 1.0)).toDF("id", "g", "v"),
      "APPEND", "append")
    val q1 = view.refreshStream(ck)
    assert(q1.awaitTermination(120000))
    assertCurrent(view, t)
    // batch refresh folds the NEXT commit while the checkpoint is idle
    t.write((21 to 25).map(i => (i.toLong, "g", 1.0)).toDF("id", "g", "v"),
      "APPEND", "append")
    view.refresh()
    assertCurrent(view, t)
    // resume the SAME checkpoint: its WAL replays offsets overlapping the
    // refreshed range — the watermark filter must drop them
    t.write(Seq((26L, "g", 1.0)).toDF("id", "g", "v"), "APPEND", "append")
    val q2 = view.refreshStream(ck)
    assert(q2.awaitTermination(120000))
    assertCurrent(view, t) // 26 rows total, nothing counted twice
  }

  test("a small delta folds as DV+APPEND — O(touched groups) writes; a " +
      "full-churn fold replaces") {
    val src = tmpDir("iv_dv_src"); val st = tmpDir("iv_dv_st")
    val t = ManagedTable(spark, src)
    // GROUP-cardinality-sized state: one group per id (200 groups) —
    // the shape where a full-state replace per fold is the write
    // amplification this path retires
    t.write((1 to 200).map(i => (i.toLong, i * 1.5)).toDF("id", "v"),
      "APPEND", "append")
    val view = new IncrementalAggView(spark, src, st, Seq("id"), Seq("v"))
    def checkById(): Unit = {
      val got = view.read.select("id", "cnt", "sum_v")
      val want = t.read.groupBy("id")
        .agg(sum(lit(1L)).as("cnt"),
          sum(col("v").cast("decimal(28,6)")).cast("decimal(28,6)")
            .as("sum_v"))
      assert(got.exceptAll(want).count() === 0 &&
        want.exceptAll(got).count() === 0, "id-keyed view drifted")
    }
    view.initialize()
    val s = ManagedTable(spark, st)
    val dirs0 = s.lastCommit.get.dirs
    // delta touching 7 of 200 groups: 5 new ids + 2 deleted
    t.write(Seq((201L, 1.0), (202L, 2.0), (203L, 3.0), (204L, 4.0),
      (205L, 5.0)).toDF("id", "v"), "APPEND", "append")
    t.delete(col("id") === 7L || col("id") === 13L)
    view.refresh()
    val appendC = s.lastCommit.get
    assert(appendC.operation === "VIEW_DELTA",
      "a small-delta fold must APPEND the touched groups, not replace " +
        s"the state — got ${appendC.operation}")
    assert(appendC.operationMetrics("numOutputRows") === "5",
      "the append writes exactly the surviving touched groups' rows")
    assert(dirs0.forall(appendC.dirs.contains),
      "the standing state dirs carry over untouched")
    val dvC = s.commitAt(appendC.version - 1)
    assert(dvC.operation === "DELETE VECTORS" &&
      dvC.operationMetrics("numDeletedRows") === "2",
      "touched groups' old rows tombstone as frame-keyed DVs")
    assert(appendC.userMetadata.get.contains("\"stateRows\":203"),
      s"live row count must track 200 - 2 + 5, got ${appendC.userMetadata}")
    checkById()
    // full churn: every group moves — above the fraction threshold the
    // honest plan is ONE replace (its own numOutputRows is the count)
    t.update(Map("v" -> (col("v") * 2)), lit(true))
    view.refresh()
    val replaceC = s.lastCommit.get
    assert(replaceC.operation === "VIEW_REFRESH" && replaceC.dvDirs.isEmpty,
      s"a full-churn fold must land one replace, got ${replaceC.operation}")
    assert(dirs0.forall(d => !replaceC.dirs.contains(d)))
    checkById()
    // maintenance: purge the delta folds' tombstones + fold the tail —
    // watermark-less, state unchanged
    view.maintain()
    assert(ManagedTable(spark, st).lastCommit.get.dvDirs.isEmpty)
    checkById()
  }

  test("touched-group tombstones dir-prune a clustered state: the IN-list " +
      "fold scans only touched buckets, pays no change capture") {
    val src = tmpDir("iv_prune_src"); val st = tmpDir("iv_prune_st")
    val t = ManagedTable(spark, src)
    t.write((1 to 400).map(i => (i.toLong, i * 1.0)).toDF("id", "v"),
      "APPEND", "append")
    val view = new IncrementalAggView(spark, src, st, Seq("id"), Seq("v"))
    view.initialize()
    val s = ManagedTable(spark, st)
    s.clusterBy("id", 8) // 8 range-disjoint state dirs, one per bucket
    val live = s.lastCommit.get.dirs.size
    assert(live >= 8)
    val scan0 = ManagedTable.dvScanDirs.get
    t.delete(col("id") <= 10L) // touches only the lowest bucket's range
    view.refresh()
    val appendC = s.lastCommit.get
    assert(appendC.operation === "VIEW_DELTA")
    val dvC = s.commitAt(appendC.version - 1)
    assert(dvC.operation === "DELETE VECTORS" &&
      dvC.operationMetrics("numDeletedRows") === "10")
    assert(dvC.changeDir.isEmpty,
      "state tombstones must not pay full-width change capture")
    val scanned = ManagedTable.dvScanDirs.get - scan0
    assert(scanned >= 1 && scanned < live,
      s"the touched-group tombstone scan must dir-prune: scanned " +
        s"$scanned of $live state dirs for a one-bucket delete")
    val want = t.read.groupBy("id")
      .agg(sum(lit(1L)).as("cnt"),
        sum(col("v").cast("decimal(28,6)")).cast("decimal(28,6)")
          .as("sum_v"))
    assert(view.read.exceptAll(want).count() === 0 &&
      want.exceptAll(view.read).count() === 0)
  }

  test("a NULL single group key folds through the predicate-form " +
      "tombstone route (IS NULL arm) — touched, tombstoned, recomputed") {
    val src = tmpDir("iv_null_src"); val st = tmpDir("iv_null_st")
    val t = ManagedTable(spark, src)
    val rows: Seq[(java.lang.Long, Double)] =
      (1 to 50).map(i => (java.lang.Long.valueOf(i.toLong), i * 1.0)) ++
        Seq((null.asInstanceOf[java.lang.Long], 100.0),
          (null.asInstanceOf[java.lang.Long], 200.0))
    t.write(rows.toDF("g", "v"), "APPEND", "append")
    val view = new IncrementalAggView(spark, src, st, Seq("g"), Seq("v"))
    view.initialize()
    val s = ManagedTable(spark, st)
    // delta touches the NULL group and one keyed group — far under the
    // fraction tier, single key → IN-list predicate route with the
    // explicit IS NULL arm (SQL match semantics would silently skip
    // the NULL group's state row otherwise)
    t.write(Seq((null.asInstanceOf[java.lang.Long], 300.0),
      (java.lang.Long.valueOf(7L), 7.5)).toDF("g", "v"),
      "APPEND", "append")
    view.refresh()
    val appendC = s.lastCommit.get
    assert(appendC.operation === "VIEW_DELTA")
    val dvC = s.commitAt(appendC.version - 1)
    assert(dvC.operation === "DELETE VECTORS" &&
      dvC.operationMetrics("numDeletedRows") === "2",
      "the NULL group's and group 7's state rows must both tombstone")
    val want = t.read.groupBy("g")
      .agg(sum(lit(1L)).as("cnt"),
        sum(col("v").cast("decimal(28,6)")).cast("decimal(28,6)")
          .as("sum_v"))
    assert(view.read.exceptAll(want).count() === 0 &&
      want.exceptAll(view.read).count() === 0,
      "NULL-group fold drifted from the recompute")
    assert(view.read.filter(col("g").isNull)
      .select(col("cnt")).head().getLong(0) === 3L)
  }

  test("composite-key touched sets tombstone FRAME-keyed with key-RANGE " +
      "dir pruning — the key frame never becomes driver state") {
    val src = tmpDir("iv_fprune_src"); val st = tmpDir("iv_fprune_st")
    val t = ManagedTable(spark, src)
    t.write((1 to 400).map(i => (i.toLong, (i % 2).toLong, i * 1.0))
      .toDF("id", "b", "v"), "APPEND", "append")
    // composite group key → no IN-list spelling → frame form
    val view = new IncrementalAggView(spark, src, st, Seq("id", "b"),
      Seq("v"))
    view.initialize()
    val s = ManagedTable(spark, st)
    s.clusterBy("id", 8)
    val live = s.lastCommit.get.dirs.size
    val scan0 = ManagedTable.dvScanDirs.get
    t.delete(col("id") <= 10L)
    view.refresh()
    val dvC = s.commitAt(s.lastCommit.get.version - 1)
    assert(dvC.operation === "DELETE VECTORS" &&
      dvC.operationMetrics("numDeletedRows") === "10")
    val scanned = ManagedTable.dvScanDirs.get - scan0
    assert(scanned >= 1 && scanned < live,
      s"the frame-keyed scan must prune by the touched keys' min/max " +
        s"range: scanned $scanned of $live dirs")
    val want = t.read.groupBy("id", "b")
      .agg(sum(lit(1L)).as("cnt"),
        sum(col("v").cast("decimal(28,6)")).cast("decimal(28,6)")
          .as("sum_v"))
    assert(view.read.exceptAll(want).count() === 0 &&
      want.exceptAll(view.read).count() === 0)
  }

  test("randomized fold sequences equal the recompute — single and " +
      "composite keys, NULL groups, every tombstone route (seeded)") {
    // the range-prune paths (touchedSlice readWhere, frame-DV dir+row
    // pruning, semi-join pre-filters) are all conservative-SUPERSET
    // claims; a miss would silently drop state rows. Drive random op
    // sequences through both key shapes and hold the fold to the full
    // recompute after every step.
    val rnd = new scala.util.Random(20260816L)
    def randRows(n: Int): Seq[(java.lang.Long, java.lang.Long, Double)] =
      (1 to n).map { _ =>
        val g: java.lang.Long =
          if (rnd.nextInt(10) == 0) null
          else java.lang.Long.valueOf(rnd.nextInt(40).toLong)
        (g, java.lang.Long.valueOf(rnd.nextInt(3).toLong),
          math.round(rnd.nextDouble() * 1000) / 10.0)
      }
    for ((groupCols, tag) <- Seq((Seq("g"), "single"),
        (Seq("g", "b"), "composite"))) {
      val src = tmpDir(s"iv_rand_${tag}_src")
      val st = tmpDir(s"iv_rand_${tag}_st")
      val t = ManagedTable(spark, src)
      t.write(randRows(300).toDF("g", "b", "v"), "APPEND", "append")
      val view = new IncrementalAggView(spark, src, st, groupCols, Seq("v"))
      view.initialize()
      // cluster so the prunes actually bite (a pruned-away matching row
      // would surface as drift below)
      ManagedTable(spark, st).clusterBy("g", 4)
      for (step <- 1 to 4) {
        rnd.nextInt(3) match {
          case 0 => t.write(randRows(30 + rnd.nextInt(40)).toDF("g", "b", "v"),
            "APPEND", "append")
          case 1 =>
            val lo = rnd.nextInt(40).toLong
            val pred = col("g") >= lo && col("g") < lit(lo + 6)
            t.delete(if (rnd.nextBoolean()) pred else pred || col("g").isNull)
          case 2 => t.update(Map("v" -> (col("v") + 1)),
            col("g") % 7 === rnd.nextInt(7).toLong,
            captureChangeData = rnd.nextBoolean())
        }
        view.refresh()
        val want = t.read.groupBy(groupCols.map(col): _*)
          .agg(sum(lit(1L)).as("cnt"),
            sum(col("v").cast("decimal(28,6)")).cast("decimal(28,6)")
              .as("sum_v"))
        assert(view.read.exceptAll(want).count() === 0 &&
          want.exceptAll(view.read).count() === 0,
          s"$tag-key randomized fold drifted at step $step")
      }
    }
  }

  test("a crash between the touched-group delete and the append resumes: " +
      "the next refresh lands only the missing append") {
    val src = tmpDir("iv_crash_src"); val st = tmpDir("iv_crash_st")
    val t = ManagedTable(spark, src)
    t.write((1 to 100).map(i => (i.toLong, i * 1.0)).toDF("id", "v"),
      "APPEND", "append")
    val view = new IncrementalAggView(spark, src, st, Seq("id"), Seq("v"))
    def checkById(): Unit = {
      val got = view.read.select("id", "cnt", "sum_v")
      val want = t.read.groupBy("id")
        .agg(sum(lit(1L)).as("cnt"),
          sum(col("v").cast("decimal(28,6)")).cast("decimal(28,6)")
            .as("sum_v"))
      assert(got.exceptAll(want).count() === 0 &&
        want.exceptAll(got).count() === 0, "id-keyed view drifted")
    }
    view.initialize()
    // the slice a refresh would net: ids 3, 5 change, id 101 enters
    t.update(Map("v" -> (col("v") + 100)), col("id").isin(3L, 5L),
      captureChangeData = true)
    t.write(Seq((101L, 7.0)).toDF("id", "v"), "APPEND", "append")
    // simulate the crashed fold's surviving prefix: the frame-keyed
    // delete landed with the pending marker, the append did NOT
    import spark.implicits._
    ManagedTable(spark, st).deleteVectorsMatching(
      Seq(3L, 5L).toDF("id"), Seq("id"),
      userMetadata = Some("""{"pendingSourceVersion":2}"""))
    // the watermark still reads the last FULL fold; refresh resumes
    assert(view.sourceVersion === 0L)
    assert(view.refresh() === 2L)
    assert(view.sourceVersion === 2L)
    val s = ManagedTable(spark, st)
    assert(s.lastCommit.get.operation === "VIEW_DELTA" &&
      s.lastCommit.get.operationMetrics("numOutputRows") === "3",
      "the resume lands ONLY the missing append (ids 3, 5, 101)")
    assert(s.lastCommit.get.userMetadata.get.contains("\"stateRows\":101"))
    checkById()
    // and the resumed state folds further slices normally
    t.delete(col("id") === 101L)
    view.refresh()
    checkById()
  }

  test("streaming micro-batches take the DV+APPEND delta path at group " +
      "cardinality — O(touched groups) writes per epoch") {
    val src = tmpDir("iv_sdv_src"); val st = tmpDir("iv_sdv_st")
    val ck = tmpDir("iv_sdv_ck")
    val t = ManagedTable(spark, src)
    t.write((1 to 150).map(i => (i.toLong, i * 1.0)).toDF("id", "v"),
      "APPEND", "append")
    val view = new IncrementalAggView(spark, src, st, Seq("id"), Seq("v"))
    def checkById(): Unit = {
      val got = view.read.select("id", "cnt", "sum_v")
      val want = t.read.groupBy("id")
        .agg(sum(lit(1L)).as("cnt"),
          sum(col("v").cast("decimal(28,6)")).cast("decimal(28,6)")
            .as("sum_v"))
      assert(got.exceptAll(want).count() === 0 &&
        want.exceptAll(got).count() === 0, "id-keyed view drifted")
    }
    view.initialize()
    val s = ManagedTable(spark, st)
    val dirs0 = s.lastCommit.get.dirs
    // a small micro-batch slice: 3 new groups, 2 updated (captured)
    t.write(Seq((151L, 1.0), (152L, 2.0), (153L, 3.0)).toDF("id", "v"),
      "APPEND", "append")
    t.update(Map("v" -> (col("v") + 10)), col("id").isin(4L, 9L),
      captureChangeData = true)
    val q = view.refreshStream(ck)
    assert(q.awaitTermination(120000), "agg view stream did not drain")
    checkById()
    val appendC = s.lastCommit.get
    assert(appendC.operation === "VIEW_DELTA" &&
      dirs0.forall(appendC.dirs.contains),
      s"a streamed small-delta fold must APPEND over untouched standing " +
        s"dirs, got ${appendC.operation}")
    assert(s.commitAt(appendC.version - 1).operation === "DELETE VECTORS",
      "the streamed fold's touched groups tombstone as frame-keyed DVs")
    assert(appendC.txn.keys.exists(_.startsWith("graft-view:")),
      "exactly-once: the fold's FINAL commit carries the stream txn " +
        "high-water")
    // resume the SAME checkpoint with another small slice: exactly that
    // slice folds, again as DV+APPEND
    t.delete(col("id") === 151L)
    val q2 = view.refreshStream(ck)
    assert(q2.awaitTermination(120000))
    checkById()
    assert(view.sourceVersion === t.latestVersion.get)
  }

  test("AS-OF lineage: readAt/sourceVersionAt pin past folds; vacuum " +
      "clamps to the newest watermark commit") {
    val src = tmpDir("iv_asof_src"); val st = tmpDir("iv_asof_st")
    val t = ManagedTable(spark, src)
    t.write((1 to 120).map(i => (i.toLong, i * 1.0)).toDF("id", "v"),
      "APPEND", "append")
    val view = new IncrementalAggView(spark, src, st, Seq("id"), Seq("v"))
    view.initialize()
    // fold 1 (delta path — DV + APPEND commits)
    t.write(Seq((121L, 5.0), (122L, 6.0)).toDF("id", "v"), "APPEND", "append")
    t.update(Map("v" -> (col("v") + 1)), col("id") === 7L,
      captureChangeData = true)
    view.refresh()
    val s = ManagedTable(spark, st)
    val pin = s.latestVersion.get // the fold's FINAL commit
    // fold 2 moves the head past the pin
    t.delete(col("id") === 121L)
    view.refresh()
    // lineage: the state at the pin describes exactly the SOURCE at the
    // pinned watermark
    val srcV = view.sourceVersionAt(pin)
    val want = t.readAt(srcV).groupBy("id")
      .agg(sum(lit(1L)).as("cnt"),
        sum(col("v").cast("decimal(28,6)")).cast("decimal(28,6)")
          .as("sum_v"))
    val got = view.readAt(pin).select("id", "cnt", "sum_v")
    assert(got.exceptAll(want).count() === 0 &&
      want.exceptAll(got).count() === 0,
      "readAt(pin) drifted from the recompute over the pinned source")
    // a head of watermark-less maintenance commits must not let a
    // count-based vacuum prune every watermarked commit
    view.maintain()
    val wmBefore = view.sourceVersion
    view.vacuum(1)
    assert(view.sourceVersion === wmBefore,
      "vacuum after maintenance commits wedged the watermark walk")
    // the view keeps folding after the vacuum
    t.write(Seq((123L, 7.0)).toDF("id", "v"), "APPEND", "append")
    view.refresh()
    assert(view.sourceVersion === t.latestVersion.get)
  }

  test("a group whose count reaches zero leaves the state") {
    val src = tmpDir("iv_src3"); val st = tmpDir("iv_st3")
    val t = ManagedTable(spark, src)
    t.write(Seq((1L, "keep", 1.0), (2L, "gone", 2.0)).toDF("id", "g", "v"),
      "APPEND", "append")
    val view = mkView(src, st)
    view.initialize()
    t.delete(col("g") === "gone")
    view.refresh()
    assert(view.read.select("g").as[String].collect().toSeq === Seq("keep"))
  }

  test("a maintenance commit on top of a pending tombstone does not hide " +
      "it: the next refresh still lands the missing append") {
    val src = tmpDir("iv_crashm_src"); val st = tmpDir("iv_crashm_st")
    val t = ManagedTable(spark, src)
    t.write((1 to 100).map(i => (i.toLong, i * 1.0)).toDF("id", "v"),
      "APPEND", "append")
    val view = new IncrementalAggView(spark, src, st, Seq("id"), Seq("v"))
    view.initialize()
    t.update(Map("v" -> (col("v") + 100)), col("id").isin(3L, 5L),
      captureChangeData = true)
    t.write(Seq((101L, 7.0)).toDF("id", "v"), "APPEND", "append")
    val s = ManagedTable(spark, st)
    s.deleteVectorsMatching(Seq(3L, 5L).toDF("id"), Seq("id"),
      userMetadata = Some("""{"pendingSourceVersion":2}"""))
    // a purge lands ABOVE the half-applied fold before anyone resumes
    s.purgeDeletes()
    assert(view.refresh() === 2L)
    assert(view.sourceVersion === 2L)
    val got = view.read.select("id", "cnt", "sum_v")
    val want = t.read.groupBy("id").agg(sum(lit(1L)).as("cnt"),
      sum(col("v").cast("decimal(28,6)")).cast("decimal(28,6)").as("sum_v"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "groups 3 and 5 must be re-appended, not lost under the purge")
  }

  test("on-disk format: each agg fold shape writes its exact operation " +
      "and metadata") {
    val src = tmpDir("iv_fmt_src"); val st = tmpDir("iv_fmt_st")
    val t = ManagedTable(spark, src)
    t.write((1 to 20).map(i => (i.toLong, i * 1.0)).toDF("id", "v"),
      "APPEND", "append")
    val view = new IncrementalAggView(spark, src, st, Seq("id"), Seq("v"))
    view.initialize()
    // a no-op update nets to nothing: empty append
    t.update(Map("v" -> col("v")), col("id") === 1L, captureChangeData = true)
    view.refresh()
    // 2 of 20 groups touched: tombstone-then-append
    t.write(Seq((21L, 1.0)).toDF("id", "v"), "APPEND", "append")
    t.delete(col("id") === 2L)
    view.refresh()
    // every group touched: replace
    t.update(Map("v" -> (col("v") * 2)), lit(true))
    view.refresh()
    assert(ManagedTable(spark, st).history.reverse
        .map(c => (c.operation, c.userMetadata.orNull)) === Seq(
      ("VIEW_INIT", """{"sourceVersion":0}"""),
      ("VIEW_DELTA", """{"sourceVersion":1,"stateRows":20}"""),
      ("DELETE VECTORS", """{"pendingSourceVersion":3}"""),
      ("VIEW_DELTA", """{"sourceVersion":3,"stateRows":20}"""),
      ("VIEW_REFRESH", """{"sourceVersion":4}""")))
  }
}
