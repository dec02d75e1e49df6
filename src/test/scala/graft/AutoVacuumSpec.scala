package graft

import graft.table._
import org.apache.spark.sql.functions._

/** Retention as POLICY ([[graft.table.ManagedTable.vacuumIfNeeded]],
  * `CALL graft.vacuum_auto`, task-output `auto_vacuum_keep`): the WHEN of
  * history pruning decided from the advisory head/floor pointers alone —
  * a fold loop commits thousands of versions a day, and the zero-IO
  * retained-count check plus slack hysteresis is what lets it ask after
  * EVERY commit while paying a vacuum pass only once per slack. */
class AutoVacuumSpec extends SparkSpec {
  import spark.implicits._

  private def versioned(prefix: String, commits: Int): (String, ManagedTable) = {
    val path = tmpDir(prefix)
    val t = ManagedTable(spark, path)
    (0 until commits).foreach { k =>
      t.write(Seq((k, s"v$k")).toDF("id", "v"), "APPEND", "append")
    }
    (path, t)
  }

  test("the quiet path is pointer reads only: no listings, no entry reads") {
    val (_, t) = versioned("avc_quiet", 10)
    ManagedTable.logEntryReads.set(0L)
    ManagedTable.logListings.set(0L)
    assert(t.retainedVersionCount === 10)
    assert(t.vacuumIfNeeded(keepLast = 5, slackVersions = 16).isEmpty,
      "10 retained < 5 + 16 must not fire")
    assert(ManagedTable.logListings.get === 0L,
      "the retention ask must ride the log pointers, never a listing")
    assert(ManagedTable.logEntryReads.get === 0L,
      "a quiet pass reads NO log entries — the count is the pointer range")
  }

  test("hysteresis: fires only past keep+slack, prunes to keep, then quiet") {
    val (_, t) = versioned("avc_hyst", 20)
    val before = t.read.collect().toSet
    val stats = t.vacuumIfNeeded(keepLast = 5, slackVersions = 8)
    assert(stats.nonEmpty, "20 retained >= 5 + 8 must fire")
    // the cut extends back to the kept chain's full-snapshot base
    // (every LogSnapshotInterval=10 versions), so keeping v15.. keeps
    // its base v10 too — conservative like Delta's checkpoint retention
    assert(stats.get.prunedVersions === 10,
      "a firing prunes to keepLast's snapshot chain base")
    assert(t.retainedVersionCount === 10)
    assert(t.read.collect().toSet === before, "retention never edits content")
    // the same thresholds are now quiet until slack re-accrues
    assert(t.vacuumIfNeeded(keepLast = 5, slackVersions = 8).isEmpty)
    // time travel below the cut fails loudly, as after any vacuum
    val e = intercept[IllegalArgumentException] { t.readAt(3L) }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("retention holds clamp a firing; releasing the hold frees the history") {
    val (_, t) = versioned("avc_hold", 12)
    t.setRetentionHold("consumer", 1L)
    val clamped = t.vacuumIfNeeded(keepLast = 2, slackVersions = 4)
    assert(clamped.nonEmpty, "the ask still fires — the CLAMP is vacuum's")
    assert(clamped.get.prunedVersions <= 1 && t.earliestVersion.get <= 1L,
      "a pinned consumer's versions always survive the policy")
    t.releaseRetentionHold("consumer")
    val freed = t.vacuumIfNeeded(keepLast = 2, slackVersions = 4)
    assert(freed.nonEmpty && t.retainedVersionCount === 2)
  }

  test("degenerate thresholds are refused") {
    val (_, t) = versioned("avc_guard", 3)
    intercept[IllegalArgumentException] {
      t.vacuumIfNeeded(keepLast = 0)
    }
    intercept[IllegalArgumentException] {
      t.vacuumIfNeeded(keepLast = 5, slackVersions = 1)
    }
  }

  test("age policy: a fresh floor is quiet at one entry read; a stale " +
      "floor fires only when the cut reclaims; never busy-fires after") {
    val (_, t) = versioned("avc_age", 14)
    ManagedTable.logEntryReads.set(0L)
    ManagedTable.logListings.set(0L)
    assert(t.vacuumOlderThanIfNeeded(maxAgeMs = 3600 * 1000).isEmpty,
      "commits written seconds ago are inside any sane age window")
    assert(ManagedTable.logListings.get === 0L)
    assert(ManagedTable.logEntryReads.get <= 1L,
      "the quiet ask is the floor pointer + ONE entry read, got " +
        ManagedTable.logEntryReads.get)
    // a synthetic future clock makes every commit stale: the firing
    // prunes to the kept chain's snapshot base, like the count policy
    val future = System.currentTimeMillis() + 30L * 24 * 3600 * 1000
    val stats = t.vacuumOlderThanIfNeeded(maxAgeMs = 24L * 3600 * 1000,
      nowMs = future)
    assert(stats.nonEmpty && stats.get.prunedVersions === 10,
      s"all-stale history prunes to the head's snapshot base, got $stats")
    assert(t.retainedVersionCount === 4)
    // floor is STILL stale under the future clock, but the cut cannot
    // reclaim anything below the kept chain — the policy must answer
    // None instead of paying a useless vacuum pass per ask forever
    assert(t.vacuumOlderThanIfNeeded(maxAgeMs = 24L * 3600 * 1000,
      nowMs = future).isEmpty,
      "a stale-but-irreducible floor must not busy-fire")
  }

  test("age policy: a retention hold clamps the firing; releasing frees it") {
    val (_, t) = versioned("avc_ageh", 12)
    t.setRetentionHold("consumer", 0L)
    val future = System.currentTimeMillis() + 30L * 24 * 3600 * 1000
    val clamped = t.vacuumOlderThanIfNeeded(maxAgeMs = 1000,
      nowMs = future)
    assert(clamped.nonEmpty && clamped.get.prunedVersions === 0,
      "the hold clamps inside vacuum — the firing lands nothing")
    t.releaseRetentionHold("consumer")
    val freed = t.vacuumOlderThanIfNeeded(maxAgeMs = 1000, nowMs = future)
    assert(freed.nonEmpty && freed.get.prunedVersions === 10)
  }

  test("age policy: a delta entry chaining to itself is refused as a " +
      "corrupt log, not walked forever") {
    val (path, t) = versioned("avc_agecorrupt", 14)
    // v13 is a delta entry on v12 (full snapshots every 10 versions):
    // point its chain link at itself
    val entry = java.nio.file.Paths.get(path, "_graft_log", "000000000013.json")
    val json = new String(java.nio.file.Files.readAllBytes(entry), "UTF-8")
    val link = "\"baseVersion\"\\s*:\\s*\\d+"
    assert(link.r.findFirstIn(json).isDefined, "v13 must be a delta entry")
    java.nio.file.Files.write(entry,
      json.replaceFirst(link, "\"baseVersion\" : 13").getBytes("UTF-8"))
    val future = System.currentTimeMillis() + 30L * 24 * 3600 * 1000
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val ask = Future(scala.util.Try(
      t.vacuumOlderThanIfNeeded(maxAgeMs = 1000, nowMs = future)))
    val e = Await.result(ask, 60.seconds).failed.get
    assert(e.isInstanceOf[IllegalArgumentException] &&
      e.getMessage.contains("corrupt commit log"), e.toString)
  }

  test("CALL graft.vacuum_older_auto fires on real elapsed time and " +
      "reports the floor age") {
    val (path, t) = versioned("avc_agesql", 14)
    // max_age 1ms, slack 0: milliseconds-old commits are already stale
    val fired = spark.sql(
      s"CALL graft.vacuum_older_auto('$path', 1, 0)").head()
    assert(fired.getLong(0) > 0L && fired.getInt(1) === 1)
    assert(fired.getInt(2) === 10 && t.retainedVersionCount === 4)
    // immediately re-CALL: floor still stale but irreducible — quiet
    val quiet = spark.sql(
      s"CALL graft.vacuum_older_auto('$path', 1, 0)").head()
    assert(quiet.getInt(1) === 0 && quiet.getInt(2) === 0,
      "the re-CALL must not busy-fire on an irreducible stale floor")
  }

  test("CALL graft.vacuum_auto reports retained count and prunes past slack") {
    val (path, t) = versioned("avc_sql", 14)
    val quiet = spark.sql(s"CALL graft.vacuum_auto('$path', 5, 16)").head()
    assert(quiet.getInt(0) === 14 && quiet.getInt(1) === 0)
    assert(quiet.getInt(2) === 0 && quiet.isNullAt(6),
      "below keep+slack: triggered 0, nothing pruned")
    assert(t.retainedVersionCount === 14)
    val fired = spark.sql(s"CALL graft.vacuum_auto('$path', 3, 8)").head()
    assert(fired.getInt(1) === 1 && fired.getInt(2) === 10,
      s"14 retained >= 3 + 8 prunes to v11's snapshot base v10, " +
        s"got ${fired.getInt(2)}")
    assert(t.retainedVersionCount === 4)
  }

  test("CALL graft.vacuum_index_view_auto: family-clamped state retention " +
      "from SQL (vacuum_auto on a view state would bypass the clamp)") {
    val src = tmpDir("avc_ivsrc"); val st = tmpDir("avc_ivst")
    val t = ManagedTable(spark, src)
    t.write((1 to 20).map(i => (i.toLong, s"doc $i words"))
      .toDF("doc_id", "text"), "APPEND", "append")
    val view = new Bm25IndexView(spark, src, st, expectedDocs = 1000)
    view.initialize()
    (1 to 12).foreach { k =>
      t.write(Seq((500L + k, s"tick $k")).toDF("doc_id", "text"),
        "APPEND", "append")
      view.refresh()
    }
    val quiet = spark.sql(s"CALL graft.vacuum_index_view_auto('bm25', " +
      s"'$src', '$st', 3, 16)").head()
    assert(quiet.getInt(0) === 13 && quiet.getInt(1) === 0,
      "13 retained < 3 + 16 stays quiet")
    val fired = spark.sql(s"CALL graft.vacuum_index_view_auto('bm25', " +
      s"'$src', '$st', 3, 5)").head()
    assert(fired.getInt(1) === 1 && fired.getInt(2) === 10,
      s"13 retained >= 3 + 5 prunes to the snapshot base, got $fired")
    assert(view.sourceVersion === t.latestVersion.get,
      "the family clamp keeps the watermark walk intact")
    assert(view.read.count() > 0)
  }

  test("vacuum_index_view_auto reaches the MARTS through the view-list " +
      "params grammar — their watermark-pair clamp rides along") {
    val src = tmpDir("avc_msrc"); val st = tmpDir("avc_mst")
    val t = ManagedTable(spark, src)
    t.write((1 to 40).map(i => (i.toLong, (i % 4).toLong, i * 2.0))
      .toDF("id", "bucket", "score"), "APPEND", "append")
    val view = new IncrementalAggView(spark, src, st,
      Seq("bucket"), Seq("score"))
    view.initialize()
    (1 to 12).foreach { k =>
      t.write(Seq((100L + k, (k % 4).toLong, k * 1.0))
        .toDF("id", "bucket", "score"), "APPEND", "append")
      view.refresh()
    }
    val wm = view.sourceVersion
    val retained = ManagedTable(spark, st).retainedVersionCount
    val fired = spark.sql(s"CALL graft.vacuum_index_view_auto(" +
      s"'agg(bucket;score)', '$src', '$st', 2, 4)").head()
    assert(fired.getInt(0) === retained && fired.getInt(1) === 1)
    assert(fired.getInt(2) > 0, s"the firing must reclaim, got $fired")
    assert(view.sourceVersion === wm,
      "the mart's watermark-pair clamp must keep the walk intact")
  }

  test("task outputs: auto_vacuum_keep bounds a load loop's history") {
    import graft.config.Config.OutputConf
    import graft.task.{SparkTask, TaskContext}
    val path = tmpDir("avc_task")
    val out = OutputConf(name = "sink", path = path, writeType = "scd1",
      keyAttributes = Seq("id"),
      options = Map("auto_vacuum_keep" -> "4", "vacuum_slack" -> "6"))
    val ctx = TaskContext(spark, "b1", None)
    (1 to 18).foreach { k =>
      SparkTask.writeOutput(ctx, out,
        Seq((k % 5, s"v$k", k)).toDF("id", "v", "load"))
    }
    val t = ManagedTable(spark, path)
    assert(t.retainedVersionCount < 10,
      s"18 loads under keep=4/slack=6 must stay bounded, " +
        s"got ${t.retainedVersionCount} retained versions")
    val got = t.read.select(col("id"), col("load")).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(got === Set((1, 16), (2, 17), (3, 18), (4, 14), (0, 15)))
  }

  test("end-to-end pipeline retention: source policy + sliding view holds " +
      "coordinate with no operator in the loop") {
    val src = tmpDir("avc_psrc")
    val t = ManagedTable(spark, src)
    t.write((1 to 20).map(i => (i.toLong, s"doc $i base")).toDF("doc_id", "text"),
      "APPEND", "append")
    val view = new Bm25IndexView(spark, src, tmpDir("avc_pst"),
      expectedDocs = 1000)
    view.initialize()
    // the view stops refreshing while loads keep landing: its hold pins
    // the watermark, so the source policy must stall AT the watermark
    (1 to 12).foreach { k =>
      t.write(Seq((300L + k, s"load $k")).toDF("doc_id", "text"),
        "APPEND", "append")
    }
    val wm = view.sourceVersion
    val clamped = t.vacuumIfNeeded(keepLast = 2, slackVersions = 4)
    assert(clamped.nonEmpty && t.earliestVersion.get <= wm,
      "the lagging view's hold must clamp the source cut to its watermark")
    // the view can still fold its whole backlog after the vacuum
    view.refresh()
    assert(view.sourceVersion === t.latestVersion.get)
    // with the hold slid forward, the next firing reclaims the backlog
    (1 to 3).foreach { k =>
      t.write(Seq((400L + k, s"tail $k")).toDF("doc_id", "text"),
        "APPEND", "append")
      view.refresh()
    }
    val freed = t.vacuumIfNeeded(keepLast = 2, slackVersions = 4)
    assert(freed.nonEmpty && freed.get.prunedVersions > 0,
      "a current view's slid hold must release the history")
    val rebuilt = graft.llm.Retrieval.bm25Postings(t.read, "text", "doc_id")
    assert(view.read.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(view.read).isEmpty)
  }

  test("view state retention clamps to the newest watermark-bearing " +
      "commit — a head run of maintenance commits never wedges the walk") {
    val src = tmpDir("avc_csrc")
    val st = tmpDir("avc_cst")
    val t = ManagedTable(spark, src)
    t.write((1 to 30).map(i => (i.toLong, s"doc $i words ${i % 3}"))
      .toDF("doc_id", "text"), "APPEND", "append")
    val view = new Bm25IndexView(spark, src, st, expectedDocs = 1000)
    view.initialize()
    (1 to 6).foreach { k =>
      t.write(Seq((200L + k, s"tick $k")).toDF("doc_id", "text"),
        "APPEND", "append")
      view.refresh()
    }
    // land watermark-less maintenance commits ABOVE the last fold
    val folded = view.maintainIfNeeded(minSmallDirs = 2, minDvDirs = 8)
    assert(folded.nonEmpty, "the maintenance run must land head commits")
    val wm = view.sourceVersion
    // keepLast=1 would, unclamped, retain ONLY the maintenance head
    val stats = view.vacuumStateIfNeeded(keepLast = 1, slackVersions = 2)
    assert(stats.nonEmpty)
    assert(view.sourceVersion === wm,
      "the clamped cut must keep the newest watermark-bearing commit — " +
        "an unclamped count cut would wedge every walk here")
    assert(view.read.count() > 0)
  }

  test("view state retention: history bounded, watermark and serving intact") {
    val src = tmpDir("avc_vsrc")
    val st = tmpDir("avc_vst")
    val t = ManagedTable(spark, src)
    t.write((1 to 30).map(i => (i.toLong, s"doc $i body ${i % 4}"))
      .toDF("doc_id", "text"), "APPEND", "append")
    val view = new Bm25IndexView(spark, src, st, expectedDocs = 1000)
    view.initialize()
    (1 to 12).foreach { k =>
      t.write(Seq((100L + k, s"tick $k doc")).toDF("doc_id", "text"),
        "APPEND", "append")
      view.refresh()
      view.vacuumStateIfNeeded(keepLast = 3, slackVersions = 5)
    }
    val stT = ManagedTable(spark, st)
    assert(stT.retainedVersionCount <= 8,
      s"12 folds under keep=3/slack=5 must stay bounded, " +
        s"got ${stT.retainedVersionCount}")
    assert(view.sourceVersion === t.latestVersion.get,
      "retention never touches the watermark")
    // serving still exact: the pruned-history view equals a fresh twin
    val twin = new Bm25IndexView(spark, src, tmpDir("avc_vtwin"),
      expectedDocs = 1000)
    twin.initialize()
    assert(view.read.exceptAll(twin.read).isEmpty &&
      twin.read.exceptAll(view.read).isEmpty)
  }
}
