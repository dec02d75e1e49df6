package graft

import graft.table.ManagedTable
import org.apache.spark.sql.functions._

/** Deletion vectors: merge-on-read row deletes (Delta DV analogue) —
  * tombstone `(file key, row index)` parquet anti-joined on every
  * snapshot read, no data-dir rewrite at delete time. */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(prefix: String): (String, ManagedTable) = {
    val path = tmpDir(prefix)
    val t = ManagedTable(spark, path)
    t.write((1 to 10).map(i => (i, s"v$i")).toDF("id", "v"), "APPEND", "append")
    t.write((11 to 20).map(i => (i, s"v$i")).toDF("id", "v"), "APPEND", "append")
    (path, t)
  }

  test("deleteVectors hides rows without touching any data dir") {
    val (_, t) = freshTable("dv_basic")
    val before = t.lastCommit.get
    val c = t.deleteVectors(col("id") % 2 === 0)
    assert(c.operation === "DELETE VECTORS")
    assert(c.dirs === before.dirs, "data dirs must be untouched")
    assert(c.dvDirs.size === 1)
    assert(c.operationMetrics("numDeletedRows") === "10")
    assert(t.read.select("id").as[Int].collect().sorted.toSeq ===
      (1 to 20).filter(_ % 2 == 1))
  }

  test("stacked DV deletes compose; re-delete of tombstoned rows is a no-op") {
    val (_, t) = freshTable("dv_stack")
    t.deleteVectors(col("id") <= 5)
    val c2 = t.deleteVectors(col("id") <= 8) // 1-5 already tombstoned
    assert(c2.operationMetrics("numDeletedRows") === "3")
    assert(c2.dvDirs.size === 2)
    assert(t.read.count() === 12)
    // NULL-predicate rows stay (SQL DELETE semantics)
    val c3 = t.deleteVectors(when(col("id") === 9, lit(null).cast("boolean"))
      .otherwise(col("id") === 10))
    assert(c3.operationMetrics("numDeletedRows") === "1")
    assert(t.read.select("id").as[Int].collect().sorted.toSeq ===
      (9 to 20).filterNot(_ == 10))
  }

  test("time travel sees each version's own tombstone set") {
    val (_, t) = freshTable("dv_tt")
    val v1 = t.lastCommit.get.version
    t.deleteVectors(col("id") > 15)
    assert(t.readAt(v1).count() === 20)
    assert(t.read.count() === 15)
    t.restore(v1)
    assert(t.read.count() === 20, "restore returns to the pre-DV tombstone set")
  }

  test("readWhere data skipping composes with deletion vectors") {
    val (_, t) = freshTable("dv_where")
    t.deleteVectors(col("id") === 3)
    val got = t.readWhere(col("id") < 12).select("id").as[Int].collect().sorted
    assert(got.toSeq === (1 to 11).filterNot(_ == 3))
  }

  test("DML rewrite and compaction materialize tombstoned deletes") {
    val (_, t) = freshTable("dv_rewrite")
    t.deleteVectors(col("id") === 1)
    // copy-on-write delete of a different predicate must not resurrect id=1
    t.delete(col("id") === 20)
    assert(t.read.select("id").as[Int].collect().sorted.toSeq === (2 to 19))
    // dir-fold compaction reads DV-aware too
    t.compactDirs(maxDirBytes = 1L << 30)
    assert(t.read.select("id").as[Int].collect().sorted.toSeq === (2 to 19))
  }

  test("purgeDeletes rewrites only tombstoned dirs and clears the DV set") {
    val (_, t) = freshTable("dv_purge")
    t.deleteVectors(col("id") === 7) // stats-scoped to the first dir only
    val purged = t.purgeDeletes().get
    assert(purged.operation === "PURGE DELETES")
    assert(purged.dvDirs.isEmpty)
    assert(purged.operationMetrics("numRewrittenDirs") === "1",
      "only the dir containing tombstoned rows is rewritten")
    assert(t.read.select("id").as[Int].collect().sorted.toSeq ===
      (1 to 20).filterNot(_ == 7))
    assert(t.purgeDeletes() === None, "no tombstones left")
  }

  test("appends and replaces carry/reset tombstones correctly") {
    val (_, t) = freshTable("dv_carry")
    t.deleteVectors(col("id") === 2)
    t.write(Seq((21, "v21")).toDF("id", "v"), "APPEND", "append")
    assert(t.read.count() === 20, "append keeps live tombstones")
    t.write(Seq((99, "z")).toDF("id", "v"), "OVERWRITE", "replace")
    assert(t.lastCommit.get.dvDirs.isEmpty, "replace starts a clean composition")
    assert(t.read.count() === 1)
  }

  test("change feed: DV delete serves captured rows; later dir-drop excludes them") {
    val (_, t) = freshTable("dv_cdf")
    val dvV = t.deleteVectors(col("id") === 4).version
    val feed = t.readChangeFeed(dvV, Some(dvV))
    assert(feed.select("_change_type").as[String].collect().toSeq === Seq("delete"))
    assert(feed.select("id").as[Int].head() === 4)
    // an overwrite drops both dirs: synthesized deletes must NOT include
    // the already-tombstoned id=4 again
    val owV = t.write(Seq((99, "z")).toDF("id", "v"), "OVERWRITE", "replace").version
    val drops = t.readChangeFeed(owV, Some(owV))
      .filter(col("_change_type") === "delete")
      .select("id").as[Int].collect().sorted
    assert(drops.toSeq === (1 to 20).filterNot(_ == 4))
  }

  test("uncaptured DV delete refuses change-feed synthesis") {
    val (_, t) = freshTable("dv_cdf_refuse")
    val v = t.deleteVectors(col("id") === 4, captureChangeData = false).version
    val e = intercept[IllegalStateException](t.readChangeFeed(v, Some(v)).count())
    assert(e.getMessage.contains("deletion-vector"))
  }

  test("shallow and deep clones preserve tombstones") {
    val (_, t) = freshTable("dv_clone_src")
    t.deleteVectors(col("id") <= 3)
    val shallowRoot = tmpDir("dv_clone_sh")
    t.cloneTo(shallowRoot)
    assert(ManagedTable(spark, shallowRoot).read.count() === 17)
    val deepRoot = tmpDir("dv_clone_dp")
    t.cloneTo(deepRoot, deep = true)
    val deep = ManagedTable(spark, deepRoot)
    assert(deep.read.select("id").as[Int].collect().sorted.toSeq === (4 to 20))
    // deep clone is self-contained: vacuuming the source must not break it
    t.write(Seq((0, "x")).toDF("id", "v"), "OVERWRITE", "replace")
    t.vacuum(keepLast = 1)
    assert(deep.read.count() === 17)
  }

  test("vacuum protects live DV dirs and sweeps de-referenced ones") {
    val (_, t) = freshTable("dv_vacuum")
    t.deleteVectors(col("id") === 1)
    val dvDir = t.lastCommit.get.dvDirs.head
    t.write(Seq((5, "e")).toDF("id", "v"), "APPEND", "append")
    val s1 = t.vacuum(keepLast = 1)
    assert(s1.deletedDvDirs === 0, "live tombstones survive vacuum")
    assert(t.read.count() === 20)
    // a replace de-references the DVs; vacuuming past it sweeps them
    t.write(Seq((99, "z")).toDF("id", "v"), "OVERWRITE", "replace")
    val s2 = t.vacuum(keepLast = 1)
    assert(s2.deletedDvDirs === 1)
    val fs = new org.apache.hadoop.fs.Path(dvDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dvDir)))
  }

  test("DV commits stamp reader protocol 2; DV-free tables stay protocol 1") {
    val (path, t) = freshTable("dv_proto")
    val logDir = new java.io.File(s"$path/_graft_log")
    def entry(v: Long): String = {
      val f = new java.io.File(logDir, f"$v%012d.json")
      new String(java.nio.file.Files.readAllBytes(f.toPath))
    }
    assert(entry(0L).contains("\"minReaderVersion\" : 1"))
    val c = t.deleteVectors(col("id") === 1)
    assert(entry(c.version).contains("\"minReaderVersion\" : 2"))
  }

  test("streaming backfill applies the snapshot's tombstones; tail is clean") {
    val (path, t) = freshTable("dv_stream")
    t.deleteVectors(col("id") > 18)
    val out = tmpDir("dv_stream_out")
    val ckpt = tmpDir("dv_stream_ck")
    val q = spark.readStream.format("graft-table").load(path)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.read.parquet(out).select("id").as[Int].collect().sorted
    assert(got.toSeq === (1 to 18))
  }

  test("DV delete racing a concurrent append retries; a replace surfaces") {
    val (path, t) = freshTable("dv_race")
    val cur = t.lastCommit.get
    MergeGate.arm()
    try {
      val gate = udf(MergeGate.pass _)
      val got = new java.util.concurrent.atomic.AtomicReference[
        graft.table.ManagedTable.Commit]()
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val th = new Thread(() =>
        try got.set(t.deleteVectors(gate(col("v")).isNotNull && col("id") <= 3))
        catch { case e: Throwable => err.set(e) })
      th.start()
      MergeGate.awaitReached()
      // concurrent ingest lands while the delete is scanning (a second
      // table handle — the delete holds its own instance's monitor)
      ManagedTable(spark, path)
        .write(Seq((100, "new")).toDF("id", "v"), "APPEND", "append")
      MergeGate.release()
      th.join(120000)
      assert(err.get() === null, s"delete surfaced: ${err.get()}")
      val c = got.get()
      assert(c.version === cur.version + 2, "delete republished over the append")
      assert(c.operationMetrics("numCommitRetries") === "1")
      assert(c.operationMetrics("numDeletedRows") === "3")
      assert(t.read.select("id").as[Int].collect().sorted.toSeq ===
        ((4 to 20) :+ 100), "both the delete and the racer's rows survive")
    } finally MergeGate.disarm()
    // a racer that REPLACES the composition invalidates the scanned
    // snapshot — the conflict must surface, nothing silently dropped
    MergeGate.arm()
    try {
      val gate = udf(MergeGate.pass _)
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val th = new Thread(() =>
        try { t.deleteVectors(gate(col("v")).isNotNull && col("id") === 5); () }
        catch { case e: Throwable => err.set(e) })
      th.start()
      MergeGate.awaitReached()
      ManagedTable(spark, path)
        .write(Seq((0, "z")).toDF("id", "v"), "OVERWRITE", "replace")
      MergeGate.release()
      th.join(120000)
      assert(err.get() != null &&
        err.get().isInstanceOf[graft.table.ManagedTable.ConcurrentCommitException],
        s"expected a surfaced conflict, got ${err.get()}")
      assert(t.read.count() === 1, "the replace's snapshot stands untouched")
    } finally MergeGate.disarm()
    assertNoOrphanDirs(path)
  }

  test("a DV delete whose post-publication housekeeping fails stays published " +
      "with its dv and change dirs") {
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.${FaultFs.Scheme}.impl", classOf[FaultFs].getName)
    val path = s"${FaultFs.Scheme}://" + tmpDir("dv_postlink")
    val t = ManagedTable(spark, path)
    t.write((1 to 10).map(i => (i, s"v$i")).toDF("id", "v"), "APPEND", "append")
    // the floor pointer is gone and the log listing fails once the delete
    // links its entry — writeCommit's housekeeping after publication
    FaultFs.armed = true
    val c = try t.deleteVectors(col("id") <= 3)
      finally { FaultFs.armed = false; FaultFs.tripped = false }
    assert(t.lastCommit.get.version === c.version)
    assert(t.read.select("id").as[Int].collect().sorted.toSeq === (4 to 10))
    assert(t.readChangeFeed(c.version, Some(c.version)).count() === 3)
    assertNoOrphanDirs(path)
  }

  test("deleteVectorsMatching: frame-keyed tombstones — distributed key " +
      "set, null-safe match, no dir rewrite") {
    val path = tmpDir("dv_frame")
    val t = ManagedTable(spark, path)
    val rows: Seq[(java.lang.Integer, String)] =
      Seq[(java.lang.Integer, String)]((1, "a"), (2, "b"), (3, "c"),
        (null, "n1"), (null, "n2"), (4, "d"))
    t.write(rows.toDF("k", "v"), "APPEND", "append")
    t.write(Seq[(java.lang.Integer, String)]((5, "e"), (6, "f"))
      .toDF("k", "v"), "APPEND", "append")
    val before = t.lastCommit.get
    // keys arrive as a FRAME (never driver state); NULL names the NULL key
    val keys = Seq[java.lang.Integer](2, null, 6).toDF("k")
    val c = t.deleteVectorsMatching(keys, Seq("k"))
    assert(c.operation === "DELETE VECTORS")
    assert(c.dirs === before.dirs, "data dirs must be untouched")
    assert(c.operationMetrics("numDeletedRows") === "4",
      "k=2, both NULL rows, k=6")
    assert(t.read.select("v").as[String].collect().sorted.toSeq ===
      Seq("a", "c", "d", "e"))
    // re-delete of tombstoned keys is a no-op commit
    val c2 = t.deleteVectorsMatching(Seq[java.lang.Integer](2).toDF("k"),
      Seq("k"))
    assert(c2.operationMetrics("numDeletedRows") === "0")
    // change feed carries the frame-keyed deletes like predicate deletes
    val feed = t.readChangeFeed(c.version, Some(c.version))
    assert(feed.filter(col("_change_type") === "delete").count() === 4)
  }

  test("deleteVectorsMatching: key-range stats prune dirs the key set " +
      "cannot touch — the tombstone scan is O(touched dirs)") {
    val path = tmpDir("dv_frame_prune")
    val t = ManagedTable(spark, path)
    // three dirs with DISJOINT key ranges (per-append dir stats)
    t.write((1 to 10).map(i => (i, s"v$i")).toDF("k", "v"), "APPEND", "append")
    t.write((11 to 20).map(i => (i, s"v$i")).toDF("k", "v"), "APPEND", "append")
    t.write((21 to 30).map(i => (i, s"v$i")).toDF("k", "v"), "APPEND", "append")
    val scan0 = ManagedTable.dvScanDirs.get
    val live0 = ManagedTable.dvLiveDirs.get
    val c = t.deleteVectorsMatching(Seq(12, 14).toDF("k"), Seq("k"),
      captureChangeData = false)
    assert(c.operationMetrics("numDeletedRows") === "2")
    assert(ManagedTable.dvLiveDirs.get - live0 === 3)
    assert(ManagedTable.dvScanDirs.get - scan0 === 1,
      "keys 12/14 can only live in the 11-20 dir — the other two must " +
        "prune from commit-log stats, never be scanned")
    assert(t.read.count() === 28)
    // no change capture: the DV commit carries no change dir (and the
    // scan ran at key width — behaviorally pinned by the counts above)
    assert(c.changeDir.isEmpty)
    // an all-NULL key frame prunes every dir without a NULL in the column
    val scan1 = ManagedTable.dvScanDirs.get
    val cN = t.deleteVectorsMatching(
      Seq[java.lang.Integer](null).toDF("k"), Seq("k"),
      captureChangeData = false)
    assert(cN.operationMetrics("numDeletedRows") === "0")
    assert(ManagedTable.dvScanDirs.get - scan1 === 0,
      "no dir holds NULL keys — the null-count stats prune all three")
    // an EMPTY key frame is a no-op without scanning anything
    val scan2 = ManagedTable.dvScanDirs.get
    val cE = t.deleteVectorsMatching(Seq.empty[Int].toDF("k"), Seq("k"))
    assert(cE.operationMetrics("numDeletedRows") === "0")
    assert(ManagedTable.dvScanDirs.get - scan2 === 0)
  }

  test("predicate-form deleteVectors prunes the scan to referenced " +
      "columns when change capture is off") {
    val path = tmpDir("dv_pred_prune")
    val t = ManagedTable(spark, path)
    t.write((1 to 10).map(i => (i, s"v$i", i * 1.5)).toDF("k", "v", "m"),
      "APPEND", "append")
    t.write((11 to 20).map(i => (i, s"v$i", i * 1.5)).toDF("k", "v", "m"),
      "APPEND", "append")
    val scan0 = ManagedTable.dvScanDirs.get
    val c = t.deleteVectors(col("k") === 3 || col("k") === 15,
      captureChangeData = false)
    assert(c.operationMetrics("numDeletedRows") === "2")
    assert(c.changeDir.isEmpty)
    assert(ManagedTable.dvScanDirs.get - scan0 === 2, "both dirs hold a key")
    assert(t.read.count() === 18)
    // results stay exact after the pruned-width scan
    assert(t.read.agg(sum(col("m"))).head().getDouble(0) ===
      (1 to 20).filterNot(i => i == 3 || i == 15).map(_ * 1.5).sum)
  }

  test("deleteVectorsMatching: multi-column keys and unknown-column refusal") {
    val path = tmpDir("dv_frame_mc")
    val t = ManagedTable(spark, path)
    t.write(Seq((1, "x", 10.0), (1, "y", 20.0), (2, "x", 30.0))
      .toDF("g1", "g2", "m"), "APPEND", "append")
    val keys = Seq((1, "x"), (2, "x")).toDF("g1", "g2")
    val c = t.deleteVectorsMatching(keys, Seq("g1", "g2"))
    assert(c.operationMetrics("numDeletedRows") === "2")
    assert(t.read.select("m").as[Double].collect().toSeq === Seq(20.0))
    intercept[IllegalArgumentException](
      t.deleteVectorsMatching(keys, Seq("g1", "nope")))
  }

  test("retentionHolds fails CLOSED on an unparsable hold file — vacuum " +
      "refuses instead of pruning past the protected watermark") {
    val path = tmpDir("dv_holds")
    val t = ManagedTable(spark, path)
    t.write(Seq((1, "a")).toDF("id", "v"), "APPEND", "append")
    t.write(Seq((2, "b")).toDF("id", "v"), "APPEND", "append")
    t.setRetentionHold("some/view/state", 0L)
    assert(t.retentionHolds === Map("some/view/state" -> 0L))
    val holdsDir = new org.apache.hadoop.fs.Path(path, "_graft_holds")
    val fs = holdsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val f = fs.listStatus(holdsDir).head.getPath
    val out = fs.create(f, true)
    try out.write("{\"holder\": \"trunc".getBytes("UTF-8")) finally out.close()
    val e = intercept[IllegalStateException](t.retentionHolds)
    assert(e.getMessage.contains("unparsable"))
    intercept[IllegalStateException](t.vacuum(1))
    // remediation: re-setting the holder's hold repairs the file
    t.setRetentionHold("some/view/state", 0L)
    assert(t.retentionHolds === Map("some/view/state" -> 0L))
    assert(t.vacuum(1, dryRun = true).prunedVersions === 0,
      "the repaired hold clamps the cut again")
  }

  test("commit json round-trips dvDirs through full and delta entries") {
    val c = ManagedTable.Commit(3L, "DELETE VECTORS", 123L, Seq("/a", "/b"),
      Map("numDeletedRows" -> "2"), None, "`id` INT", 2L,
      dvDirs = Seq("/a/data/000000000003-dv-x"))
    assert(ManagedTable.Commit.fromJson(c.toJson) === c)
    val parent = c.copy(version = 2L, operation = "APPEND", dvDirs = Nil)
    val delta = ManagedTable.deltaJson(parent, c)
    assert(delta.isDefined)
    val (parsed, link) = ManagedTable.parseLogEntry(delta.get)
    assert(link.isDefined)
    assert(parsed.dvDirs === c.dvDirs)
  }
}
