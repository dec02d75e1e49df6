package graft

import graft.table.ManagedTable
import org.apache.spark.sql.types._

/** Versioned parquet table layer (Delta-history-lite, reference
  * core/utils/delta.py:134-168). */
class ManagedTableSpec extends SparkSpec {
  import spark.implicits._

  test("append mode composes dirs; replace swaps the snapshot") {
    val path = tmpDir("mt")
    val t = ManagedTable(spark, path)
    t.write(Seq((1, "a")).toDF("id", "v"), "APPEND", "append")
    t.write(Seq((2, "b")).toDF("id", "v"), "APPEND", "append")
    assert(t.read.count() === 2)
    assert(t.lastCommit.get.dirs.size === 2)
    t.write(Seq((9, "z")).toDF("id", "v"), "OVERWRITE", "replace")
    assert(t.read.as[(Int, String)].collect().toSeq === Seq((9, "z")))
    assert(t.lastCommit.get.dirs.size === 1)
  }

  test("history is newest-first with operation + metrics + user metadata") {
    val path = tmpDir("mt_hist")
    val t = ManagedTable(spark, path)
    t.write(Seq(1).toDF("id"), "APPEND", "append", userMetadata = Some("""{"batch":"b1"}"""))
    t.write(Seq(2).toDF("id"), "OVERWRITE", "replace")
    val h = t.history
    assert(h.map(_.operation) === Seq("OVERWRITE", "APPEND"))
    assert(h.map(_.version) === Seq(1L, 0L))
    assert(h(1).userMetadata === Some("""{"batch":"b1"}"""))
    assert(h(0).operationMetrics("numOutputRows") === "1")
    assert(h(0).readVersion === 0L)
  }

  test("metaHistory walks newest-first lazily — a first-batch hit reads " +
    "O(batch) log entries, not the whole log") {
    val path = tmpDir("mt_metawalk")
    val t = ManagedTable(spark, path)
    val n = ManagedTable.MetaWalkBatch * 3 // 48 commits — 3 walk batches
    (0 until n).foreach { i =>
      t.write(Seq(i).toDF("id"), "APPEND", "append",
        userMetadata = Some(s"""{"batch":$i}"""))
    }
    // metadata is exact on raw entries: same order/content as the
    // resolved history, no delta-chain resolution needed
    assert(t.metaHistory.map(c => (c.version, c.userMetadata)).toSeq ===
      t.history.map(c => (c.version, c.userMetadata)))
    // the laziness pin: stopping at the newest matching entry must cost
    // one walk batch of entry reads, not all n — this is the watermark
    // walk that runs per view refresh / search / streaming micro-batch
    val before = ManagedTable.logEntryReads.get()
    val hit = t.metaHistory
      .collectFirst { case c if c.userMetadata.isDefined => c }
    assert(hit.map(_.version) === Some((n - 1).toLong))
    val reads = ManagedTable.logEntryReads.get() - before
    assert(reads <= ManagedTable.MetaWalkBatch,
      s"first-batch watermark hit read $reads log entries — the lazy walk " +
        s"must stay within one batch (${ManagedTable.MetaWalkBatch})")
  }

  test("retention holds clamp vacuum to the minimum pinned version; " +
      "release restores pruning") {
    val path = tmpDir("mt_holds")
    val t = ManagedTable(spark, path)
    (0 until 13).foreach(i =>
      t.write(Seq(i).toDF("id"), "APPEND", "append"))
    t.setRetentionHold("view-a", 5L)
    t.setRetentionHold("view-b", 8L)
    assert(t.retentionHolds === Map("view-a" -> 5L, "view-b" -> 8L))
    t.vacuum(keepLast = 1)
    assert(t.earliestVersion.get <= 5L,
      "vacuum must keep everything at or above the MINIMUM hold")
    assert(t.readAt(5L).count() === 6L, "held versions must stay readable")
    // releasing one hold leaves the other's clamp
    t.releaseRetentionHold("view-a")
    t.vacuum(keepLast = 1)
    assert(t.earliestVersion.get <= 8L && t.readAt(8L).count() === 9L)
    // releasing the last hold restores normal retention (the earliest
    // kept version extends back only to the head's full-snapshot base)
    t.releaseRetentionHold("view-b")
    t.vacuum(keepLast = 1)
    assert(t.earliestVersion.get === 10L)
    intercept[Exception] { t.readAt(5L).count() }
  }

  test("CALL graft.history(path, limit) reads only the newest commits — " +
      "bounded log IO, resolved dirs exact") {
    val path = tmpDir("mt_histlim")
    val t = ManagedTable(spark, path)
    (0 until 25).foreach(i =>
      t.write(Seq(i).toDF("id"), "APPEND", "append"))
    val before = ManagedTable.logEntryReads.get()
    val rows = spark.sql(s"CALL graft.history('$path', 3)").collect()
    val reads = ManagedTable.logEntryReads.get() - before
    assert(rows.map(_.getLong(0)).toSeq === Seq(24L, 23L, 22L))
    // dirs resolve through the chain: version 24 composes 25 append dirs
    assert(rows.head.getInt(3) === 25)
    assert(reads < 25,
      s"limited history read $reads log entries — must be bounded by " +
        "limit + chain bases, not the whole log")
  }

  test("CALL graft.vacuum_older_than prunes by commit age — the head " +
      "always survives, reads are unchanged") {
    val path = tmpDir("mt_vot")
    val t = ManagedTable(spark, path)
    (0 until 13).foreach(i => t.write(Seq(i).toDF("id"), "APPEND", "append"))
    val r = spark.sql(s"CALL graft.vacuum_older_than('$path', " +
      s"${System.currentTimeMillis() + 60000})").head()
    assert(r.getInt(0) > 0, "must prune aged-out versions")
    // pruning extends back only to the head's full-snapshot chain base
    assert(t.earliestVersion.get === 10L)
    assert(t.read.count() === 13)
  }

  test("createIfNotExists bootstraps an empty readable snapshot; idempotent") {
    val path = tmpDir("mt_create")
    val t = ManagedTable(spark, path)
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("v", StringType)))
    t.createIfNotExists(schema)
    t.createIfNotExists(schema) // no-op
    assert(t.read.count() === 0)
    assert(t.read.schema.fieldNames.toSeq === Seq("id", "v"))
    assert(t.latestVersion === Some(0L))
  }

  test("commit json round-trips") {
    val c = ManagedTable.Commit(3L, "MERGE(scd2)", 123L, Seq("/a", "/b"),
      Map("numOutputRows" -> "42"), Some("meta"), "`id` INT", 2L)
    assert(ManagedTable.Commit.fromJson(c.toJson) === c)
    val withCd = c.copy(changeDir = Some("/a/_change_data/x"))
    assert(ManagedTable.Commit.fromJson(withCd.toJson) === withCd)
  }

  test("readAt time-travels to any committed version") {
    val path = tmpDir("mt_tt")
    val t = ManagedTable(spark, path)
    t.write(Seq((1, "a")).toDF("id", "v"), "APPEND", "append")
    t.write(Seq((2, "b")).toDF("id", "v"), "APPEND", "append")
    t.write(Seq((9, "z")).toDF("id", "v"), "OVERWRITE", "replace")
    assert(t.readAt(0).as[(Int, String)].collect().toSeq === Seq((1, "a")))
    assert(t.readAt(1).as[(Int, String)].collect().sorted === Seq((1, "a"), (2, "b")))
    assert(t.readAt(2).as[(Int, String)].collect().toSeq === Seq((9, "z")))
    assert(t.read.collect() === t.readAt(2).collect())
  }

  test("change feed synthesizes insert/delete from the commit-log dir diff") {
    val path = tmpDir("mt_cdf_synth")
    val t = ManagedTable(spark, path)
    t.write(Seq((1, "a")).toDF("id", "v"), "APPEND", "append")
    t.write(Seq((2, "b")).toDF("id", "v"), "APPEND", "append")
    t.write(Seq((9, "z")).toDF("id", "v"), "OVERWRITE", "replace")

    val feed = t.readChangeFeed(0)
    val rows = feed.select("id", "v", "_change_type", "_commit_version")
      .as[(Int, String, String, Long)].collect().toSet
    assert(rows === Set(
      (1, "a", "insert", 0L),
      (2, "b", "insert", 1L),
      // overwrite: old dirs dropped -> deletes, new dir -> insert
      (1, "a", "delete", 2L), (2, "b", "delete", 2L), (9, "z", "insert", 2L)))

    // bounded range
    val v1 = t.readChangeFeed(1, Some(1)).select("id", "_change_type")
      .as[(Int, String)].collect().toSeq
    assert(v1 === Seq((2, "insert")))
  }

  test("change feed refuses pre-stamp (legacy) change data loudly") {
    val path = tmpDir("mt_cdf_legacy")
    val t = ManagedTable(spark, path)
    t.write(Seq((1, "a")).toDF("id", "v"), "APPEND", "append")
    val cd = Seq((1, "a1", "update_postimage")).toDF("id", "v", "_change_type")
    val c1 = t.write(Seq((1, "a1")).toDF("id", "v"), "MERGE(scd1)", "replace",
      changeData = Some(cd))
    assert(c1.changeFormat === ManagedTable.STAMPED_CHANGE_FORMAT)
    // hand-write a legacy commit: same change dir, no changeFormat stamp —
    // exactly what a pre-stamp engine version would have logged
    t.writeCommit(c1.copy(version = 2L, readVersion = 1L, changeFormat = 0))
    val e = intercept[IllegalStateException](t.readChangeFeed(2, Some(2)))
    assert(e.getMessage.contains("pre-stamp format"))
    // a json log entry with no changeFormat field at all parses as format 0
    val parsed = ManagedTable.Commit.fromJson(
      c1.toJson.replaceAll(""",\s*"changeFormat"\s*:\s*\d+""", ""))
    assert(parsed.changeFormat === 0)
    // stamped ranges still serve
    assert(t.readChangeFeed(1, Some(1)).count() === 1)
  }

  test("change feed range validation and non-existent table fail") {
    val path = tmpDir("mt_cdf_bad")
    val t = ManagedTable(spark, path)
    intercept[IllegalStateException](t.readChangeFeed(0))
    t.write(Seq(1).toDF("id"), "APPEND", "append")
    intercept[IllegalArgumentException](t.readChangeFeed(0, Some(5)))
    // inverted range fails loudly instead of returning an empty feed
    intercept[IllegalArgumentException](t.readChangeFeed(3, Some(1)))
    // version probes outside the log fail descriptively
    intercept[IllegalArgumentException](t.readAt(99L))
    intercept[IllegalArgumentException](t.readAt(-1L))
  }

  /** Physical file scans of a feed, recursing through AQE wrappers. */
  private def feedScans(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case s: FileSourceScanExec => Seq(s)
      case q: QueryStageExec => scans(q.plan)
    }.flatten
    df.collect()
    scans(df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    })
  }

  test("change feed serves a 100-version merge range as ONE parquet scan") {
    val path = tmpDir("mt_cdf_100v")
    val t = ManagedTable(spark, path)
    t.write(Seq((1, "a")).toDF("id", "v"), "APPEND", "append")
    val cd = Seq((1, "a1", "update_postimage"), (1, "a", "update_preimage"))
      .toDF("id", "v", "_change_type")
    val c1 = t.write(Seq((1, "a1")).toDF("id", "v"), "MERGE(scd1)", "replace",
      changeData = Some(cd))
    // fabricate versions 2..100, each with its own copy of the change dir
    // (plan shape is what's under test; one Spark write job per version
    // would make this a minutes-long test for no extra signal)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    (2L to 100L).foreach { v =>
      val src = new org.apache.hadoop.fs.Path(c1.changeDir.get)
      val dst = new org.apache.hadoop.fs.Path(src.getParent, f"$v%012d-copy")
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf)
      t.writeCommit(c1.copy(version = v, readVersion = v - 1,
        changeDir = Some(dst.toString)))
    }
    val feed = t.readChangeFeed(1, Some(100))
    assert(feedScans(feed).size === 1,
      "merge-change versions must be one multi-path scan, not a per-version union")
    assert(feed.count() === 100L * 2)
  }

  test("change feed batches dir-diff synthesis into one scan per change side") {
    val path = tmpDir("mt_cdf_diffbatch")
    val t = ManagedTable(spark, path)
    (0 until 6).foreach(i => t.write(Seq((i, s"v$i")).toDF("id", "v"), "APPEND", "append"))
    val feed = t.readChangeFeed(0, Some(5))
    assert(feedScans(feed).size === 1,
      "six append versions must be one insert scan, stamped per commit dir")
    val rows = feed.select("id", "_change_type", "_commit_version")
      .as[(Int, String, Long)].collect().toSet
    assert(rows === (0 until 6).map(i => (i, "insert", i.toLong)).toSet)

    t.write(Seq((99, "z")).toDF("id", "v"), "OVERWRITE", "replace")
    val full = t.readChangeFeed(0)
    assert(feedScans(full).size === 2, "one scan for all inserts, one for all deletes")
    val deletes = full.filter($"_change_type" === "delete")
      .select("id", "_commit_version").as[(Int, Long)].collect().toSet
    assert(deletes === (0 until 6).map(i => (i, 6L)).toSet)
  }

  test("readWhere prunes dirs by min/max stats and matches read.filter") {
    val path = tmpDir("mt_skip")
    val t = ManagedTable(spark, path)
    // three appends with disjoint id ranges and distinct categories
    t.write((0 until 10).map(i => (i, s"cat_a", s"2026-01-0${i % 9 + 1}"))
      .toDF("id", "cat", "d"), "APPEND", "append")
    t.write((10 until 20).map(i => (i, s"cat_b", "2026-02-01"))
      .toDF("id", "cat", "d"), "APPEND", "append")
    t.write((20 until 30).map(i => (i, s"cat_c", "2026-03-01"))
      .toDF("id", "cat", "d"), "APPEND", "append")

    def rootPathCount(df: org.apache.spark.sql.DataFrame): Int =
      feedScans(df).map(_.relation.location.rootPaths.size).sum

    // numeric equality: only the middle dir's [10,19] interval matches
    val q = t.readWhere($"id" === 15)
    assert(q.select("id", "cat").as[(Int, String)].collect().toSeq ===
      Seq((15, "cat_b")))
    assert(rootPathCount(q) === 1, "two of three dirs must be skipped")
    // unpruned baseline scans all three
    assert(rootPathCount(t.read.filter($"id" === 15)) === 3)

    // string + range + boolean connectives
    assert(rootPathCount(t.readWhere($"cat" === "cat_c")) === 1)
    assert(rootPathCount(t.readWhere($"id" >= 12 && $"id" < 22)) === 2)
    assert(rootPathCount(t.readWhere($"id" < 5 || $"cat" === "cat_b")) === 2)
    assert(t.readWhere($"id" >= 12 && $"id" < 22).count() === 10)
    // no dir can match → empty frame, zero scans
    assert(t.readWhere($"id" === 999).count() === 0)
    // unsupported shapes fall back to scanning everything, results intact
    assert(t.readWhere(
      org.apache.spark.sql.functions.length($"cat") === 5).count() === 30)
  }

  test("readWhere skips all-NULL dirs and keeps stat-less commits readable") {
    val path = tmpDir("mt_skip_null")
    val t = ManagedTable(spark, path)
    t.write(Seq((1, Some("x"))).toDF("id", "v"), "APPEND", "append")
    t.write(Seq((2, None: Option[String])).toDF("id", "v"), "APPEND", "append")
    def rootPathCount(df: org.apache.spark.sql.DataFrame): Int =
      feedScans(df).map(_.relation.location.rootPaths.size).sum
    // the all-NULL dir can never satisfy v = 'x'
    val q = t.readWhere($"v" === "x")
    assert(q.select("id").as[Int].collect().toSeq === Seq(1))
    assert(rootPathCount(q) === 1)
    // a legacy commit without dirStats (hand-written log entry) keeps
    // working: absent stats → never prune
    val c = t.lastCommit.get
    t.writeCommit(c.copy(version = c.version + 1, dirStats = Map.empty))
    assert(ManagedTable(spark, path).readWhere($"v" === "x").count() === 1)
  }

  test("selective overwrite propagates stats; readWhere stays correct after") {
    val path = tmpDir("mt_skip_sow")
    val t = ManagedTable(spark, path)
    t.write((0 until 10).map(i => (i % 2, i)).toDF("p", "x"),
      "APPEND", "append", partitionBy = Seq("p"))
    import spark.implicits._
    t.selectiveOverwrite(Seq((0, 100), (0, 101)).toDF("p", "x"), Seq("p"))
    val all = t.readWhere($"x" >= 0)
    // p=1 rows untouched, p=0 replaced by the two new rows
    assert(all.count() === 7)
    assert(t.readWhere($"x" >= 100).select("x").as[Int].collect().toSet ===
      Set(100, 101))
    // kept partition subdirs inherited the original whole-dir stats:
    // every surviving dir entry for this 2-version table carries stats
    val c = t.lastCommit.get
    assert(c.dirs.forall(c.dirStats.contains))
  }

  test("compact with sortWithin writes rows sorted inside each partition file") {
    val path = tmpDir("mt_compact_sort")
    val t = ManagedTable(spark, path)
    val rnd = new scala.util.Random(5)
    (0 until 3).foreach { _ =>
      t.write((0 until 100).map(_ => (rnd.nextInt(2), rnd.nextInt(10000)))
        .toDF("p", "x"), "APPEND", "append", partitionBy = Seq("p"))
    }
    val c = t.compact(Seq("p"), minFiles = 2, sortWithin = Seq("x"))
    assert(c.isDefined)
    assert(t.read.count() === 300)
    // rows inside each compacted file are ascending in x (row-group stats
    // are only selective when the file is sorted)
    import org.apache.spark.sql.functions.input_file_name
    val perFile = t.read.select(input_file_name().as("f"), $"x")
      .collect().groupBy(_.getString(0))
      .map { case (_, rs) => rs.map(_.getInt(1)).toSeq }
    perFile.foreach(xs => assert(xs === xs.sorted, "file not sorted on x"))
  }

  test("delete/update rewrite only stat-affected dirs, others survive byte-identical") {
    val path = tmpDir("mt_dml")
    val t = ManagedTable(spark, path)
    t.write((0 until 10).map(i => (i, s"v$i")).toDF("id", "v"), "APPEND", "append")
    t.write((10 until 20).map(i => (i, s"v$i")).toDF("id", "v"), "APPEND", "append")
    t.write((20 until 30).map(i => (i, s"v$i")).toDF("id", "v"), "APPEND", "append")
    val before = t.lastCommit.get

    val d = t.delete($"id" >= 10 && $"id" < 13)
    assert(d.operationMetrics("numAffectedRows") === "3")
    assert(d.operationMetrics("numRewrittenDirs") === "1")
    // the two unaffected dirs carry over by reference — same dir strings
    assert(d.dirs.toSet.intersect(before.dirs.toSet).size === 2)
    assert(t.read.count() === 27)
    assert(t.read.filter($"id" === 11).count() === 0)

    val u = t.update(Map("v" -> org.apache.spark.sql.functions.concat(
      $"v", org.apache.spark.sql.functions.lit("!"))), $"id" >= 25)
    assert(u.operationMetrics("numAffectedRows") === "5")
    assert(u.operationMetrics("numRewrittenDirs") === "1")
    val got = t.read.filter($"id" >= 24).select("id", "v")
      .as[(Int, String)].collect().toMap
    assert(got(24) === "v24" && got(25) === "v25!" && got(29) === "v29!")
    assert(t.read.count() === 27)

    // no-match DML commits a metadata-only version, nothing rewritten
    val n = t.delete($"id" === 9999)
    assert(n.operationMetrics("numRewrittenDirs") === "0")
    assert(n.dirs === u.dirs)

    // NULL-predicate rows are kept by DELETE (SQL semantics)
    val p2 = tmpDir("mt_dml_null")
    val t2 = ManagedTable(spark, p2)
    t2.write(Seq((Some(1), "a"), (None, "b")).toDF("id", "v"), "APPEND", "append")
    t2.delete($"id" > 0)
    assert(t2.read.select("v").as[String].collect().toSeq === Seq("b"))
  }

  test("DML with captureChangeData serves a minimal change feed") {
    val path = tmpDir("mt_dml_cdf")
    val t = ManagedTable(spark, path)
    t.write((0 until 10).map(i => (i, s"v$i")).toDF("id", "v"), "APPEND", "append")
    val d = t.delete($"id" === 3, captureChangeData = true)
    val u = t.update(Map("v" -> org.apache.spark.sql.functions.lit("X")),
      $"id" === 7, captureChangeData = true)
    val feed = t.readChangeFeed(d.version, Some(u.version))
      .select("id", "v", "_change_type", "_commit_version")
      .as[(Int, String, String, Long)].collect().toSet
    // minimal: ONLY the touched rows, not the rewritten dirs' contents
    assert(feed === Set(
      (3, "v3", "delete", d.version),
      (7, "v7", "update_preimage", u.version),
      (7, "X", "update_postimage", u.version)))
    // without capture, the same DML surfaces as the coarse dir-diff
    val t2 = ManagedTable(spark, tmpDir("mt_dml_nocdf"))
    t2.write(Seq((1, "a"), (2, "b")).toDF("id", "v"), "APPEND", "append")
    val d2 = t2.delete($"id" === 1)
    val coarse = t2.readChangeFeed(d2.version)
      .select("_change_type").as[String].collect().toSeq.sorted
    assert(coarse === Seq("delete", "delete", "insert"),
      "dir-diff: both old rows deleted, surviving row re-inserted")
  }

  test("restore re-points the snapshot; timestampAsOf resolves versions") {
    val path = tmpDir("mt_restore")
    val t = ManagedTable(spark, path)
    t.write(Seq((1, "a"), (2, "b")).toDF("id", "v"), "APPEND", "append")
    val ts0 = t.lastCommit.get.timestampMs
    t.write(Seq((9, "z")).toDF("id", "v"), "OVERWRITE", "replace")

    val r = t.restore(0)
    assert(r.version === 2L && r.operation === "RESTORE(version=0)")
    assert(t.read.as[(Int, String)].collect().toSet === Set((1, "a"), (2, "b")))
    // rolled-back version stays in history and readable
    assert(t.readAt(1).as[(Int, String)].collect().toSeq === Seq((9, "z")))
    // restored dirs survive a vacuum that prunes the overwrite version
    t.vacuum(keepLast = 1)
    assert(t.read.count() === 2)
    intercept[IllegalArgumentException](t.restore(0)) // vacuumed away

    // timestampAsOf: at ts0 the table was version 0
    val t2path = tmpDir("mt_asof")
    val t2 = ManagedTable(spark, t2path)
    t2.write(Seq(1).toDF("id"), "APPEND", "append")
    val c0 = t2.lastCommit.get
    // fabricate a later commit with a strictly later timestamp
    t2.writeCommit(c0.copy(version = 1L, readVersion = 0L,
      timestampMs = c0.timestampMs + 10000))
    assert(t2.versionAsOf(c0.timestampMs) === 0L)
    assert(t2.versionAsOf(c0.timestampMs + 10000) === 1L)
    assert(t2.readAsOf(c0.timestampMs).count() === 1)
    intercept[IllegalArgumentException](t2.versionAsOf(c0.timestampMs - 1))
    assert(ts0 > 0)
  }

  test("append schema evolution: mergeSchema widens, mismatch without it throws") {
    val path = tmpDir("mt_evolve")
    val t = ManagedTable(spark, path)
    t.write(Seq((1, "a")).toDF("id", "v"), "APPEND", "append")
    // mismatched append without the flag must fail loudly — committing the
    // batch schema as-is would drop 'v' from every subsequent read
    intercept[IllegalArgumentException](
      t.write(Seq((2, "b", 9)).toDF("id", "v", "extra"), "APPEND", "append"))
    // with mergeSchema the table widens; old rows read NULL for the new col
    t.write(Seq((2, "b", 9)).toDF("id", "v", "extra"), "APPEND", "append",
      mergeSchema = true)
    val got = t.read.select("id", "v", "extra")
      .as[(Int, String, Option[Int])].collect().toSet
    assert(got === Set((1, "a", None), (2, "b", Some(9))))
    // a later batch missing an old column reads NULL for it
    t.write(Seq((3, 7)).toDF("id", "extra"), "APPEND", "append",
      mergeSchema = true)
    val v3 = t.read.filter($"id" === 3)
      .select("v", "extra").as[(Option[String], Option[Int])].head()
    assert(v3 === ((None, Some(7))))
    // NON-widening type changes are refused even with the flag
    intercept[IllegalArgumentException](
      t.write(Seq(("x", "y")).toDF("id", "v"), "APPEND", "append",
        mergeSchema = true))
    // skipping stays conservative across evolution: the new column's
    // stats exist only for dirs that carried it
    assert(t.readWhere($"extra" === 9).select("id").as[Int].collect().toSeq === Seq(2))
  }

  test("append type widening: lossless chains widen under mergeSchema, lossy refuse") {
    val path = tmpDir("mt_widen")
    val t = ManagedTable(spark, path)
    t.write(Seq((1, 1.5f)).toDF("id", "x"), "APPEND", "append")
    // int id joined by a long batch; float x joined by a double batch —
    // the table adopts the wider types, OLD parquet files (int32/float
    // physical) read under them directly, no rewrite
    t.write(Seq((2147483648L, 2.5)).toDF("id", "x"), "APPEND", "append",
      mergeSchema = true)
    val sch = t.read.schema
    assert(sch("id").dataType === org.apache.spark.sql.types.LongType)
    assert(sch("x").dataType === org.apache.spark.sql.types.DoubleType)
    assert(t.read.as[(Long, Double)].collect().toSet ===
      Set((1L, 1.5), (2147483648L, 2.5)))
    // a NARROW batch appends into the widened table unchanged (its
    // int32 files serve under the long schema)
    t.write(Seq((3, 3.5)).toDF("id", "x"), "APPEND", "append",
      mergeSchema = true)
    assert(t.read.count() === 3)
    assert(t.read.schema("id").dataType === org.apache.spark.sql.types.LongType)
    // skipping still prunes across mixed physical types (BigDecimal
    // string compare is width-blind)
    assert(t.readWhere($"id" >= 2147483648L).count() === 1)
    // lossy changes refuse: long→double loses precision past 2^53
    intercept[IllegalArgumentException](
      t.write(Seq((4.5, 1.0)).toDF("id", "x"), "APPEND", "append",
        mergeSchema = true))
  }

  test("append decimal widening grows precision and scale, never shrinks") {
    val path = tmpDir("mt_widen_dec")
    val t = ManagedTable(spark, path)
    t.write(Seq(BigDecimal("1.25")).toDF("d")
      .select($"d".cast("decimal(10,2)").as("d")), "APPEND", "append")
    t.write(Seq(BigDecimal("123456789.1234")).toDF("d")
      .select($"d".cast("decimal(20,4)").as("d")), "APPEND", "append",
      mergeSchema = true)
    assert(t.read.schema("d").dataType ===
      org.apache.spark.sql.types.DecimalType(20, 4))
    assert(t.read.select($"d".cast("string")).as[String].collect().toSet ===
      Set("1.2500", "123456789.1234"))
    // shrinking integer digits is lossy → refused
    intercept[IllegalArgumentException](
      t.write(Seq(BigDecimal("1")).toDF("d")
        .select($"d".cast("decimal(10,9)").as("d")), "APPEND", "append",
        mergeSchema = true))
  }

  test("clusterBy makes readWhere selective on the cluster column") {
    val path = tmpDir("mt_cluster")
    val t = ManagedTable(spark, path)
    // one shuffled append: ids interleave, so pre-cluster min/max of the
    // single dir spans everything and skipping can't prune
    val rows = scala.util.Random.shuffle((0 until 1000).toList)
      .map(i => (i, s"v$i"))
    t.write(rows.toDF("id", "v"), "APPEND", "append")
    def rootPathCount(df: org.apache.spark.sql.DataFrame): Int =
      feedScans(df).map(_.relation.location.rootPaths.size).sum
    assert(rootPathCount(t.readWhere($"id" === 57)) === 1) // 1 dir total

    val c = t.clusterBy("id", buckets = 4)
    assert(c.operation === "CLUSTER BY (id)")
    assert(c.dirs.size === 4)
    // content identical, synthetic bucket column never surfaces
    assert(t.read.columns.toSeq === Seq("id", "v"))
    assert(t.read.count() === 1000)
    assert(t.read.select("id").as[Int].collect().toSet === (0 until 1000).toSet)
    // a point query now scans one bucket of four
    val q = t.readWhere($"id" === 57)
    assert(q.select("v").as[String].collect().toSeq === Seq("v57"))
    assert(rootPathCount(q) === 1)
    // a half-range scans about half the buckets
    assert(rootPathCount(t.readWhere($"id" < 490)) <= 3)
    // time travel to the pre-cluster version still works
    assert(t.readAt(c.version - 1).count() === 1000)
  }

  test("clusterByZ prunes point queries on every clustered column") {
    val path = tmpDir("mt_zorder")
    val t = ManagedTable(spark, path)
    val rnd = new scala.util.Random(3)
    val rows = (0 until 2000).map(i => (rnd.nextInt(1000), rnd.nextInt(1000), i))
    t.write(rows.toDF("x", "y", "id"), "APPEND", "append")
    val c = t.clusterByZ(Seq("x", "y"), buckets = 16)
    assert(c.operation === "ZORDER BY (x, y)")
    assert(c.dirs.size >= 8, s"z-buckets collapsed to ${c.dirs.size}")
    assert(t.read.count() === 2000)
    assert(t.read.columns.toSeq === Seq("x", "y", "id"))
    def rootPathCount(df: org.apache.spark.sql.DataFrame): Int =
      feedScans(df).map(_.relation.location.rootPaths.size).sum
    val total = c.dirs.size
    val xv = rows(7)._1
    val yv = rows(11)._2
    // interleaved bits: a point on EITHER column fixes half the bucket
    // bits → roughly sqrt selectivity on both axes
    val xScan = rootPathCount(t.readWhere($"x" === xv))
    val yScan = rootPathCount(t.readWhere($"y" === yv))
    assert(xScan <= total / 2, s"x point query scanned $xScan of $total")
    assert(yScan <= total / 2, s"y point query scanned $yScan of $total")
    // conjunction prunes at least as hard as either axis
    val bothScan = rootPathCount(t.readWhere($"x" === xv && $"y" === yv))
    assert(bothScan <= math.min(xScan, yScan))
    // results stay exact
    assert(t.readWhere($"x" === xv).count() ===
      rows.count(_._1 == xv))
  }

  test("concurrent appends all land via optimistic retry; no lost updates") {
    val path = tmpDir("mt_concurrent")
    ManagedTable(spark, path).write(Seq((0, "base")).toDF("id", "v"), "APPEND", "append")
    // separate instances: the per-instance lock does NOT serialize them,
    // so version claims race and the rename guard + retry must resolve it
    val n = 6
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      import scala.jdk.CollectionConverters._
      val tasks: Seq[java.util.concurrent.Callable[Unit]] = (1 to n).map { i =>
        () => {
          ManagedTable(spark, path)
            .write(Seq((i, s"w$i")).toDF("id", "v"), "APPEND", "append")
          ()
        }
      }
      pool.invokeAll(tasks.asJava).asScala.foreach(_.get())
    } finally pool.shutdown()
    val t = ManagedTable(spark, path)
    assert(t.latestVersion === Some(n.toLong)) // contiguous versions, none lost
    assert(t.read.select("id").as[Int].collect().toSet === (0 to n).toSet)
    assert(t.lastCommit.get.dirs.size === n + 1)
  }

  test("append retry stamps change data with the final committed version") {
    val path = tmpDir("mt_retry_stamp")
    ManagedTable(spark, path).write(Seq((0, "base")).toDF("id", "v"), "APPEND", "append")
    // racing appenders each carry change data; whichever retries must
    // RE-stamp its change parquet under the version it finally lands on —
    // a republished pre-stamped dir would attribute its rows to the
    // conflicting writer's commit
    val n = 6
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.functions.lit
      val tasks: Seq[java.util.concurrent.Callable[Unit]] = (1 to n).map { i =>
        () => {
          val df = Seq((i, s"w$i")).toDF("id", "v")
          ManagedTable(spark, path).write(df, "APPEND", "append",
            changeData = Some(df.withColumn("_change_type", lit("insert"))))
          ()
        }
      }
      pool.invokeAll(tasks.asJava).asScala.foreach(_.get())
    } finally pool.shutdown()
    val t = ManagedTable(spark, path)
    assert(t.latestVersion === Some(n.toLong))
    (1L to n.toLong).foreach { v =>
      val c = t.commitAt(v)
      val stamps = spark.read.parquet(c.changeDir.get)
        .select("_commit_version").distinct().as[Long].collect().toSeq
      assert(stamps === Seq(v),
        s"change parquet of version $v must carry that version, got $stamps")
    }
    // conflicted attempts' stale change dirs are deleted, not orphaned
    val changeRoot = new org.apache.hadoop.fs.Path(path, "_change_data")
    val fs = changeRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(changeRoot).length === n)
  }

  test("a write job that fails part-way deletes the partial data or change dir") {
    import org.apache.spark.sql.functions.{lit, raise_error, when}
    val path = tmpDir("mt_failed_write")
    def batch(lo: Long, hi: Long) =
      spark.range(lo, hi, 1, 2).select($"id", $"id".cast("string").as("v"))
    // raises in a task once the write job is under way
    val failing = batch(10, 20)
      .filter(when($"id" === 15, raise_error(lit("boom"))).otherwise(lit(true)))
    val t = ManagedTable(spark, path)
    t.write(batch(0, 10), "APPEND", "append")
    intercept[Exception](t.write(failing, "APPEND", "append"))
    assertNoOrphanDirs(path)
    intercept[Exception](t.write(batch(10, 20), "APPEND", "append",
      changeData = Some(failing.withColumn("_change_type", lit("insert")))))
    assertNoOrphanDirs(path)
    assert(t.read.count() === 10)
    assert(t.latestVersion === Some(0L))
  }

  test("replace conflicts surface instead of retrying (non-commutative)") {
    val path = tmpDir("mt_conflict")
    val t = ManagedTable(spark, path)
    t.write(Seq(1).toDF("id"), "APPEND", "append")
    // occupy the version a stale writer will claim
    val c1 = ManagedTable.Commit(1L, "APPEND", 2L, t.commitAt(0).dirs,
      Map.empty, None, "`id` INT", 0L)
    val stale = ManagedTable(spark, path) // reads latest=0 at write start
    // force the race deterministically: pre-write v1 between stale's read
    // and commit is impossible to time from outside, so write v1 first and
    // call writeCommit directly with the colliding version
    t.writeCommit(c1)
    intercept[ManagedTable.ConcurrentCommitException](
      stale.writeCommit(c1.copy(operation = "OVERWRITE")))
  }

  test("concurrent commit reads surface the underlying exception, unwrapped") {
    val path = tmpDir("mt_unwrap")
    val t = ManagedTable(spark, path)
    val base = ManagedTable.Commit(0L, "APPEND", 1L, Nil, Map.empty, None, "`id` INT", -1L)
    (0L until 4L).foreach(v => t.writeCommit(base.copy(version = v, readVersion = v - 1)))
    // corrupt one commit file; history must throw the parse exception
    // itself, not java.util.concurrent.ExecutionException wrapping it
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path, "_graft_log/000000000002.json")
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try out.write("not json".getBytes("UTF-8")) finally out.close()
    val e = intercept[Throwable](t.history)
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException])
    assert(e.isInstanceOf[com.fasterxml.jackson.core.JacksonException])
  }

  test("history over 1k commits is a single listing + concurrent reads") {
    val path = tmpDir("mt_hist1k")
    val t = ManagedTable(spark, path)
    val base = ManagedTable.Commit(0L, "APPEND", 1L, Nil, Map.empty, None, "`id` INT", -1L)
    (0L until 1000L).foreach(v => t.writeCommit(base.copy(version = v, readVersion = v - 1)))
    val h = t.history
    assert(h.size === 1000 && h.head.version === 999L && h.last.version === 0L)
    assert(t.earliestVersion === Some(0L) && t.latestVersion === Some(999L))
  }

  test("vacuum prunes history, deletes only dead dirs, keeps selective-overwrite subdir refs") {
    val path = tmpDir("mt_vacuum")
    val t = ManagedTable(spark, path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    def dirExists(d: String) = fs.exists(new org.apache.hadoop.fs.Path(d))

    // v0: partitioned base; v1: replace (de-references v0's dir);
    // v2: selective overwrite (references SUBDIRS of v1's dir); v3: append
    t.write(Seq((1, "a", "p1"), (2, "b", "p2")).toDF("id", "v", "p"),
      "APPEND", "append", partitionBy = Seq("p"))
    t.write(Seq((1, "a2", "p1"), (2, "b2", "p2")).toDF("id", "v", "p"),
      "OVERWRITE", "replace", partitionBy = Seq("p"))
    t.selectiveOverwrite(Seq((1, "a3", "p1")).toDF("id", "v", "p"), Seq("p"))
    t.write(Seq((3, "c", "p3")).toDF("id", "v", "p"), "APPEND", "append",
      partitionBy = Seq("p"))
    val v0Dir = t.commitAt(0).dirs.head
    val v1Dir = t.commitAt(1).dirs.head // whole dir, later referenced by subdir

    val before = t.read.as[(Int, String, String)].collect().toSet
    val stats = t.vacuum(keepLast = 2) // keep v2, v3
    assert(stats.prunedVersions === 2)
    assert(t.earliestVersion === Some(2L) && t.latestVersion === Some(3L))
    // v0's dir is dead; v1's dir root survives because v2/v3 reference
    // its untouched-partition SUBDIRS
    assert(!dirExists(v0Dir))
    assert(dirExists(v1Dir)) // v1's dirs.head is the whole data-dir root
    // current + retained time travel read identically
    assert(t.read.as[(Int, String, String)].collect().toSet === before)
    assert(t.readAt(2).count() === 2)
    // pruned versions fail loudly with the vacuum hint
    val e = intercept[IllegalArgumentException](t.readAt(0))
    assert(e.getMessage.contains("vacuumed"))
    // idempotent when nothing to prune; keepLast >= 1 enforced
    assert(t.vacuum(2) === ManagedTable.VacuumStats(0, 0, 0))
    intercept[IllegalArgumentException](t.vacuum(0))
  }

  test("compact rewrites only fragmented partitions, one file each") {
    val path = tmpDir("mt_compact")
    val t = ManagedTable(spark, path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    // p1 fragments across three append commits; p2 stays single-file
    t.write(Seq((1, "a", "p1"), (9, "z", "p2")).toDF("id", "v", "p"),
      "APPEND", "append", partitionBy = Seq("p"))
    t.write(Seq((2, "b", "p1")).toDF("id", "v", "p"), "APPEND", "append",
      partitionBy = Seq("p"))
    t.write(Seq((3, "c", "p1")).toDF("id", "v", "p"), "APPEND", "append",
      partitionBy = Seq("p"))
    val before = t.read.as[(Int, String, String)].collect().toSet
    val p2Subdir = s"${t.commitAt(0).dirs.head}/p=p2"

    val c = t.compact(Seq("p"), minFiles = 2).get
    assert(c.operation.startsWith("OPTIMIZE"))
    assert(t.read.as[(Int, String, String)].collect().toSet === before)
    // untouched p2 carried over by reference to its ORIGINAL subdir
    assert(c.dirs.contains(p2Subdir))
    // compacted p1 is one file in one new subdir
    val p1Dirs = c.dirs.filter(_.endsWith("p=p1"))
    assert(p1Dirs.size === 1 && !p1Dirs.head.startsWith(t.commitAt(0).dirs.head))
    val p1Files = fs.listStatus(new org.apache.hadoop.fs.Path(p1Dirs.head))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
    assert(p1Files.length === 1)
    // second compaction finds nothing fragmented
    assert(t.compact(Seq("p"), minFiles = 2).isEmpty)
  }

  test("old versions remain readable after replace (MVCC-ish)") {
    val path = tmpDir("mt_mvcc")
    val t = ManagedTable(spark, path)
    t.write(Seq((1, "a")).toDF("id", "v"), "APPEND", "append")
    t.write(Seq((2, "b")).toDF("id", "v"), "OVERWRITE", "replace")
    val v0 = t.commitAt(0L)
    val old = spark.read.schema(StructType.fromDDL(v0.schemaDdl)).parquet(v0.dirs: _*)
    assert(old.as[(Int, String)].collect().toSeq === Seq((1, "a")))
  }

  private def manifestFiles(dir: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName == "manifest") Seq(f) else Nil
    walk(new java.io.File(dir)).flatMap(f =>
      new String(java.nio.file.Files.readAllBytes(f.toPath)).split("\n"))
      .filter(_.nonEmpty)
  }

  test("exportManifest lists exactly the live snapshot's files, external-readable") {
    val path = tmpDir("mt_manifest")
    val t = ManagedTable(spark, path)
    t.write((1 to 10).map(i => (i, s"v$i")).toDF("id", "v"), "APPEND", "append")
    t.write((11 to 20).map(i => (i, s"v$i")).toDF("id", "v"), "APPEND", "append")
    t.delete(org.apache.spark.sql.functions.col("id") <= 5) // copy-on-write: first dir de-referenced
    val mdir = tmpDir("mt_manifest_out")
    val stats = t.exportManifest(mdir)
    val files = manifestFiles(mdir)
    assert(stats.numFiles === files.size && stats.numManifests === 1)
    assert(stats.version === t.lastCommit.get.version)
    // an external engine reading the listed files sees the exact snapshot
    val external = spark.read.parquet(files: _*)
    assert(external.select("id").as[Int].collect().sorted.toSeq === (6 to 20))
    // a de-referenced dir's files must not leak into the manifest
    val deadDir = t.commitAt(0L).dirs.head
    assert(!files.exists(_.contains(new org.apache.hadoop.fs.Path(deadDir).getName)))
    // as-of export serves the pre-delete composition
    val mold = tmpDir("mt_manifest_old")
    t.exportManifest(mold, asOfVersion = Some(1L))
    assert(spark.read.parquet(manifestFiles(mold): _*).count() === 20)
  }

  test("exportManifest writes one manifest per partition for partitioned tables") {
    val path = tmpDir("mt_manifest_part")
    val t = ManagedTable(spark, path)
    t.write((1 to 12).map(i => (i, s"p${i % 3}")).toDF("id", "p"),
      "APPEND", "append", partitionBy = Seq("p"))
    val mdir = tmpDir("mt_manifest_part_out")
    val stats = t.exportManifest(mdir)
    assert(stats.numManifests === 3)
    (0 until 3).foreach { b =>
      val mf = new java.io.File(s"$mdir/p=p$b/manifest")
      assert(mf.exists(), s"missing per-partition manifest for p=p$b")
    }
  }

  test("exportManifest refuses live deletion vectors; purge clears the refusal") {
    val path = tmpDir("mt_manifest_dv")
    val t = ManagedTable(spark, path)
    t.write((1 to 10).map(i => (i, s"v$i")).toDF("id", "v"), "APPEND", "append")
    t.deleteVectors(org.apache.spark.sql.functions.col("id") === 3)
    val mdir = tmpDir("mt_manifest_dv_out")
    val e = intercept[IllegalArgumentException](t.exportManifest(mdir))
    assert(e.getMessage.contains("tombstones"))
    t.purgeDeletes()
    val stats = t.exportManifest(mdir)
    assert(spark.read.parquet(manifestFiles(mdir): _*)
      .select("id").as[Int].collect().sorted.toSeq === (1 to 10).filterNot(_ == 3))
    assert(stats.version === t.lastCommit.get.version)
  }

  test("hilbertIndex is a bijection whose consecutive cells are grid neighbors") {
    // exhaustive over several (bits, dims) grids: the two defining
    // properties of a Hilbert curve — every cell visited exactly once,
    // and each curve step moves ONE unit along ONE axis (Morton fails
    // the second at every half-space seam)
    for ((bits, dims) <- Seq((1, 2), (2, 2), (3, 2), (4, 2), (2, 3), (3, 3))) {
      val side = 1 << bits
      val total = math.pow(side, dims).toLong
      val coords = Array.fill(dims)(0)
      val seen = new Array[Array[Int]](total.toInt)
      def loop(d: Int): Unit =
        if (d == dims) {
          val h = graft.table.ManagedTable.hilbertIndex(bits, coords)
          assert(h >= 0 && h < total, s"index $h out of range for bits=$bits dims=$dims")
          assert(seen(h.toInt) == null, s"collision at $h for bits=$bits dims=$dims")
          seen(h.toInt) = coords.clone()
        } else {
          var v = 0
          while (v < side) { coords(d) = v; loop(d + 1); v += 1 }
        }
      loop(0)
      (1 until total.toInt).foreach { h =>
        val dist = seen(h).zip(seen(h - 1)).map { case (a, b) => math.abs(a - b) }.sum
        assert(dist == 1,
          s"bits=$bits dims=$dims: step $h jumps distance $dist " +
            s"(${seen(h - 1).mkString(",")} -> ${seen(h).mkString(",")})")
      }
    }
  }

  test("clusterByHilbert prunes range probes on every clustered axis") {
    import org.apache.spark.sql.functions.col
    val path = tmpDir("hilbert")
    val t = graft.table.ManagedTable(spark, path)
    val data = spark.range(20000L)
      .select(col("id").as("a"), ((col("id") * 7919L) % 20011L).as("b"),
        (col("id") % 97L).as("payload"))
    t.write(data, "APPEND", "append")
    val c = t.clusterByHilbert(Seq("a", "b"), buckets = 16)
    assert(c.operation == "HILBERT BY (a, b)" && c.dirs.size > 4)
    def scannedDirs(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.rootPaths.size
      }.sum
    val byA = t.readWhere(col("a") < 1000L)
    val byB = t.readWhere(col("b") < 1000L)
    assert(scannedDirs(byA) < c.dirs.size && scannedDirs(byB) < c.dirs.size,
      s"hilbert must prune both axes: a=${scannedDirs(byA)} " +
        s"b=${scannedDirs(byB)} of ${c.dirs.size}")
    // correctness: clustering is a rewrite, rows unchanged
    assert(t.read.count() == 20000L)
    assert(byA.count() == 1000L)
  }

  test("clusterAppend folds only the unclustered tail against stored bounds") {
    import org.apache.spark.sql.functions.col
    val path = tmpDir("clusterapp")
    val t = graft.table.ManagedTable(spark, path)
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select(col("id").as("k"), (col("id") % 13).as("v"))
    t.write(mk(0L, 10000L), "APPEND", "append")
    val full = t.clusterBy("k", buckets = 8)
    assert(full.properties.contains(
      graft.table.ManagedTable.ClusterByBoundsProp))
    val clusteredDirs = full.dirs.toSet

    // no tail yet -> no-op
    assert(t.clusterAppend().isEmpty)

    t.write(mk(10000L, 12000L), "APPEND", "append")
    t.write(mk(12000L, 13000L), "APPEND", "append")
    val inc = t.clusterAppend().get
    assert(inc.operation.startsWith("CLUSTER APPEND"))
    // every originally-clustered dir carried BY REFERENCE (no rewrite)
    assert(clusteredDirs.subsetOf(inc.dirs.toSet))
    // tail dirs left the composition; new dirs are bucket-partitioned
    val newDirs = inc.dirs.filterNot(clusteredDirs)
    assert(newDirs.nonEmpty && newDirs.forall(_.contains("__graft_cluster__=")))
    // rows intact and range probes still prune
    assert(t.read.count() == 13000L)
    val probe = t.readWhere(col("k") >= 12500L)
    assert(probe.count() == 500L)
    val scanned = probe.queryExecution.sparkPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
        sc.relation.location.rootPaths.size
    }.sum
    assert(scanned < inc.dirs.size,
      s"stats must prune the probe: scanned $scanned of ${inc.dirs.size}")
    // a second maintenance round composes
    t.write(mk(13000L, 13500L), "APPEND", "append")
    assert(t.clusterAppend().isDefined && t.read.count() == 13500L)
  }

  test("clusterAppend folds the tail onto a persisted Hilbert grid") {
    import org.apache.spark.sql.functions.col
    val path = tmpDir("clusterapph")
    val t = graft.table.ManagedTable(spark, path)
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select(col("id").as("a"), ((col("id") * 7919L) % 20011L).as("b"))
    t.write(mk(0L, 10000L), "APPEND", "append")
    val full = t.clusterByHilbert(Seq("a", "b"), buckets = 8)
    assert(full.properties.contains(
      graft.table.ManagedTable.HilbertColsProp))
    val clusteredDirs = full.dirs.toSet
    t.write(mk(10000L, 12000L), "APPEND", "append")
    val inc = t.clusterAppend().get
    assert(inc.operation == "CLUSTER APPEND (a,b)")
    // clustered bulk carried by reference, tail re-bucketed on the grid
    assert(clusteredDirs.subsetOf(inc.dirs.toSet))
    assert(inc.dirs.exists(d => !clusteredDirs(d)))
    assert(t.read.count() == 12000L)
    // both curve axes still prune after the fold
    def scannedDirs(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.rootPaths.size
      }.sum
    val byA = t.readWhere(col("a") < 500L)
    assert(byA.count() == 500L)
    assert(scannedDirs(byA) < inc.dirs.size,
      s"hilbert fold must keep pruning: ${scannedDirs(byA)} of ${inc.dirs.size}")
  }

  test("clusterBy on a STRING column prunes and clusterAppend folds on the same grid") {
    import org.apache.spark.sql.functions.{col, concat, format_string, lit}
    val path = tmpDir("clusterstr")
    val t = graft.table.ManagedTable(spark, path)
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select(concat(lit("user-"), format_string("%06d", col("id"))).as("uid"),
        (col("id") % 13).as("v"))
    t.write(mk(0L, 8000L), "APPEND", "append")
    val full = t.clusterBy("uid", buckets = 8)
    assert(full.properties.get(
      graft.table.ManagedTable.ClusterByKindProp).contains("string"))
    val clusteredDirs = full.dirs.toSet
    def scannedDirs(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.rootPaths.size
      }.sum
    // point and range probes on the string key must prune
    val probe = t.readWhere(col("uid") === "user-000042")
    assert(probe.count() == 1L)
    assert(scannedDirs(probe) < full.dirs.size,
      s"string stats must prune: ${scannedDirs(probe)} of ${full.dirs.size}")
    // tail fold re-uses the persisted string grid
    t.write(mk(8000L, 9000L), "APPEND", "append")
    val inc = t.clusterAppend().get
    assert(clusteredDirs.subsetOf(inc.dirs.toSet))
    assert(t.read.count() == 9000L)
    val probe2 = t.readWhere(col("uid") >= "user-008900")
    assert(probe2.count() == 100L)
    assert(scannedDirs(probe2) < inc.dirs.size)
  }

  test("clusterAppend keeps the column mapping consistent across carried dirs") {
    import org.apache.spark.sql.functions.col
    val path = tmpDir("clusterappmap")
    val t = graft.table.ManagedTable(spark, path)
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select(col("id").as("k"), (col("id") % 13).as("v"))
    t.write(mk(0L, 2000L), "APPEND", "append")
    t.clusterBy("k", buckets = 4)
    t.renameColumn("v", "value") // physical name stays "v" in the files
    t.write(mk(2000L, 2500L).withColumnRenamed("v", "value"),
      "APPEND", "append")
    val inc = t.clusterAppend().get
    assert(inc.columnMap.nonEmpty, "mapping must carry through the fold")
    assert(t.read.filter(col("value") === 7L).count() ==
      (0L until 2500L).count(_ % 13 == 7))
  }

  test("a full re-cluster drops the previous layout's grid: clusterAppend " +
      "folds on the new one, or refuses") {
    import org.apache.spark.sql.functions.col
    val path = tmpDir("recluster_grid")
    val t = graft.table.ManagedTable(spark, path)
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select(col("id").as("a"), ((col("id") * 7919L) % 20011L).as("b"))
    t.write(mk(0L, 2000L), "APPEND", "append")
    t.clusterByHilbert(Seq("a", "b"), buckets = 4)
    val full = t.clusterBy("b", buckets = 4)
    assert(!full.properties.keys.exists(_.startsWith("cluster.hilbert.")))
    t.write(mk(2000L, 2500L), "APPEND", "append")
    assert(t.clusterAppend().get.operation == "CLUSTER APPEND (b)")
    assert(t.read.count() == 2500L)
    // a layout that persists no grid leaves none behind
    t.clusterByRange("a", buckets = 4)
    t.write(mk(2500L, 2600L), "APPEND", "append")
    intercept[IllegalStateException](t.clusterAppend())
  }

  test("re-clustering a string grid on a numeric column folds appends on the numeric grid") {
    import org.apache.spark.sql.functions.{col, concat, format_string, lit}
    val path = tmpDir("recluster_kind")
    val t = graft.table.ManagedTable(spark, path)
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select(concat(lit("user-"), format_string("%06d", col("id"))).as("uid"),
        (col("id") * 1.5).as("x"))
    t.write(mk(0L, 2000L), "APPEND", "append")
    t.clusterBy("uid", buckets = 4)
    val full = t.clusterBy("x", buckets = 4)
    assert(!full.properties.contains(graft.table.ManagedTable.ClusterByKindProp))
    t.write(mk(2000L, 2500L), "APPEND", "append")
    assert(t.clusterAppend().get.operation == "CLUSTER APPEND (x)")
    assert(t.read.count() == 2500L)
    assert(t.readWhere(col("x") >= 3000.0).count() == 500L)
  }
}
