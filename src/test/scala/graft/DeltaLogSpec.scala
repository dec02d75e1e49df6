package graft

import graft.table.{DataSkipping, ManagedTable}
import org.apache.hadoop.fs.Path

/** Delta-encoded commit log: steady-state entries record add/remove dirs
  * against their parent with a full snapshot every
  * [[ManagedTable.LogSnapshotInterval]] versions (Delta-log style), so a
  * continuous-ingest commit costs O(changed dirs) log bytes on a
  * 100k-dir table, not O(all dirs) — while every resolved read stays
  * byte-exact vs the composition the writer built. */
class DeltaLogSpec extends SparkSpec {
  import spark.implicits._

  private def rawEntry(path: String, v: Long): String = {
    val p = new Path(path, f"_graft_log/$v%012d.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    finally in.close()
  }

  test("appends delta-encode between forced snapshots; reads stay exact") {
    val path = tmpDir("dl_appends")
    val t = ManagedTable(spark, path)
    (0 until 25).foreach(i => t.write(Seq((i, s"v$i")).toDF("id", "v"), "APPEND", "append"))
    // shape: v0/v10/v20 are full snapshots, the rest are deltas
    (0L until 25L).foreach { v =>
      val full = rawEntry(path, v).contains("\"dirs\"")
      assert(full === (v % ManagedTable.LogSnapshotInterval == 0),
        s"version $v encoding: expected full=${v % 10 == 0}")
    }
    // a delta append entry records ONE added dir, no removals
    val d = rawEntry(path, 13L)
    assert(d.contains("\"addDirs\"") && !d.contains("\"removeDirs\""))
    assert(ManagedTable.parseLogEntry(d)._1.dirs.size === 1)
    // resolution: every version's composition is exactly v+1 dirs
    (0L until 25L).foreach(v => assert(t.commitAt(v).dirs.size === v + 1))
    assert(t.read.count() === 25)
    assert(t.readAt(7).count() === 8)
    val h = t.history
    assert(h.size === 25 && h.head.dirs.size === 25)
    // stats survive resolution for every dir (skipping stays armed)
    assert(t.lastCommit.get.dirStats.size === 25)
  }

  test("a delta entry is O(changed dirs) bytes while the table is O(n) dirs") {
    val path = tmpDir("dl_size")
    val t = ManagedTable(spark, path)
    (0 until 15).foreach(i => t.write(Seq((i, "x" * 40)).toDF("id", "v"), "APPEND", "append"))
    val snapshot = rawEntry(path, 10L).length
    val delta = rawEntry(path, 14L).length
    assert(delta * 3 < snapshot,
      s"delta entry ($delta B) should be far smaller than the snapshot ($snapshot B)")
  }

  test("replace falls back to a full snapshot (delta would not be smaller)") {
    val path = tmpDir("dl_replace")
    val t = ManagedTable(spark, path)
    (0 until 3).foreach(i => t.write(Seq(i).toDF("id"), "APPEND", "append"))
    t.write(Seq(99).toDF("id"), "OVERWRITE", "replace")
    assert(rawEntry(path, 3L).contains("\"dirs\""))
    assert(t.read.as[Int].collect().toSeq === Seq(99))
  }

  test("merge commits delta-encode: carried dirs ride by reference") {
    val path = tmpDir("dl_merge")
    import graft.write.{WriteOptions, Writers}
    Writers.scd1(spark, path, (0 until 400).map(i => (i, s"a$i")).toDF("id", "v"),
      Seq("id"), WriteOptions(now = Some("2026-01-05 00:00:00")))
    val t = ManagedTable(spark, path)
    t.clusterBy("id", 4)
    val before = t.lastCommit.get
    // file-scoped merge path: rewrite one bucket dir, carry three
    Writers.scd1(spark, path, Seq((1, "A")).toDF("id", "v"), Seq("id"),
      WriteOptions(now = Some("2026-01-06 00:00:00")))
    val c = t.lastCommit.get
    assert(c.operation === "MERGE(scd1)")
    val raw = ManagedTable.parseLogEntry(rawEntry(path, c.version))
    assert(raw._2.isDefined, "merge entry should be delta-encoded")
    assert(raw._2.get.removeDirs.size === 1)
    assert(raw._1.dirs.size === 1, "one added (rewritten) dir")
    assert(c.dirs.size === 4)
    assert(before.dirs.count(c.dirs.contains) === 3)
    assert(t.read.filter($"id" === 1 && $"v" === "A").count() === 1)
  }

  test("dirBytes recorded at commit time: exact, delta-encoded, legacy-upgradeable") {
    val path = tmpDir("dl_bytes")
    val t = ManagedTable(spark, path)
    (0 until 12).foreach(i => t.write(Seq((i, s"v$i")).toDF("id", "v"), "APPEND", "append"))
    def fsBytes(d: String): Long = {
      val p = new Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) {
        val st = it.next()
        if (!st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith(".")) n += st.getLen
      }
      n
    }
    // every dir of the head has its exact payload size in the log
    val head = t.lastCommit.get
    assert(head.dirBytes.keySet === head.dirs.toSet)
    head.dirs.foreach(d => assert(head.dirBytes(d) === fsBytes(d), s"size of $d"))
    // a delta entry carries bytes only for its ADDED dir
    val raw = rawEntry(path, 11L)
    assert(raw.contains("\"addDirBytes\"") && !raw.contains("\"dirBytes\""))
    assert(ManagedTable.parseLogEntry(raw)._1.dirBytes.size === 1)
    // legacy logs (no byte fields) resolve with empty dirBytes…
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    (0L until 12L).foreach { v =>
      val n = m.readTree(rawEntry(path, v))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      n.remove("dirBytes"); n.remove("addDirBytes")
      val p = new Path(path, f"_graft_log/$v%012d.json")
      val out = fs.create(p, true)
      try out.write(m.writerWithDefaultPrettyPrinter().writeValueAsString(n)
        .getBytes("UTF-8")) finally out.close()
    }
    assert(t.lastCommit.get.dirBytes.isEmpty, "legacy log → no recorded sizes")
    // …and the next commit records the full map again: carried legacy
    // dirs are measured once at write time, then served from the log
    t.write(Seq((99, "z")).toDF("id", "v"), "APPEND", "append")
    val upgraded = t.lastCommit.get
    assert(upgraded.dirBytes.keySet === upgraded.dirs.toSet)
    upgraded.dirs.foreach(d => assert(upgraded.dirBytes(d) === fsBytes(d)))
  }

  test("deltaJson declines order changes, stat drops, and non-child versions") {
    val base = ManagedTable.Commit(4L, "APPEND", 1L, Seq("/a", "/b", "/c"),
      Map.empty, None, "`id` INT", 3L,
      dirStats = Map("/a" -> Map("id" -> DataSkipping.ColMinMax(Some("1"), Some("2")))))
    val child = base.copy(version = 5L, readVersion = 4L, dirs = Seq("/a", "/b", "/c", "/d"))
    assert(ManagedTable.deltaJson(base, child).isDefined)
    // version gap
    assert(ManagedTable.deltaJson(base, child.copy(version = 6L)).isEmpty)
    // carried dirs reordered — reconstruction would not be byte-exact
    assert(ManagedTable.deltaJson(base,
      child.copy(dirs = Seq("/b", "/a", "/c", "/d"))).isEmpty)
    // stats dropped without their dir — reconstruction would resurrect them
    assert(ManagedTable.deltaJson(base,
      child.copy(dirStats = Map.empty)).isEmpty)
    // same rule for recorded byte sizes
    val sized = base.copy(dirBytes = Map("/a" -> 10L))
    assert(ManagedTable.deltaJson(sized,
      child.copy(dirBytes = Map("/a" -> 10L, "/d" -> 4L))).isDefined)
    assert(ManagedTable.deltaJson(sized, child.copy(dirBytes = Map.empty)).isEmpty)
    // round-trip: parse + compose equals the child
    val json = ManagedTable.deltaJson(base, child).get
    val (add, Some(link)) = ManagedTable.parseLogEntry(json): @unchecked
    assert(link.baseVersion === 4L && link.removeDirs.isEmpty)
    assert(base.dirs.filterNot(link.removeDirs.toSet) ++ add.dirs === child.dirs)
  }

  test("vacuum keeps the earliest retained commit's delta chain resolvable") {
    val path = tmpDir("dl_vacuum")
    val t = ManagedTable(spark, path)
    (0 until 17).foreach(i => t.write(Seq(i).toDF("id"), "APPEND", "append"))
    // keepLast=3 would keep {14,15,16}, but 14's chain base is snapshot 10:
    // retention extends down to it so resolution never breaks
    val stats = t.vacuum(keepLast = 3)
    assert(t.earliestVersion === Some(10L))
    assert(stats.prunedVersions === 10)
    assert(t.readAt(10).count() === 11)
    assert(t.readAt(14).count() === 15)
    assert(t.read.count() === 17)
    intercept[IllegalArgumentException](t.readAt(9))
    // a second vacuum from a full-snapshot floor still works
    (0 until 5).foreach(i => t.write(Seq(100 + i).toDF("id"), "APPEND", "append"))
    t.vacuum(keepLast = 2)
    assert(t.earliestVersion === Some(20L))
    assert(t.read.count() === 22)
  }

  test("vacuum at a full-snapshot boundary prunes exactly keepLast") {
    val path = tmpDir("dl_vac_exact")
    val t = ManagedTable(spark, path)
    (0 until 13).foreach(i => t.write(Seq(i).toDF("id"), "APPEND", "append"))
    // keepLast=3 keeps {10,11,12}; 10 is a snapshot — no extension needed
    t.vacuum(keepLast = 3)
    assert(t.earliestVersion === Some(10L))
  }

  test("recomputeStats restores pruning on a stats-stripped log") {
    val path = tmpDir("dl_analyze")
    val t = ManagedTable(spark, path)
    t.write((1 to 10).map(i => (i, s"v$i")).toDF("id", "v"), "APPEND", "append")
    t.write((11 to 20).map(i => (i, s"v$i")).toDF("id", "v"), "APPEND", "append")
    val orig = t.lastCommit.get
    // fabricate a legacy commit with no skipping stats at all
    t.writeCommit(orig.copy(version = orig.version + 1,
      readVersion = orig.version, dirStats = Map.empty))
    val pred = org.apache.spark.sql.functions.col("id") <= 5
    assert(t.splitDirsMayMatch(t.lastCommit.get, pred)._1.size === 2,
      "without stats every dir must be a may-match")
    val c = t.recomputeStats()
    assert(c.operation === "ANALYZE")
    assert(c.dirs === orig.dirs, "analyze must be metadata-only")
    assert(t.splitDirsMayMatch(t.lastCommit.get, pred)._1.size === 1,
      "recomputed stats must restore dir pruning")
    // recomputed stats agree with the write-path observation's rendering
    orig.dirs.foreach { d =>
      assert(c.dirStats(d)("id").min === orig.dirStats(d)("id").min)
      assert(c.dirStats(d)("id").max === orig.dirStats(d)("id").max)
      assert(c.dirStats(d)("id").nulls === Some(0L))
    }
    assert(t.readWhere(pred).count() === 5)
  }

  test("recomputeStats maps partition-subdir compositions correctly") {
    val path = tmpDir("dl_analyze_part")
    val t = ManagedTable(spark, path)
    t.write((1 to 12).map(i => (i, s"p${i % 3}")).toDF("id", "p"),
      "APPEND", "append", partitionBy = Seq("p"))
    // a selective overwrite decomposes the root into partition subdirs
    t.selectiveOverwrite(
      Seq((100, "p0")).toDF("id", "p"), Seq("p"))
    val before = t.lastCommit.get
    t.writeCommit(before.copy(version = before.version + 1,
      readVersion = before.version, dirStats = Map.empty))
    val c = t.recomputeStats()
    assert(c.dirStats.keySet === before.dirs.toSet)
    assert(t.read.count() === 9)
    assert(t.readWhere(org.apache.spark.sql.functions.col("id") === 100)
      .count() === 1)
  }

  test("vacuum dry-run reports the exact prune set and deletes nothing") {
    val path = tmpDir("dl_vac_dry")
    val t = ManagedTable(spark, path)
    (0 until 13).foreach(i => t.write(Seq(i).toDF("id"), "APPEND", "append"))
    val dry = t.vacuum(keepLast = 3, dryRun = true)
    assert(dry.prunedVersions === 10 && dry.deletedDataDirs === 0)
    assert(t.earliestVersion === Some(0L), "dry run must not prune the log")
    assert(t.readAt(0L).count() === 1, "dry run must not delete data")
    val real = t.vacuum(keepLast = 3)
    assert(real.prunedVersions === dry.prunedVersions,
      "dry-run report must match what the real vacuum then prunes")
    assert(t.earliestVersion === Some(10L))
  }

  test("vacuumOlderThan prunes by commit age; the head always survives") {
    val path = tmpDir("dl_vac_age")
    val t = ManagedTable(spark, path)
    (0 until 12).foreach(i => t.write(Seq(i).toDF("id"), "APPEND", "append"))
    val cutoff = t.commitAt(11L).timestampMs + 1
    // every commit predates the cutoff — the head must still survive
    // (extended back to its full-snapshot chain base, v10)
    val s = t.vacuumOlderThan(cutoff)
    assert(t.earliestVersion === Some(10L))
    assert(s.prunedVersions === 10)
    assert(t.read.count() === 12)
    // a cutoff before every commit prunes nothing
    val t2path = tmpDir("dl_vac_age2")
    val t2 = ManagedTable(spark, t2path)
    (0 until 3).foreach(i => t2.write(Seq(i).toDF("id"), "APPEND", "append"))
    assert(t2.vacuumOlderThan(0L).prunedVersions === 0)
    assert(t2.earliestVersion === Some(0L))
  }

  test("reader refuses a future-protocol entry instead of misreading it") {
    val path = tmpDir("dl_protocol")
    val t = ManagedTable(spark, path)
    t.write(Seq((1, "a")).toDF("id", "v"), "APPEND", "append")
    // entries stamp the MINIMUM protocol a reader needs, not the
    // writer's build version: a DV-free entry stays protocol 1 so
    // pre-DV builds keep reading it (DeletionVectorSpec pins the
    // protocol-2 stamp on entries with tombstones)
    assert(rawEntry(path, 0L).contains(""""minReaderVersion" : 1"""))
    // an unstamped (legacy) entry reads as protocol 1
    val legacy = rawEntry(path, 0L)
      .replaceFirst(""""minReaderVersion" : \d+,\s*""", "")
    assert(!legacy.contains("minReaderVersion"))
    assert(ManagedTable.parseLogEntry(legacy)._1.dirs.nonEmpty)
    // a future protocol fails loudly with an upgrade message
    val future = rawEntry(path, 0L).replaceFirst(
      """"minReaderVersion" : \d+""", "\"minReaderVersion\" : 99")
    val e = intercept[IllegalStateException](ManagedTable.parseLogEntry(future))
    assert(e.getMessage.contains("reader protocol 99"), e.getMessage)
    assert(e.getMessage.contains("upgrade"), e.getMessage)
  }

  test("restore across delta entries re-references the target composition") {
    val path = tmpDir("dl_restore")
    val t = ManagedTable(spark, path)
    (0 until 6).foreach(i => t.write(Seq(i).toDF("id"), "APPEND", "append"))
    t.restore(2L)
    assert(t.read.as[Int].collect().sorted.toSeq === Seq(0, 1, 2))
    assert(t.commitAt(6L).dirs === t.commitAt(2L).dirs)
  }
}
