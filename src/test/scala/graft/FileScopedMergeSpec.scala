package graft

import graft.table.{KeySet, ManagedTable}
import graft.write.{WriteOptions, Writers}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** File-scoped merge commits on UNPARTITIONED tables: when the snapshot
  * is composed of several dirs (clusterBy buckets, appends, earlier
  * file-scoped merges), a merge reads and rewrites ONLY the dirs whose
  * per-dir min/max key stats may contain a source key; every other dir
  * is carried into the new version by reference, byte-identical — the
  * Delta "rewrite only files containing matched keys" move, closing the
  * round-6 scale gap where any unpartitioned merge was a full-table
  * rewrite. */
class FileScopedMergeSpec extends SparkSpec {
  import spark.implicits._

  private val T0 = "2026-01-05 00:00:00"
  private val T1 = "2026-01-06 00:00:00"

  private def opts(t: String) = WriteOptions(now = Some(t))

  private def rows(ids: Range, v: String): DataFrame =
    ids.map(i => (i, v + i)).toDF("id", "v")

  /** (name, length, modificationTime) of every data file under `dir`. */
  private def fileStamps(dir: String): Set[(String, Long, Long)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSet[org.apache.hadoop.fs.FileStatus]
      .filter(_.isFile).filterNot(_.getPath.getName.startsWith("_"))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
  }

  /** A clustered 4-dir table over ids 0..399 (bucket ranges ~[0,100),
    * [100,200), ...) — the layout whose per-dir stats make key-range
    * file skipping effective. */
  private def clusteredTable(path: String): ManagedTable = {
    Writers.scd1(spark, path, rows(0 until 400, "a"), Seq("id"), opts(T0))
    val t = ManagedTable(spark, path)
    t.clusterBy("id", 4)
    assert(t.lastCommit.get.dirs.size === 4)
    t
  }

  test("scd1 touching one bucket's key range carries the other dirs byte-identical") {
    val path = tmpDir("fsm1")
    val t = clusteredTable(path)
    val before = t.lastCommit.get.dirs.map(d => d -> fileStamps(d)).toMap

    // update ids 10..19, insert 420..424 — ranges [10,19] and [420,424]
    Writers.scd1(spark, path,
      rows(10 until 20, "B").unionByName(rows(420 until 425, "n")),
      Seq("id"), opts(T1))

    val c = t.lastCommit.get
    assert(c.operation === "MERGE(scd1)")
    assert(c.operationMetrics("numCarriedDirs").toInt >= 2,
      s"expected untouched buckets carried, metrics: ${c.operationMetrics}")
    val carried = before.keys.filter(c.dirs.contains)
    assert(carried.nonEmpty)
    carried.foreach(d => assert(fileStamps(d) === before(d), s"dir $d rewritten"))

    val now = t.read
    assert(now.count() === 405)
    assert(now.filter($"id" === 15).select("v").as[String].head() === "B15")
    assert(now.filter($"id" === 200).select("v").as[String].head() === "a200")
    assert(now.filter($"id" === 422).select("v").as[String].head() === "n422")
    // untouched rows keep their T0 stamp; touched rows carry T1
    val vt = col(graft.meta.Meta.ValidToTs).cast("string")
    assert(now.filter($"id" === 200).select(vt).as[String].head() === T0)
    assert(now.filter($"id" === 15).select(vt).as[String].head() === T1)
  }

  test("file-scoped result equals the full-rewrite result row for row") {
    val pScoped = tmpDir("fsm2s"); val pFull = tmpDir("fsm2f")
    val l1 = rows(50 until 60, "B").unionByName(rows(500 until 505, "n"))
    clusteredTable(pScoped)
    Writers.scd1(spark, pScoped, l1, Seq("id"), opts(T1))
    // full: same loads, single-dir layout → replace path
    Writers.scd1(spark, pFull, rows(0 until 400, "a"), Seq("id"), opts(T0))
    Writers.scd1(spark, pFull, l1, Seq("id"), opts(T1))
    assertSameRows(
      ManagedTable(spark, pScoped).read.select($"id", $"v"),
      ManagedTable(spark, pFull).read.select($"id", $"v"))
  }

  test("insert-only batch outside every dir's range carries ALL dirs") {
    val path = tmpDir("fsm3")
    val t = clusteredTable(path)
    val dirsBefore = t.lastCommit.get.dirs
    Writers.scd1(spark, path, rows(1000 until 1010, "n"), Seq("id"), opts(T1))
    val c = t.lastCommit.get
    assert(c.operationMetrics("numRewrittenDirs") === "0")
    dirsBefore.foreach(d => assert(c.dirs.contains(d)))
    assert(t.read.count() === 410)
  }

  test("large bimodal batches prune exactly via the per-dir stats probe") {
    // >1000 distinct keys (past any IN-list shortcut) in the canonical
    // bimodal shape (low updates + new high ids) — interval unions would
    // span the gap and cover every bucket; the per-dir box probe cannot
    // conflate the two modes
    val path = tmpDir("fsm_big")
    val t = clusteredTable(path)
    val batch = rows(0 until 10, "B").unionByName(rows(5000 until 6200, "n"))
    Writers.scd1(spark, path, batch, Seq("id"), opts(T1))
    val c = t.lastCommit.get
    assert(c.operationMetrics("numCarriedDirs").toInt >= 2,
      s"interval path did not prune: ${c.operationMetrics}")
    assert(t.read.count() === 1600)
    assert(t.read.filter($"id" === 5).select("v").as[String].head() === "B5")
    assert(t.read.filter($"id" === 300).select("v").as[String].head() === "a300")
  }

  test("large STRING-keyed batches prune via the per-dir stats probe too") {
    val path = tmpDir("fsm_bigstr")
    val base = (0 until 400).map(i => (f"key-$i%04d", "a" + i)).toDF("id", "v")
    Writers.scd1(spark, path, base, Seq("id"), opts(T0))
    val t = ManagedTable(spark, path)
    t.clusterByRange("id", 4)
    val batch = ((10 until 20).map(i => (f"key-$i%04d", "B" + i)) ++
      (0 until 1200).map(i => (f"zzz-$i%05d", "n" + i))).toDF("id", "v")
    Writers.scd1(spark, path, batch, Seq("id"), opts(T1))
    val c = t.lastCommit.get
    assert(c.operationMetrics("numCarriedDirs").toInt >= 2,
      s"string interval path did not prune: ${c.operationMetrics}")
    assert(t.read.count() === 1600)
    assert(t.read.filter($"id" === "key-0015").select("v").as[String].head() === "B15")
    assert(t.read.filter($"id" === "key-0300").select("v").as[String].head() === "a300")
  }

  test("NULL merge keys in the batch fall back to a full-table merge") {
    val path = tmpDir("fsm4")
    val t = clusteredTable(path)
    val batch = Seq((Some(10), "B10"), (None: Option[Int], "x"))
      .toDF("id", "v")
    Writers.scd1(spark, path, batch, Seq("id"), opts(T1))
    val c = t.lastCommit.get
    assert(!c.operationMetrics.contains("numCarriedDirs"),
      s"null-key batch must not file-scope: ${c.operationMetrics}")
    assert(c.dirs.size === 1) // full replace
  }

  test("scd2 file-scoped merge keeps history and untouched dirs intact") {
    val path = tmpDir("fsm5")
    Writers.scd2(spark, path, rows(0 until 400, "a"), Seq("id"), opts(T0))
    val t = ManagedTable(spark, path)
    t.clusterBy("id", 4)
    val before = t.lastCommit.get.dirs.map(d => d -> fileStamps(d)).toMap

    Writers.scd2(spark, path, rows(10 until 20, "CHANGED"), Seq("id"), opts(T1))
    val c = t.lastCommit.get
    assert(c.operationMetrics("numCarriedDirs").toInt >= 2)
    before.keys.filter(c.dirs.contains)
      .foreach(d => assert(fileStamps(d) === before(d)))
    val hist = t.read.filter($"id" === 15)
      .select($"v", col(graft.meta.Meta.Active)).as[(String, String)]
      .collect().toSet
    assert(hist === Set("a15" -> "N", "CHANGED15" -> "Y"))
    assert(t.read.filter($"id" === 200).count() === 1)
  }

  test("the scoped target SCANS only may-match dirs (plan proof, not just file stamps)") {
    val path = tmpDir("fsm_scan")
    val t = clusteredTable(path)
    val batch = rows(10 until 20, "B")
    val pred = KeySet(batch.toDF, Seq("id")).bound.getOrElse(
      fail("expected a key predicate for a small non-null batch"))
    val (affected, carried) = t.splitDirsMayMatch(t.lastCommit.get, pred)
    assert(affected.nonEmpty && carried.nonEmpty)
    val target = t.readDirsSubset(affected)
    // every file the scan can possibly read lives under an affected dir —
    // carried dirs are not post-filtered away, they are never in the plan
    val files = target.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.toSeq
    }.flatten
    assert(files.nonEmpty)
    def under(f: String, dirs: Seq[String]) =
      dirs.exists(d => f.startsWith(d) || new Path(f).toUri.getPath
        .startsWith(new Path(d).toUri.getPath))
    files.foreach(f => assert(under(f, affected), s"scan reads carried file $f"))
  }

  test("a >512-dir table and a >1000-key bimodal batch rewrite only the may-match dirs") {
    import graft.table.DataSkipping.ColMinMax
    val path = tmpDir("fsm_wide")
    val t = clusteredTable(path)
    val real = t.lastCommit.get
    val top = real.dirs.maxBy(d => real.dirStats(d)("id").max.get.toInt)
    val before = fileStamps(top)
    // 510 metadata-only dirs whose key boxes sit in the batch's gap: one
    // range over the batch spans them all, the per-dir probe carries them
    val fakes = (0 until 510).map(i => s"$path/data/fake-$i")
    val fakeStats = fakes.zipWithIndex.map { case (d, i) =>
      d -> Map("id" -> ColMinMax(Some(s"${10000 + 100 * i}"),
        Some(s"${10050 + 100 * i}")))
    }.toMap
    t.writeCommit(real.copy(version = real.version + 1, operation = "APPEND",
      dirs = real.dirs ++ fakes, dirStats = real.dirStats ++ fakeStats))
    // updates of ids 0..249, 1000 new low ids, 20 new far ids
    val batch = rows(-1000 until 250, "B").unionByName(rows(200000 until 200020, "n"))
    Writers.scd1(spark, path, batch, Seq("id"), opts(T1))
    val c = t.lastCommit.get
    assert(c.operationMetrics("numRewrittenDirs") === "3",
      s"only the three buckets holding ids 0..249 may match: ${c.operationMetrics}")
    assert(c.operationMetrics("numCarriedDirs") === "511")
    assert(fakes.forall(c.dirs.contains))
    assert(fileStamps(top) === before, "the untouched bucket is carried byte-identical")
    // the fakes hold no files: read around them through their stats
    val now = t.readWhere($"id" < 10000 || $"id" >= 200000)
    assert(now.count() === 1420)
    assert(now.filter($"id" === 15).select("v").as[String].head() === "B15")
    assert(now.filter($"id" === 300).select("v").as[String].head() === "a300")
    assert(now.filter($"id" === 200007).select("v").as[String].head() === "n200007")
  }

  test("property: file-scoped scd1 equals full-rewrite scd1 on random batches") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val gen = for {
      nBase <- Gen.choose(50, 150)
      upd <- Gen.someOf(0 until 150)
      ins <- Gen.someOf(1000 until 1030)
    } yield (nBase, upd.toList, ins.toList)
    var n = 0
    val prop = Prop.forAll(gen) { case (nBase, upd0, ins) =>
      val upd = upd0.filter(_ < nBase)
      val batch = upd.map(i => (i, "B" + i)) ++ ins.map(i => (i, "n" + i))
      batch.isEmpty || {
        n += 1
        val ps = tmpDir(s"fsmp_s$n"); val pf = tmpDir(s"fsmp_f$n")
        val base = rows(0 until nBase, "a")
        val bdf = batch.toDF("id", "v")
        Writers.scd1(spark, ps, base, Seq("id"), opts(T0))
        ManagedTable(spark, ps).clusterBy("id", 3)
        Writers.scd1(spark, ps, bdf, Seq("id"), opts(T1))
        Writers.scd1(spark, pf, base, Seq("id"), opts(T0))
        Writers.scd1(spark, pf, bdf, Seq("id"), opts(T1))
        def state(p: String): Set[(Int, String)] =
          ManagedTable(spark, p).read.select("id", "v").collect()
            .map(r => (r.getInt(0), r.getString(1))).toSet
        state(ps) == state(pf)
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, s"file-scoped merge diverged from full rewrite: ${res.status}")
  }

  test("a concurrent commit between scope resolution and publish surfaces, never drops data") {
    val path = tmpDir("fsm_conflict")
    val t = clusteredTable(path)
    val cur = t.lastCommit.get
    val resolvedAt = cur.version
    val carried = cur.dirs.tail // any stale composition
    // a concurrent commit lands AFTER the merge resolved its scope
    // (metadata-only bump via the test-visible commit writer)...
    t.writeCommit(cur.copy(version = cur.version + 1, operation = "APPEND"))
    // ...so publishing the stale carried-dir composition must refuse:
    // silently committing would drop the concurrent commit's dirs
    intercept[ManagedTable.ConcurrentCommitException] {
      t.writeCarried(rows(0 until 5, "y"), carried, "MERGE(scd1)",
        expectedPrevVersion = Some(resolvedAt))
    }
    // the concurrent commit's snapshot is intact and still latest-minus-none
    assert(t.latestVersion.get === resolvedAt + 1)
    assert(t.read.count() === 400)
    assertNoOrphanDirs(path)
  }

  test("vacuum after a file-scoped merge keeps carried dirs readable") {
    val path = tmpDir("fsm_vac")
    val t = clusteredTable(path)
    Writers.scd1(spark, path, rows(10 until 20, "B"), Seq("id"), opts(T1))
    val before = t.read.select($"id", $"v").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    t.vacuum(1) // latest version references old commits' dirs by carry
    val after = t.read.select($"id", $"v").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(after === before)
    assert(t.read.count() === 400)
  }

  test("vacuum never breaks a reader holding a RETAINED snapshot; pruned versions fail loudly") {
    val path = tmpDir("fsm_vac_reader")
    val t = clusteredTable(path)              // version V: 4 bucket dirs
    Writers.scd1(spark, path, rows(10 until 20, "B"), Seq("id"), opts(T1)) // V+1 carries 3
    Writers.scd1(spark, path, rows(110 until 120, "C"), Seq("id"), opts(T1)) // V+2
    val headV = t.latestVersion.get
    // two pinned readers: one on the head, one on a RETAINED older
    // version — both plans resolved (dir lists captured) BEFORE vacuum
    val pinnedHead = t.read
    val pinnedOld = t.readAt(headV - 1)
    val headBefore = pinnedHead.select($"id", $"v").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    val oldBefore = pinnedOld.select($"id", $"v").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet

    val stats = t.vacuum(2) // keep headV and headV-1, prune everything older
    assert(stats.prunedVersions > 0)

    // retained-version readers re-collect IDENTICAL rows: every dir any
    // retained version references (including dirs CARRIED from pruned
    // commits) must survive the sweep
    assert(pinnedHead.select($"id", $"v").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet === headBefore)
    assert(pinnedOld.select($"id", $"v").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet === oldBefore)

    // a PRUNED version is gone loudly — never served silently wrong.
    // (Retention can extend below keepLast to a delta-chain snapshot
    // base, so probe relative to the post-vacuum floor.)
    assert(t.earliestVersion.get <= headV - 1)
    intercept[Exception] { t.readAt(t.earliestVersion.get - 1).collect() }
  }

  test("clusterByRange gives STRING-keyed tables the file-scoped merge path") {
    val path = tmpDir("fsm_str")
    // uuid-ish string keys: the common real-world merge key shape that
    // the numeric clusterBy can't lay out
    val base = (0 until 400).map(i => (f"key-$i%04d", "a" + i)).toDF("id", "v")
    Writers.scd1(spark, path, base, Seq("id"), opts(T0))
    val t = ManagedTable(spark, path)
    t.clusterByRange("id", 4)
    val c0 = t.lastCommit.get
    assert(c0.dirs.size === 4)
    val before = c0.dirs.map(d => d -> fileStamps(d)).toMap

    // touch a narrow key range + brand-new keys sorting past every range
    val batch = (10 until 20).map(i => (f"key-$i%04d", "B" + i))
      .++((0 until 5).map(i => (s"zzz-new-$i", "n" + i))).toDF("id", "v")
    Writers.scd1(spark, path, batch, Seq("id"), opts(T1))
    val c1 = t.lastCommit.get
    assert(c1.operationMetrics("numCarriedDirs").toInt >= 2,
      s"string-keyed merge did not file-scope: ${c1.operationMetrics}")
    before.keys.filter(c1.dirs.contains)
      .foreach(d => assert(fileStamps(d) === before(d), s"dir $d rewritten"))

    val now = t.read
    assert(now.count() === 405)
    assert(now.filter($"id" === "key-0015").select("v").as[String].head() === "B15")
    assert(now.filter($"id" === "key-0200").select("v").as[String].head() === "a200")
    assert(now.filter($"id" === "zzz-new-3").select("v").as[String].head() === "n3")
  }

  test("compactDirs folds small merge dirs together, carries big dirs byte-identical") {
    val path = tmpDir("fsm_compact")
    val t = clusteredTable(path)
    // three insert-only file-scoped merges (keys outside every bucket's
    // range) each add one tiny 2-row dir next to the ~100-row buckets
    Writers.scd1(spark, path, rows(1000 until 1002, "n"), Seq("id"), opts(T1))
    Writers.scd1(spark, path, rows(2000 until 2002, "n"), Seq("id"), opts(T1))
    Writers.scd1(spark, path, rows(3000 until 3002, "n"), Seq("id"), opts(T1))
    val preDirs = t.lastCommit.get.dirs
    assert(preDirs.size === 7, s"4 buckets + 3 insert dirs, got $preDirs")
    val before = t.read.select($"id", $"v").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    // threshold below every bucket's size folds only the tiny dirs
    val bucketBytes = preDirs.filter(_.contains("__graft_cluster__"))
      .map(d => fileStamps(d).toSeq.map(_._2).sum)
    val smallCut = bucketBytes.min // below every bucket's size
    val stamps = preDirs.filter(_.contains("__graft_cluster__"))
      .map(d => d -> fileStamps(d)).toMap
    // fold planning sizes dirs from the commit log's recorded bytes —
    // a new-format table pays zero FS size walks for it
    val walksBefore = ManagedTable.sizeListings.get()
    val commit = t.compactDirs(maxDirBytes = smallCut).getOrElse(
      fail("expected small dirs to qualify for compaction"))
    assert(ManagedTable.sizeListings.get() === walksBefore,
      "compaction sizing must come from Commit.dirBytes, not FS listings")
    assert(commit.operationMetrics("numCompactedDirs").toInt >= 3)
    stamps.foreach { case (d, s) =>
      assert(commit.dirs.contains(d), s"bucket $d should be carried")
      assert(fileStamps(d) === s, s"bucket $d rewritten")
    }
    assert(commit.dirs.size < preDirs.size)
    val after = t.read.select($"id", $"v").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(after === before)
    // nothing left to fold → None
    assert(t.compactDirs(maxDirBytes = smallCut).isEmpty)
  }

  test("compaction folds per key range so later merges stay file-scoped and narrow") {
    val path = tmpDir("fsm_rangefold")
    val t = clusteredTable(path)
    // five insert-only merges at widely-separated ranges: each adds one
    // plain small dir (no bucket path) with a NARROW id range — the
    // merge-heavy steady state whose fold used to widen into one dir
    // spanning the whole inserted key space
    val offsets = Seq(1000, 2000, 3000, 4000, 5000)
    offsets.foreach(o =>
      Writers.scd1(spark, path, rows(o until o + 20, "n"), Seq("id"), opts(T1)))
    val preDirs = t.lastCommit.get.dirs
    assert(preDirs.size === 9, s"4 buckets + 5 insert dirs, got $preDirs")
    def dirBytes(d: String): Long = fileStamps(d).toSeq.map(_._2).sum
    val bucketDirs = preDirs.filter(_.contains("__graft_cluster__"))
    val cut = bucketDirs.map(dirBytes).min
    val stamps = bucketDirs.map(d => d -> fileStamps(d)).toMap

    val commit = t.compactDirs(maxDirBytes = cut).getOrElse(
      fail("expected the five insert dirs to qualify for compaction"))
    assert(commit.operationMetrics("numCompactedDirs").toInt === 5)
    // the five dirs' total exceeds the byte bound → several folded dirs,
    // each covering an ADJACENT id range, not one monolithic dir
    assert(commit.operationMetrics("numCompactionGroups").toInt >= 2,
      s"range packing should emit multiple bounded dirs: ${commit.operationMetrics}")
    stamps.foreach { case (d, s) =>
      assert(commit.dirs.contains(d), s"bucket $d should be carried")
      assert(fileStamps(d) === s, s"bucket $d rewritten")
    }
    assert(t.read.count() === 500)

    // the selectivity proof: an update touching ONLY the 3000-range must
    // rewrite exactly the one folded dir whose range contains it and
    // carry every other dir — before range-aware folding, the single
    // wide compacted dir [1000, 5019] was rewritten by ANY insert-range
    // update
    val mixedDirs = t.lastCommit.get.dirs
    Writers.scd1(spark, path, rows(3000 until 3020, "U"), Seq("id"), opts(T1))
    val c2 = t.lastCommit.get
    assert(c2.operationMetrics("numRewrittenDirs").toInt === 1,
      s"expected one narrow folded dir rewritten: ${c2.operationMetrics}")
    assert(c2.operationMetrics("numCarriedDirs").toInt === mixedDirs.size - 1)
    val now = t.read
    assert(now.count() === 500)
    assert(now.filter($"id" === 3010).select("v").as[String].head() === "U3010")
    assert(now.filter($"id" === 2010).select("v").as[String].head() === "n2010")
    assert(now.filter($"id" === 50).select("v").as[String].head() === "a50")
  }

  test("file-scoped merge records a change data feed of exactly the changed rows") {
    val path = tmpDir("fsm6")
    def o(t: String) = opts(t).copy(enableChangeDataFeed = true)
    Writers.scd1(spark, path, rows(0 until 400, "a"), Seq("id"), o(T0))
    val t = ManagedTable(spark, path)
    t.clusterBy("id", 4)
    Writers.scd1(spark, path,
      rows(10 until 12, "B").unionByName(rows(900 until 901, "n")),
      Seq("id"), o(T1))
    val v = t.latestVersion.get
    val feed = t.readChangeFeed(v, Some(v))
      .select($"id", $"_change_type").as[(Int, String)].collect().toSet
    assert(feed === Set(
      10 -> "update_preimage", 10 -> "update_postimage",
      11 -> "update_preimage", 11 -> "update_postimage",
      900 -> "insert"))
  }
}
