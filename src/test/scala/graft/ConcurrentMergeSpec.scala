package graft

import graft.table.ManagedTable
import graft.write.{WriteOptions, Writers}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

/** Deterministic evaluation gate: a UDF wired into a source/merge frame
  * blocks its first evaluation until the test injects a concurrent
  * commit, turning "two writers race" into a reproducible interleaving
  * (local mode shares the JVM, so the static latches reach the task). */
object MergeGate {
  @volatile private var reached: CountDownLatch = null
  @volatile private var proceed: CountDownLatch = null
  // only the FIRST task blocks: the local[4] session must keep free task
  // slots, or the test's own injected Spark jobs starve behind the gate
  private val claimed = new java.util.concurrent.atomic.AtomicBoolean(false)

  def arm(): Unit = {
    claimed.set(false)
    reached = new CountDownLatch(1); proceed = new CountDownLatch(1)
  }
  def disarm(): Unit = { reached = null; proceed = null }
  /** Blocks in the test thread until some task entered [[pass]]. */
  def awaitReached(): Unit =
    assert(reached.await(60, TimeUnit.SECONDS), "gate was never evaluated")
  def release(): Unit = proceed.countDown()

  def pass(s: String): String = {
    val r = reached; val p = proceed
    if (r != null && claimed.compareAndSet(false, true)) {
      r.countDown()
      if (p != null) p.await(120, TimeUnit.SECONDS)
    }
    s
  }
}

/**
 * Optimistic conflict resolution for merge commits — the Delta move that
 * lets continuous ingest and table maintenance overlap. A file-scoped
 * merge that loses a commit race REBASES (re-probes the new head's dir
 * stats; if its affected set is unchanged, the already-computed result is
 * recomposed over the new head without recomputing the join); a racer
 * that overlaps the merge's scope forces a bounded re-merge instead.
 * Nothing is ever silently dropped — that invariant is pinned by
 * FileScopedMergeSpec's conflict test (no-rebase writeCarried still
 * refuses).
 */
class ConcurrentMergeSpec extends SparkSpec {
  import spark.implicits._

  private val T0 = "2026-01-05 00:00:00"
  private val T1 = "2026-01-06 00:00:00"
  private def opts(t: String) = WriteOptions(now = Some(t))

  private def rows(ids: Range, v: String): DataFrame =
    ids.map(i => (i, v + i)).toDF("id", "v")

  private def clusteredTable(path: String): ManagedTable = {
    Writers.scd1(spark, path, rows(0 until 400, "a"), Seq("id"), opts(T0))
    val t = ManagedTable(spark, path)
    t.clusterBy("id", 4)
    assert(t.lastCommit.get.dirs.size === 4)
    t
  }

  /** One appendable row with id/v overridden, pinned to the table's EXACT
    * commit schema (append mode requires DDL equality incl. nullability).
    * The stamped key/data hashes are recomputed for the new values — an
    * ingest writer appending into an scd table must uphold the table's
    * hash invariant, or merges (which match on the key hash) skip it. */
  private def appendFrame(t: ManagedTable, id: Int, v: String): DataFrame = {
    val schema = StructType.fromDDL(t.lastCommit.get.schemaDdl)
    val base = t.read.select(schema.fieldNames.map(col).toSeq: _*)
      .filter(col("id") === 0).head()
    val vals = base.toSeq.toArray
    vals(schema.fieldIndex("id")) = id
    vals(schema.fieldIndex("v")) = v
    val raw = spark.createDataFrame(
      java.util.Arrays.asList(Row.fromSeq(vals.toSeq)), schema)
    val restamped = raw
      .withColumn(graft.meta.Meta.KeyHash, graft.meta.Meta.hashOf(Seq("id")))
      .withColumn(graft.meta.Meta.DataHash, graft.meta.Meta.hashOf(Seq("v")))
    // withColumn relaxes nothing else; re-pin nullability for DDL equality
    spark.createDataFrame(restamped.collect().toSeq.asJava, schema)
  }

  private val gateUdf = udf(MergeGate.pass _)

  test("entry-time rebase: a stale carried composition recomposes over the new head") {
    val path = tmpDir("cms_entry")
    val t = clusteredTable(path)
    val cur = t.lastCommit.get
    val rewritten = cur.dirs.head
    val carried = cur.dirs.tail
    val carriedRows = t.readDirsSubset(carried).count()
    // a commit lands after the merge resolved its scope (metadata bump)
    t.writeCommit(cur.copy(version = cur.version + 1, operation = "APPEND"))
    val c = t.writeCarried(rows(0 until 5, "y"), carried, "MERGE(scd1)",
      expectedPrevVersion = Some(cur.version),
      rebase = Some(head => Some(head.dirs.filterNot(_ == rewritten))))
    assert(c.version === cur.version + 2)
    assert(!c.operationMetrics.contains("numCommitRetries"),
      "entry-time rebase resolves before any publication attempt")
    assert(t.read.count() === carriedRows + 5)
    assertNoOrphanDirs(path)
  }

  test("publication-race rebase: a commit landing mid-write is absorbed, data dir reused") {
    val path = tmpDir("cms_pub")
    val t = clusteredTable(path)
    val cur = t.lastCommit.get
    val rewritten = cur.dirs.head
    val carriedRows = t.readDirsSubset(cur.dirs.tail).count()
    MergeGate.arm()
    try {
      val merged = rows(0 until 5, "y").withColumn("v", gateUdf($"v"))
      val worker = new java.util.concurrent.atomic.AtomicReference[ManagedTable.Commit]()
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val th = new Thread(() =>
        try worker.set(t.writeCarried(merged, cur.dirs.tail, "MERGE(scd1)",
          expectedPrevVersion = Some(cur.version),
          rebase = Some(head =>
            if (head.dirs.contains(rewritten)) None // our rewrite got rewritten: bail
            else Some(head.dirs))))
        catch { case e: Throwable => err.set(e) })
      th.start()
      MergeGate.awaitReached() // the data write is evaluating the frame...
      // ...when a racer claims the next version. It preserves the dirs the
      // merge carries and drops only the one the merge is REWRITING anyway
      // (the shape a concurrent maintenance commit of disjoint scope has).
      val racer = cur.copy(version = cur.version + 1, operation = "APPEND",
        dirs = cur.dirs.filterNot(_ == rewritten))
      t.writeCommit(racer)
      MergeGate.release()
      th.join(120000)
      assert(err.get() === null, s"writeCarried surfaced: ${err.get()}")
      val c = worker.get()
      assert(c !== null, "writeCarried never returned")
      assert(c.version === cur.version + 2)
      assert(c.operationMetrics("numCommitRetries") === "1",
        "the publish conflicted once and rebased")
      assert(c.dirs.toSet === (racer.dirs :+ c.dirs.last).toSet)
      assert(t.read.count() === carriedRows + 5)
    } finally MergeGate.disarm()
    assertNoOrphanDirs(path)
  }

  test("scd1 racing a non-matching append rebases: both commit, no recompute") {
    val path = tmpDir("cms_scd1_rebase")
    val t = clusteredTable(path)
    MergeGate.arm()
    try {
      val src = rows(10 until 20, "B").withColumn("v", gateUdf($"v"))
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val th = new Thread(() =>
        try { Writers.scd1(spark, path, src, Seq("id"), opts(T1)); () }
        catch { case e: Throwable => err.set(e) })
      th.start()
      // the merge has captured its read version and is checkpointing the
      // source — land an append whose keys can never match the merge's
      MergeGate.awaitReached()
      ManagedTable(spark, path).write(appendFrame(t, 5000, "x"), "APPEND", "append")
      MergeGate.release()
      th.join(120000)
      assert(err.get() === null, s"merge surfaced: ${err.get()}")
      val c = t.lastCommit.get
      assert(c.operation === "MERGE(scd1)")
      // rebased composition: 1 bucket rewritten; 3 buckets + the
      // concurrent append's dir carried
      assert(c.operationMetrics("numRewrittenDirs") === "1")
      assert(c.operationMetrics("numCarriedDirs") === "4")
      val now = t.read
      assert(now.count() === 401)
      assert(now.filter($"id" === 15).select("v").as[String].head() === "B15")
      assert(now.filter($"id" === 5000).select("v").as[String].head() === "x")
    } finally MergeGate.disarm()
    assertNoOrphanDirs(path)
  }

  test("scd1 racing a MATCHING append re-merges: the late row is merged, not left stale") {
    val path = tmpDir("cms_scd1_rem")
    val t = clusteredTable(path)
    MergeGate.arm()
    try {
      val src = rows(10 until 20, "B").withColumn("v", gateUdf($"v"))
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val th = new Thread(() =>
        try { Writers.scd1(spark, path, src, Seq("id"), opts(T1)); () }
        catch { case e: Throwable => err.set(e) })
      th.start()
      MergeGate.awaitReached()
      // the racer's key IS in the merge source: a rebase would leave this
      // row stale next to the merge's updated copy — the probe must see
      // the new dir's stats overlap and force a re-merge instead
      ManagedTable(spark, path).write(appendFrame(t, 15, "stale15"), "APPEND", "append")
      MergeGate.release()
      th.join(120000)
      assert(err.get() === null, s"merge surfaced: ${err.get()}")
      val now = t.read
      // Delta MERGE semantics: EVERY matching target row updates — the
      // appended duplicate id=15 row is updated too, never left stale
      assert(now.count() === 401)
      val v15 = now.filter($"id" === 15).select("v").as[String].collect().toSeq
      assert(v15 === Seq("B15", "B15"),
        s"both id=15 target rows must carry the merged value, got $v15")
      // the re-merge read BOTH the bucket and the appended dir
      assert(t.lastCommit.get.operationMetrics("numRewrittenDirs") === "2")
    } finally MergeGate.disarm()
    assertNoOrphanDirs(path)
  }

  test("continuous ingest and merge maintenance interleave: ingest writers always commit") {
    val path = tmpDir("cms_stress")
    val t = clusteredTable(path)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val merger = new Thread(() =>
      try (0 until 5).foreach { i =>
        Writers.scd1(spark, path, rows(10 until 20, s"m$i"), Seq("id"), opts(T1))
      } catch { case e: Throwable => errs.add(e) })
    val appender = new Thread(() =>
      try (0 until 5).foreach { i =>
        ManagedTable(spark, path)
          .write(appendFrame(t, 10000 + i, s"x$i"), "APPEND", "append")
        if (i == 2) {
          // maintenance is best-effort: a compaction whose folded dirs got
          // rewritten mid-flight declines its rebase and re-runs later
          try { ManagedTable(spark, path).compactDirs(1L << 20); () }
          catch { case _: ManagedTable.ConcurrentCommitException => () }
        }
      } catch { case e: Throwable => errs.add(e) })
    merger.start(); appender.start()
    merger.join(300000); appender.join(300000)
    assert(errs.isEmpty, s"a writer failed to commit: ${errs.peek()}")
    val now = t.read
    assert(now.count() === 405)
    assert(now.filter($"id" === 15).select("v").as[String].head() === "m415",
      "the merger's last update wins on its own keys")
    assert(now.filter($"id" >= 10000).count() === 5, "every append survived")
    assertNoOrphanDirs(path)
  }

  test("rebase works past the exact-probe cap: >512-dir tables use the stats walk") {
    val path = tmpDir("cms_toomany")
    val t = clusteredTable(path)
    val real = t.lastCommit.get
    // the append frame is built BEFORE fabrication: the fabricated fake
    // dirs are metadata-only (provably non-matching, so no path ever
    // reads them) and a table read would trip on them
    val frame = appendFrame(t, 5000, "x")
    // fabricate a head with 510 extra far-away dirs: 514 total exceeds
    // DirProbeCap, so scope resolution AND the rebase re-probe run the
    // exact probe in more than one chunk
    import graft.table.DataSkipping.ColMinMax
    val fakes = (0 until 510).map(i => s"$path/data/fake-$i")
    val fakeStats = fakes.map(d => d -> Map(
      "id" -> ColMinMax(Some("100000"), Some("100000")))).toMap
    t.writeCommit(real.copy(version = real.version + 1, operation = "APPEND",
      dirs = real.dirs ++ fakes, dirStats = real.dirStats ++ fakeStats))
    val base = t.lastCommit.get
    MergeGate.arm()
    try {
      val src = rows(10 until 20, "B").withColumn("v", gateUdf($"v"))
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val th = new Thread(() =>
        try { Writers.scd1(spark, path, src, Seq("id"), opts(T1)); () }
        catch { case e: Throwable => err.set(e) })
      th.start()
      MergeGate.awaitReached()
      ManagedTable(spark, path).write(frame, "APPEND", "append")
      MergeGate.release()
      th.join(120000)
      assert(err.get() === null, s"merge surfaced: ${err.get()}")
      val c = t.lastCommit.get
      assert(c.operation === "MERGE(scd1)")
      assert(c.operationMetrics("numRewrittenDirs") === "1")
      // 3 real buckets + 510 fakes + the racer's append dir all carried
      assert(c.operationMetrics("numCarriedDirs") === "514")
      assert(fakes.forall(c.dirs.contains), "fabricated dirs carried by reference")
    } finally MergeGate.disarm()
    assertNoOrphanDirs(path)
  }

  test("compactDirs rebase composition carries a racer's append (writeCarried-level)") {
    val path = tmpDir("cms_compact")
    val t = clusteredTable(path)
    val cur = t.lastCommit.get
    val small = cur.dirs.take(2)
    val big = cur.dirs.drop(2)
    val merged = t.readDirsSubset(small).localCheckpoint()
    // an append lands after the compaction listed its dirs
    ManagedTable(spark, path).write(appendFrame(t, 7777, "x"), "APPEND", "append")
    val c = t.writeCarried(merged, big, "COMPACT(2 dirs)",
      expectedPrevVersion = Some(cur.version),
      rebase = Some(head =>
        if (small.forall(head.dirs.contains)) Some(head.dirs.diff(small)) else None))
    assert(c.version === cur.version + 2)
    assert(t.read.count() === 401)
    assert(t.read.filter($"id" === 7777).count() === 1,
      "the racer's append must survive the compaction")
    assertNoOrphanDirs(path)
  }

  /** An append into `path` whose data write blocks at the gate while
    * `racer` lands a metadata commit: retrying over that head would
    * republish the base's schema, mapping and constraints and revert
    * the racer, so the append must surface the conflict and leave no
    * dir behind. Returns the racer's version. */
  private def appendRacing(path: String)(racer: ManagedTable => Unit): Long = {
    val t = clusteredTable(path)
    val frame = appendFrame(t, 9000, "x")
    val err = raced {
      t.write(frame.filter(gateUdf($"v") === $"v"), "APPEND", "append"); ()
    } { racer(ManagedTable(spark, path)) }
    assert(err.isInstanceOf[ManagedTable.ConcurrentCommitException],
      s"expected a surfaced conflict, got $err")
    assert(t.read.filter($"id" === 9000).count() === 0)
    assertNoOrphanDirs(path)
    t.lastCommit.get.version
  }

  test("an append racing ADD CONSTRAINT surfaces the conflict, never drops the constraint") {
    val path = tmpDir("cms_append_constraint")
    val added = appendRacing(path)(_.addConstraint("v_present", "not_null:v"))
    val after = ManagedTable(spark, path).history.filter(_.version >= added)
    assert(after.forall(_.constraints.contains("v_present")),
      after.map(c => s"v${c.version} ${c.operation}: ${c.constraints}").mkString("; "))
  }

  test("an append racing RENAME COLUMN surfaces the conflict, never reverts the rename") {
    val path = tmpDir("cms_append_rename")
    val renamed = appendRacing(path)(_.renameColumn("v", "w"))
    val after = ManagedTable(spark, path).history.filter(_.version >= renamed)
    assert(after.forall(c => StructType.fromDDL(c.schemaDdl).fieldNames.contains("w") &&
      c.columnMap.get("w").contains("v")),
      after.map(c => s"v${c.version} ${c.operation}: ${c.schemaDdl} ${c.columnMap}").mkString("; "))
  }

  /** Runs `work` on its own thread, lands `racer` once `work`'s data
    * write reached the gate, and returns what `work` threw. */
  private def raced(work: => Unit)(racer: => Unit): Throwable = {
    MergeGate.arm()
    try {
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val th = new Thread(() => try work catch { case e: Throwable => err.set(e) })
      th.start()
      MergeGate.awaitReached()
      racer
      MergeGate.release()
      th.join(120000)
      err.get()
    } finally MergeGate.disarm()
  }

  /** A file-scoped merge result rewriting the table's first dir (`f`
    * shapes its rows), gated in its data write while `racer` lands on
    * another handle. The rebase answers the dir question only, and
    * says yes: the racer keeps every dir. Returns what the merge threw. */
  private def carriedRacing(path: String, t: ManagedTable)(f: DataFrame => DataFrame)(
      racer: ManagedTable => Unit): Throwable = {
    val cur = t.lastCommit.get
    val rewritten = cur.dirs.head
    raced {
      t.writeCarried(f(t.readDirsSubset(Seq(rewritten))).withColumn("v", gateUdf($"v")),
        cur.dirs.tail, "MERGE(scd1)", expectedPrevVersion = Some(cur.version),
        rebase = Some(head => Some(head.dirs.filterNot(_ == rewritten))))
      ()
    } { racer(ManagedTable(spark, path)) }
  }

  test("a rebase declines over a racing deletion-vector delete: the deleted row stays deleted") {
    val path = tmpDir("cms_carried_dv")
    val t = clusteredTable(path)
    val gone = t.readDirsSubset(Seq(t.lastCommit.get.dirs.head))
      .select("id").as[Int].head()
    val err = carriedRacing(path, t)(identity)(_.deleteVectors(col("id") === gone))
    assert(err.isInstanceOf[ManagedTable.ConcurrentCommitException],
      s"expected a surfaced conflict, got $err")
    assert(t.read.filter($"id" === gone).count() === 0, "the deleted row came back")
    assert(t.read.count() === 399)
    assertNoOrphanDirs(path)
  }

  test("a rebase declines over a racing ADD CONSTRAINT: no violating row lands") {
    val path = tmpDir("cms_carried_constraint")
    val t = clusteredTable(path)
    val err = carriedRacing(path, t)(_.withColumn("v", lit(null).cast("string")))(
      _.addConstraint("v_present", "not_null:v"))
    assert(err.isInstanceOf[ManagedTable.ConcurrentCommitException],
      s"expected a surfaced conflict, got $err")
    assert(t.lastCommit.get.constraints.contains("v_present"))
    assert(t.read.filter($"v".isNull).count() === 0, "a row violating the constraint landed")
    assertNoOrphanDirs(path)
  }

  test("a writeCarried whose rebase declines deletes the data dir it wrote") {
    val path = tmpDir("cms_leak_carried")
    val t = clusteredTable(path)
    val cur = t.lastCommit.get
    val frame = appendFrame(t, 9000, "x")
    val err = raced {
      t.writeCarried(rows(0 until 5, "y").withColumn("v", gateUdf($"v")),
        cur.dirs.tail, "MERGE(scd1)", expectedPrevVersion = Some(cur.version),
        rebase = Some(_ => None))
      ()
    } { ManagedTable(spark, path).write(frame, "APPEND", "append"); () }
    assert(err.isInstanceOf[ManagedTable.ConcurrentCommitException],
      s"expected a surfaced conflict, got $err")
    assert(t.read.count() === 401, "the racer's append stands")
    assertNoOrphanDirs(path)
  }

  test("a fenced replace that loses its publish race deletes the data dir it wrote") {
    val path = tmpDir("cms_leak_replace")
    val t = clusteredTable(path)
    val cur = t.lastCommit.get
    val frame = appendFrame(t, 9000, "x")
    val err = raced {
      t.write(t.read.withColumn("v", gateUdf($"v")), "MERGE(scd1)", "replace",
        expectedPrevVersion = Some(cur.version))
      ()
    } { ManagedTable(spark, path).write(frame, "APPEND", "append"); () }
    assert(err.isInstanceOf[ManagedTable.ConcurrentCommitException],
      s"expected a surfaced conflict, got $err")
    assert(t.read.count() === 401, "the racer's append stands")
    assertNoOrphanDirs(path)
  }
}
