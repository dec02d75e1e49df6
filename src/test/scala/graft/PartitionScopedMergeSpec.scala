package graft

import graft.table.ManagedTable
import graft.write.{WriteOptions, Writers}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Partition-scoped merge commits (reference `use_paritition_column_in_merge`
  * file-skipping intent, write.py:190-213, :472-486): when the physical
  * partition columns all participate in the merge condition, scd1/2/3 read
  * only the source's partitions and commit prevDirs − touched + new through
  * [[ManagedTable.selectiveOverwrite]] — a one-partition merge into a large
  * table must not rewrite (or even read) the other partitions. */
class PartitionScopedMergeSpec extends SparkSpec {
  import spark.implicits._

  private val T0 = "2026-01-05 00:00:00"
  private val T1 = "2026-01-06 00:00:00"

  private def scoped(t: String) = WriteOptions(now = Some(t),
    usePartitionColumnInMerge = Seq("dt"))

  private def day(d: String, rows: (Int, String)*): DataFrame =
    rows.toSeq.toDF("id", "v").select($"id", lit(d).as("dt"), $"v")

  /** (name, length, modificationTime) of every data file under `dir`. */
  private def fileStamps(dir: String): Set[(String, Long, Long)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSet[org.apache.hadoop.fs.FileStatus]
      .filter(_.isFile).filterNot(_.getPath.getName.startsWith("_"))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
  }

  test("scd1 merge touching one partition leaves the other partition's files byte-identical") {
    val path = tmpDir("psm1")
    val t = ManagedTable(spark, path)
    Writers.scd1(spark, path,
      day("2026-01-01", 1 -> "a", 2 -> "b").unionByName(day("2026-01-02", 3 -> "c")),
      Seq("id"), scoped(T0), partitionBy = Seq("dt"))

    val v1 = t.lastCommit.get
    val untouched = v1.dirs.find(_.endsWith("dt=2026-01-01")).getOrElse(
      fail(s"v1 commit should decompose to partition subdirs, got ${v1.dirs}"))
    val before = fileStamps(untouched)

    // second load: update id=3, insert id=4 — only partition 2026-01-02
    Writers.scd1(spark, path, day("2026-01-02", 3 -> "C", 4 -> "d"),
      Seq("id"), scoped(T1), partitionBy = Seq("dt"))

    val v2 = t.lastCommit.get
    assert(v2.operation === "MERGE(scd1)")
    assert(v2.operationMetrics("replacedPartitions") === "1")
    // the untouched partition's ORIGINAL subdir is carried by reference
    assert(v2.dirs.contains(untouched))
    assert(fileStamps(untouched) === before)

    val now = t.read.select($"id", $"dt", $"v",
      col(graft.meta.Meta.ValidToTs).cast("string").as("vt"))
    assert(now.filter($"dt" === "2026-01-01").select("id", "v").as[(Int, String)]
      .collect().toSet === Set(1 -> "a", 2 -> "b"))
    assert(now.filter($"dt" === "2026-01-02").select("id", "v").as[(Int, String)]
      .collect().toSet === Set(3 -> "C", 4 -> "d"))
    // untouched rows keep their T0 stamp; updated + inserted rows carry T1
    assert(now.filter($"id" === 1).select("vt").as[String].head() === T0)
    assert(now.filter($"id" === 3).select("vt").as[String].head() === T1)
  }

  test("scoped merge target PRUNES untouched partitions at the scan, not post-filter") {
    val path = tmpDir("psm_prune")
    val t = ManagedTable(spark, path)
    Writers.scd1(spark, path,
      day("2026-01-01", 1 -> "a").unionByName(day("2026-01-02", 2 -> "b"))
        .unionByName(day("2026-01-03", 3 -> "c")),
      Seq("id"), scoped(T0), partitionBy = Seq("dt"))
    val target = Writers.scopedTarget(t, day("2026-01-02", 2 -> "B2"), Seq("dt"))
    target.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case s: FileSourceScanExec => Seq(s)
      case q: QueryStageExec => scans(q.plan)
    }.flatten
    val plan = target.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = scans(plan).head
    assert(scan.partitionFilters.nonEmpty,
      "touched-partition predicate must reach the scan as a partition filter")
    // planning-time pruning: only the touched partition's files are selected
    assert(scan.relation.location.inputFiles.length === 3, "3 partitions on disk")
    assert(scan.selectedPartitions.partitionCount === 1,
      s"expected 1 selected partition, got ${scan.selectedPartitions.partitionCount}")
    assert(target.select("id").as[Int].collect().toSeq === Seq(2))
  }

  test("scoped scd1 result equals the unscoped full-rewrite result") {
    val ps = tmpDir("psm2s"); val pf = tmpDir("psm2f")
    val l0 = day("2026-01-01", 1 -> "a", 2 -> "b").unionByName(day("2026-01-02", 3 -> "c"))
    val l1 = day("2026-01-02", 3 -> "C", 4 -> "d")
    Writers.scd1(spark, ps, l0, Seq("id"), scoped(T0), partitionBy = Seq("dt"))
    Writers.scd1(spark, ps, l1, Seq("id"), scoped(T1), partitionBy = Seq("dt"))
    // unscoped: same merge conjuncts, whole-table replace commit
    Writers.scd1(spark, pf, l0, Seq("id"),
      WriteOptions(now = Some(T0), usePartitionColumnInMerge = Seq("dt")))
    Writers.scd1(spark, pf, l1, Seq("id"),
      WriteOptions(now = Some(T1), usePartitionColumnInMerge = Seq("dt")))
    assertSameRows(
      ManagedTable(spark, ps).read.select($"id", $"dt", $"v"),
      ManagedTable(spark, pf).read.select($"id", $"dt", $"v"))
  }

  test("scd2 partition-scoped merge keeps history and other partitions intact") {
    val path = tmpDir("psm3")
    val t = ManagedTable(spark, path)
    Writers.scd2(spark, path,
      day("2026-01-01", 1 -> "a").unionByName(day("2026-01-02", 3 -> "c")),
      Seq("id"), scoped(T0), partitionBy = Seq("dt"))
    val untouched = t.lastCommit.get.dirs.find(_.endsWith("dt=2026-01-01")).get
    val before = fileStamps(untouched)

    Writers.scd2(spark, path, day("2026-01-02", 3 -> "CHANGED"),
      Seq("id"), scoped(T1), partitionBy = Seq("dt"))
    assert(fileStamps(untouched) === before)
    val rows = t.read.filter($"id" === 3)
      .select($"v", col(graft.meta.Meta.Active)).as[(String, String)].collect().toSet
    assert(rows === Set("c" -> "N", "CHANGED" -> "Y"))
    assert(t.read.filter($"id" === 1).count() === 1)
  }

  test("partition-scoped merge records a change data feed when enabled") {
    val path = tmpDir("psm4")
    val t = ManagedTable(spark, path)
    def opts(ts: String) = scoped(ts).copy(enableChangeDataFeed = true)
    Writers.scd1(spark, path,
      day("2026-01-01", 1 -> "a").unionByName(day("2026-01-02", 3 -> "c")),
      Seq("id"), opts(T0), partitionBy = Seq("dt"))
    Writers.scd1(spark, path, day("2026-01-02", 3 -> "C", 4 -> "d"),
      Seq("id"), opts(T1), partitionBy = Seq("dt"))
    val feed = t.readChangeFeed(2, Some(2))
      .select($"id", $"_change_type").as[(Int, String)].collect().toSet
    assert(feed === Set(3 -> "update_preimage", 3 -> "update_postimage", 4 -> "insert"))
  }

  test("scopedTarget caps the literal predicate on wide backfills (range fallback)") {
    val path = tmpDir("psm_cap")
    val t = ManagedTable(spark, path)
    // table: 3 partitions — one inside the backfill's dt range, two outside
    val table = day("m0500", 1 -> "in").unionByName(day("a0000", 2 -> "below"))
      .unionByName(day("z9999", 3 -> "above"))
    Writers.scd1(spark, path, table, Seq("id"), scoped(T0), partitionBy = Seq("dt"))
    // backfill source touching 1500 distinct partitions (> KeySet.Cap):
    // a literal OR would put 1500 conjunctions in the plan
    val wide = spark.range(1500).select(($"id" + 10).cast("int").as("id"),
      format_string("m%04d", $"id").as("dt"), lit("w").as("v"))
    val target = Writers.scopedTarget(t, wide, Seq("dt"))
    // bounded predicate: the filter tree must hold O(columns) literals
    // (per-column min/max ranges), never one equality per touched tuple
    val nLiterals = target.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.collect {
          case l: org.apache.spark.sql.catalyst.expressions.Literal => l
        }.size
    }.sum
    assert(nLiterals <= 8, s"expected a range-fallback predicate, got $nLiterals literals")
    // conservative and still pruning: the in-range partition is read,
    // the out-of-range ones are not
    assert(target.select("dt").as[String].collect().toSeq === Seq("m0500"))
  }

  test("merge without partitionBy (or with uncovered partition columns) still full-rewrites") {
    val path = tmpDir("psm5")
    val t = ManagedTable(spark, path)
    // usePartitionColumnInMerge set but table not physically partitioned →
    // plain replace commit, one whole data dir
    Writers.scd1(spark, path, day("2026-01-01", 1 -> "a"), Seq("id"), scoped(T0))
    Writers.scd1(spark, path, day("2026-01-01", 1 -> "A"), Seq("id"), scoped(T1))
    val c = t.lastCommit.get
    assert(!c.operationMetrics.contains("replacedPartitions"))
    assert(c.dirs.size === 1)
    assert(t.read.select("v").as[String].collect().toSeq === Seq("A"))
  }
}
