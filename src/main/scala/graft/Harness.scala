package graft

import org.apache.spark.sql.SparkSession

/** Shared session construction for the driver-facing mains (Bench, Verify,
  * Profile, PlanDump): one place for the harness Spark config so measured
  * behavior (Bench) and verified/dumped behavior (Verify/PlanDump) cannot
  * drift apart.
  *
  * Config notes:
  *  - `spark.sql.shuffle.partitions` = core count: a LOCAL default only —
  *    AQE coalescing is on, and production deployments size this from
  *    input bytes (guide §2.2); the driver contract needs the same value
  *    at every SPARK_GRAFT_CPUS so the c8-vs-c32 scaling comparison is
  *    apples-to-apples per core.
  *  - `spark.shuffle.sort.bypassMergeThreshold=1`: sort-path shuffle
  *    writes at every partition count. The bypass writer opens one file
  *    per reduce partition per map task (P files + concat per task),
  *    which at small partition counts is pure FS-op overhead — measured
  *    2.4x on a tiny two-stage aggregation (guide §2.2: block count, not
  *    bytes, is the small-shuffle cost). Scale-neutral: past ~200
  *    partitions the bypass writer is never chosen anyway.
  *  - [[graftConf]]: the settings every graft session takes, whoever
  *    builds it (these mains, `Cli run`, `PipelineCli run`, the test
  *    session). Besides the extensions and the `graft` catalog:
  *    - `spark.sql.codegen.cache.maxEntries=1000`: Spark caches generated
  *      classes by (context class loader, source) in one JVM-wide LRU of
  *      100 entries by default. Standing views and CDC tasks re-run the
  *      same incremental plans in one long-lived driver: one perfbench
  *      `fold` block (6 ops) needs about 120 distinct classes and a whole
  *      3-block run about 270, so at 100 the LRU evicted them and every
  *      block recompiled 420–430 classes (7.2–7.6 s of Janino against
  *      about 16 s of op time, seed 1, 4 cores). Sized with headroom over
  *      that working set; a cached class is a few KB of bytecode.
  *    - `spark.sql.artifact.isolation.enabled=false`: graft adds no
  *      session artifacts (no `addJar`/`addFile`/`addArtifact`). With
  *      isolation on, SQL jobs run under a per-session executor class
  *      loader, so a class the driver compiled and the same class a task
  *      compiles never share a cache entry. Off, tasks run under the
  *      executor's default loader, which [[GraftExtensions]] hands the
  *      session's creating thread in local mode: each class then compiles
  *      once, not twice (a one-stage shape with a fresh literal: 2
  *      compiles → 1, pinned in `CodegenCacheSpec`). Together with the
  *      cache size, the first `fold` block compiles 119 classes and the
  *      next 33 (was 422 and 433), 4 `ingest` ops 12 (was 24) and 40
  *      `reads` ops 28 (was 55).
  */
object Harness {
  val graftConf: Seq[(String, String)] = Seq(
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.catalog.graft" -> "graft.table.GraftCatalog",
    "spark.sql.codegen.cache.maxEntries" -> "1000",
    "spark.sql.artifact.isolation.enabled" -> "false")

  /** `builder` with [[graftConf]] applied. */
  def withGraftConf(builder: SparkSession.Builder): SparkSession.Builder =
    graftConf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }

  def sessionBuilder(cpus: String): SparkSession.Builder = {
    val builder = withGraftConf(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
    // experiment knob: SPARK_GRAFT_CONF="k=v;k=v" overlays session conf
    // (the driver never sets it; recorded rounds run the fixed config)
    sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.split("=", 2))
      .collect { case Array(k, v) => builder.config(k.trim, v.trim) }
    builder
  }
}
