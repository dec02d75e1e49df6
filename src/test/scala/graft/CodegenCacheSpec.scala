package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit}

/** The session set-up keeps generated classes compiled once: the driver
  * and the local executor's task threads share one cache key
  * (`GraftExtensions` + artifact isolation off), and the cache holds
  * graft's working set (`Harness.graftConf`). Counts are JVM-wide, so
  * this spec runs nothing concurrently with its queries. */
class CodegenCacheSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Compiles one run of a one-stage shape costs; a literal is inlined
    * into the generated source, so each fresh `x` is a fresh class. */
  private def compilesOf(x: Long): Long = {
    val before = compiles
    spark.range(0, 100, 1, 4).filter(col("id") =!= lit(x)).collect()
    compiles - before
  }

  // distinct from every literal another suite could have compiled
  private val base = System.nanoTime()

  test("a fresh plan shape compiles once, for the driver and the tasks alike; a rerun compiles nothing") {
    compilesOf(base) // warms the shape-independent classes
    assert(compilesOf(base + 1) === 1L)
    assert(compilesOf(base + 1) === 0L)
  }

  test("a shape compiled on the caller is the cache entry a pooled task hits") {
    compilesOf(base + 2000)
    val before = compiles
    compilesOf(base + 2001)
    DriverPoolSpec.onPoolThread(spark)(compilesOf(base + 2001))
    assert(compiles - before === 1L)
  }

  test("a thread started before the session compiles a fresh shape once") {
    // it keeps the loader it started with — the app loader, as a
    // notebook's or a server's request thread that predates getOrCreate
    val appLoader = classOf[CodegenCacheSpec].getClassLoader
    compilesOf(base + 3000)
    var n = -1L
    val th = new Thread(() => n = compilesOf(base + 3001))
    th.setContextClassLoader(appLoader)
    th.start(); th.join()
    assert(n === 1L)
  }

  test("the generated-class cache holds more than Spark's default 100 classes") {
    assert(Harness.graftConf.toMap.get("spark.sql.codegen.cache.maxEntries").contains("1000"))
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "1000")
    val first = base + 1000
    compilesOf(first)
    (1 to 150).foreach(i => compilesOf(first + i))
    assert(compilesOf(first) === 0L, "the first of 151 shapes was evicted")
  }
}
