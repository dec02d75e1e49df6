package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import scala.jdk.CollectionConverters._

/** [[DriverPool]]: one bounded pool that nested calls share without
  * deadlock, with results and failures in task order, and whose pooled
  * tasks run under the caller's Spark thread-locals and class loader. */
class DriverPoolSpec extends SparkSpec {

  private def poolThreads: Int =
    Thread.getAllStackTraces.keySet.asScala.count(_.getName.startsWith("graft-driver-"))

  test("calls nested 3 deep with 6 tasks each finish on at most 4 pool threads, in task order") {
    // the session is built here, not on the caller thread below: the
    // thread that builds it gets the task class loader (GraftExtensions)
    val session = spark
    val sampling = new AtomicBoolean(true)
    val peak = new AtomicInteger(0)
    val sampler = new Thread(() =>
      while (sampling.get()) { peak.accumulateAndGet(poolThreads, math.max); Thread.sleep(1) })
    sampler.setDaemon(true)
    sampler.start()
    val leaves = new AtomicInteger(0)
    def level(depth: Int): Seq[Int] =
      DriverPool.map(session, (0 until 6).map { i => () =>
        if (depth == 3) { Thread.sleep(2); leaves.incrementAndGet(); i }
        else { assert(level(depth + 1) === (0 until 6)); i }
      })
    val result = new AtomicReference[Seq[Int]](Nil)
    val caller = new Thread(() => result.set(level(1)))
    caller.start()
    caller.join(30000)
    sampling.set(false)
    sampler.join()
    assert(!caller.isAlive, "nested calls did not finish within 30 s")
    assert(result.get === (0 until 6))
    assert(leaves.get === 216)
    assert(peak.get >= 1 && peak.get <= DriverPool.Threads,
      s"${peak.get} live graft-driver threads")
  }

  test("the first failure in task order surfaces after every task ended") {
    val ended = new AtomicInteger(0)
    val failAt = Set(1, 4)
    val e = intercept[IllegalStateException] {
      DriverPool.map(spark, (0 until 6).map { i => () =>
        try {
          // later tasks outlive the failing ones
          Thread.sleep(if (failAt(i)) 0 else 20L * i)
          if (failAt(i)) throw new IllegalStateException(s"task $i")
          i
        } finally ended.incrementAndGet()
      })
    }
    assert(e.getMessage === "task 1")
    assert(ended.get === 6, "a failure surfaced while sibling tasks still ran")
  }

  test("a pooled task runs under the caller's job group, description and class loader") {
    val starts = new ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = starts.add(js.properties)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val t = Thread.currentThread()
    val ownLoader = t.getContextClassLoader
    val loader = new java.net.URLClassLoader(Array.empty[java.net.URL], ownLoader)
    t.setContextClassLoader(loader)
    sc.setJobGroup("driver-pool-spec", "pooled job")
    try {
      val seen = DriverPoolSpec.onPoolThread(spark) {
        sc.parallelize(Seq(1), 1).count()
        Thread.currentThread().getContextClassLoader
      }
      assert(seen eq loader)
    } finally {
      sc.clearJobGroup()
      t.setContextClassLoader(ownLoader)
    }
    def props = starts.asScala.filter(p =>
      p != null && p.getProperty("spark.jobGroup.id") == "driver-pool-spec").toSeq
    val deadline = System.currentTimeMillis() + 10000
    while (props.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(10)
    sc.removeSparkListener(listener)
    assert(props.size === 1)
    assert(props.head.getProperty("spark.job.description") === "pooled job")
  }
}

object DriverPoolSpec {
  /** Runs `body` on a task the caller cannot run itself: the other task
    * of a two-task call holds its thread until `body` ran on a pool
    * thread. */
  def onPoolThread[A](spark: org.apache.spark.sql.SparkSession)(body: => A): A = {
    val ran = new CountDownLatch(1)
    val out = new AtomicReference[Option[A]](None)
    val task = () =>
      if (Thread.currentThread().getName.startsWith("graft-driver-")) {
        if (out.get.isEmpty) { out.set(Some(body)); ran.countDown() }
      } else assert(ran.await(60, TimeUnit.SECONDS), "no pool thread ran the task")
    DriverPool.map(spark, Seq(task, task))
    out.get.get
  }
}
