package graft

import java.util.concurrent.{ExecutionException, Executors, FutureTask}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import scala.util.Try

/**
 * The one pool for graft's driver-side concurrency: view folds of a
 * multi-view refresh, pipeline tasks of one DAG batch, commit-log entry
 * reads and manifest listings. One JVM-wide set of [[Threads]] daemon
 * threads (`graft-driver-N`), so nested fan-outs share one bound
 * instead of multiplying per-call pools.
 *
 * Nest-safe by caller-runs: a call hands at most `min(n - 1, Threads)`
 * drainers to the pool and drains the same task queue on the calling
 * thread. A call whose pool threads are all busy (a fold fanning out
 * inside a pipeline task) runs its tasks itself, so nesting can never
 * deadlock; drainers that start after the queue ran dry return at once.
 *
 * A pooled task runs under the submitter's Spark thread-locals: the
 * active session, the local properties (job group, description,
 * scheduler pool, SQL execution id) and the artifact state, through
 * Spark's own `SQLExecution.withThreadLocalCaptured`; and under the
 * submitter's context class loader, which Spark keys generated classes
 * by ([[GraftExtensions]]), so a plan compiled by the driver thread is
 * the cache entry a pooled task hits.
 */
object DriverPool {

  /** Pool threads, JVM-wide. */
  val Threads = 4

  private lazy val pool = {
    val n = new AtomicInteger(0)
    Executors.newFixedThreadPool(Threads, (r: Runnable) => {
      val t = new Thread(r, s"graft-driver-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
  }

  /** Runs `tasks` concurrently and returns their results in task order.
    * Waits for every task to end, then rethrows the first failure in
    * task order (the task's own exception): one failing task never
    * abandons its siblings mid-flight. */
  def map[A](spark: SparkSession, tasks: Seq[() => A]): Seq[A] = {
    if (tasks.sizeIs <= 1) return tasks.map(_())
    val futures = tasks.map(t => new FutureTask[A](() => t()))
    val next = new AtomicInteger(0)
    def drain(): Unit = {
      var i = next.getAndIncrement()
      while (i < futures.size) { futures(i).run(); i = next.getAndIncrement() }
    }
    val loader = Thread.currentThread().getContextClassLoader
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    (1 to math.min(tasks.size - 1, Threads)).foreach { _ =>
      SQLExecution.withThreadLocalCaptured(session, pool) {
        val t = Thread.currentThread()
        val own = t.getContextClassLoader
        t.setContextClassLoader(loader)
        try drain() finally t.setContextClassLoader(own)
      }
    }
    drain()
    // every task is claimed once the caller's drain returns
    futures.map(f => Try(f.get())).map(_.fold({
      case e: ExecutionException => throw e.getCause
      case e => throw e
    }, identity))
  }
}
