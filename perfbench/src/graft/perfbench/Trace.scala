package graft.perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** IO counters read from outside the program: the JVM-wide commit-log
  * counters on the `ManagedTable` companion, plus bytes written through
  * Hadoop's local file system. The table counters are looked up by name
  * through reflection, so a refactor that moves one leaves the benchmark
  * running; a missing counter reads 0 and is listed in `missing`. */
object Counters {
  val Names: Seq[String] = Seq("log_entry_reads", "log_listings", "ptr_reads",
    "ptr_probes", "change_feed_reads", "dv_scan_dirs", "size_listings")
  private val accessors = Seq("logEntryReads", "logListings", "ptrReads",
    "ptrProbes", "changeFeedReads", "dvScanDirs", "sizeListings")

  private val module = graft.table.ManagedTable
  private val handles: Seq[Option[AtomicLong]] = accessors.map { a =>
    try Some(module.getClass.getMethod(a).invoke(module).asInstanceOf[AtomicLong])
    catch { case _: ReflectiveOperationException | _: ClassCastException => None }
  }
  val missing: Seq[String] =
    Names.zip(handles).collect { case (n, None) => n }

  private def bytesWritten: Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  /** Table counters in [[Names]] order, then bytes written. */
  def snapshot(): Array[Long] =
    (handles.map(_.map(_.get).getOrElse(0L)) :+ bytesWritten).toArray
}

/** Spark job and task timeline, recorded from the listener bus. Events
  * carry their own timestamps, so jobs are attributed to spans by time
  * after the bus drains, not when the events arrive. */
final class JobTimeline extends SparkListener {
  final case class Job(startMs: Long, endMs: Long)
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  /** (finish time ms, executor run time ms) per task. */
  val tasks = new ConcurrentLinkedQueue[(Long, Long)]()
  private val events = new AtomicLong(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    open.put(e.jobId, e.time); events.incrementAndGet(); ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = open.remove(e.jobId)
    jobs.add(Job(s, e.time)); events.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (e.taskMetrics != null)
      tasks.add((e.taskInfo.finishTime, e.taskMetrics.executorRunTime))
    events.incrementAndGet(); ()
  }

  /** Wait until no job is open and no event arrived for 200 ms. */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
      !(open.isEmpty && events.get == last)) {
      last = events.get
      Thread.sleep(200)
    }
  }
}

/** One timed call into a layer. */
final case class Span(layer: String, startMs: Long, endMs: Long, ns: Long,
                      counters: Array[Long])

/** Spans around the benchmark's calls into the program's layers. With
  * tracing off a span only runs its body; the listener is not even
  * registered, so untraced runs measure the program alone. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val timeline: Option[JobTimeline] =
    if (!enabled) None
    else {
      val t = new JobTimeline
      spark.sparkContext.addSparkListener(t)
      Some(t)
    }
  /** Spans are kept only while `recording` (the measured phase). */
  @volatile var recording = false
  val spans = ArrayBuffer.empty[Span]
  /** (start ms, end ms, seconds) of every measured op: the `spark` layer. */
  val ops = ArrayBuffer.empty[(Long, Long, Double)]
  /** Commit retries reported by the commits the ops made. */
  var retries = 0L

  def apply[A](layer: String)(body: => A): A =
    if (!enabled || !recording) body
    else {
      val c0 = Counters.snapshot()
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val ns = System.nanoTime() - t0
        val m1 = System.currentTimeMillis()
        val c1 = Counters.snapshot()
        spans += Span(layer, m0, m1, ns, c1.zip(c0).map { case (a, b) => a - b })
      }
    }

  def op(startMs: Long, endMs: Long, secs: Double): Unit =
    if (enabled && recording) { ops += ((startMs, endMs, secs)); () }

  /** Jobs started, covered job time (s) and executor task time (s)
    * inside [s, e] ms. */
  def sparkIn(s: Long, e: Long): (Long, Double, Double) = timeline match {
    case None => (0L, 0.0, 0.0)
    case Some(t) =>
      val inside = t.jobs.asScala.toSeq.filter(j => j.startMs >= s && j.startMs <= e)
      val clipped = t.jobs.asScala.toSeq
        .map(j => (math.max(j.startMs, s), math.min(j.endMs, e)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var (cs, ce) = (-1L, -1L)
      clipped.foreach { case (a, b) =>
        if (a > ce) { covered += ce - cs; cs = a; ce = b }
        else ce = math.max(ce, b)
      }
      covered += ce - cs
      val taskMs = t.tasks.asScala.iterator
        .collect { case (f, run) if f >= s && f <= e => run }.sum
      (inside.size.toLong, covered / 1e3, taskMs / 1e3)
  }

  def drain(): Unit = timeline.foreach(_.drain())
}
