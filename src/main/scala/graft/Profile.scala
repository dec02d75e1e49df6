package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev tool: run ONE SparkEntry query with a job listener and print every
  * Spark job's wall time, task count and call site, plus the wall-vs-job
  * gap (driver-side time: planning, commit-log IO, FS ops). The
  * optimization rounds use it to attribute a lifecycle query's seconds to
  * specific actions instead of guessing.
  *
  * Usage: runMain graft.Profile <sfDir> <queryName> [repeat]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val repeat = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Harness.sessionBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm-up, mirroring Bench
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/nation.parquet").count()
    } catch { case _: Throwable => }

    final case class Job(id: Int, start: Long, site: String, tasks: Int,
                         stages: Seq[Int])
    val running = mutable.Map.empty[Int, Job]
    val finished = mutable.ArrayBuffer.empty[(Job, Long)]
    // per-stage executor task-time (run + deser + ser + gc), to split job
    // wall into "real task work" vs scheduling/codegen/broadcast overhead
    val stageTaskMs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val stageNames = mutable.Map.empty[Int, String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
        val site = js.stageInfos.lastOption.map(_.name).getOrElse("?")
        val tasks = js.stageInfos.map(_.numTasks).sum
        js.stageInfos.foreach(si => stageNames(si.stageId) = si.name)
        running(js.jobId) = Job(js.jobId, System.nanoTime(), site, tasks,
          js.stageInfos.map(_.stageId))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
        running.remove(je.jobId).foreach { j =>
          finished += ((j, System.nanoTime() - j.start))
        }
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        synchronized {
          val m = sc.stageInfo.taskMetrics
          if (m != null)
            stageTaskMs(sc.stageInfo.stageId) +=
              m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
        }
    }
    spark.sparkContext.addSparkListener(listener)

    // poor-man's driver profiler: sample the main thread's stack while the
    // query runs, attributing wall time to the deepest "interesting" frame
    // (graft code or a recognizable Spark/Hadoop subsystem) so the
    // wall-minus-job gap is explained rather than guessed.
    val mainThread = Thread.currentThread()
    val samples = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = false
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          val st = mainThread.getStackTrace
          // subsystem of the top (currently-executing) frames: is the
          // driver WAITING on a job, or WORKING (and in which layer)?
          def subsystem: String = {
            val top = st.take(25).map(_.getClassName)
            if (top.exists(c => c.contains("Unsafe") || c.endsWith("Object")) &&
                st.headOption.exists(e => e.getMethodName == "park" ||
                  e.getMethodName == "wait0" || e.getMethodName == "wait"))
              "JOB-WAIT/lock"
            else top.collectFirst {
              case c if c.contains("catalyst.analysis") => "analysis"
              case c if c.contains("catalyst.optimizer") => "optimizer"
              case c if c.contains("codegen") => "codegen"
              case c if c.contains("execution.datasources") => "datasources"
              case c if c.contains("parquet") => "parquet"
              case c if c.contains("hadoop") => "hadoopFS"
              case c if c.contains("json4s") || c.contains("jackson") => "json"
              case c if c.contains("catalyst") => "catalyst-other"
              case c if c.contains("spark.sql") => "sql-other"
            }.getOrElse(st.headOption.map(e =>
              s"${e.getClassName.split('.').last}.${e.getMethodName}").getOrElse("?"))
          }
          val graftFrame = st.find { e =>
            val c = e.getClassName
            c.startsWith("graft.") &&
              !c.startsWith("graft.Profile") && !c.startsWith("graft.SparkEntry")
          }
          val site = graftFrame.map(e =>
            s"${e.getClassName.split('.').last}.${e.getMethodName}:${e.getLineNumber}")
            .getOrElse("(no graft frame)")
          samples.merge(s"$subsystem <= $site", 1, (a, b) => a + b)
        }
        Thread.sleep(5)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    val fn = SparkEntry.queries(name)
    (1 to repeat).foreach { pass =>
      // reads and clears go through the listener's own lock (its handlers
      // mutate under `synchronized`); `running` is cleared too so a job
      // spanning passes isn't misattributed to the next pass
      listener.synchronized { finished.clear(); running.clear() }
      samples.clear()
      val c0 = Bench.counterSnapshot()
      sampling = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      sampling = false
      val wallSec = (System.nanoTime() - t0) / 1e9
      val c1 = Bench.counterSnapshot()
      // listener events are async; give the bus a moment to drain
      Thread.sleep(300)
      val jobs = listener.synchronized(finished.toVector)
      val jobSec = jobs.map(_._2).sum / 1e9
      println(f"== $name pass $pass: wall $wallSec%.2f s, " +
        f"${jobs.size} jobs totalling $jobSec%.2f s, " +
        f"driver gap ${wallSec - jobSec}%.2f s, " +
        s"${c1("codegen_compiles") - c0("codegen_compiles")} codegen compiles " +
        s"totalling ${c1("codegen_compile_ms") - c0("codegen_compile_ms")} ms ==")
      val bySite = jobs.groupBy(_._1.site).map { case (site, js) =>
        (site, js.size, js.map(_._2).sum / 1e9, js.map(_._1.tasks).sum)
      }.toSeq.sortBy(-_._3)
      bySite.take(40).foreach { case (site, n, sec, tasks) =>
        println(f"  $sec%8.3f s  n=$n%-4d tasks=$tasks%-6d $site")
      }
      println("-- top 25 individual jobs (wall / task-time / stages) --")
      val (taskMsSnap, namesSnap) =
        listener.synchronized((stageTaskMs.toMap.withDefaultValue(0L),
          stageNames.toMap))
      jobs.sortBy(-_._2).take(25).foreach { case (j, ns) =>
        val taskMs = j.stages.map(taskMsSnap).sum
        val names = j.stages.map(s => namesSnap.getOrElse(s, "?")).distinct
          .mkString(" | ")
        println(f"  ${ns / 1e9}%7.3f s  task ${taskMs / 1e3}%7.3f s  " +
          f"tasks=${j.tasks}%-5d $names")
      }
      println(s"-- driver stack samples (5 ms each), top 35 --")
      import scala.jdk.CollectionConverters._
      samples.asScala.toSeq.sortBy(-_._2.intValue).take(35).foreach {
        case (k, n) => println(f"  ${n.intValue * 0.005}%7.2f s  $k")
      }
    }
    spark.stop()
  }
}
