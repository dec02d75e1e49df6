package graft.runner

import graft.config.Config.TaskConf
import graft.secrets.SecretBackend
import graft.task.SparkTask
import org.apache.spark.sql.SparkSession
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/**
 * Local pipeline DAG runner (reference:
 * projectoneflow-framework/.../runner/local.py:101-150, 242-442):
 * tasks execute in topological batches on [[graft.DriverPool]] (threads
 * instead of subprocesses — same fail-fast dependency semantics, one
 * shared SparkSession, which is the natural Spark deployment shape); a failed
 * task marks every transitive dependent SKIPPED.
 */
object PipelineRunner {

  final case class PipelineTask(name: String, conf: TaskConf,
                                dependsOn: Seq[String] = Nil)

  sealed trait Status
  case object Succeeded extends Status
  final case class Failed(error: Throwable) extends Status
  case object Skipped extends Status

  final class CycleError(msg: String) extends RuntimeException(msg)

  /** Kahn topological batches; throws [[CycleError]] on a cycle
    * (mirrors check_task_execution_dag, framework/validation/
    * pipeline.py:106-153). */
  def topoBatches(tasks: Seq[PipelineTask]): Seq[Seq[PipelineTask]] = {
    val byName = tasks.map(t => t.name -> t).toMap
    tasks.foreach(t => t.dependsOn.foreach { d =>
      require(byName.contains(d), s"task ${t.name} depends on unknown task $d")
    })
    var remaining = tasks
    val done = scala.collection.mutable.Set.empty[String]
    val batches = Seq.newBuilder[Seq[PipelineTask]]
    while (remaining.nonEmpty) {
      val ready = remaining.filter(_.dependsOn.forall(done.contains))
      if (ready.isEmpty)
        throw new CycleError(
          s"dependency cycle among: ${remaining.map(_.name).mkString(",")}")
      batches += ready
      done ++= ready.map(_.name)
      remaining = remaining.filterNot(t => done.contains(t.name))
    }
    batches.result()
  }

  /**
   * Run the pipeline; returns terminal status per task. Tasks within a
   * batch run concurrently on [[graft.DriverPool]]; any failure marks
   * transitive dependents Skipped without cancelling unrelated tasks.
   */
  def run(spark: SparkSession, tasks: Seq[PipelineTask],
          secrets: Option[SecretBackend] = None): Map[String, Status] = {
    val statuses = new ConcurrentHashMap[String, Status]()
    topoBatches(tasks).foreach { batch =>
      val runnable = batch.filter(_.dependsOn.forall(d =>
        statuses.get(d) == Succeeded))
      batch.diff(runnable).foreach(t => statuses.put(t.name, Skipped))
      graft.DriverPool.map(spark, runnable.map { t => () =>
        try { SparkTask.run(spark, t.conf, secrets); statuses.put(t.name, Succeeded) }
        catch { case e: Throwable => statuses.put(t.name, Failed(e)) }
        ()
      })
    }
    statuses.asScala.toMap
  }
}
