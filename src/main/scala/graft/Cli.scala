package graft

import graft.config.Config
import graft.secrets.JsonFileSecretBackend
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/**
 * CLI: `graft.Cli run -t task.json [--secrets secrets.json]` and
 * `graft.Cli validate -t task.json` — the task-run/validate verbs of the
 * reference CLIs (core/task/spark/cli.py:123-192,
 * framework/cli/cli.py:70-316).
 */
object Cli {

  private[graft] def parseArgs(args: Array[String]): Map[String, String] =
    args.drop(1).sliding(2, 2).collect {
      case Array(k, v) => k.stripPrefix("--").stripPrefix("-") -> v
    }.toMap

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { System.err.println("usage: run|validate -t task.json [--secrets s.json]"); sys.exit(2) }
    val verb = args(0)
    val opts = parseArgs(args)
    val taskFile = opts.getOrElse("t", { System.err.println("-t task.json required"); sys.exit(2); "" })
    val conf = Config.parseTask(Files.readString(Paths.get(taskFile)))

    verb match {
      case "validate" =>
        val errs = Config.validate(conf)
        if (errs.isEmpty) { println(s"OK ${conf.name}"); sys.exit(0) }
        else { errs.foreach(e => System.err.println(s"INVALID: $e")); sys.exit(1) }

      case "run" =>
        val spark = Harness.withGraftConf(SparkSession.builder()
          .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
          .appName(conf.name)
          .config("spark.sql.shuffle.partitions",
            sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")))
          .config(conf.sparkConf)
          .getOrCreate()
        try {
          val secrets = opts.get("secrets").map(new JsonFileSecretBackend(_))
          graft.task.SparkTask.run(spark, conf, secrets)
          println(s"OK ${conf.name}")
        } finally spark.stop()

      case other =>
        System.err.println(s"unknown verb $other"); sys.exit(2)
    }
  }
}

/**
 * Pipeline-level CLI: `graft.PipelineCli run -p project.json -n <pipeline>`
 * and `validate -p project.json` — the framework verbs
 * (reference framework/cli/cli.py:70-316 validate/run).
 */
object PipelineCli {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { System.err.println("usage: run|validate -p project.json [-n pipeline]"); sys.exit(2) }
    val verb = args(0)
    val opts = Cli.parseArgs(args)
    val projectFile = opts.getOrElse("p", { System.err.println("-p project.json required"); sys.exit(2); "" })
    val project = graft.contract.ProjectContract.parse(
      Files.readString(Paths.get(projectFile)))

    verb match {
      case "validate" =>
        val errs = graft.contract.ProjectContract.validate(project)
        if (errs.isEmpty) { println(s"OK ${project.name}"); sys.exit(0) }
        else { errs.foreach(e => System.err.println(s"INVALID: $e")); sys.exit(1) }
      case "run" =>
        val pipeline = opts.getOrElse("n", { System.err.println("-n pipeline required"); sys.exit(2); "" })
        val spark = Harness.withGraftConf(SparkSession.builder()
          .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
          .appName(s"${project.name}/$pipeline")
          .config("spark.sql.shuffle.partitions",
            sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")))
          .getOrCreate()
        try {
          val statuses = graft.contract.ProjectContract.runPipeline(spark, project, pipeline)
          statuses.toSeq.sortBy(_._1).foreach { case (t, s) => println(s"$t: $s") }
          if (statuses.values.exists(_.isInstanceOf[graft.runner.PipelineRunner.Failed]))
            sys.exit(1)
        } finally spark.stop()
      case other =>
        System.err.println(s"unknown verb $other"); sys.exit(2)
    }
  }
}
