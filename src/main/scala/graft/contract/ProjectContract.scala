package graft.contract

import com.fasterxml.jackson.databind.JsonNode
import graft.config.Config
import graft.config.Config.TaskConf
import graft.meta.DataObjects._
import graft.runner.PipelineRunner
import graft.runner.PipelineRunner.PipelineTask
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.DataType

/**
 * Project contract: one JSON document declaring the catalog objects
 * (schemas → tables/views/volumes) and the pipelines of tasks, plus
 * validation over the whole tree.
 *
 * Re-expresses the reference's framework contract
 * (reference: projectoneflow-framework/.../contract/project.py:31-257,
 * config/objects.py:59-1435) and its validation passes
 * (framework/validation/pipeline.py:106-153 DAG checks,
 * framework/validation/data_objects.py:32-233 schema/column checks).
 * The runnable surface here is local execution via [[PipelineRunner]];
 * [[DeployDescriptor]] renders the same contract as Databricks job JSON
 * and a full Terraform `.tf.json` stack (applying it is the IaC tool's
 * job, not this library's).
 */
object ProjectContract {

  /** Pipeline schedule — the reference's `PipelineRefreshPolicy`
    * (core/schemas/deploy.py:19-31) with the same defaults: daily at
    * midnight, UTC, unpaused. */
  final case class Schedule(
      cronExpression: String = "0 0 0 * * ?",
      timezoneId: String = "UTC",
      status: String = "UNPAUSED")

  /** Workspace-object access entry for a pipeline's job — the
    * `databricks_permissions` access-control shape (one level per
    * principal), as opposed to data-object [[DataObjects.Grant]]s. */
  final case class Permission(principal: String, level: String)

  final case class Pipeline(name: String, tasks: Seq[PipelineTask],
                            schedule: Schedule = Schedule(),
                            tags: Map[String, String] = Map.empty,
                            permissions: Seq[Permission] = Nil)

  final case class Project(
      name: String,
      schemas: Seq[SchemaDef] = Nil,
      pipelines: Seq[Pipeline] = Nil)

  // ------------------------------------------------------------- JSON

  import scala.jdk.CollectionConverters._

  private def optStr(n: JsonNode, f: String): Option[String] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asText())

  private def arr(n: JsonNode, f: String): Seq[JsonNode] =
    Option(n.get(f)).map(_.elements().asScala.toSeq).getOrElse(Nil)

  private def grants(n: JsonNode): Seq[Grant] =
    arr(n, "grants").map(g => Grant(
      principal = g.get("principal").asText(),
      privileges = arr(g, "privileges").map(_.asText())))

  def parse(json: String): Project = {
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    Project(
      name = n.get("name").asText(),
      schemas = arr(n, "schemas").map { s =>
        SchemaDef(
          name = s.get("name").asText(),
          tables = arr(s, "tables").map { t =>
            TableDef(
              name = t.get("name").asText(),
              columns = arr(t, "columns").map { c =>
                ColumnSchema(
                  name = c.get("name").asText(),
                  dataType = c.get("type").asText(),
                  comment = optStr(c, "comment"),
                  nullable = Option(c.get("nullable")).forall(_.asBoolean(true)),
                  identity = Option(c.get("identity")).exists(_.asBoolean(false)),
                  identityStart = Option(c.get("identity_start")).map(_.asLong()).getOrElse(1L),
                  identityStep = Option(c.get("identity_step")).map(_.asLong()).getOrElse(1L),
                  generateExpr = optStr(c, "generate_expr"),
                  default = optStr(c, "default"))
              },
              partitionBy = arr(t, "partition_by").map(_.asText()),
              properties = Option(t.get("properties")).map(p =>
                p.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
                .getOrElse(Map.empty),
              comment = optStr(t, "comment"),
              location = optStr(t, "location"),
              grants = grants(t))
          },
          views = arr(s, "views").map(v =>
            ViewDef(v.get("name").asText(), v.get("query").asText(),
              grants = grants(v))),
          volumes = arr(s, "volumes").map(v =>
            VolumeDef(v.get("name").asText(), v.get("location").asText(),
              grants = grants(v))),
          grants = grants(s))
      },
      pipelines = arr(n, "pipelines").map { p =>
        Pipeline(
          name = p.get("name").asText(),
          tasks = arr(p, "tasks").map { t =>
            PipelineTask(
              name = t.get("name").asText(),
              conf = Config.parseTask(t.toString),
              dependsOn = arr(t, "depends_on").map(_.asText()))
          },
          schedule = Option(p.get("refresh_policy")).filterNot(_.isNull)
            .map { rp =>
              val d = Schedule()
              Schedule(
                cronExpression = optStr(rp, "cron_expression").getOrElse(d.cronExpression),
                timezoneId = optStr(rp, "timezone_id").getOrElse(d.timezoneId),
                status = optStr(rp, "status").getOrElse(d.status))
            }.getOrElse(Schedule()),
          tags = Option(p.get("tags")).filterNot(_.isNull).map(tn =>
            tn.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
            .getOrElse(Map.empty),
          permissions = arr(p, "permissions").map(pn => Permission(
            principal = pn.get("principal").asText(),
            level = pn.get("level").asText())))
      })
  }

  // ------------------------------------------------------- validation

  /** All contract violations (empty = valid). */
  def validate(p: Project): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (p.name.isEmpty) errs += "project name empty"

    val dupSchemas = p.schemas.groupBy(_.name).collect { case (k, v) if v.size > 1 => k }
    if (dupSchemas.nonEmpty) errs += s"duplicate schemas: ${dupSchemas.mkString(",")}"

    for (s <- p.schemas) {
      val names = s.tables.map(_.name) ++ s.views.map(_.name) ++ s.volumes.map(_.name)
      val dups = names.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
      if (dups.nonEmpty) errs += s"schema ${s.name}: duplicate object names ${dups.mkString(",")}"
      for (t <- s.tables) {
        if (t.columns.isEmpty) errs += s"table ${s.name}.${t.name}: no columns"
        val dupCols = t.columns.groupBy(_.name).collect { case (k, v) if v.size > 1 => k }
        if (dupCols.nonEmpty)
          errs += s"table ${s.name}.${t.name}: duplicate columns ${dupCols.mkString(",")}"
        t.columns.foreach { c =>
          if (!c.identity)
            try DataType.fromDDL(c.dataType)
            catch { case _: Throwable =>
              errs += s"table ${s.name}.${t.name}.${c.name}: unparseable type '${c.dataType}'"
            }
        }
        t.partitionBy.foreach { pc =>
          if (!t.columns.exists(_.name == pc))
            errs += s"table ${s.name}.${t.name}: partition column $pc not in schema"
        }
        if (t.columns.count(_.identity) > 1)
          errs += s"table ${s.name}.${t.name}: multiple identity columns"
      }
      val allGrants =
        s.grants.map(s"schema ${s.name}" -> _) ++
          s.tables.flatMap(t => t.grants.map(s"table ${s.name}.${t.name}" -> _)) ++
          s.views.flatMap(v => v.grants.map(s"view ${s.name}.${v.name}" -> _)) ++
          s.volumes.flatMap(v => v.grants.map(s"volume ${s.name}.${v.name}" -> _))
      allGrants.foreach { case (where, g) =>
        if (g.principal.isEmpty) errs += s"$where: grant with empty principal"
        if (g.privileges.isEmpty)
          errs += s"$where: grant for '${g.principal}' has no privileges"
      }
    }

    val dupPipelines = p.pipelines.groupBy(_.name).collect { case (k, v) if v.size > 1 => k }
    if (dupPipelines.nonEmpty) errs += s"duplicate pipelines: ${dupPipelines.mkString(",")}"
    for (pl <- p.pipelines) {
      val dupTasks = pl.tasks.groupBy(_.name).collect { case (k, v) if v.size > 1 => k }
      if (dupTasks.nonEmpty)
        errs += s"pipeline ${pl.name}: duplicate tasks ${dupTasks.mkString(",")}"
      try PipelineRunner.topoBatches(pl.tasks)
      catch {
        case e: PipelineRunner.CycleError => errs += s"pipeline ${pl.name}: ${e.getMessage}"
        case e: IllegalArgumentException => errs += s"pipeline ${pl.name}: ${e.getMessage}"
      }
      pl.tasks.foreach { t =>
        Config.validate(t.conf).foreach(e => errs += s"pipeline ${pl.name}/${t.name}: $e")
      }
      val jobLevels = Set("CAN_VIEW", "CAN_MANAGE_RUN", "CAN_MANAGE", "IS_OWNER")
      pl.permissions.foreach { perm =>
        if (perm.principal.isEmpty)
          errs += s"pipeline ${pl.name}: permission with empty principal"
        if (!jobLevels.contains(perm.level))
          errs += s"pipeline ${pl.name}: unknown permission level '${perm.level}' " +
            s"(expected one of ${jobLevels.toSeq.sorted.mkString(", ")})"
      }
    }
    errs.result()
  }

  /** Parse view SQL with Spark's parser (semantic errors surface at run). */
  def validateViews(spark: SparkSession, p: Project): Seq[String] =
    for {
      s <- p.schemas
      v <- s.views
      err <- (try { spark.sessionState.sqlParser.parsePlan(v.query); None }
              catch { case e: Throwable =>
                Some(s"view ${s.name}.${v.name}: ${e.getMessage.linesIterator.next()}") })
    } yield err

  /** Run one pipeline of the project locally. */
  def runPipeline(spark: SparkSession, p: Project,
                  pipelineName: String): Map[String, PipelineRunner.Status] = {
    val pl = p.pipelines.find(_.name == pipelineName).getOrElse(
      throw new IllegalArgumentException(s"pipeline $pipelineName not in project ${p.name}"))
    PipelineRunner.run(spark, pl.tasks)
  }
}
