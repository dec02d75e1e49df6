package graft.perfbench

import graft.cdc.Cdc
import graft.config.Config.{ChangeData, InputConf, InputFeatures, OutputConf, RefreshPolicy}
import graft.meta.Meta
import graft.state.StateStore
import graft.table.ManagedTable
import graft.task.{SparkTask, TaskContext}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, desc, lit, row_number}
import scala.collection.mutable

/** CDC-incremental task: each op lands one change batch in a landing
  * table, then runs readInput -> writeOutput(scd1) -> writeOutput(scd2)
  * -> saveState, the reference's core pipeline path. */
object Ingest extends Workload {
  val checkEvery = 8
  /** The first op after one warm-up op still ran about 15 % slower than
    * the rest, so two warm up and four are measured. */
  override def warmup: Int = 2
  override def minOps: Int = 4
  /** Orders at scale 1 (TPC-H sf0.1). */
  val Keys = 150000

  def build(spark: SparkSession, dir: String, s: Settings, tracer: Tracer): Fixture =
    new IngestFixture(spark, dir, s, tracer)
}

final class IngestFixture(spark: SparkSession, dir: String, s: Settings,
                          tracer: Tracer) extends Fixture {
  private val gen = new OrdersGen(s.seed, math.max((Ingest.Keys * s.scale).toInt, 200))
  private val batchSize = math.max(gen.initialKeys * 3 / 200, 10) // 1.5 % of keys
  private val landing = s"$dir/landing"
  private val sinks = Seq("scd1", "scd2").map(w => w -> s"$dir/$w").toMap
  private val store = new StateStore(spark.sparkContext.hadoopConfiguration, s"$dir/state")
  private val input = InputConf("landing", landing, "graft", "table",
    features = InputFeatures(changeData = Some(ChangeData("o_updated"))))
  private val outputs = Seq("scd1", "scd2").map(w =>
    OutputConf(w, sinks(w), writeType = w, keyAttributes = Seq("o_orderkey")))
  private val dataCols = gen.schema.fieldNames.toSeq
  private val schema = gen.schema.add("o_updated", "bigint")

  /** Current revision of every key; its length is the key count. */
  private val rev = mutable.ArrayBuffer.fill(gen.initialKeys)(0)
  private var phaseVersions = Map.empty[String, Long]

  def roots: Seq[String] = landing +: sinks.values.toSeq

  // initial load: every key at revision 0 lands, then one full task run
  // loads both sinks and records the CDC cursor
  land(stage(0, rev.indices.map(k => gen.values(k + 1L, 0) :+ 0L)))
  runTask()

  private def stage(batch: Int, rows: Seq[Seq[Any]]): (String, Long) = {
    val path = s"$dir/inputs/batch_$batch"
    (path, Gen.stage(Gen.frame(spark, rows.map(Row.fromSeq), schema), path))
  }

  private def land(staged: (String, Long)): ManagedTable.Commit =
    Workload.commit(tracer)(ManagedTable(spark, landing)
      .write(spark.read.parquet(staged._1), "APPEND", "append"))

  private def runTask(): Unit = {
    val ctx = TaskContext(spark, java.util.UUID.randomUUID().toString, Some(store))
    val (df, state) = tracer("task")(SparkTask.readInput(ctx, input, RefreshPolicy()))
    val data = df.drop("o_updated")
    outputs.foreach(o => tracer("write")(SparkTask.writeOutput(ctx, o, data)))
    state.foreach(st => tracer("cdc")(
      Cdc.saveState(store, input.name, st.copy(batchId = Some(ctx.batchId)))))
  }

  /** Batch `b`: about 1.5 % of keys, a fifth of them new, the rest
    * skewed towards low keys; one in ten of those repeats the current
    * values unchanged. */
  def next(i: Int): Op = {
    val b = i + 1
    val fresh = batchSize / 5
    val picked = mutable.LinkedHashSet.empty[Int]
    var n = 0L
    while (picked.size < batchSize - fresh) {
      val u = Gen.unit(Gen.hash(s.seed, 11L, b.toLong, n))
      picked += (rev.size * u * u).toInt
      n += 1
    }
    val changed = picked.toSeq.map { k =>
      if (Gen.below(Gen.hash(s.seed, 12L, b.toLong, k.toLong), 10L) != 0L) rev(k) += 1
      gen.values(k + 1L, rev(k)) :+ b.toLong
    }
    val added = (0 until fresh).map { j =>
      rev += 0
      gen.values(rev.size.toLong, 0) :+ b.toLong
    }
    val rows = changed ++ added
    val staged = stage(b, rows)
    Op("ingest", rows.size.toLong, staged._2, () => { land(staged); runTask(); true })
  }

  /** SCD1 sink = latest landed row per key; SCD2 active rows = the same. */
  def check(): Boolean = {
    val latest = ManagedTable(spark, landing).read
      .withColumn("__rn__", row_number().over(
        Window.partitionBy("o_orderkey").orderBy(desc("o_updated"))))
      .filter(col("__rn__") === 1)
      .select(dataCols.map(col): _*)
      .localCheckpoint()
    val scd1 = ManagedTable(spark, sinks("scd1")).read.select(dataCols.map(col): _*)
    val scd2 = ManagedTable(spark, sinks("scd2")).read
      .filter(col(Meta.Active) === lit("Y")).select(dataCols.map(col): _*)
    Workload.sameRows(latest, scd1) && Workload.sameRows(latest, scd2)
  }

  override def phaseStarted(): Unit =
    phaseVersions = sinks.map { case (w, p) => w -> ManagedTable(spark, p).latestVersion.get }

  /** Share of the target's dirs each merge rewrote, over the measured
    * phase: `numRewrittenDirs / (numRewrittenDirs + numCarriedDirs)`, a
    * merge without those metrics rewrote every dir of its predecessor. */
  override def layerRatios(): Map[String, Double] = {
    var (rewritten, total) = (0L, 0L)
    sinks.foreach { case (w, p) =>
      val t = ManagedTable(spark, p)
      val from = phaseVersions(w)
      val cs = t.historyNewest((t.latestVersion.get - from + 1).toInt).sortBy(_.version)
      cs.sliding(2).foreach {
        case Seq(prev, c) if c.operation.startsWith("MERGE") =>
          val m = c.operationMetrics
          val rw = m.get("numRewrittenDirs").map(_.toLong).getOrElse(prev.dirs.size.toLong)
          rewritten += rw
          total += rw + m.get("numCarriedDirs").map(_.toLong).getOrElse(0L)
        case _ =>
      }
    }
    Map("write.rewritten_dir_frac" -> (if (total == 0) 0.0 else rewritten.toDouble / total))
  }
}
