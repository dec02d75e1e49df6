package graft.perfbench

import graft.table.ManagedTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, sum}

/** One generated operation: its kind, the change rows and input bytes it
  * hands the program, and the call that runs it. `run` returns whether
  * the op's own result matched what the generator expected. */
final case class Op(kind: String, rows: Long, inputBytes: Long, run: () => Boolean)

/** A built fixture: the tables one workload runs its ops against. */
trait Fixture {
  /** Generator work for op `i` (untimed); the returned op is timed. */
  def next(i: Int): Op
  /** Full correctness gates against an independent recompute. */
  def check(): Boolean
  /** Every table root the workload writes, for write amplification. */
  def roots: Seq[String]
  /** Called when the measured phase starts. */
  def phaseStarted(): Unit = ()
  /** Useful-to-attempted ratios and retry counts of the measured phase,
    * computed after it (traced runs only). */
  def layerRatios(): Map[String, Double] = Map.empty
}

/** `warmup` ops run after each build; op `warmup` is the first measured. */
final case class Settings(seed: Long, scale: Double, warmup: Int)

trait Workload {
  /** Ops between periodic correctness gates; the run always ends with one. */
  def checkEvery: Int
  /** Untimed ops after the build, the end of the set-up. */
  def warmup: Int = 1
  /** The op mix repeats in blocks of this many ops; a run measures whole
    * blocks, so every run sees the same mix. */
  def blockSize: Int = 1
  /** Fewest measured ops, so the median and tail have samples behind them. */
  def minOps: Int = 5
  def build(spark: SparkSession, dir: String, s: Settings, tracer: Tracer): Fixture
}

object Workload {
  val all: Map[String, Workload] =
    Map("ingest" -> Ingest, "fold" -> Fold, "reads" -> Reads)

  /** Multiset equality by signed counts: one shuffle, one action. */
  def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.toSeq.map(c => col(s"`$c`"))
    a.select(cols :+ lit(1L).as("__sign__"): _*)
      .unionByName(b.select(cols :+ lit(-1L).as("__sign__"): _*))
      .groupBy(cols: _*).agg(sum(col("__sign__")).as("__net__"))
      .filter(col("__net__") =!= 0L)
      .isEmpty
  }

  /** Position of op `i` in its block, with blocks counted from the first
    * measured op. Every block runs its kinds in the same order, so the
    * seed changes the ops' inputs but not the mix or its order. */
  def slot(block: Seq[String], s: Settings, i: Int): Int = Math.floorMod(i - s.warmup, block.size)

  /** A commit timed as `table.commit`, with its retry count recorded. */
  def commit(tracer: Tracer)(body: => ManagedTable.Commit): ManagedTable.Commit = {
    val c = tracer("table.commit")(body)
    if (tracer.recording)
      tracer.retries += c.operationMetrics.get("numCommitRetries").map(_.toLong).getOrElse(0L)
    c
  }
}
