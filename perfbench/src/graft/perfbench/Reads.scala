package graft.perfbench

import graft.table.ManagedTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, expr, lit, sum}
import scala.collection.mutable.ArrayBuffer

/** Readers over a table with a long commit history: log and snapshot
  * resolution and data skipping, with the head moving under them. */
object Reads extends Workload {
  val checkEvery = 40
  override def blockSize: Int = Block.size
  /** Two blocks: reads are cheap next to the set-up, and with 40 samples
    * the tail percentile has 10 beyond it. */
  override def minOps: Int = 2 * Block.size
  /** Lineitem rows at scale 1 (TPC-H sf0.1). */
  val Rows = 600000
  /** One block of ops, interleaved: 4 where, 4 at, 3 latest, 3 as_of,
    * 3 change_feed, 2 meta and one append. */
  val Block: Seq[String] = Seq("where", "at", "latest", "as_of", "change_feed",
    "where", "at", "meta", "latest", "as_of", "where", "at", "change_feed",
    "latest", "where", "at", "as_of", "change_feed", "meta", "append")
  /** History commits after the base loads, by position: appends, DV
    * deletes and captured updates in a fixed pattern, one recluster. */
  val History: Seq[String] = Seq("append", "delete", "append", "update", "append", "append",
    "recluster", "append", "update", "append", "append", "delete")

  def build(spark: SparkSession, dir: String, s: Settings, tracer: Tracer): Fixture =
    new ReadsFixture(spark, dir, s, tracer)
}

/** Row-level model of the table, independent of the program: row `r` has
  * key `r / 4 + 1` and lives in versions [inserted, deleted). */
final class LineModel {
  private var ins = new Array[Int](1 << 16)
  private var del = new Array[Int](1 << 16)
  var rows = 0
  /** Per version: commit time, and change-feed rows (-1: not served). */
  val commitMs = ArrayBuffer.empty[Long]
  val changeRows = ArrayBuffer.empty[Long]
  def head: Int = commitMs.size - 1
  def maxKey: Long = rows / 4L

  def add(n: Int, v: Int): Unit = {
    while (rows + n > ins.length) {
      ins = java.util.Arrays.copyOf(ins, ins.length * 2)
      del = java.util.Arrays.copyOf(del, del.length * 2)
    }
    java.util.Arrays.fill(ins, rows, rows + n, v)
    java.util.Arrays.fill(del, rows, rows + n, Int.MaxValue)
    rows += n
  }
  private def span(a: Long, b: Long): Range =
    math.max(4 * (a - 1), 0L).toInt until math.min(4 * b, rows.toLong).toInt
  private def live(r: Int, v: Int) = ins(r) <= v && del(r) > v
  def count(v: Int, a: Long = 1L, b: Long = Long.MaxValue / 8): Long =
    span(a, b).count(live(_, v)).toLong
  /** Delete the live rows of keys [a, b] with line number `line` at `v`. */
  def delete(a: Long, b: Long, line: Int, v: Int): Long =
    span(a, b).count { r =>
      val hit = r % 4 == line - 1 && live(r, v - 1)
      if (hit) del(r) = v
      hit
    }.toLong
  def commit(ms: Long, change: Long): Unit = { commitMs += ms; changeRows += change }
  /** The newest version committed at or before `ms`. */
  def versionAsOf(ms: Long): Int = commitMs.lastIndexWhere(_ <= ms)
}

final class ReadsFixture(spark: SparkSession, dir: String, s: Settings,
                         tracer: Tracer) extends Fixture {
  private val root = s"$dir/lineitem"
  private def table = ManagedTable(spark, root)
  private val model = new LineModel
  private val Loads = 2
  private val baseRows = math.max((Reads.Rows * s.scale).toInt / 8 * 8, 4000)
  private val appendRows = math.max(baseRows / 500, 8) / 4 * 4
  private val keyWidth = math.max(baseRows / 800L, 2L) // 0.5 % of orders
  /** readWhere frames and the version they read, for files_scanned_frac. */
  private val scanned = ArrayBuffer.empty[(DataFrame, Int)]

  def roots: Seq[String] = Seq(root)

  /** Lineitem rows [from, until) as TPC-H-shaped columns, seeded per row. */
  private def lineitem(from: Long, until: Long): DataFrame = {
    def h(f: Int) = s"xxhash64(${s.seed}L, id, $f)"
    spark.range(from, until, 1, 4).select(
      expr("id div 4 + 1").as("l_orderkey"),
      expr("cast(id % 4 + 1 as int)").as("l_linenumber"),
      expr(s"cast(pmod(${h(1)}, 50) + 1 as int)").as("l_quantity"),
      expr(s"cast(pmod(${h(2)}, 10000000) / 100 + 1 as decimal(12,2))").as("l_extendedprice"),
      expr(s"cast(pmod(${h(3)}, 11) / 100 as decimal(4,2))").as("l_discount"),
      expr(s"date_add(date'1992-01-01', cast(pmod(${h(4)}, 2500) as int))").as("l_shipdate"),
      expr(s"try_element_at(array('A', 'N', 'R'), cast(pmod(${h(5)}, 3) + 1 as int))").as("l_returnflag"))
  }

  private def append(df: DataFrame, n: Int): ManagedTable.Commit = {
    val c = Workload.commit(tracer)(table.write(df, "APPEND", "append"))
    model.add(n, c.version.toInt)
    model.commit(c.timestampMs, n.toLong)
    c
  }

  private def seeded(salt: Long, i: Long, n: Long): Long = Gen.below(Gen.hash(s.seed, salt, i), n)

  // history: the base rows in two loads, then Reads.History: the seed
  // picks the keys each commit touches, not the kinds of commit
  (0 until Loads).foreach { c =>
    append(lineitem(c * baseRows / Loads, (c + 1) * baseRows / Loads), baseRows / Loads)
  }
  Reads.History.zipWithIndex.foreach { case (kind, j) =>
    val v = model.head + 1
    val a = 1L + seeded(41L, j.toLong, model.maxKey - keyWidth)
    val b = a + keyWidth - 1
    kind match {
      case "recluster" =>
        val c = table.clusterByRange("l_orderkey", 8)
        model.commit(c.timestampMs, -1L)
      case "delete" =>
        val line = 1 + seeded(43L, j.toLong, 4L).toInt
        val n = model.delete(a, b, line, v)
        val c = table.deleteVectors(col("l_orderkey").between(a, b) && col("l_linenumber") === line)
        model.commit(c.timestampMs, n)
      case "update" =>
        val n = model.count(v - 1, a, b)
        val c = table.update(Map("l_discount" -> lit(0.05)), col("l_orderkey").between(a, b),
          captureChangeData = true)
        model.commit(c.timestampMs, 2 * n)
      case "append" => append(lineitem(model.rows.toLong, model.rows.toLong + appendRows), appendRows)
    }
  }
  require(table.latestVersion.contains(model.head.toLong), "history versions drifted")

  private def timed(layer: String, want: Long)(got: => Long): Boolean =
    tracer(layer)(got) == want

  def next(i: Int): Op = {
    val slot = Workload.slot(Reads.Block, s, i)
    val kind = Reads.Block(slot)
    val head = model.head
    // a version drawn uniformly, stratified over the block: the k-th of
    // the block's n ops of this kind draws from the k-th n-th of the
    // history, so every block spreads its reads over all of it
    def pick(salt: Long) = {
      val k = Reads.Block.take(slot).count(_ == kind)
      val u = Gen.unit(Gen.hash(s.seed, 300L + salt, i.toLong))
      ((k + u) * (head + 1) / Reads.Block.count(_ == kind)).toInt
    }
    kind match {
      case "where" =>
        val a = 1L + seeded(51L, i.toLong, model.maxKey - keyWidth)
        val want = model.count(head, a, a + keyWidth - 1)
        Op(kind, 0L, 0L, () => timed("table.read_where", want) {
          val df = table.readWhere(col("l_orderkey").between(a, a + keyWidth - 1))
          if (tracer.recording && tracer.enabled) scanned += ((df, head))
          df.count()
        })
      case "latest" =>
        Op(kind, 0L, 0L, () => timed("table.read", model.count(head)) {
          table.read.agg(count(lit(1)), sum("l_quantity")).head().getLong(0)
        })
      case "at" =>
        val v = pick(1)
        Op(kind, 0L, 0L, () => timed("table.read_at", model.count(v))(table.readAt(v.toLong).count()))
      case "as_of" =>
        val ms = model.commitMs(pick(2))
        val want = model.count(model.versionAsOf(ms))
        Op(kind, 0L, 0L, () => timed("table.read_as_of", want)(table.readAsOf(ms).count()))
      case "change_feed" =>
        // a window of 1-3 versions the feed serves (the recluster and the
        // base loads are left out)
        val windows = Iterator.from(0).map { k =>
          val from = Loads + seeded(61L, i * 64L + k, head - Loads + 1L).toInt
          (from, math.min(from + seeded(62L, i * 64L + k, 3L).toInt, head))
        }.take(64).filter { case (a, b) => (a to b).forall(model.changeRows(_) >= 0) }
        val (a, b) = if (windows.hasNext) windows.next() else (head, head)
        val want = (a to b).map(model.changeRows(_)).sum
        Op(kind, 0L, 0L, () => timed("table.read_change_feed", want)(
          table.readChangeFeed(a.toLong, Some(b.toLong)).count()))
      case "meta" =>
        Op(kind, 0L, 0L, () =>
          tracer("table.meta")(table.lastCommit.map(_.version)).contains(head.toLong) &&
            tracer("table.meta")(table.historyNewest(5)).map(_.version) ==
              (head.toLong to math.max(head - 4L, 0L) by -1L))
      case "append" =>
        val path = s"$dir/inputs/op_$i"
        val bytes = Gen.stage(lineitem(model.rows.toLong, model.rows.toLong + appendRows), path)
        Op(kind, appendRows.toLong, bytes, () =>
          append(spark.read.parquet(path), appendRows).version == head + 1L)
    }
  }

  /** The head and three seeded versions' counts against the model (each
    * op also checks its own read). */
  def check(): Boolean = {
    val t = table
    val head = model.head
    t.read.count() == model.count(head) && (1L to 3L).forall { k =>
      val v = seeded(71L, head * 4L + k, head + 1L).toInt
      t.readAt(v.toLong).count() == model.count(v)
    }
  }

  /** Files readWhere scanned over files in the snapshot it read. */
  override def layerRatios(): Map[String, Double] = {
    val (hit, all) = scanned.foldLeft((0L, 0L)) { case ((h, a), (df, v)) =>
      (h + df.inputFiles.length, a + table.readAt(v.toLong).inputFiles.length)
    }
    Map("table.read_where.files_scanned_frac" -> (if (all == 0) 0.0 else hit.toDouble / all))
  }
}
