package graft.perfbench

import graft.llm.Retrieval
import graft.table.{Bm25IndexView, IncrementalAggView, IncrementalJoinAggView, ManagedTable, StandingViews}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, sum}
import org.apache.spark.sql.types.StructType

/** Four standing views refreshed together after each seeded source
  * mutation: view folds are bound by fixed per-fold costs (jobs, commit
  * log IO), which this workload isolates while the merge writers idle. */
object Fold extends Workload {
  val checkEvery = 6
  /** One block: each mutation once, alternating the sources. */
  val Kinds: Seq[String] = Seq("orders_append", "docs_append", "orders_delete",
    "customer_move", "orders_update", "docs_delete")
  override def blockSize: Int = Kinds.size
  /** Building the views already runs the fold code paths. */
  override def warmup: Int = 0

  def build(spark: SparkSession, dir: String, s: Settings, tracer: Tracer): Fixture =
    new FoldFixture(spark, dir, s, tracer)
}

final class FoldFixture(spark: SparkSession, dir: String, s: Settings,
                        tracer: Tracer) extends Fixture {
  private val gen = new OrdersGen(s.seed, math.max((Ingest.Keys * s.scale).toInt, 200))
  private val docCount = math.max(gen.initialKeys / 30, 50)
  private val paths = Seq("orders", "customer", "documents").map(t => t -> s"$dir/$t").toMap
  private def table(t: String) = ManagedTable(spark, paths(t))

  private val customerSchema = StructType.fromDDL(
    "custkey BIGINT, c_name STRING, c_mktsegment STRING")
  private val docSchema = StructType.fromDDL("doc_id BIGINT, text STRING")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** Live keys, tracked so deletes and updates hit rows that exist. */
  private val liveOrders = new java.util.BitSet()
  private var maxOrder = 0L
  private val liveDocs = new java.util.BitSet()
  private var maxDoc = 0L

  private def docRow(id: Long, salt: Long): Row = {
    val len = 8 + Gen.below(Gen.hash(s.seed, 21L, id, salt), 17L).toInt
    Row(id, (0 until len).map(w => Gen.word(Gen.hash(s.seed, 22L + salt, id, w.toLong))).mkString(" "))
  }

  private def write(t: String, rows: Seq[Row], schema: StructType) =
    table(t).write(Gen.frame(spark, rows, schema), "APPEND", "append")

  // sources: orders in two loads (so dir stats can scope deletes),
  // customers and documents in one each
  (1L to gen.initialKeys.toLong).grouped(math.max(gen.initialKeys / 2, 1)).foreach { ks =>
    write("orders", ks.map(gen.row(_, 0)), gen.schema)
  }
  liveOrders.set(1, gen.initialKeys + 1); maxOrder = gen.initialKeys.toLong
  write("customer", (1L to gen.customers.toLong).map(c => Row(c, s"Customer#$c",
    Segments(Gen.below(Gen.hash(s.seed, 31L, c), 5L).toInt))), customerSchema)
  write("documents", (1L to docCount.toLong).map(docRow(_, 0L)), docSchema)
  liveDocs.set(1, docCount + 1); maxDoc = docCount.toLong

  private val coarse = new IncrementalAggView(spark, paths("orders"), s"$dir/v_status",
    Seq("o_orderstatus"), Seq("o_totalprice"))
  private val fine = new IncrementalAggView(spark, paths("orders"), s"$dir/v_orderkey",
    Seq("o_orderkey"), Seq("o_totalprice"))
  private val joined = new IncrementalJoinAggView(spark, paths("orders"), paths("customer"),
    s"$dir/v_segment", joinKeys = Seq("custkey"), groupCols = Seq("c_mktsegment"),
    sumCols = Seq("o_totalprice"))
  private val bm25 = new Bm25IndexView(spark, paths("documents"), s"$dir/v_bm25",
    expectedDocs = docCount * 4L)
  coarse.initialize(); fine.initialize(); joined.initialize(); bm25.initialize()
  private val views = Seq(coarse, fine, joined, bm25)

  def roots: Seq[String] = paths.values.toSeq ++
    Seq("v_status", "v_orderkey", "v_segment", "v_bm25").map(v => s"$dir/$v")

  /** A run of `width` consecutive live keys' range starting at a seeded key. */
  private def keyRange(live: java.util.BitSet, max: Long, width: Long,
                       salt: Long): (Long, Long, Long) = {
    val a = 1L + Gen.below(Gen.hash(s.seed, salt), math.max(max - width, 1L))
    val b = a + width - 1
    (a, b, live.get(a.toInt, b.toInt + 1).cardinality().toLong)
  }

  /** Ops come in blocks of one of each mutation kind. */
  def next(i: Int): Op = {
    val kind = Fold.Kinds(Workload.slot(Fold.Kinds, s, i))
    val salt = 1000L + i
    val small = math.max(gen.initialKeys / 500, 5).toLong // 0.2 % of orders
    val (rows, bytes, mutate): (Long, Long, () => Unit) = kind match {
      case "orders_append" =>
        val ks = (maxOrder + 1) to (maxOrder + small)
        maxOrder += small; ks.foreach(k => liveOrders.set(k.toInt))
        val path = s"$dir/inputs/op_$i"
        val b = Gen.stage(Gen.frame(spark, ks.map(gen.row(_, 0)), gen.schema), path)
        (small, b, () => commit(table("orders").write(spark.read.parquet(path), "APPEND", "append")))
      case "orders_delete" =>
        val (a, b, n) = keyRange(liveOrders, maxOrder, small, salt)
        liveOrders.clear(a.toInt, b.toInt + 1)
        (n, 0L, () => commit(table("orders").delete(col("o_orderkey").between(a, b))))
      case "orders_update" =>
        val (a, b, n) = keyRange(liveOrders, maxOrder, small, salt)
        (n, 0L, () => commit(table("orders").update(
          Map("o_totalprice" -> (col("o_totalprice") + lit(1))),
          col("o_orderkey").between(a, b), captureChangeData = true)))
      case "customer_move" =>
        val w = math.max(gen.customers / 100, 2).toLong
        val a = 1L + Gen.below(Gen.hash(s.seed, salt), gen.customers - w)
        val seg = Segments(Gen.below(Gen.hash(s.seed, salt, 1L), 5L).toInt)
        (w, 0L, () => commit(table("customer").update(Map("c_mktsegment" -> lit(seg)),
          col("custkey").between(a, a + w - 1), captureChangeData = true)))
      case "docs_append" =>
        val n = math.max(docCount / 200, 3).toLong
        val ids = (maxDoc + 1) to (maxDoc + n)
        maxDoc += n; ids.foreach(d => liveDocs.set(d.toInt))
        val path = s"$dir/inputs/op_$i"
        val b = Gen.stage(Gen.frame(spark, ids.map(docRow(_, salt)), docSchema), path)
        (n, b, () => commit(table("documents").write(spark.read.parquet(path), "APPEND", "append")))
      case "docs_delete" =>
        val n = math.max(docCount / 500, 2)
        val ids = Iterator.iterate(liveDocs.nextSetBit(1 + Gen.below(
            Gen.hash(s.seed, salt), maxDoc).toInt))(d => liveDocs.nextSetBit(d + 1))
          .takeWhile(_ >= 0).take(n).map(_.toLong).toSeq
        ids.foreach(d => liveDocs.clear(d.toInt))
        (ids.size.toLong, 0L, () =>
          if (ids.nonEmpty) commit(table("documents").deleteVectors(col("doc_id").isin(ids: _*))))
    }
    Op(kind, rows, bytes, () => {
      mutate()
      val current = tracer("views")(StandingViews.refreshAll(spark, views))
      Seq("orders", "documents").forall(t => current.get(paths(t)).contains(table(t).latestVersion.get))
    })
  }

  private def commit(body: => ManagedTable.Commit): Unit = { Workload.commit(tracer)(body); () }

  private def aggOf(df: DataFrame, groups: Seq[String]): DataFrame =
    df.groupBy(groups.map(col): _*).agg(sum(lit(1L)).as("cnt"),
      sum(col("o_totalprice").cast("decimal(28,6)")).cast("decimal(28,6)")
        .as("sum_o_totalprice"))

  /** Every view equals its full recompute over the current sources. */
  def check(): Boolean = {
    val orders = table("orders").read
    def same(got: DataFrame, want: DataFrame) =
      Workload.sameRows(got.select(want.columns.map(c => col(s"`$c`")): _*), want)
    same(coarse.read, aggOf(orders, Seq("o_orderstatus"))) &&
      same(fine.read, aggOf(orders, Seq("o_orderkey"))) &&
      same(joined.read, aggOf(orders.join(table("customer").read, "custkey"), Seq("c_mktsegment"))) &&
      same(bm25.read, Retrieval.bm25Postings(table("documents").read, "text", "doc_id"))
  }
}
