import graft.perfbench.{Gen, OrdersGen}
import graft.table.{IncrementalAggView, ManagedTable}
import graft.write.{WriteOptions, Writers}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.util.QueryExecutionListener

// Every query a key-set-bound operation runs, with its executed plan and
// the operation's Spark job count, over the `fold` and `ingest` benchmark
// shapes (1 500 orders keys, seed 1):
//  - fold.txt: the fine IncrementalAggView (group o_orderkey) folding a
//    5-key captured update — the tombstone-then-append tier;
//  - scd1.txt: a file-scoped scd1 merge of a 22-row batch (18 revised
//    keys, 4 new) into the table clustered into 4 key-range dirs.
//
// Build the benchmark jar of a checkout (python3 perfbench/build.py), then
// from that checkout:
//   CP="$(ls $SPARK_HOME/jars/*.jar | tr '\n' ':').bench_build/perfbench/perfbench.jar"
//   mkdir -p ksp && java -cp "$CP" scala.tools.nsc.Main -usejavacp -d ksp plans/pr13/KeySetPlans.scala
//   java --add-opens java.base/sun.nio.ch=ALL-UNNAMED -cp "ksp:$CP" KeySetPlans <out>
object KeySetPlans {
  def main(a: Array[String]): Unit = {
    val out = a(0)
    val spark = graft.Harness.withGraftConf(SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val gen = new OrdersGen(1L, 1500)
    val dir = java.nio.file.Files.createTempDirectory("keysetplans").toString
    def frame(rows: Seq[Seq[Any]]): DataFrame = {
      val p = s"$dir/in_${rows.size}"
      Gen.stage(Gen.frame(spark, rows.map(Row.fromSeq), gen.schema), p)
      spark.read.parquet(p)
    }
    val queries = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = { queries.add(f -> qe); () }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def drain(): Unit = org.apache.spark.sql.classic.GraftShims
      .awaitTasksOf(spark.sparkContext, "keysetplans", 10000L)
    def dump(name: String, title: String)(op: => Any): Unit = {
      val sc = spark.sparkContext
      val g = java.util.UUID.randomUUID().toString
      drain(); queries.clear()
      sc.setJobGroup(g, g); try op finally sc.clearJobGroup()
      drain()
      val jobs = sc.statusTracker.getJobIdsForGroup(g).length
      val qs = queries.toArray(Array.empty[(String, QueryExecution)]).toSeq
      val w = new java.io.PrintWriter(s"$out/$name.txt")
      w.println(s"-- $title")
      w.println(s"-- Spark jobs: $jobs, queries: ${qs.size}")
      qs.zipWithIndex.foreach { case ((f, qe), i) =>
        w.println(s"\n-- query ${i + 1} ($f)")
        w.println(qe.executedPlan.toString.replace(dir, "<dir>").trim)
      }
      w.close()
      println(s"$name jobs=$jobs queries=${qs.size}")
    }

    val orders = s"$dir/orders"
    (1L to 1500L).grouped(750).foreach(ks =>
      ManagedTable(spark, orders).write(frame(ks.map(gen.values(_, 0))), "APPEND", "append"))
    val fine = new IncrementalAggView(spark, orders, s"$dir/v_orderkey",
      Seq("o_orderkey"), Seq("o_totalprice"))
    fine.initialize()
    ManagedTable(spark, orders).update(Map("o_totalprice" -> (col("o_totalprice") + lit(1))),
      col("o_orderkey").between(700L, 704L), captureChangeData = true)
    dump("fold", "fine IncrementalAggView (o_orderkey) refresh after a 5-key captured update")(
      fine.refresh())

    val target = s"$dir/scd1"
    val opts = WriteOptions()
    Writers.scd1(spark, target, frame((1 to 1500).map(k => gen.values(k.toLong, 0))),
      Seq("o_orderkey"), opts)
    ManagedTable(spark, target).clusterBy("o_orderkey", 4)
    val batch = frame((1 to 18).map(k => gen.values(k.toLong * 7, 1)) ++
      (1501 to 1504).map(k => gen.values(k.toLong, 0)))
    dump("scd1", "file-scoped scd1 merge, 22-row batch into 4 key-range dirs")(
      Writers.scd1(spark, target, batch, Seq("o_orderkey"), opts))
    spark.stop()
  }
}
