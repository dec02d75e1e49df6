import graft.perfbench.{Fold, Gen, Main, OrdersGen, Settings, Tracer}
import graft.table._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

// The Spark jobs of one single-view refresh() per view family, and of one
// `fold` docs_append op (the document commit plus refreshAll over the
// workload's four views), each with the call site of every job's last
// stage. Sources follow the `fold` benchmark shapes (1 500 orders keys,
// seed 1); every refresh folds one small mutation:
//  - agg: the fine IncrementalAggView (group o_orderkey), 5-key captured update;
//  - join: IncrementalJoinAggView orders ⋈ customer by c_mktsegment, 5-row append;
//  - bm25: Bm25IndexView, a 2-doc deletion-vector delete plus a 3-doc append;
//  - lm: CorpusLmView, a 3-doc append;
//  - nb: ClassifierModelView, a 3-doc append plus a 2-doc delete.
//
// Build the benchmark jar of a checkout (python3 perfbench/build.py), then
// from that checkout:
//   CP="$(ls $SPARK_HOME/jars/*.jar | tr '\n' ':').bench_build/perfbench/perfbench.jar"
//   mkdir -p ksp && java -cp "$CP" scala.tools.nsc.Main -usejavacp -d ksp plans/pr14/RefreshJobs.scala
//   java --add-opens java.base/sun.nio.ch=ALL-UNNAMED -cp "ksp:$CP" RefreshJobs <out file>
// refresh_jobs_before.txt is its output at 680513c (per-family refresh
// drivers), refresh_jobs_after.txt with StandingViews as the one driver.
object RefreshJobs {
  def main(a: Array[String]): Unit = {
    val spark = graft.Harness.withGraftConf(SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val w = new java.io.PrintWriter(a(0))
    val gen = new OrdersGen(1L, 1500)
    val dir = java.nio.file.Files.createTempDirectory("refreshjobs").toString
    def frame(rows: Seq[Row], schema: StructType, name: String): DataFrame = {
      val p = s"$dir/in_$name"
      Gen.stage(Gen.frame(spark, rows, schema), p)
      spark.read.parquet(p)
    }
    // (job group, call site of the job's last stage) per started job
    val started = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        started.add((g.getOrElse(""), e.stageInfos.maxBy(_.stageId).name)); ()
      }
    })
    def drain(): Unit = org.apache.spark.sql.classic.GraftShims
      .awaitTasksOf(spark.sparkContext, "refreshjobs", 10000L)
    def dump(name: String, title: String)(op: => Any): Unit = {
      val sc = spark.sparkContext
      val g = java.util.UUID.randomUUID().toString
      drain(); started.clear()
      sc.setJobGroup(g, g); try op finally sc.clearJobGroup()
      drain()
      val jobs = started.toArray(Array.empty[(String, String)]).toSeq.filter(_._1 == g).map(_._2)
      w.println(s"-- $name: $title")
      w.println(s"-- Spark jobs: ${jobs.size}")
      jobs.groupBy(identity).toSeq.sortBy { case (site, js) => (-js.size, site) }.foreach { case (site, js) =>
        w.println(f"${js.size}%4d  $site")
      }
      w.println()
      w.flush()
      println(s"$name jobs=${jobs.size}")
    }

    // agg: the fine delta fold
    val orders = s"$dir/orders"
    (1L to 1500L).grouped(750).foreach(ks => ManagedTable(spark, orders)
      .write(frame(ks.map(gen.row(_, 0)), gen.schema, s"o${ks.head}"), "APPEND", "append"))
    val fine = new IncrementalAggView(spark, orders, s"$dir/v_orderkey",
      Seq("o_orderkey"), Seq("o_totalprice"))
    fine.initialize()
    ManagedTable(spark, orders).update(Map("o_totalprice" -> (col("o_totalprice") + lit(1))),
      col("o_orderkey").between(700L, 704L), captureChangeData = true)
    dump("agg", "fine IncrementalAggView refresh after a 5-key captured update")(fine.refresh())

    // join: orders ⋈ customer
    val customer = s"$dir/customer"
    ManagedTable(spark, customer).write(frame((1L to gen.customers.toLong).map(c =>
      Row(c, Seq("AUTOMOBILE", "BUILDING", "FURNITURE")((c % 3).toInt))),
      StructType.fromDDL("custkey BIGINT, c_mktsegment STRING"), "cust"), "APPEND", "append")
    val joined = new IncrementalJoinAggView(spark, orders, customer, s"$dir/v_segment",
      joinKeys = Seq("custkey"), groupCols = Seq("c_mktsegment"), sumCols = Seq("o_totalprice"))
    joined.initialize()
    ManagedTable(spark, orders).write(frame((1501L to 1505L).map(gen.row(_, 0)), gen.schema,
      "o1501"), "APPEND", "append")
    dump("join", "IncrementalJoinAggView refresh after a 5-row fact append")(joined.refresh())

    // the text families share one corpus shape
    val docSchema = StructType.fromDDL("doc_id BIGINT, text STRING, weak_label INT")
    def docRow(id: Long): Row = Row(id,
      (0 until 12).map(k => Gen.word(Gen.hash(1L, 22L, id, k.toLong))).mkString(" "),
      if (id % 3 == 0) 1 else 0)
    def corpus(name: String): String = {
      val p = s"$dir/$name"
      ManagedTable(spark, p).write(frame((1L to 50L).map(docRow), docSchema, name),
        "APPEND", "append")
      p
    }
    def append(p: String, ids: Seq[Long]): Unit = {
      ManagedTable(spark, p).write(frame(ids.map(docRow), docSchema, s"${p.hashCode}_${ids.head}"),
        "APPEND", "append"); ()
    }

    val bmSrc = corpus("docs_bm25")
    val bm25 = new Bm25IndexView(spark, bmSrc, s"$dir/v_bm25", expectedDocs = 200L)
    bm25.initialize()
    ManagedTable(spark, bmSrc).deleteVectors(col("doc_id").isin(7L, 19L))
    append(bmSrc, 51L to 53L)
    dump("bm25", "Bm25IndexView refresh after a 2-doc DV delete and a 3-doc append")(bm25.refresh())

    val lmSrc = corpus("docs_lm")
    val lm = new CorpusLmView(spark, lmSrc, s"$dir/v_lm")
    lm.initialize()
    append(lmSrc, 51L to 53L)
    dump("lm", "CorpusLmView refresh after a 3-doc append")(lm.refresh())

    val nbSrc = corpus("docs_nb")
    val nb = new ClassifierModelView(spark, nbSrc, s"$dir/v_nb")
    nb.initialize()
    append(nbSrc, 51L to 53L)
    ManagedTable(spark, nbSrc).delete(col("doc_id").isin(4L, 9L))
    dump("nb", "ClassifierModelView refresh after a 3-doc append and a 2-doc delete")(nb.refresh())

    // one `fold` docs_append op: the document commit, then refreshAll
    // over the workload's four views
    val fixture = Fold.build(spark, s"$dir/fold", Settings(1L, Main.Scale, 0),
      new Tracer(spark, false))
    val op = fixture.next(1)
    require(op.kind == "docs_append", op.kind)
    dump("fold_docs_append", "one fold docs_append op (commit + refreshAll of 4 views)") {
      require(op.run(), "the fold op's views must be current")
    }
    w.close()
    spark.stop()
  }
}
