import graft.perfbench.{Gen, OrdersGen}
import graft.table.ManagedTable
import graft.write.{WriteOptions, WritePatterns, Writers}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

// Formatted scd1/scd2 merge plans and job counts over the `ingest`
// benchmark's shape: 1 500 orders keys, one 22-row batch (18 revised keys,
// 4 new), a single-dir target. Writes <out>/scd1.txt and <out>/scd2.txt.
//
// Build the benchmark jar of a checkout (python3 perfbench/build.py), then
// from that checkout:
//   CP="$(ls $SPARK_HOME/jars/*.jar | tr '\n' ':').bench_build/perfbench/perfbench.jar"
//   java -cp "$CP" scala.tools.nsc.Main -usejavacp -d /tmp/mp plans/r18/MergePlans.scala
//   java --add-opens java.base/sun.nio.ch=ALL-UNNAMED -cp "/tmp/mp:$CP" MergePlans <out>
object MergePlans {
  def main(a: Array[String]): Unit = {
    val out = a(0)
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val gen = new OrdersGen(1L, 1500)
    val dir = java.nio.file.Files.createTempDirectory("mergeplans").toString
    def frame(rows: Seq[Seq[Any]]): DataFrame = {
      val p = s"$dir/in_${rows.size}"
      Gen.stage(Gen.frame(spark, rows.map(Row.fromSeq), gen.schema), p)
      spark.read.parquet(p)
    }
    val initial = frame((1 to 1500).map(k => gen.values(k.toLong, 0)))
    val batch = frame((1 to 18).map(k => gen.values(k.toLong * 7, 1)) ++
      (1501 to 1504).map(k => gen.values(k.toLong, 0)))
    val keys = Seq("o_orderkey")
    val opts = WriteOptions()
    def jobsOf(op: => Any): Int = {
      val sc = spark.sparkContext
      val g = java.util.UUID.randomUUID().toString
      sc.setJobGroup(g, g); try op finally sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup(g).length
    }
    for ((name, write, pattern) <- Seq[(String, (String, DataFrame) => Any, (DataFrame, DataFrame) => DataFrame)](
        ("scd1", (p, d) => Writers.scd1(spark, p, d, keys, opts), (t, s) => WritePatterns.scd1(t, s, keys, opts)),
        ("scd2", (p, d) => Writers.scd2(spark, p, d, keys, opts), (t, s) => WritePatterns.scd2(t, s, keys, opts)))) {
      val path = s"$dir/$name"
      write(path, initial)
      val plan = pattern(ManagedTable(spark, path).read, batch)
      val text = plan.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      val tree = plan.queryExecution.executedPlan.toString
      val exchanges = "(?m)^.*\\bExchange hashpartitioning".r.findAllIn(tree).size +
        "(?m)^.*\\bExchange SinglePartition".r.findAllIn(tree).size
      val broadcasts = "BroadcastExchange".r.findAllIn(tree).size
      val jobs = jobsOf(write(path, batch))
      val w = new java.io.PrintWriter(s"$out/$name.txt")
      w.println(s"-- $name merge over the ingest shape (1500 orders keys, 22-row batch), single-dir target")
      w.println(s"-- shuffle Exchange nodes: $exchanges, BroadcastExchange nodes: $broadcasts, jobs of Writers.$name: $jobs")
      w.println(text)
      w.close()
      println(s"$name exchanges=$exchanges broadcasts=$broadcasts jobs=$jobs")
    }
  }
}
