package graft.perfbench

import graft.Harness
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Closed-loop benchmark: one client issues one op at a time
  * against one workload's fixture and waits for it. Prints one line,
  * `PERFBENCH <json>`, with every metric and its unit; `run.py` turns it
  * into the benchmark's result line.
  *
  * Flags: --workload ingest|fold|reads, --seed N, --seconds S, --trace 0|1,
  * --work DIR (scratch space, deleted by the caller). */
object Main {
  /** Layers in reporting order, and the metrics kept for each. */
  private val Core = Seq("calls", "wall_s", "p50_s", "jobs", "job_s", "gap_s", "task_s")
  private val Io = Counters.Names :+ "bytes_written"
  private val ReadLayer = Seq("calls", "wall_s", "p50_s", "jobs", "gap_s",
    "log_entry_reads", "ptr_reads", "ptr_probes")
  val Layers: Seq[(String, Seq[String])] = Seq(
    "spark" -> Core,
    "task" -> (Core ++ Seq("log_entry_reads", "log_listings", "ptr_reads", "ptr_probes")),
    "write" -> (Core ++ Io),
    "cdc" -> Seq("calls", "wall_s", "p50_s", "jobs", "gap_s", "bytes_written"),
    "views" -> (Core ++ Io),
    "check" -> Seq("calls", "wall_s", "p50_s", "jobs", "gap_s"),
    "table.commit" -> (Core ++ Io),
    "table.read" -> ReadLayer,
    "table.read_where" -> ReadLayer,
    "table.read_at" -> (ReadLayer :+ "log_listings"),
    "table.read_as_of" -> ReadLayer,
    "table.read_change_feed" -> ReadLayer,
    "table.meta" -> (ReadLayer :+ "log_listings"))
  /** Layers whose spans make up an op (`spark` and `check` do not). */
  private val OpLayers = Layers.map(_._1).filterNot(Set("spark", "check"))

  /** Data scale: 1 is TPC-H sf0.1; the ops are bound by fixed per-op
    * costs, so sf0.001 keeps a run short without changing what it measures. */
  val Scale = 0.01
  /** Spark `local[N]`: the ops are driver-bound, and leaving cores to the
    * driver, JIT and GC threads makes op times steadier on a shared host. */
  val Cpus: Int = math.min(2, Runtime.getRuntime.availableProcessors)

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1", m("work"))
  }

  /** Fixed-iteration integer loop with no IO: its time tracks CPU speed
    * and load on the machine, so drift between runs can be told apart
    * from changes in the program. */
  private def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 100000000) { x = x * 6364136223846793005L + 1442695040888963407L; x ^= x >>> 29; i += 1 }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else { val s = xs.sorted; if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2 }

  /** Percentile `p` of ascending `xs`, linear between closest ranks. */
  private def percentile(xs: Seq[Double], p: Double): Double = {
    val r = p / 100 * (xs.size - 1)
    val lo = r.toInt
    xs(lo) + (r - lo) * (xs(math.min(lo + 1, xs.size - 1)) - xs(lo))
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def newBytes(before: Map[String, Long], after: Map[String, Long]): Long =
    after.collect { case (f, n) if !before.contains(f) => n }.sum

  /** The program's own harness session, with scratch space under `work`. */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = Harness.sessionBuilder(cpus.toString)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload = Workload.all(a.workload)
    val calibStart = calibrate()
    val t0 = System.nanoTime()
    val spark = session(Cpus, a.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, a.trace)
    val settings = Settings(a.seed, Scale, workload.warmup)

    // set-up: the fixture build, then the warm-up ops on it
    val b0 = System.nanoTime()
    val fixture = workload.build(spark, s"${a.work}/fixture", settings, tracer)
    val buildS = (System.nanoTime() - b0) / 1e9
    (0 until workload.warmup).foreach(i => fixture.next(i).run())
    val setupS = (System.nanoTime() - t0) / 1e9

    // measured phase: ops back to back; generator work and gates pause
    // the clock, so only the program's time is measured
    val checkEvery = workload.checkEvery
    val hardStop = t0 + 140L * 1000000000L
    val lat = ArrayBuffer.empty[Double]
    var (failed, unchecked, rows, inBytes) = (0L, 0L, 0L, 0L)
    var gatesOk = true
    def gate(): Unit = {
      val ok = try tracer("check")(fixture.check()) catch {
        case e: Exception => System.err.println(s"[perfbench] gate raised: $e"); false
      }
      if (!ok) { failed += unchecked; gatesOk = false }
      unchecked = 0
    }
    val rootsBefore = fixture.roots.flatMap(r => Files.sizes(r)).toMap
    fixture.phaseStarted()
    tracer.recording = true
    var i = workload.warmup
    def more = lat.sum < a.seconds || lat.size < workload.minOps || lat.size % workload.blockSize != 0
    while (more && System.nanoTime() < hardStop) {
      val op = fixture.next(i)
      val m0 = System.currentTimeMillis()
      val s0 = System.nanoTime()
      val ok = try op.run() catch {
        case e: Exception => System.err.println(s"[perfbench] op $i raised: $e"); false
      }
      lat += (System.nanoTime() - s0) / 1e9
      tracer.op(m0, System.currentTimeMillis(), lat.last)
      System.err.println(f"[perfbench] op $i ${op.kind} ${lat.last}%.3f s")
      if (ok) unchecked += 1 else failed += 1
      rows += op.rows; inBytes += op.inputBytes
      i += 1
      if (lat.size % checkEvery == 0 && more) gate()
    }
    gate()
    tracer.recording = false
    val phaseS = lat.sum
    val written = newBytes(rootsBefore, fixture.roots.flatMap(r => Files.sizes(r)).toMap)

    val sorted = lat.toSeq.sorted
    val n = sorted.size
    // the highest percentile with at least 10 samples beyond it, but
    // never below the 75th (under 40 samples none above it has 10
    // beyond), interpolated between the two nearest samples
    val tailPct = math.max(75.0, 100.0 * (n - 10) / n)
    val tail = percentile(sorted, tailPct)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_s", median(lat.toSeq), "s"),
      ("op_tail_s", tail, "s"),
      ("ops_per_s", n / phaseS, "1/s"),
      ("rows_per_s", rows / phaseS, "rows/s"),
      ("write_amp", if (inBytes == 0) 0.0 else written.toDouble / inBytes, "ratio"),
      ("peak_rss_mb", peakRssMb(), "MB"))

    val layers = if (!a.trace) Seq.empty else layerMetrics(tracer, fixture)
    val coverage = if (!a.trace) 0.0 else
      tracer.spans.filter(sp => OpLayers.contains(sp.layer)).map(_.ns / 1e9).sum / phaseS
    val calibEnd = calibrate()

    val diag = Seq(
      "workload" -> s""""${a.workload}"""", "seed" -> a.seed.toString,
      "scale" -> Scale.toString, "trace" -> (if (a.trace) "1" else "0"),
      "fail_frac" -> (failed.toDouble / n).toString,
      "op_samples" -> n.toString, "op_tail_pct" -> f"$tailPct%.2f",
      "phase_s" -> phaseS.toString, "session_s" -> sessionS.toString,
      "build_s" -> buildS.toString,
      "calib_start_s" -> calibStart.toString, "calib_end_s" -> calibEnd.toString,
      "trace_coverage" -> coverage.toString,
      "missing_counters" -> Counters.missing.map(c => s""""$c"""").mkString("[", ",", "]"))
    def metric(name: String, v: Double, unit: String) =
      s""""$name":{"value":${if (v.isNaN || v.isInfinite) 0.0 else v},"unit":"$unit"}"""
    println("PERFBENCH {" +
      s""""correct":${failed == 0 && gatesOk},"attempted":$n,"failed":$failed,""" +
      s""""end_to_end":{${e2e.map((metric _).tupled).mkString(",")}},""" +
      s""""per_layer":{${layers.map((metric _).tupled).mkString(",")}},""" +
      s""""diagnostics":{${diag.map { case (k, v) => s""""$k":$v""" }.mkString(",")}}}""")
    spark.stop()
  }

  private def unitOf(m: String): String =
    if (m == "bytes_written") "B" else if (m.endsWith("_s")) "s" else "count"

  /** Per-layer metrics of the measured phase from the recorded spans. */
  private def layerMetrics(tracer: Tracer, fixture: Fixture): Seq[(String, Double, String)] = {
    tracer.drain()
    val ratios = fixture.layerRatios()
    val perLayer = Layers.flatMap { case (layer, keep) =>
      // the spark layer is the op itself: every job and task of the op
      val spans: Seq[(Long, Long, Double, Array[Long])] =
        if (layer == "spark") tracer.ops.toSeq.map { case (s, e, secs) => (s, e, secs, Array.emptyLongArray) }
        else tracer.spans.toSeq.filter(_.layer == layer)
          .map(sp => (sp.startMs, sp.endMs, sp.ns / 1e9, sp.counters))
      val spark = spans.map { case (s, e, _, _) => tracer.sparkIn(s, e) }
      val wall = spans.map(_._3).sum
      val jobS = spark.map(_._2).sum
      val io = (Counters.Names :+ "bytes_written").zipWithIndex.map { case (c, k) =>
        c -> spans.map(sp => if (sp._4.isEmpty) 0L else sp._4(k)).sum.toDouble
      }.toMap
      val values = Map(
        "calls" -> spans.size.toDouble, "wall_s" -> wall, "p50_s" -> median(spans.map(_._3)),
        "jobs" -> spark.map(_._1).sum.toDouble, "job_s" -> jobS,
        "gap_s" -> math.max(wall - jobS, 0.0), "task_s" -> spark.map(_._3).sum) ++ io
      keep.map(m => (s"$layer.$m", values(m), unitOf(m)))
    }
    perLayer ++ Seq(
      ("write.rewritten_dir_frac", ratios.getOrElse("write.rewritten_dir_frac", 0.0), "ratio"),
      ("table.read_where.files_scanned_frac",
        ratios.getOrElse("table.read_where.files_scanned_frac", 0.0), "ratio"),
      ("table.commit.retries", tracer.retries.toDouble, "count"))
  }
}

/** Runs every workload once at a tiny scale, so the build can archive
  * the classes a run loads (class data sharing) and later JVMs start
  * faster. Usage: Prime <work dir>. */
object Prime {
  def main(argv: Array[String]): Unit = {
    val spark = Main.session(Main.Cpus, argv(0))
    Workload.all.foreach { case (name, w) =>
      val f = w.build(spark, s"${argv(0)}/$name", Settings(1L, Main.Scale, 0), new Tracer(spark, true))
      f.next(0).run()
      f.check()
    }
    spark.stop()
  }
}
