package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Failed queries report `"ok":false` and are
  * excluded from the total (so a broken query can't contribute bogus
  * wall-time).
  *
  * Each query is timed over TWO full passes and reports the per-query
  * MINIMUM (both raw timings stay in `"runs"`): single-shot timings on a
  * shared machine recorded phantom 3-5x regressions on untouched queries
  * in past rounds (transient CPU contention), and the minimum of two
  * spaced runs is the standard way to report capability rather than
  * interference. Pass 2 runs after every query's pass 1, so back-to-back
  * cache effects don't mask a genuinely slow query.
  */
object Bench {

  /** Driver-side IO counters attributed per run: commit-log entry
    * reads, full log listings, advisory-pointer reads + healing
    * probes, change-feed reads, and DV tombstone-scan dirs. Emitted
    * with every query and scale probe so a fixed-cost regression on a
    * many-small-commit query (e.g. pointer IO growing with commit
    * count) is attributable from BENCH_r{N}.json instead of guessed.
    * Also the JVM's codegen compiles and their Janino time
    * (`codegen_compiles`, `codegen_compile_ms`): a plan shape that misses
    * the generated-class cache shows up as compiles, not as a guess. */
  private[graft] def counterSnapshot(): Map[String, Long] = {
    import graft.table.ManagedTable
    Map(
      "log_entry_reads" -> ManagedTable.logEntryReads.get,
      "log_listings" -> ManagedTable.logListings.get,
      "ptr_reads" -> ManagedTable.ptrReads.get,
      "ptr_probes" -> ManagedTable.ptrProbes.get,
      "change_feed_reads" -> ManagedTable.changeFeedReads.get,
      "dv_scan_dirs" -> ManagedTable.dvScanDirs.get,
      "codegen_compiles" ->
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      "codegen_compile_ms" ->
        org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1000000L)
  }

  private def counterJson(before: Map[String, Long],
                          after: Map[String, Long]): String =
    before.keys.toSeq.sorted
      .map(k => s""""$k":${after(k) - before(k)}""")
      .mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Harness.sessionBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the session (JVM JIT, codegen compiler, parquet footer reads)
    // so the alphabetically-first query doesn't absorb ~4-5 s of one-time
    // startup cost and skew its per-query number.
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/nation.parquet").count()
    } catch { case _: Throwable => }

    // (sec, ok, stagingSec, counterDeltaJson)
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                 name: String, dir: String): (Double, Boolean, Double, String) = {
      Staging.reset()
      val c0 = counterSnapshot()
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, dir).count(); true }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
        }
      ((System.nanoTime() - t0) / 1e9, ok, Staging.elapsedSec,
        counterJson(c0, counterSnapshot()))
    }

    // dev knob: SPARK_GRAFT_ONLY=q1,q2 times a subset in isolation
    // (the driver never sets it, so recorded rounds always run everything)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val pass1 = ordered.map { case (name, fn) => timeOnce(fn, name, sfDir) }
    val pass2 = ordered.map { case (name, fn) => timeOnce(fn, name, sfDir) }
    val results = ordered.zip(pass1.zip(pass2)).map {
      case ((name, _), ((s1, ok1, g1, c1), (s2, ok2, g2, c2))) =>
        val good = Seq((s1, ok1, g1, c1), (s2, ok2, g2, c2))
          .collect { case (s, true, g, c) => (s, g, c) }
        // report the min run's timing AND that same run's staging share,
        // so sec − staging_sec is the operator cost of one coherent run
        val (sec, staging, ctr) =
          if (good.nonEmpty) good.minBy(_._1)
          else if (s1 <= s2) (s1, g1, c1) else (s2, g2, c2)
        (name, sec, ok1 || ok2, s1, s2, staging, ctr)
    }
    val qs = results
      .map { case (k, sec, ok, s1, s2, staging, ctr) =>
        s""""$k":{"sec":$sec,"ok":$ok,"staging_sec":$staging,"runs":[$s1,$s2],"counters":$ctr}"""
      }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, true, _, _, _, _) => v }.sum
    val totalStaging = results.collect { case (_, _, true, _, _, g, _) => g }.sum
    val nOk = results.count(_._3)

    // ---- scale probe: the most expensive queries re-run at EVERY other
    // available scale factor, so super-linear operator cost shows up as a
    // SLOPE across scales instead of hiding inside a single-sf number.
    // `sec_per_sf_ratio` keeps the round-over-round two-point form
    // (staging-free cost normalized by sf, larger scale over smaller;
    // ≈1 or below is linear-or-better) against the PRIMARY probe sf;
    // `slope` is the log-log least-squares fit over ALL points (main +
    // probes — a 100× spread catches super-linear terms a single 10×
    // ratio hides; < 1 is sub-linear). Each probe run also records its
    // driver-IO counter deltas, and `counters_main` the main run's, so
    // fixed-cost drift (pointer IO, log reads) is attributable.
    def sfOf(p: String): Option[Double] = {
      val n = new java.io.File(p).getName
      if (n.startsWith("sf")) scala.util.Try(n.drop(2).toDouble).toOption else None
    }
    val sfMain = sfOf(sfDir).getOrElse(1.0)
    val siblings: Seq[(String, Double)] = Option(new java.io.File(sfDir)
        .getParentFile)
      .flatMap(p => Option(p.listFiles())).getOrElse(Array.empty).toSeq
      .filter(_.isDirectory)
      .flatMap(f => sfOf(f.getPath).map(f.getPath -> _))
      .filter { case (p, sf) => p != sfDir && sf != sfMain }
      .sortBy(_._2)
    // primary keeps the historical pick: largest sf ABOVE the main run
    // (sf1 when the harness grows one), else the largest below
    // env override wins outright; overriding with the main dir itself
    // disables probing (the dev knob for pin-only validation runs)
    val primary: Option[(String, Double)] =
      sys.env.get("SPARK_GRAFT_PROBE_DIR")
        .map(d => (d, sfOf(d).getOrElse(1.0)))
        .orElse(siblings.filter(_._2 > sfMain).lastOption)
        .orElse(siblings.filter(_._2 < sfMain).lastOption)
        .filter(_._1 != sfDir)
    val probeJson = primary match {
      case Some((pd, _)) =>
        val extra = siblings.filterNot(_._1 == pd)
        // top-5 by cost, plus the distributed query-scale join plans and
        // the group-cardinality view folds pinned by name so their
        // per-sf ratios are tracked round-over-round even when they are
        // not among the most expensive queries
        val pinnedProbes = Set("ann_ivfpq", "phrase_search",
          "bm25_view_bulk_delete", "view_maintenance",
          // AS-OF serving: pinned so the probe counters keep showing
          // the watermark walks cost O(pointer probes), never a log
          // listing, as history accretes (VERDICT r16 item 6)
          "view_time_travel",
          // group-cardinality agg-view folds: the write path is
          // O(touched groups) only if the DV+APPEND tiering holds, and
          // the READ path O(touched dirs) only if the tombstone scan
          // dir-prunes — slope-track both so a regression shows as a
          // super-linear per-sf ratio
          "incremental_join_view", "agg_view_highcard")
        val top = (results.filter(_._3).sortBy(-_._2).take(5) ++
          results.filter(r => pinnedProbes.contains(r._1) && r._3))
          .distinctBy(_._1)
        val probed = top.map {
          case (name, secMain, _, _, _, stagingMain, ctrMain) =>
            // best-of-2 per scale like the main passes: secMain is a
            // warm min, and a single cold probe run would fold
            // JIT/warm-up into the slope
            def bestOf2(dir: String): (Double, Double, Boolean, String) = {
              val (p1, p2) = (timeOnce(SparkEntry.queries(name)(_, _),
                name, dir), timeOnce(SparkEntry.queries(name)(_, _),
                name, dir))
              val good = Seq(p1, p2).collect {
                case (s, true, g, c) => (s, g, c) }
              val (sec, staging, ctr) =
                if (good.nonEmpty) good.minBy(_._1)
                else if (p1._1 <= p2._1) (p1._1, p1._3, p1._4)
                else (p2._1, p2._3, p2._4)
              (sec, staging, p1._2 || p2._2, ctr)
            }
            val (secP, stagP, okP, ctrP) = bestOf2(pd)
            val netMain = math.max(secMain - stagingMain, 1e-3)
            val netProbe = math.max(secP - stagP, 1e-3)
            val sfProbe = sfOf(pd).getOrElse(1.0)
            // direction-independent: normalized cost at the LARGER scale
            // over the smaller — ≈1 or below is linear-or-better, a value
            // approaching sf_ratio is super-linear, whichever side probed
            val ((netLo, sfLo), (netHi, sfHi)) =
              if (sfMain <= sfProbe) ((netMain, sfMain), (netProbe, sfProbe))
              else ((netProbe, sfProbe), (netMain, sfMain))
            val ratio = (netHi / sfHi) / (netLo / sfLo)
            // third (and further) points widen the fit's sf spread
            val extraPts = extra.map { case (d, sf) =>
              val (s, g, ok, _) = bestOf2(d)
              (sf, math.max(s - g, 1e-3), ok)
            }.filter(_._3)
            val pts = ((sfMain, netMain) +: (sfProbe, netProbe) +:
              extraPts.map(p => (p._1, p._2))).sortBy(_._1)
            val slope = {
              val xs = pts.map(p => math.log(p._1))
              val ys = pts.map(p => math.log(p._2))
              val (mx, my) = (xs.sum / xs.size, ys.sum / ys.size)
              val sxx = xs.map(x => (x - mx) * (x - mx)).sum
              if (sxx == 0.0) 0.0
              else xs.zip(ys).map { case (x, y) =>
                (x - mx) * (y - my) }.sum / sxx
            }
            val ptsJson = pts.map { case (sf, net) =>
              s""""$sf":$net""" }.mkString("{", ",", "}")
            s""""$name":{"sec_main":$secMain,"sec_probe":$secP,""" +
              s""""net_main":$netMain,"net_probe":$netProbe,""" +
              s""""sec_per_sf_ratio":$ratio,"slope":$slope,""" +
              s""""points":$ptsJson,"counters_main":$ctrMain,""" +
              s""""counters_probe":$ctrP,"ok":$okP}"""
        }
        s""","scale_probe":{"probe_sf":"$pd","sf_ratio":${math.max(sfMain, sfOf(pd).getOrElse(1.0)) / math.min(sfMain, sfOf(pd).getOrElse(1.0))},""" +
          s""""queries":${probed.mkString("{", ",", "}")}}"""
      case None => ""
    }
    val line = s"""{"metric":"total","value":$total,"unit":"sec","staging_sec":$totalStaging,"queries":$qs,"n_ok":$nOk,"n_fail":${results.size - nOk},"sf":"$sfDir"$probeJson}"""
    // The driver keeps only a bounded tail of sbt's stdout, and the full
    // line (~26 KB at 212 queries) outgrows it — BENCH_r01..r16 all show
    // `parsed: null` with the line demonstrably printed. So the SAME
    // one-line JSON is also written to a file the driver (and the judge)
    // can read whole: ./bench_out.json (cwd is the repo root under
    // `sbt run`), plus $SPARK_GRAFT_BENCH_OUT when set.
    val outFiles = Seq("bench_out.json") ++ sys.env.get("SPARK_GRAFT_BENCH_OUT")
    outFiles.foreach { p =>
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(p), line + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $p: ${e.getMessage}")
      }
    }
    spark.stop()
    // printed last (after spark.stop) so no Spark shutdown logging can
    // land between the JSON line and end-of-output
    println(line)
    System.out.flush()
  }
}
