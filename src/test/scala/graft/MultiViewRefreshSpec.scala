package graft

import graft.llm.Retrieval
import graft.table._
import org.apache.spark.sql.functions._

/** One-pass multi-view maintenance ([[StandingViews]]): N standing
  * views over one corpus fold from ONE change-feed read per watermark
  * (netted once per payload signature), commit-for-commit equal to
  * individually-refreshed twins — the flagship pipeline's daily tick
  * without N scans of a TB-scale slice. */
class MultiViewRefreshSpec extends SparkSpec {
  import spark.implicits._

  private val words = Seq("spark", "merge", "table", "stream", "window",
    "bay", "york", "hash", "row", "group")

  /** Docs with BOTH payload kinds: text (bm25/phrase/neardup netting)
    * and an embedding (ann netting). */
  private def docs(ids: Range, shift: Double = 0.0) = ids.map { i =>
    val text = Seq(words(i % 10), words((i / 2) % 10), words((i * 3) % 10))
      .mkString(" ")
    val emb = Array.tabulate(8)(d => math.sin(i * 7 + d * 3) + shift).toSeq
    (i.toLong, text, emb)
  }.toDF("doc_id", "text", "embedding")

  test("refreshAll: N views fold from ONE change-feed read, each equal " +
      "to its individually-refreshed twin") {
    val src = tmpDir("mv_src")
    val t = ManagedTable(spark, src)
    t.write(docs(0 until 64), "APPEND", "append")
    def mkSet(tag: String) = Seq[CdfMaintainedView](
      new Bm25IndexView(spark, src, tmpDir(s"mv_${tag}_bm25"),
        expectedDocs = 1000),
      new PositionalIndexView(spark, src, tmpDir(s"mv_${tag}_ph"),
        expectedDocs = 1000),
      new NearDupIndexView(spark, src, tmpDir(s"mv_${tag}_nd"),
        expectedDocs = 1000),
      // the additive corpus-LM shares the text views' netting SIGNATURE
      new CorpusLmView(spark, src, tmpDir(s"mv_${tag}_lm")),
      new AnnIndexView(spark, src, tmpDir(s"mv_${tag}_ann"),
        idCol = "doc_id", vecCol = "embedding", nlist = 4, m = 4, ksub = 8,
        expectedVecs = 1000))
    val multi = mkSet("a")
    val twins = mkSet("b")
    def twinRefresh(v: CdfMaintainedView): Unit = v match {
      case r: RowLocalIndexView => r.refresh(); ()
      case l: CorpusLmView => l.refresh(); ()
      case other => fail(s"unexpected view kind $other")
    }
    def readOf(v: CdfMaintainedView) = v match {
      case r: RowLocalIndexView => r.read
      case l: CorpusLmView => l.read
      case other => fail(s"unexpected view kind $other")
    }
    (multi ++ twins).foreach(_.initialize())
    // one day's churn: an append, a curation delete, a text-only update
    // (the embedding netting must see it cancel to nothing)
    t.write(docs(64 until 72), "APPEND", "append")
    t.delete(col("doc_id") === 3L)
    t.update(Map("text" -> lit("fresh york window")), col("doc_id") === 5L)
    twins.foreach(twinRefresh)
    ManagedTable.changeFeedReads.set(0L)
    assert(StandingViews.refreshAll(spark, multi) ===
      Map(src -> t.latestVersion.get))
    assert(ManagedTable.changeFeedReads.get === 1L,
      "however many views, the unprocessed slice is read ONCE")
    multi.zip(twins).foreach { case (a, b) =>
      assert(a.sourceVersion === b.sourceVersion)
      assert(readOf(a).exceptAll(readOf(b)).isEmpty &&
        readOf(b).exceptAll(readOf(a)).isEmpty,
        "one-pass fold drifted from the individually-refreshed twin")
    }
    // already-current pass: zero reads, zero commits
    val heads = multi.map(v => v.sourceVersion)
    ManagedTable.changeFeedReads.set(0L)
    StandingViews.refreshAll(spark, multi)
    assert(ManagedTable.changeFeedReads.get === 0L)
    assert(multi.map(_.sourceVersion) === heads)
    // views may span SOURCES — one slice read PER SOURCE, never per view
    val src2 = tmpDir("mv_src2")
    val t2 = ManagedTable(spark, src2)
    t2.write(docs(0 until 16), "APPEND", "append")
    val foreign = new Bm25IndexView(spark, src2, tmpDir("mv_other_st"),
      expectedDocs = 1000)
    foreign.initialize()
    t.write(docs(72 until 76), "APPEND", "append")
    t2.write(docs(16 until 20), "APPEND", "append")
    ManagedTable.changeFeedReads.set(0L)
    val got = StandingViews.refreshAll(spark, multi :+ foreign)
    assert(got === Map(src -> t.latestVersion.get,
      src2 -> t2.latestVersion.get))
    assert(ManagedTable.changeFeedReads.get === 2L,
      "two sources, one slice read EACH")
    assert(foreign.sourceVersion === t2.latestVersion.get)
    val rebuiltF = Retrieval.bm25Postings(t2.read, "text", "doc_id")
    assert(foreign.read.exceptAll(rebuiltF).isEmpty &&
      rebuiltF.exceptAll(foreign.read).isEmpty)
    // the STREAMING form still streams one source per checkpoint
    val e = intercept[IllegalArgumentException](
      StandingViews.refreshStreamAll(spark, multi :+ foreign,
        tmpDir("mv_refuse_ck")))
    assert(e.getMessage.contains("ONE source"))
  }

  test("refreshAll hands the RAW slice to the agg/join views — a corpus " +
      "with standing indexes AND marts reads the slice once") {
    val src = tmpDir("mva_src")
    val t = ManagedTable(spark, src)
    def corpus(ids: Range) = ids.map { i =>
      (i.toLong, s"${words(i % 10)} ${words((i / 2) % 10)}",
        (i % 5).toLong, i * 1.5)
    }.toDF("doc_id", "text", "bucket", "score")
    t.write(corpus(0 until 64), "APPEND", "append")
    val dim = tmpDir("mva_dim")
    val dimT = ManagedTable(spark, dim)
    dimT.write((0L to 4L).map(b => (b, s"seg$b")).toDF("bucket", "segment"),
      "APPEND", "append")
    val bm25 = new Bm25IndexView(spark, src, tmpDir("mva_bm25"),
      expectedDocs = 1000)
    val agg = new IncrementalAggView(spark, src, tmpDir("mva_agg"),
      Seq("bucket"), Seq("score"))
    val jv = new IncrementalJoinAggView(spark, src, dim, tmpDir("mva_join"),
      joinKeys = Seq("bucket"), groupCols = Seq("segment"),
      sumCols = Seq("score"))
    bm25.initialize(); agg.initialize(); jv.initialize()
    // one tick's churn on the shared corpus
    t.write(corpus(64 until 80), "APPEND", "append")
    t.delete(col("doc_id") % 7 === 0)
    ManagedTable.changeFeedReads.set(0L)
    val got = StandingViews.refreshAll(spark, Seq(bm25, agg, jv))
    assert(got === Map(src -> t.latestVersion.get))
    assert(ManagedTable.changeFeedReads.get === 1L,
      "index + agg + join views must share ONE slice read")
    assert(agg.sourceVersion === t.latestVersion.get)
    assert(jv.sourceVersions ===
      ((t.latestVersion.get, dimT.latestVersion.get)))
    val rebuilt = Retrieval.bm25Postings(t.read, "text", "doc_id")
    assert(bm25.read.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(bm25.read).isEmpty)
    val wantAgg = t.read.groupBy("bucket")
      .agg(sum(lit(1L)).as("cnt"),
        sum(col("score").cast("decimal(28,6)")).cast("decimal(28,6)")
          .as("sum_score"))
    assert(agg.read.exceptAll(wantAgg).count() === 0 &&
      wantAgg.exceptAll(agg.read).count() === 0,
      "one-pass agg fold drifted from the recompute")
    val wantJ = t.read.join(dimT.read, Seq("bucket")).groupBy("segment")
      .agg(sum(lit(1L)).as("cnt"),
        sum(col("score").cast("decimal(28,6)")).cast("decimal(28,6)")
          .as("sum_score"))
    assert(jv.read.exceptAll(wantJ).count() === 0 &&
      wantJ.exceptAll(jv.read).count() === 0,
      "one-pass join fold drifted from the join recompute")
    // a dimension-only change folds in the SAME one-pass call: the fact
    // slice loop has nothing for it, but the aux-source check (pointer
    // reads on the dim table) routes the mart through its own
    // both-sides refresh
    dimT.update(Map("segment" -> lit("MOVED")), col("bucket") === 1L)
    StandingViews.refreshAll(spark, Seq(bm25, agg, jv))
    assert(jv.sourceVersions._2 === dimT.latestVersion.get,
      "refreshAll must fold a dimension-only change without a fact commit")
    val wantJ2 = t.read.join(dimT.read, Seq("bucket")).groupBy("segment")
      .agg(sum(lit(1L)).as("cnt"),
        sum(col("score").cast("decimal(28,6)")).cast("decimal(28,6)")
          .as("sum_score"))
    assert(jv.read.exceptAll(wantJ2).count() === 0 &&
      wantJ2.exceptAll(jv.read).count() === 0)
  }

  test("refreshAll groups by watermark: a lagging view heals with its " +
      "own slice read") {
    val src = tmpDir("mvw_src")
    val t = ManagedTable(spark, src)
    t.write(docs(0 until 16), "APPEND", "append")
    val bm25 = new Bm25IndexView(spark, src, tmpDir("mvw_bm25"),
      expectedDocs = 1000)
    val phrase = new PositionalIndexView(spark, src, tmpDir("mvw_ph"),
      expectedDocs = 1000)
    bm25.initialize(); phrase.initialize()
    t.write(docs(16 until 20), "APPEND", "append")
    bm25.refresh() // bm25 leads; phrase lags
    t.write(docs(20 until 24), "APPEND", "append")
    ManagedTable.changeFeedReads.set(0L)
    StandingViews.refreshAll(spark, Seq(bm25, phrase))
    assert(ManagedTable.changeFeedReads.get === 2L,
      "two watermark groups → two slice reads, never one per view")
    assert(bm25.sourceVersion === t.latestVersion.get &&
      phrase.sourceVersion === t.latestVersion.get)
    val rebuilt = Retrieval.bm25Postings(t.read, "text", "doc_id")
    assert(bm25.read.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(bm25.read).isEmpty)
    val rebuiltP = Retrieval.positionalIndex(t.read, "text", "doc_id")
    assert(phrase.read.exceptAll(rebuiltP).isEmpty &&
      rebuiltP.exceptAll(phrase.read).isEmpty)
  }

  test("refreshAll with failing views: siblings land once, the first " +
      "failure in task order surfaces, a rerun converges") {
    import MultiViewRefreshSpec.FlakyView
    val src = tmpDir("mvf_src")
    val t = ManagedTable(spark, src)
    t.write(docs(0 until 16), "APPEND", "append")
    val bmSt = tmpDir("mvf_bm25"); val okSt = tmpDir("mvf_ok")
    val bm25 = new Bm25IndexView(spark, src, bmSt, expectedDocs = 1000)
    val a = new FlakyView(spark, src, tmpDir("mvf_a"))
    val ok = new FlakyView(spark, src, okSt)
    val b = new FlakyView(spark, src, tmpDir("mvf_b"))
    val views = Seq(bm25, a, ok, b)
    views.foreach(_.initialize())
    t.write(docs(16 until 24), "APPEND", "append")
    val latest = t.latestVersion.get
    def commits = Seq(bmSt, okSt).map(ManagedTable(spark, _).history.size)
    val before = commits
    a.fail = Some("view a"); b.fail = Some("view b")
    val e = intercept[IllegalStateException](StandingViews.refreshAll(spark, views))
    assert(e.getMessage === "view a", "the first failure in task order surfaces")
    assert(bm25.sourceVersion === latest && ok.sourceVersion === latest)
    assert(a.sourceVersion < latest && b.sourceVersion < latest)
    val landed = commits
    assert(landed.zip(before).forall { case (l, b0) => l > b0 })
    a.fail = None; b.fail = None
    assert(StandingViews.refreshAll(spark, views) === Map(src -> latest))
    assert(commits === landed, "a sibling that landed folded again")
    views.foreach(v => assert(v.sourceVersion === latest))
    val want = t.read.select(col("doc_id"), length(col("text")).as("len"))
    Seq(a, ok, b).foreach(v =>
      assert(v.read.exceptAll(want).isEmpty && want.exceptAll(v.read).isEmpty))
    val rebuilt = Retrieval.bm25Postings(t.read, "text", "doc_id")
    assert(bm25.read.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(bm25.read).isEmpty)
  }

  test("refreshStreamAll: ONE CDF stream drives every view's fold per " +
      "micro-batch; a resumed checkpoint folds only the new slice") {
    val src = tmpDir("mvs_src")
    val ck = tmpDir("mvs_ck")
    val t = ManagedTable(spark, src)
    t.write(docs(0 until 16), "APPEND", "append")
    val bm25 = new Bm25IndexView(spark, src, tmpDir("mvs_bm25"),
      expectedDocs = 1000)
    val phrase = new PositionalIndexView(spark, src, tmpDir("mvs_ph"),
      expectedDocs = 1000)
    // a SIGNED-contract view rides the same stream: a per-doc count
    // mart (group = doc_id — the fine-grained mart shape)
    val agg = new IncrementalAggView(spark, src, tmpDir("mvs_agg"),
      Seq("doc_id"), Nil)
    bm25.initialize(); phrase.initialize(); agg.initialize()
    t.write(docs(16 until 24), "APPEND", "append")
    t.delete(col("doc_id") === 2L)
    val views: Seq[StandingView] = Seq(bm25, phrase, agg)
    val q = StandingViews.refreshStreamAll(spark, views, ck)
    assert(q.awaitTermination(120000), "multi-view stream did not drain")
    def checkBoth(): Unit = {
      val rebuilt = Retrieval.bm25Postings(t.read, "text", "doc_id")
      assert(bm25.read.exceptAll(rebuilt).isEmpty &&
        rebuilt.exceptAll(bm25.read).isEmpty)
      val rebuiltP = Retrieval.positionalIndex(t.read, "text", "doc_id")
      assert(phrase.read.exceptAll(rebuiltP).isEmpty &&
        rebuiltP.exceptAll(phrase.read).isEmpty)
      val wantAgg = t.read.groupBy("doc_id").agg(sum(lit(1L)).as("cnt"))
      assert(agg.read.exceptAll(wantAgg).count() === 0 &&
        wantAgg.exceptAll(agg.read).count() === 0,
        "streamed signed fold drifted from the recompute")
    }
    checkBoth()
    // resume the SAME checkpoint after one more slice — exactly that
    // slice folds into ALL views
    t.write(docs(24 until 28), "APPEND", "append")
    val q2 = StandingViews.refreshStreamAll(spark, views, ck)
    assert(q2.awaitTermination(120000))
    checkBoth()
    assert(bm25.sourceVersion === t.latestVersion.get &&
      phrase.sourceVersion === t.latestVersion.get &&
      agg.sourceVersion === t.latestVersion.get)
    // an up-to-date pass on a fresh checkpoint commits nothing
    val heads = views.map(_.sourceVersion)
    val q3 = StandingViews.refreshStreamAll(spark, views,
      tmpDir("mvs_ck2"))
    assert(q3.awaitTermination(120000))
    assert(views.map(_.sourceVersion) === heads)
  }

  test("refreshStreamAllMulti: one stream + deterministic checkpoint " +
      "subdir per source; a resumed root folds only each source's tail") {
    val srcA = tmpDir("mvm_a"); val srcB = tmpDir("mvm_b")
    val ck = tmpDir("mvm_ck")
    val ta = ManagedTable(spark, srcA); val tb = ManagedTable(spark, srcB)
    ta.write(docs(0 until 16), "APPEND", "append")
    tb.write(docs(0 until 12), "APPEND", "append")
    val bmA = new Bm25IndexView(spark, srcA, tmpDir("mvm_bma"),
      expectedDocs = 1000)
    val bmB = new Bm25IndexView(spark, srcB, tmpDir("mvm_bmb"),
      expectedDocs = 1000)
    bmA.initialize(); bmB.initialize()
    ta.write(docs(16 until 20), "APPEND", "append")
    tb.delete(col("doc_id") === 3L)
    def drainAll(): Unit = StandingViews
      .refreshStreamAllMulti(spark, Seq(bmA, bmB), ck).values
      .foreach(q => assert(q.awaitTermination(120000)))
    drainAll()
    def checkBoth(): Unit = Seq((bmA, ta), (bmB, tb)).foreach {
      case (v, t) =>
        assert(v.sourceVersion === t.latestVersion.get)
        val rebuilt = Retrieval.bm25Postings(t.read, "text", "doc_id")
        assert(v.read.exceptAll(rebuilt).isEmpty &&
          rebuilt.exceptAll(v.read).isEmpty)
    }
    checkBoth()
    // resume from the SAME root: each source's stream picks up its own
    // checkpointed offsets and folds exactly its new slice
    ta.write(docs(20 until 24), "APPEND", "append")
    tb.write(docs(12 until 14), "APPEND", "append")
    drainAll()
    checkBoth()
  }

  private def corpusRows(ids: Range) = ids.map { i =>
    (i.toLong, s"${words(i % 10)} ${words((i / 2) % 10)}",
      (i % 5).toLong, i * 1.5)
  }.toDF("doc_id", "text", "bucket", "score")

  private def joinRecompute(t: ManagedTable, dimT: ManagedTable) =
    t.read.join(dimT.read, Seq("bucket")).groupBy("segment")
      .agg(sum(lit(1L)).as("cnt"),
        sum(col("score").cast("decimal(28,6)")).cast("decimal(28,6)")
          .as("sum_score"))

  test("dimTriggers: a dimension-only change folds on the dim table's " +
      "own trigger stream, not the next fact epoch") {
    val src = tmpDir("mvd_src"); val dim = tmpDir("mvd_dim")
    val ck = tmpDir("mvd_ck")
    val t = ManagedTable(spark, src); val dimT = ManagedTable(spark, dim)
    t.write(corpusRows(0 until 40), "APPEND", "append")
    dimT.write((0L to 4L).map(b => (b, s"seg$b")).toDF("bucket", "segment"),
      "APPEND", "append")
    val bm25 = new Bm25IndexView(spark, src, tmpDir("mvd_bm25"),
      expectedDocs = 1000)
    val jv = new IncrementalJoinAggView(spark, src, dim, tmpDir("mvd_jv"),
      joinKeys = Seq("bucket"), groupCols = Seq("segment"),
      sumCols = Seq("score"))
    bm25.initialize(); jv.initialize()
    // a dimension-only tick: NO fact commit anywhere
    dimT.update(Map("segment" -> lit("MOVED")), col("bucket") === 2L)
    val qs = StandingViews.refreshStreamAllMulti(spark, Seq(bm25, jv), ck,
      dimTriggers = true)
    assert(qs.keySet === Set(src, dim),
      "the dim table gets its own trigger stream (aux-only source)")
    qs.values.foreach(q => assert(q.awaitTermination(120000)))
    assert(jv.sourceVersions._2 === dimT.latestVersion.get,
      "the dim trigger stream must fold the mart without a fact epoch")
    val want = joinRecompute(t, dimT)
    assert(jv.read.exceptAll(want).isEmpty && want.exceptAll(jv.read).isEmpty)
    // resume the same root with churn on BOTH sides: the fact stream
    // folds bm25 + the mart's left range, the dim stream re-triggers
    t.write(corpusRows(40 until 48), "APPEND", "append")
    dimT.update(Map("segment" -> lit("MOVED2")), col("bucket") === 0L)
    StandingViews.refreshStreamAllMulti(spark, Seq(bm25, jv), ck,
      dimTriggers = true).values.foreach(q => assert(q.awaitTermination(120000)))
    assert(jv.sourceVersions ===
      ((t.latestVersion.get, dimT.latestVersion.get)))
    val want2 = joinRecompute(t, dimT)
    assert(jv.read.exceptAll(want2).isEmpty && want2.exceptAll(jv.read).isEmpty)
    val rebuilt = Retrieval.bm25Postings(t.read, "text", "doc_id")
    assert(bm25.read.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(bm25.read).isEmpty)
  }

  test("dimTriggers: a dim table that is ALSO a primary source rides its " +
      "existing stream — no third query") {
    val src = tmpDir("mvp_src"); val dim = tmpDir("mvp_dim")
    val ck = tmpDir("mvp_ck")
    val t = ManagedTable(spark, src); val dimT = ManagedTable(spark, dim)
    t.write(corpusRows(0 until 30), "APPEND", "append")
    dimT.write((0L to 4L).map(b => (b, s"seg$b")).toDF("bucket", "segment"),
      "APPEND", "append")
    val jv = new IncrementalJoinAggView(spark, src, dim, tmpDir("mvp_jv"),
      joinKeys = Seq("bucket"), groupCols = Seq("segment"),
      sumCols = Seq("score"))
    // the dim table carries its own standing view too (kind-agnostic:
    // any view whose PRIMARY source is the dim table)
    val dimAgg = new IncrementalAggView(spark, dim, tmpDir("mvp_dimagg"),
      Seq("segment"), Nil)
    jv.initialize(); dimAgg.initialize()
    dimT.write(Seq((5L, "seg5")).toDF("bucket", "segment"),
      "APPEND", "append")
    val qs = StandingViews.refreshStreamAllMulti(spark,
      Seq(jv, dimAgg), ck, dimTriggers = true)
    assert(qs.keySet === Set(src, dim),
      "the mart's dim side must ride the dim table's primary stream")
    qs.values.foreach(q => assert(q.awaitTermination(120000)))
    assert(jv.sourceVersions._2 === dimT.latestVersion.get,
      "the dim table's primary epoch must also trigger the mart")
    assert(dimAgg.sourceVersion === dimT.latestVersion.get)
    val want = joinRecompute(t, dimT)
    assert(jv.read.exceptAll(want).isEmpty && want.exceptAll(jv.read).isEmpty)
  }
}

object MultiViewRefreshSpec {
  /** A minimal row-local view, one `(doc_id, len)` row per document,
    * whose slice folds throw `fail` before they commit while it is set. */
  final class FlakyView(spark: org.apache.spark.sql.SparkSession,
                        src: String, st: String)
    extends RowLocalIndexView(spark, src, st, "doc_id", Seq("text"),
      "flaky view", "FLAKY", 1000L) {
    @volatile var fail: Option[String] = None
    override protected def buildRows(docs: org.apache.spark.sql.DataFrame) =
      docs.select(col("doc_id"), length(col("text")).as("len"))
    override protected def refreshMeta(v: Long,
                                       ins: org.apache.spark.sql.DataFrame,
                                       del: org.apache.spark.sql.DataFrame) = {
      fail.foreach(m => throw new IllegalStateException(m))
      super.refreshMeta(v, ins, del)
    }
  }
}
