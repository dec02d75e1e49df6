package graft

import graft.llm.{Retrieval, Similarity}
import graft.table.{AnnIndexView, ManagedTable, PositionalIndexView}
import org.apache.spark.sql.functions._

/** Lifecycle pins for the positional-index and IVF-PQ index views:
  * fold-equals-rebuild (or re-encode) under appends/deletes/updates,
  * the pure-insert APPEND fast path (the standing index must not be
  * rewritten), watermark recovery, no-op refreshes, duplicate-id
  * refusal, and the CALL surface. */
class IndexViewsSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "new york city new york"),
    (2L, "york new"),
    (3L, "san francisco bay"),
    (4L, "new york stream table"),
    (5L, "bay area san francisco bay")).toDF("doc_id", "text")

  test("positional view: append folds as an APPEND commit; deletes and " +
      "updates tombstone via deletion vectors; merged equals rebuilt; " +
      "restart + no-op") {
    val src = tmpDir("pv_src"); val st = tmpDir("pv_st")
    val t = ManagedTable(spark, src)
    t.write(corpus.filter(col("doc_id") <= 3), "APPEND", "append")
    new PositionalIndexView(spark, src, st, expectedDocs = 1000).initialize()
    // pure-insert slice: MUST land as an append commit (O(batch))
    t.write(corpus.filter(col("doc_id") > 3), "APPEND", "append")
    val view = new PositionalIndexView(spark, src, st)
    assert(view.refresh() === 1L)
    assert(ManagedTable(spark, st).lastCommit.get.operation === "PHRASE_REFRESH")
    assert(ManagedTable(spark, st).lastCommit.get.dirs.size === 2,
      "a pure-insert refresh must APPEND a dir, not rewrite the index")
    def rebuilt = Retrieval.positionalIndex(t.read, "text", "doc_id")
    assert(view.read.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(view.read).isEmpty)
    // coarse dir-rewrite delete + update in one range, restarted instance
    t.delete(col("doc_id") === 2L)
    t.update(Map("text" -> lit("york york york")), col("doc_id") === 3L)
    val dirsBefore = ManagedTable(spark, st).lastCommit.get.dirs
    val again = new PositionalIndexView(spark, src, st)
    assert(again.refresh() === 3L)
    // the gated delete slice lands as a DV commit rewriting NO dir,
    // then the update's entering rows APPEND
    val stT = ManagedTable(spark, st)
    val dv = stT.commitAt(stT.latestVersion.get - 1L)
    assert(dv.operation === "DELETE VECTORS" && dv.dirs === dirsBefore,
      s"a gated delete slice must tombstone, got ${dv.operation}")
    assert(stT.lastCommit.get.operation === "PHRASE_REFRESH")
    assert(again.read.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(again.read).isEmpty)
    // phrase search through the maintained index equals one-shot
    val phrases = Seq((1L, "new york"), (2L, "york york"),
      (3L, "san francisco bay")).toDF("query_id", "query_text")
    assertSameRows(
      Retrieval.phraseSearchWith(phrases, again.read, k = 5),
      Retrieval.phraseSearch(t.read, phrases, k = 5))
    // no-op refresh commits nothing
    val v = ManagedTable(spark, st).latestVersion
    assert(again.refresh() === 3L)
    assert(ManagedTable(spark, st).latestVersion === v)
  }

  test("state-table maintenance is transparent to the watermark: OPTIMIZE " +
      "and ANALYZE commits don't strand the view, RESTORE carries the " +
      "restored fold's watermark") {
    val src = tmpDir("pvm_src"); val st = tmpDir("pvm_st")
    val t = ManagedTable(spark, src)
    t.write(corpus.filter(col("doc_id") <= 2), "APPEND", "append")
    val view = new PositionalIndexView(spark, src, st, expectedDocs = 1000)
    view.initialize()
    t.write(corpus.filter(col("doc_id") === 3L), "APPEND", "append")
    assert(view.refresh() === 1L)
    // fold the state's small dirs + recompute stats — neither commit
    // carries a watermark, and neither may strand the view
    spark.sql(s"CALL graft.optimize('$st')")
    spark.sql(s"CALL graft.analyze('$st')")
    assert(view.sourceVersion === 1L)
    t.write(corpus.filter(col("doc_id") > 3), "APPEND", "append")
    assert(view.refresh() === 2L)
    val rebuilt = Retrieval.positionalIndex(t.read, "text", "doc_id")
    assert(view.read.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(view.read).isEmpty)
    // RESTORE the state to the first fold: the restore commit carries
    // that fold's watermark, so the view resumes from there and can
    // re-fold the later range
    val stT = ManagedTable(spark, st)
    val v1 = stT.history.reverse.find(_.operation == "PHRASE_REFRESH").get
    stT.restore(v1.version)
    assert(view.sourceVersion === 1L,
      "restore must resume the watermark of the restored fold")
    assert(view.refresh() === 2L)
    assert(view.read.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(view.read).isEmpty)
  }

  test("RESTORE to a watermark-LESS maintenance commit resumes from the " +
      "restored data's own fold, not a newer superseded watermark") {
    val src = tmpDir("pvr_src"); val st = tmpDir("pvr_st")
    val t = ManagedTable(spark, src)
    t.write(corpus.filter(col("doc_id") <= 2), "APPEND", "append")
    val view = new PositionalIndexView(spark, src, st, expectedDocs = 1000)
    view.initialize()
    t.write(corpus.filter(col("doc_id") === 3L), "APPEND", "append")
    assert(view.refresh() === 1L) // fold A (state v1)
    // a maintenance commit lands BETWEEN two folds — no watermark
    spark.sql(s"CALL graft.optimize('$st')")
    val stT = ManagedTable(spark, st)
    val optV = stT.latestVersion.get
    assert(stT.commitAt(optV).userMetadata.isEmpty)
    t.write(corpus.filter(col("doc_id") > 3), "APPEND", "append")
    assert(view.refresh() === 2L) // fold B
    // restore to the OPTIMIZE commit: the restored DATA is fold A, and
    // the walk must NOT find fold B's newer watermark (that would
    // silently never re-fold the A→B range)
    stT.restore(optV)
    assert(view.sourceVersion === 1L,
      "the walk must resume from the restored data's own fold")
    assert(view.refresh() === 2L)
    val rebuilt = Retrieval.positionalIndex(t.read, "text", "doc_id")
    assert(view.read.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(view.read).isEmpty)
  }

  test("two refreshes of the SAME view racing: exactly one lands, the " +
      "loser fails loudly, the watermark and index stay consistent") {
    val src = tmpDir("pvc_src"); val st = tmpDir("pvc_st")
    val t = ManagedTable(spark, src)
    t.write(corpus.filter(col("doc_id") <= 3), "APPEND", "append")
    new PositionalIndexView(spark, src, st, expectedDocs = 1000).initialize()
    t.write(corpus.filter(col("doc_id") > 3), "APPEND", "append")
    // two instances over the same paths, driven from two threads with a
    // start barrier — the expectedPrevVersion fence must let exactly one
    // of any COLLIDING pair land (a clean interleave where the second
    // starts after the first's commit is also legal: it no-ops at the
    // advanced watermark)
    val gate = new java.util.concurrent.CyclicBarrier(2)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val attempts = Seq(
      Future { gate.await()
        scala.util.Try(new PositionalIndexView(spark, src, st,
          expectedDocs = 1000).refresh()) },
      Future { gate.await()
        scala.util.Try(new PositionalIndexView(spark, src, st,
          expectedDocs = 1000).refresh()) })
      .map(Await.result(_, 120.seconds))
    assert(attempts.exists(_.isSuccess), "at least one refresh must land")
    attempts.filter(_.isFailure).foreach { f =>
      // three legitimate loud losses, depending on where the collision
      // lands: the state fence, the bloom table's own commit race, or
      // the new-id gate (the winner's rows already admitted)
      val msg = f.failed.get.getMessage
      assert(msg.contains("advanced from version") ||
        msg.contains("concurrent commit detected") ||
        msg.contains("already exist"),
        s"the losing refresh must fail on the fence, got: $msg")
    }
    // whatever the interleave, the final state is the single fold
    val view = new PositionalIndexView(spark, src, st, expectedDocs = 1000)
    assert(view.sourceVersion === 1L)
    val rebuilt = Retrieval.positionalIndex(t.read, "text", "doc_id")
    assert(view.read.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(view.read).isEmpty)
    assert(view.refresh() === 1L) // already current
  }

  test("a slice that nets to NOTHING (pure source compaction) still " +
      "advances the watermark and slides the retention hold — a " +
      "compact-only source does not pin its history forever") {
    val src = tmpDir("pv_net0_src"); val st = tmpDir("pv_net0_st")
    val t = ManagedTable(spark, src)
    t.write(corpus, "APPEND", "append")
    new PositionalIndexView(spark, src, st, expectedDocs = 100).initialize()
    val view = new PositionalIndexView(spark, src, st)
    // march the log past a full-snapshot boundary with tiny appends
    (0 until 11).foreach { i =>
      t.write(Seq((100L + i, s"extra doc number$i")).toDF("doc_id", "text"),
        "APPEND", "append")
    }
    assert(view.refresh() === 11L)
    val before = view.read.localCheckpoint()
    // pure compaction: the coarse add/remove feed nets to nothing
    assert(t.compactDirs().isDefined, "compaction must land a commit here")
    assert(t.latestVersion.get === 12L)
    assert(view.refresh() === 12L,
      "the nothing-net slice must still advance the watermark")
    assert(view.sourceVersion === 12L)
    assert(t.retentionHolds.get(st).contains(12L),
      "the hold must slide with the watermark")
    // the index content is untouched
    assert(view.read.exceptAll(before).isEmpty &&
      before.exceptAll(view.read).isEmpty)
    // and the compacted history can now age out
    t.vacuum(keepLast = 1)
    assert(t.earliestVersion.get > 0L)
  }

  test("refreshStream: a micro-batch that nets to NOTHING (pure source " +
      "compaction) advances the watermark and slides the retention hold, " +
      "as batch refresh does") {
    val src = tmpDir("pv_snet0_src"); val st = tmpDir("pv_snet0_st")
    val ck = tmpDir("pv_snet0_ck")
    val t = ManagedTable(spark, src)
    t.write(corpus, "APPEND", "append")
    (0 until 3).foreach { i =>
      t.write(Seq((100L + i, s"extra doc number$i")).toDF("doc_id", "text"),
        "APPEND", "append")
    }
    val view = new PositionalIndexView(spark, src, st, expectedDocs = 100)
    view.initialize()
    val before = view.read.localCheckpoint()
    // the only pending source commit: a compaction, whose coarse
    // add/remove feed nets to nothing
    assert(t.compactDirs().isDefined, "compaction must land a commit here")
    val compacted = t.latestVersion.get
    assert(view.refreshStream(ck).awaitTermination(120000),
      "view stream did not drain")
    assert(view.sourceVersion === compacted,
      "the nothing-net micro-batch must still advance the watermark")
    assert(t.retentionHolds.get(st).contains(compacted),
      "the hold must slide with the watermark")
    assert(view.read.exceptAll(before).isEmpty &&
      before.exceptAll(view.read).isEmpty)
  }

  test("a source vacuumed past the watermark refuses refresh with the " +
      "re-initialize remediation, not a missing-file error") {
    val src = tmpDir("pv_ret_src"); val st = tmpDir("pv_ret_st")
    val t = ManagedTable(spark, src)
    t.write(corpus, "APPEND", "append")
    new PositionalIndexView(spark, src, st, expectedDocs = 100).initialize()
    (0 until 12).foreach { i =>
      t.write(Seq((100L + i, s"tail doc number$i")).toDF("doc_id", "text"),
        "APPEND", "append")
    }
    // the view REGISTERED a retention hold at its watermark, so routine
    // vacuum clamps and cannot strand it
    assert(t.retentionHolds.get(st).contains(0L))
    t.vacuum(keepLast = 2)
    assert(t.earliestVersion.get === 0L,
      "the view's hold must clamp vacuum to its watermark")
    // an operator decommissions the view (releases the pin via SQL) —
    // NOW the history ages out, and a refresh refuses with remediation
    val shown = spark.sql(s"CALL graft.show_holds('$src')").collect()
    assert(shown.length === 1 && shown.head.getString(0) === st &&
      shown.head.getLong(1) === 0L)
    assert(spark.sql(s"CALL graft.release_hold('$src', '$st')").isEmpty)
    t.vacuum(keepLast = 2)
    assert(t.earliestVersion.get > 1L, "vacuum must age out the early log")
    val view = new PositionalIndexView(spark, src, st)
    val e = intercept[IllegalArgumentException] { view.refresh() }
    assert(e.getMessage.contains("re-initialize"),
      s"wrong remediation: ${e.getMessage}")
  }

  test("positional view: duplicate-id feeds refuse loudly") {
    val src = tmpDir("pv_src2"); val st = tmpDir("pv_st2")
    val t = ManagedTable(spark, src)
    t.write(corpus, "APPEND", "append")
    val view = new PositionalIndexView(spark, src, st, expectedDocs = 1000)
    view.initialize()
    t.write(Seq((2L, "another text")).toDF("doc_id", "text"),
      "APPEND", "append")
    val e = intercept[IllegalArgumentException] { view.refresh() }
    assert(e.getMessage.contains("already exist"))
  }

  private def vecs(ids: Range, shift: Double = 0.0) = ids.map { i =>
    val base = Array.tabulate(8)(d => math.sin(i * 7 + d * 3) + shift)
    (i.toLong, base.toSeq)
  }.toDF("vec_id", "embedding")

  test("ann view: appends append-encode against the frozen quantizer " +
      "(APPEND commit), deletes drop code rows, fold equals re-encode, " +
      "search finds planted copies; restart + no-op + duplicate refusal") {
    val src = tmpDir("av_src"); val st = tmpDir("av_st")
    val t = ManagedTable(spark, src)
    t.write(vecs(0 until 64), "APPEND", "append")
    new AnnIndexView(spark, src, st, nlist = 4, m = 4, ksub = 8,
      expectedVecs = 1000).initialize()
    // epoch 1: planted copies of 0..4 at +1000 — pure-insert APPEND path
    t.write(vecs(0 until 5).select((col("vec_id") + 1000).as("vec_id"),
      col("embedding")), "APPEND", "append")
    // codes are born clustered by cell (property lands in the init
    // commit itself), so probed-cell filters prune dirs/row groups
    assert(ManagedTable(spark, st).lastCommit.get.properties
      .get(ManagedTable.ClusterColumnsProp).contains("cell"))
    val view = new AnnIndexView(spark, src, st, nlist = 4, m = 4, ksub = 8)
    assert(view.refresh() === 1L)
    assert(ManagedTable(spark, st).lastCommit.get.operation === "ANN_REFRESH")
    assert(ManagedTable(spark, st).lastCommit.get.dirs.size === 2,
      "a pure-insert refresh must APPEND a dir, not rewrite the codes")
    // epoch 2: delete some originals NOT among the planted pairs
    t.delete(col("vec_id") >= 50 && col("vec_id") < 60)
    val again = new AnnIndexView(spark, src, st, nlist = 4, m = 4, ksub = 8)
    assert(again.refresh() === 2L)
    // fold equals re-encoding the FINAL corpus against the same quantizer
    val reencoded = Similarity.ivfPqAppend(again.centroids, again.codebooks,
      t.read)
    assert(again.read.exceptAll(reencoded).isEmpty &&
      reencoded.exceptAll(again.read).isEmpty,
      "maintained codes drifted from a re-encode of the final corpus")
    assert(again.read.filter(col("vec_id") === 55L).isEmpty)
    // search: each planted copy must rank its original first
    val queries = t.read.filter(col("vec_id") >= 1000)
    val top1 = again.search(queries, k = 3, nProbe = 2).filter(col("rank") === 1)
    assert(top1.filter(col("neighbor_id") =!= col("query_id") - 1000)
      .isEmpty, "planted copies must rank their originals first")
    // no-op refresh commits nothing
    val v = ManagedTable(spark, st).latestVersion
    assert(again.refresh() === 2L)
    assert(ManagedTable(spark, st).latestVersion === v)
    // a RE-EMBEDDED vector (update-in-place) folds as the (-pre, +post)
    // pair: the paired delete admits the reused id, the new embedding
    // re-encodes against the frozen quantizer
    t.update(Map("embedding" ->
        org.apache.spark.sql.functions.transform(col("embedding"),
          x => x + lit(0.25))),
      col("vec_id") === 7L)
    assert(again.refresh() === 3L)
    val reenc2 = Similarity.ivfPqAppend(again.centroids, again.codebooks,
      t.read)
    assert(again.read.exceptAll(reenc2).isEmpty &&
      reenc2.exceptAll(again.read).isEmpty,
      "re-embedded vector's codes drifted from the re-encode")
    // duplicate id without a paired delete refuses
    t.write(vecs(0 until 1), "APPEND", "append")
    val e = intercept[IllegalArgumentException] { again.refresh() }
    assert(e.getMessage.contains("already exist"))
  }

  test("ann view: a re-initialize retrains the quantizer but AS-OF reads " +
      "decode historical codes under their HISTORICAL quantizer; a crash " +
      "between the quantizer write and the init commit changes nothing") {
    val src = tmpDir("av_qv_src"); val st = tmpDir("av_qv_st")
    val t = ManagedTable(spark, src)
    t.write(vecs(0 until 64), "APPEND", "append")
    val view = new AnnIndexView(spark, src, st, nlist = 4, m = 4, ksub = 8)
    view.initialize()
    val stateV1 = ManagedTable(spark, st).latestVersion.get
    val queries = vecs(0 until 5)
    val before = view.searchAt(stateV1, queries, k = 3, nProbe = 4)
      .collect().map(_.toString).sorted.toSeq
    // the corpus drifts (a far-shifted cluster lands): the SQL drift
    // signal degrades measurably, and the policy fires — re-initialize
    // retrains quantizer + codes on the new corpus
    val mse0 = spark.sql(s"CALL graft.ann_view_drift('$src', '$st')")
      .head().getDouble(0)
    t.write(vecs(100 until 164, shift = 5.0), "APPEND", "append")
    val mse1 = spark.sql(s"CALL graft.ann_view_drift('$src', '$st')")
      .head().getDouble(0)
    assert(mse1 > mse0,
      s"the drift signal must degrade after the shifted cluster " +
        s"($mse0 -> $mse1)")
    view.initialize()
    val mse2 = spark.sql(s"CALL graft.ann_view_drift('$src', '$st')")
      .head().getDouble(0)
    assert(mse2 < mse1,
      s"re-training must recover the reconstruction error ($mse1 -> $mse2)")
    assert(ManagedTable(spark, st.stripSuffix("/") + "_centroids")
      .latestVersion.get > 0L, "re-initialize must land a NEW quantizer " +
      "version, not overwrite the one historical codes were encoded under")
    // AS-OF at the pre-re-init state version: identical rows — the old
    // codes decode under the OLD quantizer pair, not the retrained one
    val after = view.searchAt(stateV1, queries, k = 3, nProbe = 4)
      .collect().map(_.toString).sorted.toSeq
    assert(after === before,
      "searchAt across a re-initialize must reproduce the historical " +
        "ranking — codes decoded under a retrained quantizer")
    // current-state serving works against the retrained pair — all 4
    // cells probed and rerank covering the whole corpus makes the exact
    // re-rank authoritative, so an exact COPY query (fresh id — the
    // ranker excludes self-id matches) must rank its original first
    val probeQ = vecs(0 until 3)
      .select((col("vec_id") + 9000).as("vec_id"), col("embedding"))
      .localCheckpoint()
    val cur = view.search(probeQ, k = 3, nProbe = 4, rerank = 256)
    assert(cur.filter(col("rank") === 1)
      .filter(col("neighbor_id") =!= col("query_id") - 9000).isEmpty,
      "an exact copy must rank its original first under the current " +
        "quantizer")
    val curRows = cur.collect().map(_.toString).sorted.toSeq
    // crash window: a re-initialize that wrote its quantizer but died
    // before the init commit — the state still NAMES the old versions,
    // so every read (fresh instance: no staged version) is unchanged
    ManagedTable(spark, st.stripSuffix("/") + "_centroids").write(
      Similarity.centroidsTable(spark,
        Array.tabulate(4)(c => Array.tabulate(8)(d => c * 10.0 + d))),
      "ANN_QUANTIZER", "replace")
    val fresh = new AnnIndexView(spark, src, st, nlist = 4, m = 4, ksub = 8)
    assert(fresh.search(probeQ, k = 3, nProbe = 4, rerank = 256)
      .collect().map(_.toString).sorted.toSeq === curRows,
      "a crashed re-initialize's orphan quantizer version leaked into " +
        "serving — the state metadata must pin the governing version")
  }

  test("corpus LM view: signed token counts equal the recompute under " +
      "append, delete, and update; restart + no-op; CALL surface") {
    import graft.table.CorpusLmView
    import graft.llm.TextOps
    val src = tmpDir("lmv_src"); val st = tmpDir("lmv_st")
    val t = ManagedTable(spark, src)
    t.write(corpus.filter(col("doc_id") <= 3), "APPEND", "append")
    assert(spark.sql(s"CALL graft.init_lm_view('$src', '$st')")
      .head().getLong(0) === 0L)
    t.write(corpus.filter(col("doc_id") > 3), "APPEND", "append")
    assert(spark.sql(s"CALL graft.refresh_lm_view('$src', '$st')")
      .head().getLong(0) === 1L)
    t.delete(col("doc_id") === 1L)
    t.update(Map("text" -> lit("york bay bay")), col("doc_id") === 4L)
    val view = new CorpusLmView(spark, src, st)
    assert(view.refresh() === 3L)
    val rebuilt = TextOps.unigramModel(t.read)
    assert(view.read.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(view.read).isEmpty,
      "maintained LM drifted from the recompute")
    // a token whose count reaches zero LEAVES the model (doc 1 was the
    // only 'city' carrier)
    assert(view.read.filter(col("tok") === "city").isEmpty)
    val v = ManagedTable(spark, st).latestVersion
    assert(view.refresh() === 3L)
    assert(ManagedTable(spark, st).latestVersion === v)
  }

  test("neardup index view: stale indexes reject ghost re-submissions, " +
      "refreshed ones admit them; fold equals rebuild; CALL surface") {
    import graft.table.NearDupIndexView
    import graft.llm.Dedup
    val src = tmpDir("ndv_src"); val st = tmpDir("ndv_st")
    val t = ManagedTable(spark, src)
    val ghost = Seq((9L, (1 to 10).map(k => s"zzghost$k").mkString(" ")))
      .toDF("doc_id", "text")
    t.write(corpus.unionByName(ghost), "APPEND", "append")
    assert(spark.sql(s"CALL graft.init_neardup_view('$src', '$st', 1000)")
      .head().getLong(0) === 0L)
    t.delete(col("doc_id") === 9L)
    // stale: the re-submitted ghost is rejected as a dup of a deleted doc
    val resubmit = ghost.select((col("doc_id") + 100L).as("doc_id"),
      col("text"))
    val view = new NearDupIndexView(spark, src, st)
    assert(view.dedupBatch(resubmit).isEmpty)
    assert(spark.sql(s"CALL graft.refresh_neardup_view('$src', '$st')")
      .head().getLong(0) === 1L)
    // refreshed: the ghost is gone, the re-submission is admissible;
    // a copy of a LIVE doc still rejects
    assert(view.dedupBatch(resubmit).count() === 1L)
    val liveCopy = corpus.filter(col("doc_id") === 1L)
      .select((col("doc_id") + 200L).as("doc_id"), col("text"))
    assert(view.dedupBatch(liveCopy).isEmpty)
    val rebuilt = Dedup.buildNearDupIndex(t.read)
    assert(view.read.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(view.read).isEmpty)
  }

  test("benchmark index view: a retired benchmark stops holding back " +
      "clean training docs after refresh; fold equals rebuild; CALL") {
    import graft.table.BenchmarkIndexView
    import graft.llm.Dedup
    val src = tmpDir("bchv_src"); val st = tmpDir("bchv_st")
    val t = ManagedTable(spark, src)
    val evals = Seq(
      (1L, (1 to 10).map(k => s"zzevala$k").mkString(" ")),
      (2L, (1 to 10).map(k => s"zzevalb$k").mkString(" ")))
      .toDF("doc_id", "text")
    t.write(evals, "APPEND", "append")
    assert(spark.sql(s"CALL graft.init_benchmark_view('$src', '$st')")
      .head().getLong(0) === 0L)
    // benchmark 2 retires
    t.delete(col("doc_id") === 2L)
    val train = evals.select((col("doc_id") + 100L).as("doc_id"), col("text"))
    val view = new BenchmarkIndexView(spark, src, st)
    // stale: both copies held back (102 by the GHOST)
    assert(view.decontaminate(train).isEmpty)
    assert(spark.sql(s"CALL graft.refresh_benchmark_view('$src', '$st')")
      .head().getLong(0) === 1L)
    // refreshed: the retiree's copy passes, the survivor's stays held
    assert(view.decontaminate(train).select("doc_id").collect()
      .map(_.getLong(0)).toSeq === Seq(102L))
    val rebuilt = Dedup.benchmarkIndex(t.read)
    assert(view.read.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(view.read).isEmpty)
  }

  test("semantic index view: stale indexes reject ghost re-submissions, " +
      "refreshed ones admit them; fold equals re-index; CALL surface") {
    import graft.table.SemanticIndexView
    import graft.llm.Similarity
    val src = tmpDir("semv_src"); val st = tmpDir("semv_st")
    val t = ManagedTable(spark, src)
    // a ghost vector that provably matches nothing in the base set at
    // the 0.99 threshold (guard below keeps the scenario honest)
    val ghostArr = Array(1.0, -0.2, 0.9, -1.1, 0.3, 0.8, -0.6, 0.1)
    def cosA(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    val base = (0 until 32).map(i =>
      Array.tabulate(8)(d => math.sin(i * 7 + d * 3)))
    assert(base.forall(v => math.abs(cosA(v, ghostArr)) < 0.9),
      "pick a different ghost vector — this one collides with the base set")
    import spark.implicits._
    val ghost = Seq((1009L, ghostArr.toSeq)).toDF("vec_id", "embedding")
    t.write(vecs(0 until 32).unionByName(ghost), "APPEND", "append")
    assert(spark.sql(s"CALL graft.init_semantic_view('$src', '$st', 4)")
      .head().getLong(0) === 0L)
    t.delete(col("vec_id") === 1009L)
    val resubmit = ghost.select(lit(777L).as("vec_id"), col("embedding"))
      .localCheckpoint()
    val view = new SemanticIndexView(spark, src, st, nlist = 4)
    assert(view.dedupBatch(resubmit, threshold = 0.99).isEmpty,
      "stale index must reject the ghost re-submission")
    assert(spark.sql(s"CALL graft.refresh_semantic_view('$src', '$st')")
      .head().getLong(0) === 1L)
    assert(view.dedupBatch(resubmit, threshold = 0.99).count() === 1L,
      "refreshed index must admit the re-submission")
    val liveCopy = vecs(3 until 4)
      .select(lit(888L).as("vec_id"), col("embedding"))
    assert(view.dedupBatch(liveCopy, threshold = 0.99).isEmpty,
      "a copy of a live vector must still reject")
    val rebuilt = Similarity.buildSemanticIndex(view.centroids, t.read)
    assert(view.read.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(view.read).isEmpty)
  }

  test("view vacuum is coherent across state + bloom + quantizer: every " +
      "retained state version keeps serving, quantizer versions no " +
      "retained commit names are swept, aged-out AS-OF reads are gone") {
    val src = tmpDir("av_vac_src"); val st = tmpDir("av_vac_st")
    val t = ManagedTable(spark, src)
    t.write(vecs(0 until 64), "APPEND", "append")
    val view = new AnnIndexView(spark, src, st, nlist = 4, m = 4, ksub = 8)
    view.initialize() // state v0 names quantizer v0
    t.write(vecs(200 until 205), "APPEND", "append")
    view.refresh() // state v1 (quantizer v0)
    view.initialize() // re-init: state v2 names quantizer v1
    // a dozen refresh epochs push the head past a full-snapshot boundary
    // so vacuum genuinely ages out the early history
    (0 until 12).foreach { i =>
      t.write(vecs((300 + i * 5) until (305 + i * 5)), "APPEND", "append")
      view.refresh()
    }
    val queries = vecs(0 until 3)
    val head = view.search(queries, k = 3, nProbe = 4)
      .collect().map(_.toString).sorted.toSeq
    // the CALL surface drives the same coherent retention pass
    val pruned = spark.sql(
      s"CALL graft.vacuum_index_view('ann', '$src', '$st', 3)")
      .head().getInt(0)
    assert(pruned > 0, "vacuum_index_view must prune aged-out versions here")
    val stT = ManagedTable(spark, st)
    val earliest = stT.earliestVersion.get
    assert(earliest > 0L, "vacuum must age out early state versions here")
    // every RETAINED version still serves — the quantizer versions its
    // commits name survived the sidecar sweep
    (earliest to stT.latestVersion.get).foreach { v =>
      view.searchAt(v, queries, k = 3, nProbe = 4).collect(); ()
    }
    // current serving is untouched
    assert(view.search(queries, k = 3, nProbe = 4)
      .collect().map(_.toString).sorted.toSeq === head)
    // the pre-re-init quantizer (v0) is named by NO retained commit —
    // swept; the governing one (v1) survives as the earliest retained
    val cents = ManagedTable(spark, st.stripSuffix("/") + "_centroids")
    assert(cents.earliestVersion === Some(1L),
      s"quantizer retention drifted: ${cents.earliestVersion}")
    // the bloom keeps only its head (gates read the head; AS-OF serving
    // never consults it)
    val bloom = ManagedTable(spark, st.stripSuffix("/") + "_bloom")
    assert(bloom.earliestVersion === bloom.latestVersion)
    // an aged-out AS-OF read is gone by policy, loudly
    intercept[Exception] {
      view.searchAt(earliest - 1, queries, k = 3, nProbe = 4).collect()
    }
    // a head of watermark-less maintenance commits must not let a
    // count-based vacuum prune every watermarked commit and wedge the
    // walks — view.vacuum clamps to the newest watermark commit
    val wmBefore = view.sourceVersion
    view.maintain()
    view.vacuum(keepLast = 1)
    assert(view.sourceVersion === wmBefore,
      "vacuum after maintenance commits wedged the watermark walk")
    assert(view.search(queries, k = 3, nProbe = 4).collect().nonEmpty)
    // decommissioning: the state directory is dropped but its retention
    // hold would pin the SOURCE's history forever — vacuum_index_view of
    // the missing state releases the hold and says so
    assert(t.retentionHolds.contains(st))
    val fsSt = new org.apache.hadoop.fs.Path(st)
    fsSt.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(fsSt, true)
    val rel = spark.sql(
      s"CALL graft.vacuum_index_view('ann', '$src', '$st', 1)").head()
    assert(rel.getString(4).contains("released stale hold"))
    assert(!t.retentionHolds.contains(st),
      "the dropped view's source hold must be released")
  }

  test("semantic index view: re-initialize versions the quantizer — the " +
      "state names the version that encoded its cells, so an orphan " +
      "quantizer from a crashed re-init never leaks into dedup") {
    import graft.table.SemanticIndexView
    import graft.llm.Similarity
    val src = tmpDir("semv_qv_src"); val st = tmpDir("semv_qv_st")
    val t = ManagedTable(spark, src)
    t.write(vecs(0 until 32), "APPEND", "append")
    val view = new SemanticIndexView(spark, src, st, nlist = 4)
    view.initialize()
    // the corpus drifts, the drift policy fires: re-initialize retrains
    t.write(vecs(100 until 132, shift = 4.0), "APPEND", "append")
    view.initialize()
    assert(ManagedTable(spark, st.stripSuffix("/") + "_centroids")
      .latestVersion.get > 0L,
      "re-initialize must land a NEW quantizer version")
    // the maintained index equals a re-index under the CURRENT quantizer
    val rebuilt = Similarity.buildSemanticIndex(view.centroids, t.read)
    assert(view.read.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(view.read).isEmpty)
    val probe = vecs(3 until 4)
      .select(lit(888L).as("vec_id"), col("embedding")).localCheckpoint()
    assert(view.dedupBatch(probe, threshold = 0.99).isEmpty,
      "a copy of a live vector must reject under the retrained quantizer")
    // crash window: an orphan quantizer version (re-init died before its
    // init commit) — a fresh instance must keep deduping under the
    // version the state metadata names
    ManagedTable(spark, st.stripSuffix("/") + "_centroids").write(
      Similarity.centroidsTable(spark,
        view.centroids.map(_.map(_ + 50.0))), "SEMANTIC_QUANTIZER", "replace")
    val fresh = new SemanticIndexView(spark, src, st, nlist = 4)
    assert(fresh.dedupBatch(probe, threshold = 0.99).isEmpty,
      "orphan quantizer version leaked into dedup — the state metadata " +
        "must pin the governing version")
  }

  test("classifier model view: signed per-class counts and priors equal " +
      "the retrain under append/delete/label-flip update; CALL surface") {
    import graft.table.ClassifierModelView
    import graft.llm.QualityClassifier
    import spark.implicits._
    val src = tmpDir("nbv_src"); val st = tmpDir("nbv_st")
    val t = ManagedTable(spark, src)
    val rows = Seq(
      (1L, "good clean prose here", 1), (2L, "spam spam junk", 0),
      (3L, "more clean text words", 1), (4L, "junk junk junk spam", 0),
      (5L, "clean words prose text", 1))
      .toDF("doc_id", "text", "weak_label")
    t.write(rows.filter(col("doc_id") <= 3), "APPEND", "append")
    assert(spark.sql(s"CALL graft.init_nb_view('$src', '$st')")
      .head().getLong(0) === 0L)
    t.write(rows.filter(col("doc_id") > 3), "APPEND", "append")
    assert(spark.sql(s"CALL graft.refresh_nb_view('$src', '$st')")
      .head().getLong(0) === 1L)
    // delete a negative doc; flip a label WITH its text (update pair)
    t.delete(col("doc_id") === 2L)
    t.update(Map("text" -> lit("now junk spam junk"), "weak_label" -> lit(0)),
      col("doc_id") === 5L)
    val view = new ClassifierModelView(spark, src, st)
    assert(view.refresh() === 3L)
    val rebuilt = QualityClassifier.train(t.read)
    assert(view.read.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(view.read).isEmpty,
      "maintained counts drifted from the retrain")
    val (_, dp, dn) = view.watermark
    assert((dp, dn) === ((2L, 2L)))
    // scoring through the view equals scoring against the retrain
    val batch = t.read
    assertSameRows(view.score(batch),
      QualityClassifier.scoreWith(batch, rebuilt,
        QualityClassifier.priors(t.read)))
    val v = ManagedTable(spark, st).latestVersion
    assert(view.refresh() === 3L)
    assert(ManagedTable(spark, st).latestVersion === v)
  }

  test("CALL init/refresh_phrase_view and init/refresh_ann_view drive the " +
      "lifecycles from SQL") {
    val src = tmpDir("cv_src"); val st = tmpDir("cv_st")
    ManagedTable(spark, src).write(corpus, "APPEND", "append")
    assert(spark.sql(s"CALL graft.init_phrase_view('$src', '$st', 1000)")
      .head().getLong(0) === 0L)
    ManagedTable(spark, src).delete(col("doc_id") === 1L)
    assert(spark.sql(s"CALL graft.refresh_phrase_view('$src', '$st')")
      .head().getLong(0) === 1L)
    val rebuilt = Retrieval.positionalIndex(
      ManagedTable(spark, src).read, "text", "doc_id")
    val got = ManagedTable(spark, st).read
    assert(got.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(got).isEmpty)

    val asrc = tmpDir("cav_src"); val ast = tmpDir("cav_st")
    ManagedTable(spark, asrc).write(vecs(0 until 32), "APPEND", "append")
    assert(spark.sql(s"CALL graft.init_ann_view('$asrc', '$ast', 4, 4, 8)")
      .head().getLong(0) === 0L)
    ManagedTable(spark, asrc).write(vecs(32 until 40), "APPEND", "append")
    assert(spark.sql(s"CALL graft.refresh_ann_view('$asrc', '$ast')")
      .head().getLong(0) === 1L)
    assert(ManagedTable(spark, ast).read.count() === 40L)
  }

  test("a resume racing a tombstone-then-append fold: the append fenced " +
      "on the tombstone loses, no doc is indexed twice") {
    val src = tmpDir("pv_race_src"); val st = tmpDir("pv_race_st")
    val t = ManagedTable(spark, src)
    t.write((1L to 20L).map(i => (i, s"doc $i")).toDF("doc_id", "text"),
      "APPEND", "append")
    new IndexViewsSpec.HookedView(spark, src, st).initialize()
    t.update(Map("text" -> lit("changed")), col("doc_id") === 5L)
    // between the tombstone and the append, a second instance resumes
    // the half-applied fold
    IndexViewsSpec.hook = Some(() => {
      new IndexViewsSpec.HookedView(spark, src, st).refresh(); ()
    })
    intercept[ManagedTable.ConcurrentCommitException] {
      new IndexViewsSpec.HookedView(spark, src, st).refresh()
    }
    val view = new IndexViewsSpec.HookedView(spark, src, st)
    assert(view.sourceVersion === 1L)
    assert(view.read.count() === 20L)
    val want = t.read.select(col("doc_id"), length(col("text")).as("len"))
    assert(view.read.exceptAll(want).isEmpty && want.exceptAll(view.read).isEmpty)
  }

  test("on-disk format: LM and classifier folds write their exact " +
      "operation and metadata") {
    import graft.table.{ClassifierModelView, CorpusLmView}
    val src = tmpDir("fmt_src")
    val t = ManagedTable(spark, src)
    t.write(Seq((1L, "good clean prose", 1), (2L, "spam junk", 0))
      .toDF("doc_id", "text", "weak_label"), "APPEND", "append")
    val lmSt = tmpDir("fmt_lm"); val nbSt = tmpDir("fmt_nb")
    val lm = new CorpusLmView(spark, src, lmSt)
    val nb = new ClassifierModelView(spark, src, nbSt)
    lm.initialize(); nb.initialize()
    t.write(Seq((3L, "clean words", 1)).toDF("doc_id", "text", "weak_label"),
      "APPEND", "append")
    lm.refresh(); nb.refresh()
    // a no-op update nets to nothing: empty append
    t.update(Map("text" -> col("text")), col("doc_id") === 1L,
      captureChangeData = true)
    lm.refresh(); nb.refresh()
    def shapes(p: String) = ManagedTable(spark, p).history.reverse
      .map(c => (c.operation, c.userMetadata.orNull))
    assert(shapes(lmSt) === Seq(
      ("LM_INIT", """{"sourceVersion":0}"""),
      ("LM_REFRESH", """{"sourceVersion":1}"""),
      ("LM_REFRESH", """{"sourceVersion":2}""")))
    assert(shapes(nbSt) === Seq(
      ("NB_INIT", """{"sourceVersion":0,"dPos":1,"dNeg":1}"""),
      ("NB_REFRESH", """{"sourceVersion":1,"dPos":2,"dNeg":1}"""),
      ("NB_REFRESH", """{"sourceVersion":2,"dPos":2,"dNeg":1}""")))
  }
}

object IndexViewsSpec {
  /** One-shot hook run inside the next [[HookedView]] fold's final-commit
    * metadata — i.e. between a tombstone and its append. */
  @volatile var hook: Option[() => Unit] = None

  /** A minimal row-local view: one `(doc_id, len)` row per document. */
  final class HookedView(spark: org.apache.spark.sql.SparkSession,
                         src: String, st: String)
    extends graft.table.RowLocalIndexView(spark, src, st, "doc_id",
      Seq("text"), "hooked view", "HOOKED", 1000L) {
    override protected def buildRows(docs: org.apache.spark.sql.DataFrame) =
      docs.select(col("doc_id"), length(col("text")).as("len"))
    override protected def refreshMeta(v: Long,
                                       ins: org.apache.spark.sql.DataFrame,
                                       del: org.apache.spark.sql.DataFrame) = {
      val h = hook
      hook = None
      h.foreach(_())
      super.refreshMeta(v, ins, del)
    }
  }
}
