package graft

import graft.llm.Retrieval
import graft.table.{Bm25IndexView, ManagedTable}
import org.apache.spark.sql.functions._

/** Lifecycle pins for the CDF-maintained BM25 index view: fold-equals-
  * rebuild under appends, deletes, AND updates (signed posting
  * maintenance), watermark recovery across instances, no-op refreshes,
  * and the loud duplicate-id / recreated-source contracts. */
class Bm25IndexViewSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "spark merge table table"),
    (2L, "spark merge"),
    (3L, "table table table table table"),
    (4L, "window stream window stream window"),
    (5L, "merge"),
    (6L, "stream table spark"),
    (7L, "window merge window")).toDF("doc_id", "text")

  test("two refreshed epochs equal the from-scratch index; restart resumes; " +
      "current refresh is a zero-commit no-op") {
    val src = tmpDir("bm25v_src")
    val st = tmpDir("bm25v_state")
    val t = ManagedTable(spark, src)
    t.write(corpus.filter(col("doc_id") <= 3), "APPEND", "append")
    new Bm25IndexView(spark, src, st, expectedDocs = 1000).initialize()
    t.write(corpus.filter(col("doc_id").isin(4L, 5L)), "APPEND", "append")
    assert(new Bm25IndexView(spark, src, st).refresh() === 1L)
    t.write(corpus.filter(col("doc_id") >= 6), "APPEND", "append")
    val restarted = new Bm25IndexView(spark, src, st)
    assert(restarted.refresh() === 2L)
    val vBefore = ManagedTable(spark, st).latestVersion
    assert(restarted.refresh() === 2L)
    assert(ManagedTable(spark, st).latestVersion === vBefore,
      "an already-current refresh must not commit")
    val q = Seq((1L, "spark merge"), (2L, "window table"))
      .toDF("query_id", "query_text")
    assertSameRows(
      restarted.search(q, k = 7, exact = true),
      Retrieval.bm25TopK(corpus, q, k = 7, exact = true))
  }

  private def searchEquals(view: Bm25IndexView, t: ManagedTable): Unit = {
    val q = Seq((1L, "spark merge"), (2L, "window table"), (3L, "stream"))
      .toDF("query_id", "query_text")
    assertSameRows(
      view.search(q, k = 7, exact = true),
      Retrieval.bm25TopK(t.read, q, k = 7, exact = true))
  }

  test("deletes fold through signed posting maintenance: merged equals " +
      "rebuilt, df/scalars decrement, postings leave") {
    val src = tmpDir("bm25v_del")
    val st = tmpDir("bm25v_dels")
    val t = ManagedTable(spark, src)
    t.write(corpus, "APPEND", "append")
    val view = new Bm25IndexView(spark, src, st, expectedDocs = 1000)
    view.initialize()
    // a coarse dir-rewrite delete (no captured change data): the
    // survivors' +/− rows must net away and only doc 3 leave
    t.delete(col("doc_id") === 3L)
    assert(view.refresh() === 1L)
    searchEquals(view, t)
    val merged = view.read
    val rebuilt = Retrieval.bm25Postings(t.read, "text", "doc_id")
    assert(merged.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(merged).isEmpty,
      "merged postings table must equal the from-scratch rebuild exactly")
    assert(merged.filter(col("doc_id") === 3L).isEmpty)
    // delete-then-append in SEPARATE slices, one refresh folds both
    t.delete(col("doc_id") === 4L)
    t.write(Seq((8L, "stream stream merge")).toDF("doc_id", "text"),
      "APPEND", "append")
    assert(view.refresh() === 3L)
    searchEquals(view, t)
  }

  test("updates fold as (−pre, +post) pairs; re-inserting a deleted id " +
      "passes the bloom's exact re-check") {
    val src = tmpDir("bm25v_upd")
    val st = tmpDir("bm25v_upds")
    val t = ManagedTable(spark, src)
    t.write(corpus, "APPEND", "append")
    val view = new Bm25IndexView(spark, src, st, expectedDocs = 1000)
    view.initialize()
    // dir-rewrite UPDATE without captured CDF: the coarse feed nets to
    // the (−old text, +new text) pair
    t.update(Map("text" -> lit("table stream freshword")),
      col("doc_id") === 2L)
    assert(view.refresh() === 1L)
    searchEquals(view, t)
    // delete an id, then re-insert it in a later slice: the id is still
    // bloom-positive, so the exact check against the SURVIVING index
    // must let it back in
    t.delete(col("doc_id") === 5L)
    assert(view.refresh() === 2L)
    t.write(Seq((5L, "merge window merge")).toDF("doc_id", "text"),
      "APPEND", "append")
    assert(view.refresh() === 3L)
    searchEquals(view, t)
    val rebuilt = Retrieval.bm25Postings(t.read, "text", "doc_id")
    assert(view.read.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(view.read).isEmpty)
  }

  test("a duplicate-id feed refuses loudly") {
    val src = tmpDir("bm25v_dup")
    val st = tmpDir("bm25v_dups")
    val t = ManagedTable(spark, src)
    t.write(corpus, "APPEND", "append")
    val view = new Bm25IndexView(spark, src, st, expectedDocs = 1000)
    view.initialize()
    // two inserts of an EXISTING id with different texts in one slice
    t.write(Seq((9L, "alpha beta"), (9L, "gamma delta"))
      .toDF("doc_id", "text"), "APPEND", "append")
    val e = intercept[IllegalArgumentException] { view.refresh() }
    assert(e.getMessage.contains("duplicate"))
  }

  test("write-path shapes: a pure-insert slice APPENDs only the batch's " +
      "postings; a small delete lands as deletion vectors; scalars ride " +
      "the commit metadata") {
    val src = tmpDir("bm25v_shape")
    val st = tmpDir("bm25v_shapes")
    val t = ManagedTable(spark, src)
    t.write(corpus.filter(col("doc_id") <= 5), "APPEND", "append")
    val view = new Bm25IndexView(spark, src, st, expectedDocs = 1000)
    view.initialize()
    val initDirs = ManagedTable(spark, st).lastCommit.get.dirs
    t.write(corpus.filter(col("doc_id") >= 6), "APPEND", "append")
    view.refresh()
    val afterAppend = ManagedTable(spark, st).lastCommit.get
    assert(afterAppend.operation === "BM25_REFRESH")
    assert(initDirs.forall(afterAppend.dirs.contains) &&
      afterAppend.dirs.size === initDirs.size + 1,
      "a pure-insert slice must APPEND a dir — the standing index was rewritten")
    // scalars follow the fold: 7 docs, Σ dl of the whole corpus
    val dl = Retrieval.bm25Postings(t.read)
      .groupBy("doc_id").agg(first("dl").as("dl"))
      .agg(sum("dl")).head().getLong(0)
    assert(view.scalars === ((7L, dl)))
    // a small delete slice: merge-on-read tombstones, postings untouched
    t.delete(col("doc_id") === 3L)
    view.refresh()
    val afterDel = ManagedTable(spark, st).lastCommit.get
    assert(afterDel.operation === "DELETE VECTORS",
      s"a gated delete slice must land as deletion vectors, " +
        s"got ${afterDel.operation}")
    assert(afterDel.dirs === afterAppend.dirs,
      "a DV delete must not rewrite any postings dir")
    val rebuilt = Retrieval.bm25Postings(t.read)
    assert(view.read.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(view.read).isEmpty)
    assert(view.scalars === ((6L, dl - 5L))) // doc 3 had 5 tokens
    searchEquals(view, t)
    // purge materializes the tombstones as a watermark-less maintenance
    // commit — transparent to the walk, index unchanged
    view.purge()
    assert(view.sourceVersion === 2L && view.scalars === ((6L, dl - 5L)))
    assert(view.read.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(view.read).isEmpty)
  }

  test("past the broadcast gate a small-fraction delete folds as " +
      "FRAME-KEYED deletion vectors; a state-rivaling fraction rewrites") {
    val src = tmpDir("bm25v_big")
    val st = tmpDir("bm25v_bigs")
    val t = ManagedTable(spark, src)
    t.write(corpus, "APPEND", "append")
    // cap 1: any delete set of ≥2 ids exceeds the gate
    val view = new Bm25IndexView(spark, src, st, expectedDocs = 1000,
      deleteBroadcastCap = 1)
    view.initialize()
    val dirs0 = ManagedTable(spark, st).lastCommit.get.dirs
    // docs 3+5 are ~14 % of the postings — far under the 30 % fraction
    // threshold: the past-gate plan must STILL be an O(deleted rows) DV
    // commit (tombstones computed per-dir on executors, the id set
    // never driver state), followed by the entering doc's append
    t.delete(col("doc_id").isin(3L, 5L))
    t.write(Seq((8L, "merge merge stream")).toDF("doc_id", "text"),
      "APPEND", "append")
    val scans0 = graft.table.RowLocalIndexView.tierCountScans.get
    assert(view.refresh() === 2L)
    val st1 = ManagedTable(spark, st)
    val appendC = st1.lastCommit.get
    assert(appendC.operation === "BM25_REFRESH")
    val dvC = st1.commitAt(appendC.version - 1)
    assert(dvC.operation === "DELETE VECTORS" && dvC.dirs === dirs0,
      "past-gate small-fraction delete must land frame-keyed DVs, " +
        "rewriting no postings dir")
    assert(dvC.changeDir.isEmpty,
      "nothing consumes the state's own change feed — the tombstone " +
        "commit must not pay full-width change capture")
    assert(graft.table.RowLocalIndexView.tierCountScans.get === scans0,
      "the fraction decision must read live rows off the commit log, " +
        "never a full state scan")
    assert(appendC.userMetadata.get.contains("\"stateRows\":"),
      "a past-the-gate fold plants a live-row anchor on its append so " +
        "the next walk stops one commit from the head")
    val rebuilt1 = Retrieval.bm25Postings(t.read)
    assert(view.read.exceptAll(rebuilt1).isEmpty &&
      rebuilt1.exceptAll(view.read).isEmpty)
    searchEquals(view, t)
    // ~70 % of the surviving state leaves: ABOVE the threshold, where
    // accumulated tombstones would read-amplify every search — the
    // honest plan is the one shuffled anti-join rewrite (which also
    // clears the standing tombstones)
    t.delete(col("doc_id").isin(1L, 2L, 4L, 6L))
    assert(view.refresh() === 3L)
    val last = ManagedTable(spark, st).lastCommit.get
    assert(last.operation === "BM25_REFRESH" && last.dvDirs.isEmpty,
      "past the fraction threshold the slice must fold as one " +
        "shuffled-rewrite commit")
    assert(graft.table.RowLocalIndexView.tierCountScans.get === scans0,
      "the rewrite tier's fraction decision walked the log too — the " +
        "append/DV accumulation over the prior fold must anchor on INIT")
    assert(last.userMetadata.get.contains("\"stateReplace\":true"),
      "the full-churn replace marks its metadata so later walks anchor " +
        "on its numOutputRows")
    val rebuilt = Retrieval.bm25Postings(t.read)
    assert(view.read.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(view.read).isEmpty)
    searchEquals(view, t)
  }

  test("a crash between the DV delete commit and the insert append " +
      "resumes: the next refresh lands only the missing append") {
    val src = tmpDir("bm25v_crash")
    val st = tmpDir("bm25v_crashs")
    val t = ManagedTable(spark, src)
    t.write(corpus, "APPEND", "append")
    val view = new Bm25IndexView(spark, src, st, expectedDocs = 1000)
    view.initialize()
    // the slice a refresh would net: doc 2 leaves, doc 8 enters
    t.delete(col("doc_id") === 2L)
    val ins = Seq((8L, "stream stream merge")).toDF("doc_id", "text")
    t.write(ins, "APPEND", "append")
    // simulate the crashed refresh's surviving prefix: bloom folded,
    // DV delete committed with the pending marker, append MISSING
    val bloom = ManagedTable(spark, st.stripSuffix("/") + "_bloom")
    bloom.write(Retrieval.bm25BloomAdd(bloom.read, ins, "doc_id"),
      "BM25_BLOOM", "replace")
    ManagedTable(spark, st).deleteVectors(
      col("doc_id").cast("string").isin("2"),
      userMetadata = Some("""{"pendingSourceVersion":2}"""))
    // watermark still reads the last FULL fold; refresh resumes
    assert(view.sourceVersion === 0L)
    assert(view.refresh() === 2L)
    assert(view.sourceVersion === 2L)
    val rebuilt = Retrieval.bm25Postings(t.read)
    assert(view.read.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(view.read).isEmpty)
    searchEquals(view, t)
  }

  test("streaming maintenance drains CDF micro-batches through the same " +
      "choreography: appends, a delete, and an interleaved batch refresh") {
    val src = tmpDir("bm25v_strm")
    val st = tmpDir("bm25v_strms")
    val ck = tmpDir("bm25v_strmck")
    val t = ManagedTable(spark, src)
    t.write(corpus.filter(col("doc_id") <= 4), "APPEND", "append")
    val view = new Bm25IndexView(spark, src, st, expectedDocs = 1000)
    view.initialize()
    // three more source commits — an append, a curation delete, and a
    // dir-rewrite update — drained by the CDF stream
    t.write(corpus.filter(col("doc_id") >= 5), "APPEND", "append")
    t.delete(col("doc_id") === 3L)
    t.update(Map("text" -> lit("table stream freshword")),
      col("doc_id") === 2L)
    val q = view.refreshStream(ck)
    assert(q.awaitTermination(120000), "view stream did not drain")
    assert(view.sourceVersion === t.latestVersion.get,
      "stream fold must advance the watermark to the folded commit")
    val rebuilt = Retrieval.bm25Postings(t.read)
    assert(view.read.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(view.read).isEmpty,
      "stream-maintained postings drifted from the rebuild")
    searchEquals(view, t)
    // a BATCH refresh after more source commits continues from there
    t.write(Seq((10L, "merge window")).toDF("doc_id", "text"),
      "APPEND", "append")
    view.refresh()
    searchEquals(view, t)
    // resume the SAME checkpoint: replayed WAL offsets overlap the
    // batch-refreshed range — the watermark filter must drop them
    t.write(Seq((11L, "stream spark")).toDF("doc_id", "text"),
      "APPEND", "append")
    val q2 = view.refreshStream(ck)
    assert(q2.awaitTermination(120000))
    val rebuilt2 = Retrieval.bm25Postings(t.read)
    assert(view.read.exceptAll(rebuilt2).isEmpty &&
      rebuilt2.exceptAll(view.read).isEmpty)
    searchEquals(view, t)
    // an up-to-date pass on a fresh checkpoint commits nothing
    val before = ManagedTable(spark, st).latestVersion
    val q3 = view.refreshStream(tmpDir("bm25v_strmck2"))
    assert(q3.awaitTermination(120000))
    assert(ManagedTable(spark, st).latestVersion === before,
      "an up-to-date stream pass must not commit")
  }

  test("deleting a doc whose text indexes to ZERO rows is a legal no-op, " +
      "not a wedge: the existence gate checks the delta's own index rows") {
    val src = tmpDir("bm25v_zero")
    val st = tmpDir("bm25v_zeros")
    val t = ManagedTable(spark, src)
    // doc 100 tokenizes to nothing — it never enters postings or n_docs
    t.write(corpus.unionByName(
      Seq((100L, "???!!! --- ...")).toDF("doc_id", "text")),
      "APPEND", "append")
    val view = new Bm25IndexView(spark, src, st, expectedDocs = 1000)
    view.initialize()
    assert(view.read.filter(col("doc_id") === 100L).isEmpty)
    val scalarsBefore = view.scalars
    // a valid corpus DELETE of that doc must fold, not throw forever
    t.delete(col("doc_id") === 100L)
    assert(view.refresh() === 1L)
    assert(view.scalars === scalarsBefore,
      "a zero-token doc never counted in the scalars, so they must not move")
    val rebuilt = Retrieval.bm25Postings(t.read)
    assert(view.read.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(view.read).isEmpty)
    // and a MIXED slice pairing the zero-row delete with a real delete
    t.write(Seq((101L, "")).toDF("doc_id", "text"), "APPEND", "append")
    assert(view.refresh() === 2L)
    t.delete(col("doc_id").isin(101L, 1L))
    assert(view.refresh() === 3L)
    val rebuilt2 = Retrieval.bm25Postings(t.read)
    assert(view.read.exceptAll(rebuilt2).isEmpty &&
      rebuilt2.exceptAll(view.read).isEmpty)
    searchEquals(view, t)
  }

  test("bloom crash windows recover without re-initialize: a bloom fold " +
      "that landed without its state commit only over-approximates, and " +
      "the bloom table's replace is atomic (no descriptor-less window)") {
    val src = tmpDir("bm25v_bcr")
    val st = tmpDir("bm25v_bcrs")
    val t = ManagedTable(spark, src)
    t.write(corpus.filter(col("doc_id") <= 5), "APPEND", "append")
    val view = new Bm25IndexView(spark, src, st, expectedDocs = 1000)
    view.initialize()
    // crash window: the slice's bloom fold landed, then the process died
    // before ANY state commit — simulate by folding the batch into the
    // bloom table directly (the exact prefix refresh() writes first)
    val ins = Seq((8L, "stream stream merge")).toDF("doc_id", "text")
    t.write(ins, "APPEND", "append")
    val bloom = ManagedTable(spark, st.stripSuffix("/") + "_bloom")
    bloom.write(Retrieval.bm25BloomAdd(bloom.read, ins, "doc_id"),
      "BM25_BLOOM", "replace")
    // the restarted refresh re-runs the whole slice: the doubly-folded
    // bloom is a superset (over-approximation), the exact re-check
    // admits the batch, and the index still equals the rebuild
    assert(view.refresh() === 1L)
    val rebuilt = Retrieval.bm25Postings(t.read)
    assert(view.read.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(view.read).isEmpty)
    // the bloom table is a managed table: its history shows atomic
    // replaces, never a window with no readable bloom row
    assert(bloom.history.forall(_.operation.contains("BLOOM")))
    assert(bloom.read.count() === 1L)
    searchEquals(view, t)
  }

  test("a recreated source table is refused instead of silently refolded") {
    val src = tmpDir("bm25v_src3")
    val st = tmpDir("bm25v_state3")
    val t = ManagedTable(spark, src)
    t.write(corpus, "APPEND", "append")
    t.write(corpus, "APPEND", "append")
    val view = new Bm25IndexView(spark, src, st, expectedDocs = 1000)
    view.initialize() // watermark 1
    // simulate a recreate: wipe and write a single fresh commit (v0)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(src))
    ManagedTable(spark, src).write(corpus, "APPEND", "append")
    val e = intercept[IllegalArgumentException] { view.refresh() }
    assert(e.getMessage.contains("went backwards"))
  }

  test("a maintenance commit on top of a pending tombstone does not hide " +
      "it: the next refresh still lands the missing append") {
    val src = tmpDir("bm25v_crashm")
    val st = tmpDir("bm25v_crashms")
    val t = ManagedTable(spark, src)
    t.write(corpus, "APPEND", "append")
    val view = new Bm25IndexView(spark, src, st, expectedDocs = 1000)
    view.initialize()
    t.delete(col("doc_id") === 2L)
    val ins = Seq((8L, "stream stream merge")).toDF("doc_id", "text")
    t.write(ins, "APPEND", "append")
    val bloom = ManagedTable(spark, st.stripSuffix("/") + "_bloom")
    bloom.write(Retrieval.bm25BloomAdd(bloom.read, ins, "doc_id"),
      "BM25_BLOOM", "replace")
    val s = ManagedTable(spark, st)
    s.deleteVectors(col("doc_id").cast("string").isin("2"),
      userMetadata = Some("""{"pendingSourceVersion":2}"""))
    view.purge()
    assert(view.refresh() === 2L)
    val rebuilt = Retrieval.bm25Postings(t.read)
    assert(view.read.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(view.read).isEmpty)
  }

  test("on-disk format: each row-local fold shape writes its exact " +
      "operation and metadata") {
    val src = tmpDir("bm25v_fmt")
    val st = tmpDir("bm25v_fmts")
    val t = ManagedTable(spark, src)
    t.write(corpus, "APPEND", "append")
    // cap 1: a two-id delete takes the past-the-gate tiers
    val view = new Bm25IndexView(spark, src, st, expectedDocs = 1000,
      deleteBroadcastCap = 1)
    view.initialize()
    // nets to nothing: empty append
    t.update(Map("text" -> col("text")), col("doc_id") === 1L,
      captureChangeData = true)
    view.refresh()
    // pure insert: append
    t.write(Seq((8L, "merge stream")).toDF("doc_id", "text"), "APPEND",
      "append")
    view.refresh()
    // one id deleted, one entering: tombstone-then-append
    t.delete(col("doc_id") === 5L)
    t.write(Seq((9L, "spark window")).toDF("doc_id", "text"), "APPEND",
      "append")
    view.refresh()
    // a small past-the-gate delete with an insert: the append plants
    // the live-row anchor
    t.delete(col("doc_id").isin(2L, 9L))
    t.write(Seq((10L, "table")).toDF("doc_id", "text"), "APPEND", "append")
    view.refresh()
    // most of the state leaves: replace
    t.delete(col("doc_id").isin(1L, 3L, 4L, 6L))
    view.refresh()
    assert(ManagedTable(spark, st).history.reverse
        .map(c => (c.operation, c.userMetadata.orNull)) === Seq(
      ("BM25_INIT", """{"sourceVersion":0,"nDocs":7,"totalLen":23}"""),
      ("BM25_REFRESH", """{"sourceVersion":1,"nDocs":7,"totalLen":23}"""),
      ("BM25_REFRESH", """{"sourceVersion":2,"nDocs":8,"totalLen":25}"""),
      ("DELETE VECTORS", """{"pendingSourceVersion":4}"""),
      ("BM25_REFRESH", """{"sourceVersion":4,"nDocs":8,"totalLen":26}"""),
      ("DELETE VECTORS", """{"pendingSourceVersion":6}"""),
      ("BM25_REFRESH",
        """{"stateRows":14,"sourceVersion":6,"nDocs":7,"totalLen":23}"""),
      ("BM25_REFRESH",
        """{"stateReplace":true,"sourceVersion":7,"nDocs":3,"totalLen":6}""")))
  }
}
