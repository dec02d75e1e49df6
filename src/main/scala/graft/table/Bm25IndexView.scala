package graft.table

import graft.llm.Retrieval
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The BM25 inverted index as a STANDING, CDF-maintained artifact — the
 * [[RowLocalIndexView]] lifecycle applied to [[graft.llm.Retrieval]]'s
 * retrieval index, in the NORMALIZED layout that makes BM25
 * maintenance row-local in the first place:
 *
 *   - the state table holds pure `(tok, doc_id, tf, dl)` postings
 *     ([[Retrieval.bm25Postings]]) — every column a function of its
 *     OWN document, so an entering doc appends its rows, a leaving doc
 *     tombstones them, and NOTHING else in the table moves;
 *   - `df` is not stored at all: it is the posting-list length,
 *     derived at query time over exactly the matched lists
 *     ([[Retrieval.bm25SearchPostings]]) — deletes keep it exact for
 *     free;
 *   - the two corpus scalars (`n_docs`, `total_len`) ride each state
 *     commit's metadata next to the watermark, moved by the slice's
 *     signed sums — never stamped on rows.
 *
 * The denormalized one-shot [[Retrieval.bm25Index]] stamps df and the
 * scalars on every posting, which is right for a frozen corpus but
 * makes EVERY maintenance commit O(index) on the write side: a
 * pure-append daily batch moves `n_docs`, and restamping it rewrites
 * the whole postings table. In this layout a daily append commits
 * O(batch) rows; the pipeline's own curation deletes (span dedup,
 * fuzzy dedup, decontamination, SQL DELETE/UPDATE) land as
 * O(deleted-rows) deletion vectors; only a delete of a state-rivaling
 * fraction rewrites, by shuffled anti-join — all inherited from
 * [[RowLocalIndexView]], including the doc-id bloom gate, and the
 * watermark, fences and crash resume of the [[FoldCommit]] protocol.
 *
 * The postings are BORN clustered by `tok` (the property lands in the
 * init commit and governs its very first files; appends inherit it),
 * so a query batch's matched-posting-list scan prunes at dir-stat and
 * row-group grain instead of reading the corpus's whole vocabulary.
 */
final class Bm25IndexView(spark: SparkSession, sourcePath: String,
                          statePath: String,
                          textCol: String = "text",
                          idCol: String = "doc_id",
                          expectedDocs: Long = 10000000L,
                          deleteBroadcastCap: Int =
                            CdfNetting.MaxBroadcastIds)
  extends RowLocalIndexView(spark, sourcePath, statePath, idCol,
    Seq(textCol), "bm25 view", "BM25", expectedDocs) {

  override protected def stateIdColumn: String = "doc_id"

  override protected def maxBroadcastIds: Int = deleteBroadcastCap

  override protected def initProperties: Option[Map[String, String]] =
    Some(Map(ManagedTable.ClusterColumnsProp -> "tok"))

  override protected def buildRows(docs: DataFrame): DataFrame =
    Retrieval.bm25Postings(docs, textCol, idCol)

  /** (docs with ≥1 token, Σ dl) of a payload frame — zero-token docs
    * never enter the postings, so they never count here either (the
    * same convention [[Retrieval.bm25Index]] bakes into its stamps). */
  private def scalarsOf(docs: DataFrame): (Long, Long) = {
    val r = buildRows(docs)
      .groupBy("doc_id").agg(first("dl").as("__dl__"))
      .agg(count(lit(1)).as("__n__"),
        coalesce(sum("__dl__"), lit(0L)).as("__l__"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  override protected def initMeta(v: Long, snapshot: DataFrame): String = {
    val (n, l) = scalarsOf(snapshot)
    s"""{"sourceVersion":$v,"nDocs":$n,"totalLen":$l}"""
  }

  /** Signed scalar movement of one netted slice in ONE narrow job.
    * `dl` is each doc's own total token count (== the sum of its
    * postings' tf), so the (n_docs, total_len) delta needs no postings
    * build: the old path ran [[buildRows]] (tokenize + explode + two
    * aggregations) TWICE per fold — once per direction — only to read
    * two scalars off each. Netted frames hold one row per id per
    * direction ([[CdfNetting.net]] refuses duplicates), so counting
    * rows with ≥1 token is exactly the postings' distinct-doc count. */
  private def scalarsDelta(ins: DataFrame, del: DataFrame): (Long, Long) = {
    def side(df: DataFrame, s: Long) = df.select(lit(s).as("__s__"),
      size(Retrieval.toks(col(s"`$textCol`"))).cast("long").as("__dl__"))
    val r = side(ins, 1L).unionByName(side(del, -1L))
      .filter(col("__dl__") > 0L)
      .agg(coalesce(sum(col("__s__")), lit(0L)).as("__n__"),
        coalesce(sum(col("__s__") * col("__dl__")), lit(0L)).as("__l__"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  override protected def refreshMeta(v: Long, ins: DataFrame,
                                     del: DataFrame): String = {
    val (n0, l0) = scalars
    val (dn, dl) = scalarsDelta(ins, del)
    s"""{"sourceVersion":$v,"nDocs":${n0 + dn},"totalLen":${l0 + dl}}"""
  }

  private val ScalarsRe =
    """"sourceVersion":\d+,"nDocs":(\d+),"totalLen":(\d+)""".r

  /** The maintained corpus scalars `(n_docs, total_len)` — read from
    * the same watermark-bearing commit the fold landed (a half-applied
    * slice's pending delete commit is transparent, exactly like the
    * watermark itself). */
  def scalars: (Long, Long) = scalarsWalk(None)

  /** The corpus scalars AS OF a state version — the pinned walk, so an
    * [[searchAt]] scores with exactly the n_docs/total_len that state
    * described. */
  def scalarsAt(stateVersion: Long): (Long, Long) =
    scalarsWalk(Some(stateVersion))

  private def scalarsWalk(atOrBelow: Option[Long]): (Long, Long) =
    FoldCommit.metaFirst(state, "bm25 view", statePath, atOrBelow)(
      m => ScalarsRe.findFirstMatchIn(m)
        .map(g => (g.group(1).toLong, g.group(2).toLong)))
      .getOrElse(throw new IllegalStateException(
        "no commit in the bm25 view state's history carries the corpus " +
          "scalars — was the state table created outside the view?"))

  /** Top-`k` per query served ENTIRELY from the standing artifacts:
    * the maintained postings plus the commit-metadata scalars
    * ([[Retrieval.bm25SearchPostings]] — df derived over the matched
    * lists, both query-batch regimes, both arithmetic modes).
    *
    * In the driver regime (the query batch's distinct token set fits
    * `maxPrunedToks`) the postings come from a SKIPPING read —
    * `readWhere(tok IN queryToks)` prunes whole state dirs from
    * commit-log stats before any scan is planned, which is selective
    * once [[recluster]]/[[maintain]] keep per-dir token ranges
    * disjoint. Results are identical to the full read by
    * [[ManagedTable.readWhere]]'s contract (the predicate re-applies
    * on the survivors); past the gate the token set must not become
    * driver state, so the full postings frame flows and the scoring
    * path's own semi-join prunes at row-group grain instead. */
  def search(queries: DataFrame, k: Int = 5,
             exact: Boolean = false,
             maxPrunedToks: Int = 4096): DataFrame = {
    val (n, l) = scalars
    val qtoks = Retrieval.queryToks(queries)
    // gate + collect fused into one bounded job (the old fitsDriver +
    // collect pair ran the distinct twice)
    val postings = graft.llm.Similarity.collectUpTo(qtoks, maxPrunedToks) match {
      case Some(rows) =>
        val ts = rows.map(_.getString(0)).toIndexedSeq
        if (ts.isEmpty) read.limit(0)
        else readWhere(col("tok").isin(ts: _*))
      case None => read
    }
    Retrieval.bm25SearchPostings(queries, postings, n, l, k, exact)
  }

  /** [[search]] AS OF a state version — the ranking a past pipeline
    * run served, reproducible after any number of later refreshes:
    * postings from [[readAt]], scalars from the pinned walk. By the
    * watermark contract this equals a fresh one-shot ranking over
    * `source.readAt(sourceVersionAt(stateVersion))` — time travel on
    * the view and on the corpus name the same world. */
  def searchAt(stateVersion: Long, queries: DataFrame, k: Int = 5,
               exact: Boolean = false): DataFrame = {
    val (n, l) = scalarsAt(stateVersion)
    Retrieval.bm25SearchPostings(queries, readAt(stateVersion), n, l, k,
      exact)
  }
}
