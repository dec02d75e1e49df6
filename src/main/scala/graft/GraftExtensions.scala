package graft

import graft.expressions.{CosineSimilarity, MightContain}
import graft.llm.{Dedup, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StringType

/**
 * Session-extensions entry point: enable with
 * `--conf spark.sql.extensions=graft.GraftExtensions` (or
 * `.withExtensions` on the builder) to get the engine's native functions
 * in every session without imperative registration.
 *
 * Injects the scalar expressions `graft_cosine` ([[CosineSimilarity]])
 * and `graft_might_contain` ([[MightContain]]), plus the operator library
 * as TABLE-VALUED functions, so a pure-SQL task (the reference's
 * "everything is SQL text" posture, `core/schemas/features.py:24-26`,
 * executed here by `SparkTask.sqlTransform`) can invoke the curation
 * operators without touching the Scala API:
 *
 * {{{
 *   SELECT * FROM graft_gopher_quality('documents')
 *   SELECT * FROM graft_chunk('documents', 256, 32)
 *   SELECT * FROM graft_neardup_pairs('documents', 0.8)
 * }}}
 *
 * The first argument is always a table/view name resolved against the
 * active session's catalog; the TVF splices the operator's logical plan
 * into the query, so Catalyst sees ONE plan — pushdown, pruning and AQE
 * work exactly as they do for the DataFrame API (a TVF is not a black
 * box, it's the same plan the Scala call would build).
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    shareTaskClassLoader()
    ext.injectFunction((
      new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_cosine(a, b) takes two arrays")
        CosineSimilarity(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier(MightContain.Name),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, MightContain.Name),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"${MightContain.Name}(bloom, value) takes two arguments")
        BloomFilterMightContain(children.head, children(1))
      }))
    tableFunctions.foreach { case (name, builder) =>
      ext.injectTableFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
    // SQL-addressable managed tables: SELECT/INSERT/DELETE/UPDATE/MERGE
    // on `graft.t`, with VERSION/TIMESTAMP AS OF time travel
    // (graft.table.SqlTables); DDL goes through the Hints batch, ahead
    // of ResolveSessionCatalog's v1-command conversion
    ext.injectResolutionRule(graft.table.SqlTableResolution(_))
    ext.injectResolutionRule(_ => TaskLoaderRule)
    ext.injectParser((_, delegate) => new graft.table.GraftSqlParser(delegate))
    ext.injectHintResolutionRule(graft.table.SqlTableDdl(_))
  }
}

object GraftExtensions {

  @volatile private var taskLoader: ClassLoader = null

  /**
   * Local mode only: finds the executor's default task class loader
   * (one one-task job per session) and gives it to every thread that
   * plans a query — the one building the session here, any other
   * through [[TaskLoaderRule]]. Threads started later inherit it (AQE
   * query-stage threads), and [[DriverPool]] hands its submitter's
   * loader to each pooled task, so the whole-stage class the driver
   * compiles while planning is the very cache entry the tasks look up:
   * Spark keys generated classes by (context class loader, source), and
   * with the app loader on the driver and the task loader on executor
   * threads every class compiled twice. Needs
   * `spark.sql.artifact.isolation.enabled=false` ([[Harness.graftConf]]),
   * or SQL tasks run under a per-session loader instead. A cluster's
   * executors are other JVMs with their own cache: nothing to align.
   */
  private def shareTaskClassLoader(): Unit =
    org.apache.spark.sql.classic.GraftShims.activeContext.filter(_.isLocal).foreach { sc =>
      sc.runJob(sc.parallelize(Seq(0), 1), (_: Iterator[Int]) =>
        taskLoader = Thread.currentThread().getContextClassLoader)
      useTaskLoader()
    }

  /** Switch the calling thread to the task loader, when that loader
    * delegates to the thread's own (it then loses no class): a thread
    * that predates the session — a notebook's or a server's request
    * thread — still holds the app loader. */
  private def useTaskLoader(): Unit = {
    val (task, th) = (taskLoader, Thread.currentThread())
    val own = th.getContextClassLoader
    if (task != null && (own ne task) &&
        Iterator.iterate(task)(_.getParent).takeWhile(_ != null).contains(own))
      th.setContextClassLoader(task)
  }

  /** Changes no plan: runs on each query's analyzing thread, which is
    * the thread that then compiles the query's classes. */
  private object TaskLoaderRule extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = { useTaskLoader(); plan }
  }

  private def strArg(e: Expression, what: String): String = {
    require(e.foldable && e.dataType == StringType,
      s"$what must be a string literal, got ${e.sql}")
    val v = e.eval()
    require(v != null, s"$what must not be NULL")
    v.toString
  }

  private def intArg(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be an integer literal, got ${e.sql}")
    e.eval() match {
      case i: Int   => i
      case l: Long  => l.toInt
      case s: Short => s.toInt
      case b: Byte  => b.toInt
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
  }

  private def longArg(e: Expression, what: String): Long = {
    require(e.foldable, s"$what must be an integer literal, got ${e.sql}")
    e.eval() match {
      case i: Int   => i.toLong
      case l: Long  => l
      case s: Short => s.toLong
      case b: Byte  => b.toLong
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
  }

  private def dblArg(e: Expression, what: String): Double = {
    require(e.foldable, s"$what must be a numeric literal, got ${e.sql}")
    e.eval() match {
      case d: Double => d
      case f: Float  => f.toDouble
      case i: Int    => i.toDouble
      case l: Long   => l.toDouble
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case other => throw new IllegalArgumentException(
        s"$what must be a numeric literal, got $other")
    }
  }

  private def table(e: Expression): DataFrame =
    SparkSession.active.table(strArg(e, "table"))

  private def plan(df: DataFrame): LogicalPlan = df.queryExecution.logical

  /** One-table-argument TVF: `name('table')` → the operator's plan. */
  private def tvf(name: String)(f: DataFrame => DataFrame): (String, Seq[Expression] => LogicalPlan) =
    name -> { args =>
      require(args.size == 1, s"$name(table) takes exactly one table-name argument")
      plan(f(table(args.head)))
    }

  /** The operator library exposed to SQL. Table-name first, scalar
    * options after; every entry splices the SAME plan the Scala API
    * builds (no extra materialization, no UDF wrapper). */
  val tableFunctions: Seq[(String, Seq[Expression] => LogicalPlan)] = Seq(
    tvf("graft_text_quality")(TextOps.textQuality(_)),
    tvf("graft_token_count")(TextOps.tokenCount(_)),
    tvf("graft_lang_id")(TextOps.langId(_)),
    tvf("graft_fingerprint")(TextOps.fingerprint(_)),
    tvf("graft_repetition_signals")(TextOps.repetitionSignals(_)),
    tvf("graft_gopher_quality")(TextOps.gopherQuality(_)),
    tvf("graft_gopher_repetition")(TextOps.gopherRepetition(_)),
    tvf("graft_c4_line_filter")(TextOps.c4LineFilter(_)),
    tvf("graft_dedup_paragraphs")(TextOps.dedupParagraphs(_)),
    tvf("graft_exact_dedup")(TextOps.exactDedup(_)),
    tvf("graft_redact")(TextOps.redact(_)),
    tvf("graft_normalize_text")(TextOps.normalizeText(_)),
    "graft_knn" -> { args =>
      require(args.size == 3,
        "graft_knn(corpus, queries, k) takes two table names and k")
      plan(graft.llm.Similarity.bruteForceTopK(
        table(args(0)), table(args(1)), intArg(args(2), "k")))
    },
    "graft_ann_topk" -> { args =>
      require(args.size == 3,
        "graft_ann_topk(corpus, queries, k) takes two table names and k")
      plan(graft.llm.Similarity.annTopK(
        table(args(0)), table(args(1)), intArg(args(2), "k")))
    },
    "graft_sq8_topk" -> { args =>
      require(args.size == 3,
        "graft_sq8_topk(corpus, queries, k) takes two table names and k")
      plan(graft.llm.Similarity.sq8TopK(
        table(args(0)), table(args(1)), intArg(args(2), "k")))
    },
    tvf("graft_bigram_fluency")(TextOps.bigramScore(_)),
    "graft_bigram_fluency_against" -> { args =>
      require(args.size == 2,
        "graft_bigram_fluency_against(batch, standing) takes two table names")
      val standing = table(args(1))
      plan(TextOps.bigramScoreWith(table(args(0)),
        TextOps.bigramModel(standing), TextOps.unigramModel(standing)))
    },
    "graft_rare_tokens" -> { args =>
      require(args.size == 1 || args.size == 2,
        "graft_rare_tokens(table[, min_freq]) takes 1 or 2 arguments")
      val df = table(args.head)
      if (args.size == 1) plan(TextOps.rareTokenScore(df))
      else plan(TextOps.rareTokenScore(df, minFreq = longArg(args(1), "min_freq")))
    },
    "graft_tfidf_keywords" -> { args =>
      require(args.size == 1 || args.size == 2,
        "graft_tfidf_keywords(table[, k]) takes 1 or 2 arguments")
      val df = table(args.head)
      if (args.size == 1) plan(TextOps.tfidfKeywords(df))
      else plan(TextOps.tfidfKeywords(df, k = intArg(args(1), "k")))
    },
    // two-table form: the LM side is a persisted (tok, freq) table
    "graft_rare_tokens_against" -> { args =>
      require(args.size == 2 || args.size == 3,
        "graft_rare_tokens_against(batch, lm_table[, min_freq]) takes 2 or 3 arguments")
      val mf = if (args.size == 3) longArg(args(2), "min_freq") else 3L
      plan(TextOps.rareTokenScoreWith(table(args.head), table(args(1)),
        minFreq = mf))
    },
    "graft_cohort_retention" -> { args =>
      require(args.size == 4,
        "graft_cohort_retention(events, ts_us_col, user_col, period_days) " +
          "takes a table name, two column names, and a day count")
      plan(graft.operators.EventAnalytics.cohortRetention(table(args(0)),
        tsUsCol = strArg(args(1), "ts_us_col"),
        userCol = strArg(args(2), "user_col"),
        periodMicros = intArg(args(3), "period_days").toLong *
          graft.operators.EventAnalytics.MicrosPerDay))
    },
    "graft_resample_locf" -> { args =>
      require(args.size == 6,
        "graft_resample_locf(events, key_col, ts_us_col, value_col, " +
          "tie_col, bin_days) takes a table name, four column names, " +
          "and a day count")
      plan(graft.operators.EventAnalytics.resampleLocf(table(args(0)),
        keyCol = strArg(args(1), "key_col"),
        tsUsCol = strArg(args(2), "ts_us_col"),
        valueCol = strArg(args(3), "value_col"),
        tieCol = strArg(args(4), "tie_col"),
        binMicros = intArg(args(5), "bin_days").toLong *
          graft.operators.EventAnalytics.MicrosPerDay))
    },
    "graft_hybrid_topk" -> { args =>
      require(args.size == 5,
        "graft_hybrid_topk(docs, embeddings, queries_text, queries_vec, k) " +
          "takes four table names and k")
      plan(graft.llm.Retrieval.hybridTopK(table(args(0)), table(args(1)),
        table(args(2)), table(args(3)), intArg(args(4), "k")))
    },
    // NOTE: like graft_semantic_dedup, the centroid/codebook tables
    // collect at RESOLUTION time (they ARE driver-sized — nlist×dim and
    // m×ksub×subdim doubles; that is the persisted-index contract, not a
    // scale leak). The spliced serve-side plan stays lazy.
    "graft_hybrid_topk_indexed" -> { args =>
      require(args.size == 8,
        "graft_hybrid_topk_indexed(bm25_index, centroids, books, codes, " +
          "corpus_vecs, queries_text, queries_vec, k) takes seven table " +
          "names and k")
      plan(graft.llm.Retrieval.hybridTopKWith(
        queriesText = table(args(5)), queriesVec = table(args(6)),
        bm25Idx = table(args(0)),
        cents = graft.llm.Similarity.centroidsFrom(table(args(1))),
        books = graft.llm.Similarity.pqBooksFrom(table(args(2))),
        codes = table(args(3)), corpusVecs = table(args(4)),
        k = intArg(args(7), "k")))
    },
    "graft_collocations" -> { args =>
      require(args.size == 3,
        "graft_collocations(docs, min_count, k) takes a table name, " +
          "min_count, and k")
      plan(TextOps.collocations(table(args(0)),
        minCount = intArg(args(1), "min_count").toLong,
        k = intArg(args(2), "k")))
    },
    // steps ride as a CSV (positional SQL has no array literal at TVF
    // resolution); 0 disables a bound, mirroring the Scala Options
    "graft_funnel" -> { args =>
      require(args.size == 7 || args.size == 8,
        "graft_funnel(events, ts_us_col, user_col, type_col, steps_csv, " +
          "window_days, gap_days[, anchor_policy]) takes a table name, " +
          "three column names, the step list, two day counts (0 = " +
          "unbounded), and optionally 'earliest' | 'any_qualifying'")
      val day = graft.operators.EventAnalytics.MicrosPerDay
      def bound(i: Int, what: String): Option[Long] =
        intArg(args(i), what) match {
          case 0 => None
          case d => Some(d.toLong * day)
        }
      plan(graft.operators.EventAnalytics.funnelWindowed(table(args(0)),
        steps = strArg(args(4), "steps_csv").split(",").map(_.trim).toSeq,
        tsUsCol = strArg(args(1), "ts_us_col"),
        userCol = strArg(args(2), "user_col"),
        typeCol = strArg(args(3), "type_col"),
        conversionWindowMicros = bound(5, "window_days"),
        maxStepGapMicros = bound(6, "gap_days"),
        anchorPolicy = if (args.size == 8) strArg(args(7), "anchor_policy")
          else "earliest"))
    },
    "graft_funnel_stats" -> { args =>
      require(args.size == 7,
        "graft_funnel_stats(events, ts_us_col, user_col, type_col, " +
          "steps_csv, window_days, gap_days) takes a table name, three " +
          "column names, the step list, and two day counts (0 = unbounded)")
      val day = graft.operators.EventAnalytics.MicrosPerDay
      def bound(i: Int, what: String): Option[Long] =
        intArg(args(i), what) match {
          case 0 => None
          case d => Some(d.toLong * day)
        }
      plan(graft.operators.EventAnalytics.funnelConversionStats(table(args(0)),
        steps = strArg(args(4), "steps_csv").split(",").map(_.trim).toSeq,
        tsUsCol = strArg(args(1), "ts_us_col"),
        userCol = strArg(args(2), "user_col"),
        typeCol = strArg(args(3), "type_col"),
        conversionWindowMicros = bound(5, "window_days"),
        maxStepGapMicros = bound(6, "gap_days")))
    },
    "graft_cooccurrence" -> { args =>
      require(args.size == 4,
        "graft_cooccurrence(docs, window, min_count, k) takes a table name " +
          "and three integers")
      plan(TextOps.cooccurrencePmi(table(args(0)),
        window = intArg(args(1), "window"),
        minCount = intArg(args(2), "min_count").toLong,
        k = intArg(args(3), "k")))
    },
    "graft_cascade_rerank" -> { args =>
      require(args.size == 6,
        "graft_cascade_rerank(docs, embeddings, queries_text, queries_vec, " +
          "recall_n, k) takes four table names and two integers")
      plan(graft.llm.Retrieval.cascadeRerank(table(args(2)), table(args(3)),
        graft.llm.Retrieval.bm25Index(table(args(0))), table(args(1)),
        recallN = intArg(args(4), "recall_n"), k = intArg(args(5), "k")))
    },
    "graft_phrase_search" -> { args =>
      require(args.size == 3,
        "graft_phrase_search(docs, phrases, k) takes two table names and k")
      plan(graft.llm.Retrieval.phraseSearch(table(args(0)), table(args(1)),
        intArg(args(2), "k")))
    },
    "graft_bm25_topk" -> { args =>
      require(args.size == 3 || args.size == 4,
        "graft_bm25_topk(docs, queries, k[, exact]) takes two table names, " +
          "k, and an optional exact flag")
      val exact = args.size == 4 && strArg(args(3), "exact").toBoolean
      plan(graft.llm.Retrieval.bm25TopK(table(args(0)), table(args(1)),
        intArg(args(2), "k"), exact))
    },
    // standing-view serving — the SQL side of the CALL lifecycle: a
    // pure-SQL pipeline initializes and maintains a view with
    // `CALL graft.init/refresh_*_view(...)` + `CALL graft.maintain(...)`
    // and SEARCHES it here, through the same dir-pruned skipping reads
    // the Scala serving paths use (identical rows, fewer files scanned)
    "graft_bm25_view_search" -> { args =>
      require(args.size == 4 || args.size == 5,
        "graft_bm25_view_search(source_path, state_path, queries, k" +
          "[, exact]) takes two paths, a table name, k, and an optional " +
          "exact flag")
      val exact = args.size == 5 && strArg(args(4), "exact").toBoolean
      plan(new graft.table.Bm25IndexView(SparkSession.active,
          strArg(args(0), "source_path"), strArg(args(1), "state_path"))
        .search(table(args(2)), intArg(args(3), "k"), exact))
    },
    "graft_phrase_view_search" -> { args =>
      require(args.size == 4,
        "graft_phrase_view_search(source_path, state_path, phrases, k) " +
          "takes two paths, a table name, and k")
      plan(new graft.table.PositionalIndexView(SparkSession.active,
          strArg(args(0), "source_path"), strArg(args(1), "state_path"))
        .search(table(args(2)), intArg(args(3), "k")))
    },
    "graft_ann_view_search" -> { args =>
      require(args.size == 4 || args.size == 6,
        "graft_ann_view_search(source_path, state_path, queries, k" +
          "[, n_probe, rerank]) takes two paths, a table name, k, and " +
          "optional n_probe/rerank")
      val (nProbe, rerank) =
        if (args.size == 6) (intArg(args(4), "n_probe"), intArg(args(5), "rerank"))
        else (4, 64)
      plan(new graft.table.AnnIndexView(SparkSession.active,
          strArg(args(0), "source_path"), strArg(args(1), "state_path"))
        .search(table(args(2)), intArg(args(3), "k"), nProbe, rerank))
    },
    // standing-view DEDUP from SQL — the gate side of the same story:
    // a pure-SQL ingest pipeline admits only the batch rows that are
    // duplicates of NOTHING (ghost-free: the maintained index no longer
    // holds deleted docs), same rows as the Scala dedupBatch paths
    "graft_neardup_view_dedup" -> { args =>
      require(args.size == 3 || args.size == 4,
        "graft_neardup_view_dedup(source_path, state_path, batch" +
          "[, threshold]) takes two paths, a table name, and an optional " +
          "threshold")
      val thr = if (args.size == 4) dblArg(args(3), "threshold") else 0.8
      plan(new graft.table.NearDupIndexView(SparkSession.active,
          strArg(args(0), "source_path"), strArg(args(1), "state_path"))
        .dedupBatch(table(args(2)), thr))
    },
    "graft_semantic_view_dedup" -> { args =>
      require(args.size == 4,
        "graft_semantic_view_dedup(source_path, state_path, batch, " +
          "threshold) takes two paths, a table name, and a threshold")
      plan(new graft.table.SemanticIndexView(SparkSession.active,
          strArg(args(0), "source_path"), strArg(args(1), "state_path"))
        .dedupBatch(table(args(2)), dblArg(args(3), "threshold")))
    },
    "graft_benchmark_view_decontaminate" -> { args =>
      require(args.size == 3 || args.size == 4,
        "graft_benchmark_view_decontaminate(source_path, state_path, " +
          "batch[, min_shared]) takes two paths, a table name, and an " +
          "optional min_shared")
      val ms = if (args.size == 4) intArg(args(3), "min_shared") else 3
      plan(new graft.table.BenchmarkIndexView(SparkSession.active,
          strArg(args(0), "source_path"), strArg(args(1), "state_path"))
        .decontaminate(table(args(2)), ms))
    },
    // AS-OF serving from SQL: `VERSION AS OF` on the state table alone
    // cannot reproduce a historical ranking (the BM25 scalars ride the
    // commit metadata and the ANN re-rank needs the MATCHING corpus
    // snapshot) — these pin the whole world to one state version
    "graft_bm25_view_search_at" -> { args =>
      require(args.size == 5 || args.size == 6,
        "graft_bm25_view_search_at(source_path, state_path, version, " +
          "queries, k[, exact])")
      val exact = args.size == 6 && strArg(args(5), "exact").toBoolean
      plan(new graft.table.Bm25IndexView(SparkSession.active,
          strArg(args(0), "source_path"), strArg(args(1), "state_path"))
        .searchAt(longArg(args(2), "version"), table(args(3)),
          intArg(args(4), "k"), exact))
    },
    "graft_phrase_view_search_at" -> { args =>
      require(args.size == 5,
        "graft_phrase_view_search_at(source_path, state_path, version, " +
          "phrases, k)")
      plan(new graft.table.PositionalIndexView(SparkSession.active,
          strArg(args(0), "source_path"), strArg(args(1), "state_path"))
        .searchAt(longArg(args(2), "version"), table(args(3)),
          intArg(args(4), "k")))
    },
    "graft_ann_view_search_at" -> { args =>
      require(args.size == 5 || args.size == 7,
        "graft_ann_view_search_at(source_path, state_path, version, " +
          "queries, k[, n_probe, rerank])")
      val (nProbe, rerank) =
        if (args.size == 7) (intArg(args(5), "n_probe"), intArg(args(6), "rerank"))
        else (4, 64)
      plan(new graft.table.AnnIndexView(SparkSession.active,
          strArg(args(0), "source_path"), strArg(args(1), "state_path"))
        .searchAt(longArg(args(2), "version"), table(args(3)),
          intArg(args(4), "k"), nProbe, rerank))
    },
    "graft_tfidf_keywords_against" -> { args =>
      require(args.size == 2 || args.size == 3,
        "graft_tfidf_keywords_against(batch, df_table[, k]) takes 2 or 3 arguments")
      val k = if (args.size == 3) intArg(args(2), "k") else 3
      plan(TextOps.tfidfKeywordsWith(table(args.head), table(args(1)), k = k))
    },
    "graft_column_profile" -> { args =>
      require(args.size == 2,
        "graft_column_profile(table, cols_csv) takes two arguments")
      plan(graft.operators.Profiling.profileColumns(
        table(args.head),
        strArg(args(1), "cols_csv").split(",").map(_.trim).toSeq))
    },
    "graft_export_shards" -> { args =>
      require(args.size == 5,
        "graft_export_shards(table, group_csv, order_csv, size_col, budget) takes five arguments")
      val groups = strArg(args(1), "group_csv").split(",").map(_.trim).toSeq
      val packed = graft.llm.Packing.packSequences(
        table(args.head),
        groupCols = groups,
        orderCols = strArg(args(2), "order_csv").split(",").map(_.trim).toSeq,
        sizeCol = strArg(args(3), "size_col"),
        budget = longArg(args(4), "budget"))
      plan(graft.llm.Packing.exportShards(packed, groups))
    },
    "graft_corpus_profile" -> { args =>
      require(args.size == 1 || args.size == 3,
        "graft_corpus_profile(table[, group_col, size_col]) takes 1 or 3 arguments")
      val df = table(args.head)
      if (args.size == 1) plan(TextOps.corpusProfile(df))
      else plan(TextOps.corpusProfile(df,
        groupCol = strArg(args(1), "group_col"),
        sizeCol = strArg(args(2), "size_col")))
    },
    // weights are 'stratum:weight' pairs, comma-separated — positional
    // SQL has no map literal that resolves at TVF-analysis time.
    // hotGroupFactor = 0 for the same reason as graft_cap_per_group:
    // analysis must stay lazy.
    "graft_mixture_sample" -> { args =>
      require(args.size == 5,
        "graft_mixture_sample(table, strata_col, weights_csv, total, keys_csv) takes five arguments")
      val weights = strArg(args(2), "weights_csv").split(",").map { kv =>
        val parts = kv.trim.split(":")
        require(parts.length == 2,
          s"weights_csv entries must be 'stratum:weight' pairs, got '${kv.trim}'")
        val w = try parts(1).toDouble catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"weights_csv weight must be numeric, got '${parts(1)}' in '${kv.trim}'")
        }
        parts(0) -> w
      }.toMap
      plan(graft.operators.Sampling.mixtureSample(
        table(args.head),
        strataCol = strArg(args(1), "strata_col"),
        weights = weights,
        total = longArg(args(3), "total"),
        keys = strArg(args(4), "keys_csv").split(",").map(_.trim).toSeq,
        hotGroupFactor = 0))
    },
    "graft_quality_classify" -> { args =>
      require(args.size == 2 || args.size == 4,
        "graft_quality_classify(table, label_col[, text_col, id_col]) takes 2 or 4 arguments")
      import graft.llm.QualityClassifier
      val df = table(args.head)
      val lab = strArg(args(1), "label_col")
      val (t, id) =
        if (args.size == 4) (strArg(args(2), "text_col"), strArg(args(3), "id_col"))
        else ("text", "doc_id")
      plan(QualityClassifier.scoreWith(df,
        QualityClassifier.train(df, t, lab),
        QualityClassifier.priors(df, lab), t, id))
    },
    // standing-model form: model = persisted (token, n_pos, n_neg)
    // table from QualityClassifier.train, priors = 1-row (d_pos, d_neg)
    "graft_quality_score_against" -> { args =>
      require(args.size == 3,
        "graft_quality_score_against(batch, model_table, priors_table) takes three table names")
      plan(graft.llm.QualityClassifier.scoreWith(
        table(args.head), table(args(1)), table(args(2))))
    },
    "graft_kmv_distinct" -> { args =>
      require(args.size == 3 || args.size == 4,
        "graft_kmv_distinct(table, keys_csv, value_col[, k]) takes 3 or 4 arguments")
      import graft.operators.Sketches
      val keys = strArg(args(1), "keys_csv").split(",").map(_.trim).toSeq
      val k = if (args.size == 4) intArg(args(3), "k") else 1024
      plan(Sketches.kmvMergeEstimate(
        Sketches.kmvSketch(table(args.head), keys,
          strArg(args(2), "value_col"), k), keys))
    },
    "graft_kmv_overlap" -> { args =>
      require(args.size == 3 || args.size == 4,
        "graft_kmv_overlap(table_a, table_b, value_col[, k]) takes 3 or 4 arguments")
      import graft.operators.Sketches
      import org.apache.spark.sql.functions.{col, lit}
      val vc = strArg(args(2), "value_col")
      val k = if (args.size == 4) intArg(args(3), "k") else 1024
      def one(t: DataFrame, as: String) =
        Sketches.kmvSketch(t.withColumn("__g__", lit(1)), Seq("__g__"), vc, k)
          .select(col(Sketches.KmvCol).as(as))
      plan(Sketches.kmvSetEstimates(
        one(table(args.head), "ska").crossJoin(one(table(args(1)), "skb")),
        "ska", "skb").drop("ska", "skb"))
    },
    // metrics DSL: count | nulls:col | distinct:col (Expectations.parseMetrics)
    "graft_metrics_profile" -> { args =>
      require(args.size == 2,
        "graft_metrics_profile(table, metrics_dsl) takes two arguments")
      import graft.operators.Expectations
      plan(Expectations.metricsProfile(table(args.head),
        Expectations.parseMetrics(strArg(args(1), "metrics_dsl"))))
    },
    // current/history are (metric, column, value) profile tables
    "graft_drift_check" -> { args =>
      require(args.size == 3,
        "graft_drift_check(current, history, tol_ppm) takes three arguments")
      plan(graft.operators.Expectations.driftCheck(
        table(args.head), table(args(1)), longArg(args(2), "tol_ppm")))
    },
    // rule DSL: see Expectations.parseRules (shared with the
    // task-output expectations gate)
    "graft_expectations" -> { args =>
      require(args.size == 2,
        "graft_expectations(table, rules_dsl) takes two arguments")
      import graft.operators.Expectations
      plan(Expectations.check(table(args.head),
        Expectations.parseRules(strArg(args(1), "rules_dsl"))))
    },
    "graft_temperature_quotas" -> { args =>
      require(args.size == 3 || args.size == 4,
        "graft_temperature_quotas(table, strata_col, total[, alpha]) takes 3 or 4 arguments")
      plan(graft.operators.Sampling.temperatureQuotas(
        table(args.head),
        strataCol = strArg(args(1), "strata_col"),
        total = longArg(args(2), "total"),
        alpha = if (args.size == 4) dblArg(args(3), "alpha") else 0.5))
    },
    "graft_chunk" -> { args =>
      require(args.size == 1 || args.size == 3,
        "graft_chunk(table[, chunk_tokens, overlap]) takes 1 or 3 arguments")
      val df = table(args.head)
      if (args.size == 1) plan(TextOps.chunk(df))
      else plan(TextOps.chunk(df,
        chunkTokens = intArg(args(1), "chunk_tokens"),
        overlap = intArg(args(2), "overlap")))
    },
    "graft_neardup_pairs" -> { args =>
      require(args.size == 2,
        "graft_neardup_pairs(table, threshold) takes two arguments")
      plan(Dedup.nearDupPairs(table(args.head), threshold = dblArg(args(1), "threshold")))
    },
    "graft_duplicated_spans" -> { args =>
      require(args.size == 3,
        "graft_duplicated_spans(table, k, min_span_tokens) takes three arguments")
      plan(Dedup.duplicatedSpans(table(args.head),
        k = intArg(args(1), "k"),
        minSpanTokens = intArg(args(2), "min_span_tokens")))
    },
    "graft_remove_duplicated_spans" -> { args =>
      require(args.size == 3,
        "graft_remove_duplicated_spans(table, k, min_span_tokens) takes three arguments")
      plan(Dedup.removeDuplicatedSpans(table(args.head),
        k = intArg(args(1), "k"),
        minSpanTokens = intArg(args(2), "min_span_tokens")))
    },
    // the incremental span-dedup flow from SQL: build the standing
    // index once (CTAS the result), then run daily batches against it
    "graft_span_index" -> { args =>
      require(args.size == 2,
        "graft_span_index(table, k) takes two arguments")
      plan(Dedup.spanGramIndex(table(args.head), k = intArg(args(1), "k")))
    },
    "graft_shared_spans_against" -> { args =>
      require(args.size == 4,
        "graft_shared_spans_against(batch, index, k, min_span_tokens) takes four arguments")
      plan(Dedup.sharedSpansAgainst(table(args.head), table(args(1)),
        k = intArg(args(2), "k"),
        minSpanTokens = intArg(args(3), "min_span_tokens")))
    },
    "graft_remove_spans_against" -> { args =>
      require(args.size == 4,
        "graft_remove_spans_against(batch, index, k, min_span_tokens) takes four arguments")
      plan(Dedup.removeDuplicatedSpansAgainst(table(args.head), table(args(1)),
        k = intArg(args(2), "k"),
        minSpanTokens = intArg(args(3), "min_span_tokens")))
    },
    "graft_approx_quantiles" -> { args =>
      require(args.size == 4,
        "graft_approx_quantiles(table, value_col, probs_csv, eps) takes four arguments")
      val probs = strArg(args(2), "probs_csv").split(",").map { p =>
        try p.trim.toDouble catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"probs_csv entries must be numeric, got '${p.trim}'")
        }
      }.toSeq
      // one synthetic group: SQL callers quantile the whole table; the
      // grouped form stays a Scala-API concern
      val df = table(args.head)
        .withColumn("__graft_g__", org.apache.spark.sql.functions.lit("all"))
      plan(graft.operators.Sketches.approxQuantiles(df, Seq("__graft_g__"),
        strArg(args(1), "value_col"), probs, dblArg(args(3), "eps"))
        .drop("__graft_g__"))
    },
    // NOTE: unlike every other TVF this one runs distributed jobs at
    // RESOLUTION time — k-means quantizer training (plus the corpus
    // count that auto-sizes it when nlist is omitted) is an index
    // build (exactly like ann_ivf's), and SQL has no place to thread a
    // pre-trained centroid array through. The serve-side plan that the
    // TVF splices is still lazy.
    "graft_semantic_dedup" -> { args =>
      require(args.size == 2 || args.size == 3,
        "graft_semantic_dedup(table, threshold[, nlist]) takes 2 or 3 arguments")
      val nlist = if (args.size == 3) intArg(args(2), "nlist") else 0
      plan(graft.llm.Similarity.semanticDedup(
        table(args.head), threshold = dblArg(args(1), "threshold"), nlist = nlist))
    },
    // two-epoch form: trains on the CORPUS side at resolution (same
    // index-build caveat as graft_semantic_dedup), then splices the
    // lazy batch-vs-index plan
    "graft_semantic_dedup_batch" -> { args =>
      require(args.size == 3 || args.size == 4,
        "graft_semantic_dedup_batch(batch, corpus, threshold[, nlist]) takes 3 or 4 arguments")
      val corpus = table(args(1))
      val nlist = if (args.size == 4) intArg(args(3), "nlist")
        else graft.llm.Similarity.autoNlist(corpus.count(), 1024)
      val cents = graft.llm.Similarity.trainCentroids(corpus, nlist)
      plan(graft.llm.Similarity.semanticDedupBatch(
        cents, table(args.head),
        graft.llm.Similarity.buildSemanticIndex(cents, corpus),
        threshold = dblArg(args(2), "threshold")))
    },
    // the merges side is a persisted (rank, a, b) table; like
    // graft_semantic_dedup_batch the (bounded) model collects at
    // resolution time — SQL has no place to thread a rank map through
    "graft_bpe_encode" -> { args =>
      require(args.size == 2,
        "graft_bpe_encode(batch, merges_table) takes two arguments")
      plan(graft.llm.Bpe.encodeWith(table(args.head), table(args(1))))
    },
    "graft_fuzzy_join" -> { args =>
      require(args.size == 4 || args.size == 7,
        "graft_fuzzy_join(table, key, col, max_dist) or " +
          "(left, lkey, lcol, right, rkey, rcol, max_dist)")
      import graft.operators.FuzzyJoin
      if (args.size == 4)
        plan(FuzzyJoin.fuzzySelfJoin(table(args.head),
          strArg(args(1), "key"), strArg(args(2), "col"),
          intArg(args(3), "max_dist")))
      else
        plan(FuzzyJoin.fuzzyJoin(table(args.head),
          table(args(3)),
          strArg(args(1), "lkey"), strArg(args(2), "lcol"),
          strArg(args(4), "rkey"), strArg(args(5), "rcol"),
          intArg(args(6), "max_dist")))
    },
    "graft_unigram_encode" -> { args =>
      require(args.size == 2,
        "graft_unigram_encode(batch, vocab_table) takes two arguments")
      plan(graft.llm.UnigramLm.encodeWith(table(args.head), table(args(1))))
    },
    tvf("graft_dataset_card")(graft.llm.TextOps.datasetCard(_)),
    "graft_heavy_hitters" -> { args =>
      require(args.size == 5,
        "graft_heavy_hitters(table, keys_csv, item_col, capacity, k) takes five arguments")
      plan(graft.operators.Sketches.heavyHitters(
        table(args.head),
        keys = strArg(args(1), "keys_csv").split(",").map(_.trim).toSeq,
        itemCol = strArg(args(2), "item_col"),
        capacity = intArg(args(3), "capacity"), k = intArg(args(4), "k")))
    },
    "graft_training_order" -> { args =>
      require(args.size == 3 || args.size == 4,
        "graft_training_order(table, keys_csv, num_shards[, salt]) takes 3 or 4 arguments")
      val salt = if (args.size == 4) strArg(args(3), "salt") else ""
      plan(graft.operators.Sampling.trainingOrder(
        table(args.head),
        keys = strArg(args(1), "keys_csv").split(",").map(_.trim).toSeq,
        numShards = intArg(args(2), "num_shards"), salt = salt))
    },
    // two-table forms over a persisted benchmark shingle index
    "graft_contamination_against" -> { args =>
      require(args.size == 2 || args.size == 3,
        "graft_contamination_against(batch, bench_index[, min_shared]) takes 2 or 3 arguments")
      val ms = if (args.size == 3) intArg(args(2), "min_shared") else 3
      plan(Dedup.contaminationPairsWith(table(args.head), table(args(1)),
        minShared = ms))
    },
    "graft_decontaminate_against" -> { args =>
      require(args.size == 2 || args.size == 3,
        "graft_decontaminate_against(batch, bench_index[, min_shared]) takes 2 or 3 arguments")
      val ms = if (args.size == 3) intArg(args(2), "min_shared") else 3
      plan(Dedup.decontaminateWith(table(args.head), table(args(1)),
        minShared = ms))
    },
    // content-keyed sampling: keys are a comma-separated column list so
    // the TVF stays positional ('a,b' == Seq("a","b"))
    "graft_hash_sample" -> { args =>
      require(args.size == 3 || args.size == 4,
        "graft_hash_sample(table, keys_csv, rate[, salt]) takes 3 or 4 arguments")
      val salt = if (args.size == 4) strArg(args(3), "salt") else ""
      plan(graft.operators.Sampling.hashSample(
        table(args.head),
        keys = strArg(args(1), "keys_csv").split(",").map(_.trim).toSeq,
        rate = dblArg(args(2), "rate"), salt = salt))
    },
    "graft_hash_split" -> { args =>
      require(args.size == 3,
        "graft_hash_split(table, keys_csv, test_fraction) takes three arguments")
      plan(graft.operators.Sampling.hashSplit(
        table(args.head),
        keys = strArg(args(1), "keys_csv").split(",").map(_.trim).toSeq,
        testFraction = dblArg(args(2), "test_fraction")))
    },
    // hotGroupFactor = 0: TVF resolution happens at ANALYSIS time, and the
    // hot-group guard's sizing aggregate is an eager job — the SQL surface
    // must stay lazy, so the guard is off here (the Scala API keeps it)
    "graft_cap_per_group" -> { args =>
      require(args.size == 4,
        "graft_cap_per_group(table, group_csv, cap, keys_csv) takes four arguments")
      plan(graft.operators.Sampling.capPerGroup(
        table(args.head),
        groupCols = strArg(args(1), "group_csv").split(",").map(_.trim).toSeq,
        cap = intArg(args(2), "cap"),
        keys = strArg(args(3), "keys_csv").split(",").map(_.trim).toSeq,
        hotGroupFactor = 0))
    },
    // two-table time-series joins — both sides are table/view names
    "graft_asof_join" -> { args =>
      require(args.size == 5,
        "graft_asof_join(left, right, left_time, right_time, by_csv) takes five arguments")
      plan(graft.operators.AsOfJoin.join(
        table(args(0)), table(args(1)),
        leftTime = strArg(args(2), "left_time"),
        rightTime = strArg(args(3), "right_time"),
        by = strArg(args(4), "by_csv").split(",").map(_.trim).toSeq))
    },
    "graft_range_join" -> { args =>
      require(args.size == 6 || args.size == 7,
        "graft_range_join(points, point_col, intervals, start_col, end_col, " +
          "bucket_width[, keys_csv]) takes 6 or 7 arguments")
      val keys = if (args.size == 7)
        strArg(args(6), "keys_csv").split(",").map(_.trim).toSeq else Nil
      plan(graft.operators.RangeJoin.pointInInterval(
        table(args(0)), strArg(args(1), "point_col"),
        table(args(2)), strArg(args(3), "start_col"), strArg(args(4), "end_col"),
        bucketWidth = longArg(args(5), "bucket_width"), keys = keys))
    })
}
