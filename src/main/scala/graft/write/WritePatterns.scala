package graft.write

import graft.meta.Meta
import graft.meta.Meta.{ActiveValues, Names}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Options shared by the write patterns — the Spark-native shape of the
 * reference's `options` + `extra_options` dicts
 * (reference: core/schemas/sources.py:115-166, consumed throughout
 * core/execution/write.py).
 *
 * `now` makes runs reproducible (tests/oracles); None = `current_timestamp()`
 * like the reference.
 */
final case class WriteOptions(
    dataAttributes: Option[Seq[String]] = None,
    renameMetadataColumns: Map[String, String] = Map.empty,
    activeRecordValueMapping: Map[String, String] = Map.empty,
    generateRecordUpsertColumns: Boolean = false,
    useKeyAttributesInMerge: Boolean = false,
    usePartitionColumnInMerge: Seq[String] = Nil,
    deduplicateOnKeys: Boolean = false,
    generatedCols: Seq[(String, String)] = Nil,
    excludeDataColumns: Seq[String] = Nil,
    historyTrackingCol: Option[String] = None,
    historyStartTrackingValue: Option[String] = None,
    historyStartTrackingValueType: Option[String] = None,
    fixDuplicatesByKey: Boolean = false,
    // accept several source rows matching one target row (emitting one
    // updated row per match) instead of raising like Delta MERGE does —
    // for callers that pre-dedupe and want to skip the guard: a source
    // window on the join's own exchange for the SCD patterns' key-equality
    // conditions, two extra shuffles for conditions that relate the sides
    // otherwise
    allowDuplicateMatches: Boolean = false,
    persistDataset: Boolean = false,
    stageResults: Boolean = false,
    // Delta autoMerge analogue for merges: NEW source columns widen the
    // target schema (old rows/dirs read NULL for them). Off by default —
    // then a merge whose source brings unknown columns fails loudly
    // instead of silently dropping them from the target-schema projection
    // (while their values still poison the stored data hash).
    mergeSchema: Boolean = false,
    // auto-compaction (Delta's autoCompact intent): after a merge commit
    // leaves an UNPARTITIONED snapshot with at least this many dirs, fold
    // its small dirs (< autoCompactMaxDirBytes) via compactDirs — so
    // merge-heavy streaming tables self-maintain instead of accreting one
    // tiny dir per micro-batch until scans pay per-dir overhead. The
    // compaction is a separate best-effort commit AFTER the merge (the
    // merge's own result is never blocked on it); conflicts just skip it
    // (the next merge retries).
    autoCompactMinDirs: Option[Int] = None,
    autoCompactMaxDirBytes: Long = 64L << 20,
    // change data feed: merges record per-row changes alongside the
    // snapshot; appends/overwrites synthesize theirs from the commit
    // log's dir diff (the `delta.enableChangeDataFeed` table property
    // analogue, reference delta_source.py:198-250)
    enableChangeDataFeed: Boolean = false,
    now: Option[String] = None) {

  def names: Names = Names(renameMetadataColumns)

  def activeValues: ActiveValues = ActiveValues(
    yes = activeRecordValueMapping.getOrElse("Y", "Y"),
    no = activeRecordValueMapping.getOrElse("N", "N"))

  def nowCol: Column = now match {
    case Some(ts) => to_timestamp(lit(ts))
    case None     => current_timestamp()
  }
}

object WriteOptions {
  private def csv(v: String): Seq[String] =
    v.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** Build from a flat string map — the shape a task-config JSON carries
    * (reference extra_options dict, core/schemas/sources.py:115-166).
    * Map-valued options use `k1=v1,k2=v2`; generated cols `name:expr;...`. */
  def fromMap(m: Map[String, String]): WriteOptions = {
    def kvMap(v: String): Map[String, String] =
      csv(v).map { p => val Array(k, vv) = p.split("=", 2); k -> vv }.toMap
    WriteOptions(
      dataAttributes = m.get("data_attributes").map(csv),
      renameMetadataColumns = m.get("rename_metadata_columns").map(kvMap).getOrElse(Map.empty),
      activeRecordValueMapping = m.get("active_record_value_mapping").map(kvMap).getOrElse(Map.empty),
      generateRecordUpsertColumns = m.get("generate_record_upsert_columns").exists(_.toBoolean),
      useKeyAttributesInMerge = m.get("use_key_attributes_in_merge").exists(_.toBoolean),
      usePartitionColumnInMerge = m.get("use_partition_column_in_merge").map(csv).getOrElse(Nil),
      deduplicateOnKeys = m.get("deduplicate_onkeys").exists(_.toBoolean),
      generatedCols = m.get("generated_cols").map(_.split(";").toSeq.map { p =>
        val Array(k, v) = p.split(":", 2); (k, v)
      }).getOrElse(Nil),
      excludeDataColumns = m.get("exclude_data_columns").map(csv).getOrElse(Nil),
      historyTrackingCol = m.get("history_tracking_col"),
      historyStartTrackingValue = m.get("history_start_tracking_value"),
      historyStartTrackingValueType = m.get("history_start_tracking_value_type"),
      fixDuplicatesByKey = m.get("fix_duplicates_by_key").exists(_.toBoolean),
      allowDuplicateMatches = m.get("allow_duplicate_matches").exists(_.toBoolean),
      persistDataset = m.get("persist_dataset").exists(_.toBoolean),
      stageResults = m.get("stage_results").exists(_.toBoolean),
      enableChangeDataFeed = m.get("enable_change_data_feed").exists(_.toBoolean),
      mergeSchema = m.get("merge_schema").exists(_.toBoolean),
      autoCompactMinDirs = m.get("auto_compact_min_dirs").map(_.toInt),
      autoCompactMaxDirBytes = m.get("auto_compact_max_dir_bytes")
        .map(_.toLong).getOrElse(64L << 20),
      now = m.get("now"))
  }
}

/**
 * The five write patterns as **pure DataFrame transforms** returning the
 * complete post-write table state. Persistence (versioned commit, stats,
 * user metadata) lives in [[Writers]] / [[graft.table.ManagedTable]];
 * keeping the merge logic pure keeps it lazily planned by Catalyst
 * end-to-end and directly testable against SQL oracles.
 *
 * Semantics are a faithful re-expression of the reference
 * (projectoneflow/core/execution/write.py): append/overwrite :1013-1162,
 * scd1 :320-544, scd2 :547-1010, scd3 :27-317.
 */
object WritePatterns {
  import MergeEmulator.MatchedUpdate

  private def src(c: String): Column = col(s"source.$c")
  private def tgt(c: String): Column = col(s"target.$c")

  /** Extra merge-condition conjuncts from `use_key_attributes_in_merge`
    * (null-safe `<=>`, write.py:463-470) and
    * `use_paritition_column_in_merge` (write.py:472-486). On a partitioned
    * target these conjuncts are what lets the scan prune files. */
  private def extraMergeConjuncts(opts: WriteOptions, keys: Seq[String]): Seq[Column] = {
    val k = if (opts.useKeyAttributesInMerge)
      keys.map(i => tgt(i) <=> src(i)) else Nil
    val p = opts.usePartitionColumnInMerge.map(i => tgt(i) <=> src(i))
    k ++ p
  }

  private def withGenerated(df: DataFrame, opts: WriteOptions): DataFrame =
    opts.generatedCols.foldLeft(df) { case (d, (k, v)) => d.withColumn(k, expr(v)) }

  private def dedupe(df: DataFrame, keys: Seq[String], opts: WriteOptions): DataFrame =
    if (opts.deduplicateOnKeys && keys.nonEmpty) df.dropDuplicates(keys) else df

  // ---------------------------------------------------------------- append

  /** Column decoration for `append`/`overwrite` writes: stamps
    * `__metadata_valid_to_ts__` (and `__metadata_insert_ts__` when
    * requested) with the load timestamp (write.py:1043-1058). */
  def appendColumns(source: DataFrame, opts: WriteOptions): DataFrame = {
    val n = opts.names
    val withValidTo = source.withColumn(n.validToTs, opts.nowCol)
    if (opts.generateRecordUpsertColumns)
      withValidTo.withColumn(n.insertTs, opts.nowCol)
    else withValidTo
  }

  // ----------------------------------------------------------------- scd1

  /** SCD type-1 upsert (write.py:320-544): merge on
    * `target.key_hash = source.key_hash`; matched rows with a differing
    * data hash get their data attributes, data hash, valid_to (and
    * update_ts) replaced; unmatched source rows are inserted. */
  def scd1(target: DataFrame, source: DataFrame, keys: Seq[String],
           opts: WriteOptions = WriteOptions()): DataFrame = {
    require(keys.nonEmpty, "scd1 requires key attributes")
    val n = opts.names
    val sourceColumns = source.columns.toSeq
    val dataAttrs = opts.dataAttributes.getOrElse(sourceColumns.diff(keys))

    var metaCols: Map[String, Column] = Map(
      n.keyHash -> Meta.hashOf(keys),
      n.dataHash -> Meta.hashOf(dataAttrs),
      n.validToTs -> opts.nowCol,
      n.validFromTs -> opts.nowCol)
    if (opts.generateRecordUpsertColumns)
      metaCols ++= Map(n.insertTs -> opts.nowCol, n.updateTs -> opts.nowCol)

    val prepped = withGenerated(
      metaCols.foldLeft(dedupe(source, keys, opts)) {
        case (d, (c, e)) => d.withColumn(c, e)
      }, opts)

    val insertCols = (sourceColumns ++
      Seq(n.keyHash, n.dataHash, n.validToTs, n.validFromTs) ++
      (if (opts.generateRecordUpsertColumns) Seq(n.insertTs, n.updateTs) else Nil) ++
      opts.generatedCols.map(_._1)).distinct
    val insertValues = insertCols.map(c => c -> src(c)).toMap

    val updateCols = dataAttrs ++ Seq(n.validToTs, n.dataHash) ++
      (if (opts.generateRecordUpsertColumns) Seq(n.updateTs) else Nil) ++
      opts.generatedCols.map(_._1)
    val updateSet = updateCols.map(c => c -> src(c)).toMap

    val cond = (extraMergeConjuncts(opts, keys) :+ (tgt(n.keyHash) === src(n.keyHash)))
      .reduce(_ && _)

    MergeEmulator.merge(target, prepped, cond,
      Seq(MatchedUpdate(Some(tgt(n.dataHash) =!= src(n.dataHash)), updateSet)),
      Some(insertValues), trackChanges = opts.enableChangeDataFeed,
      failOnMultipleMatches = !opts.allowDuplicateMatches)
  }

  // ----------------------------------------------------------------- scd2

  /** SCD type-2 history (write.py:547-1010). Change detection is a left
    * join of the prepared source against the target's **active** rows; each
    * source row is flagged (write.py:812-838):
    *   U  — data hash equal but excluded-columns hash changed: the active
    *        row is CLOSED and nothing is re-inserted (only UI/I rows are in
    *        the insert set, write.py:962-969) — the key ends with no active
    *        row; matches the reference exactly, quirky as it is,
    *   D  — exact duplicate of the active row (no-op),
    *   UI — data changed (close old row, insert new version),
    *   I  — brand-new key (insert only).
    * The single merge then uses the classic merge-key split
    * (write.py:962-969): U/UI rows carry `merge_key = key_hash` so they
    * *match* and close the old row; UI/I rows carry `merge_key = NULL` so
    * they *never match* and insert the new version — one pass, no second
    * merge. */
  def scd2(target: DataFrame, source: DataFrame, keys: Seq[String],
           opts: WriteOptions = WriteOptions()): DataFrame = {
    require(keys.nonEmpty, "scd2 requires key attributes")
    val n = opts.names
    val av = opts.activeValues
    val sourceColumns = source.columns.toSeq
    val excludeCols = opts.excludeDataColumns ++ opts.historyTrackingCol.toSeq
    val dataAttrs = sourceColumns.diff(keys ++ excludeCols)

    var metaCols: Map[String, Column] = Map(
      n.keyHash -> Meta.hashOf(keys),
      n.dataHash -> Meta.hashOf(dataAttrs),
      n.validToTs -> to_timestamp(lit(Meta.HighDate)),
      n.validFromTs -> opts.historyTrackingCol.map(col).getOrElse(opts.nowCol),
      n.active -> lit(av.yes))
    if (opts.generateRecordUpsertColumns)
      metaCols ++= Map(n.insertTs -> opts.nowCol, n.updateTs -> opts.nowCol)

    val prepped = metaCols.foldLeft(dedupe(source, keys, opts)) {
      case (d, (c, e)) => d.withColumn(c, e)
    }

    // -- change-detection join against active target rows (write.py:799-844)
    val joinCond = (extraMergeConjuncts(opts, keys) ++ Seq(
      tgt(n.keyHash) === src(n.keyHash),
      tgt(n.active) === lit(av.yes))).reduce(_ && _)

    val excludedHashCols = excludeCols.filterNot(opts.historyTrackingCol.contains)
    val srcExc = Meta.rowHash(excludedHashCols.map(c => Meta.hashInput(src(c))))
    val tgtExc = Meta.rowHash(excludedHashCols.map(c => Meta.hashInput(tgt(c))))

    var flagged = prepped.alias("source")
      .join(target.alias("target"), joinCond, "left")
      .withColumn("src_exc_data", srcExc)
      .withColumn("tgt_exc_data", tgtExc)
      .withColumn("flag",
        when((src(n.dataHash) === tgt(n.dataHash)) &&
             (col("src_exc_data") =!= col("tgt_exc_data")), lit("U"))
          .when(src(n.dataHash) === tgt(n.dataHash), lit("D"))
          .when(src(n.dataHash) =!= tgt(n.dataHash), lit("UI"))
          .otherwise(lit("I")))
      .select(col("source.*"), col("flag"))

    // -- default valid_from for first-ever inserts (write.py:846-866)
    (opts.historyStartTrackingValue, opts.historyStartTrackingValueType) match {
      case (Some(v), t) =>
        val start = t.map(tt => lit(v).cast(tt)).getOrElse(lit(v))
        flagged = flagged.withColumn(n.validFromTs,
          when(col("flag") === "I", start).otherwise(col(n.validFromTs)))
      case _ =>
    }

    // -- duplicate-history repair (write.py:868-960): when the source batch
    //    carries several versions of one key, order them by the history
    //    column, drop consecutive same-data rows, chain valid_from→valid_to
    //    with lead(), and keep only the last row active. Window partitions
    //    by key_hash — a single shuffle, skew-safe for realistic key
    //    cardinality; opt-in exactly like the reference.
    if (opts.fixDuplicatesByKey && opts.historyTrackingCol.isDefined) {
      val w = Window.partitionBy(n.keyHash).orderBy(col(n.validFromTs).asc)
      val deduped = flagged.filter(col("flag") =!= "D")
        .withColumn("dr_rw_data", lag(col(n.dataHash), 1).over(w))
        .withColumn("dr_rw_key", lag(col(n.keyHash), 1).over(w))
        .withColumn("dr_flag",
          when((col(n.dataHash) === col("dr_rw_data")) &&
               (col(n.keyHash) === col("dr_rw_key")), lit("R")).otherwise(lit("I")))
        .filter(col("dr_flag") === "I")
        .drop("dr_flag", "dr_rw_data", "dr_rw_key")
      flagged = deduped
        .withColumn("rnk", row_number().over(w))
        .withColumn(n.validToTs, lead(col(n.validFromTs), 1).over(w))
        .withColumn("flag",
          when(col("rnk") === 1 && col(n.validToTs).isNotNull &&
               col("flag") === "UI", lit("UI"))
            .when(col("rnk") > 1 && col("flag") === "UI", lit("I"))
            .otherwise(col("flag")))
        .withColumn(n.active,
          when(col(n.validToTs).isNull, lit(av.yes)).otherwise(lit(av.no)))
        .withColumn(n.validToTs,
          when(col(n.validToTs).isNull, lit(Meta.HighDate).cast("timestamp"))
            .otherwise(col(n.validToTs)))
        .drop("rnk")
    }

    // -- merge-key split + single merge (write.py:962-991): one pass over
    //    `flagged` (a union of closers and inserters would plan its
    //    change-detection join once per branch) — U closes, I inserts,
    //    UI explodes into one row of each
    val noKey = lit(null).cast("string")
    val mergeSource = withGenerated(flagged.filter(col("flag") =!= "D")
      .withColumn("merge_key", explode(
        when(col("flag") === "UI", array(col(n.keyHash), noKey))
          .when(col("flag") === "U", array(col(n.keyHash)))
          .otherwise(array(noKey)))), opts)

    val mergeCond = (extraMergeConjuncts(opts, keys) ++ Seq(
      tgt(n.keyHash) === col("source.merge_key"),
      tgt(n.active) === lit(av.yes))).reduce(_ && _)

    var updateSet: Map[String, Column] = Map(
      n.active -> lit(av.no),
      n.validToTs -> src(n.validFromTs))
    if (opts.generateRecordUpsertColumns)
      updateSet += (n.updateTs -> src(n.updateTs))

    val insertCols = sourceColumns ++
      Seq(n.keyHash, n.dataHash, n.validToTs, n.validFromTs, n.active) ++
      (if (opts.generateRecordUpsertColumns) Seq(n.insertTs, n.updateTs) else Nil) ++
      opts.generatedCols.map(_._1)
    val insertValues = insertCols.map(c => c -> src(c)).toMap

    MergeEmulator.merge(target, mergeSource, mergeCond,
      Seq(MatchedUpdate(None, updateSet)), Some(insertValues),
      trackChanges = opts.enableChangeDataFeed,
      failOnMultipleMatches = !opts.allowDuplicateMatches)
  }

  // ----------------------------------------------------------------- scd3

  /** SCD type-3 (write.py:27-317): tracked columns keep their previous
    * value in `prev_<col>`. Two matched branches: data changed with the
    * same column-key hash → plain update; column-key hash changed → shift
    * current→prev (`when(target.c != source.c, target.c).otherwise(prev)`,
    * write.py:215-224) and take the new values. */
  def scd3(target: DataFrame, source: DataFrame, keys: Seq[String],
           columnAttributes: Seq[String],
           opts: WriteOptions = WriteOptions(),
           changeTracking: Option[(String, Seq[String], String)] = None): DataFrame = {
    require(keys.nonEmpty && columnAttributes.nonEmpty,
      "scd3 requires key and column attributes")
    val n = opts.names
    val sourceColumns = source.columns.toSeq
    val dataAttrs = opts.dataAttributes
      .getOrElse(sourceColumns.diff(keys ++ columnAttributes))

    var metaCols: Map[String, Column] = Map(
      n.keyHash -> Meta.hashOf(keys),
      n.dataHash -> Meta.hashOf(dataAttrs),
      n.columnKeyHash -> Meta.hashOf(columnAttributes),
      n.validToTs -> opts.nowCol,
      n.validFromTs -> opts.nowCol)
    if (opts.generateRecordUpsertColumns)
      metaCols ++= Map(n.insertTs -> opts.nowCol, n.updateTs -> opts.nowCol)

    val withPrev = columnAttributes.foldLeft(dedupe(source, keys, opts)) {
      (d, k) => d.withColumn(s"prev_$k", lit(null).cast(source.schema(k).dataType))
    }
    val prepped = withGenerated(
      metaCols.foldLeft(withPrev) { case (d, (c, e)) => d.withColumn(c, e) }, opts)

    val insertCols = sourceColumns ++
      Seq(n.keyHash, n.dataHash, n.validToTs, n.validFromTs, n.columnKeyHash) ++
      (if (opts.generateRecordUpsertColumns) Seq(n.insertTs, n.updateTs) else Nil) ++
      opts.generatedCols.map(_._1)
    val insertValues = insertCols.map(c => c -> src(c)).toMap

    val updateCols = dataAttrs ++ Seq(n.validToTs, n.dataHash) ++
      (if (opts.generateRecordUpsertColumns) Seq(n.updateTs) else Nil) ++
      opts.generatedCols.map(_._1)
    val updateSet = updateCols.map(c => c -> src(c)).toMap

    // column-key-changed branch: shift current → prev_ (write.py:215-224)
    var updateChangeSet = updateSet
    columnAttributes.foreach { k =>
      updateChangeSet += (s"prev_$k" ->
        when(tgt(k) =!= src(k), tgt(k)).otherwise(tgt(s"prev_$k")))
      updateChangeSet += (k -> src(k))
    }
    updateChangeSet += (n.columnKeyHash -> src(n.columnKeyHash))

    // optional change-tracking column (write.py:225-254)
    changeTracking.foreach { case (targetCol, onCols, default) =>
      val changed = onCols.map(i => tgt(i) =!= src(i)).reduce(_ && _)
      updateChangeSet += (targetCol ->
        when(changed, lit(default)).otherwise(src(targetCol)))
    }

    val cond = (extraMergeConjuncts(opts, keys) :+ (tgt(n.keyHash) === src(n.keyHash)))
      .reduce(_ && _)

    MergeEmulator.merge(target, prepped, cond,
      Seq(
        MatchedUpdate(Some(tgt(n.dataHash) =!= src(n.dataHash) &&
          tgt(n.columnKeyHash) === src(n.columnKeyHash)), updateSet),
        MatchedUpdate(Some(tgt(n.columnKeyHash) =!= src(n.columnKeyHash)),
          updateChangeSet)),
      Some(insertValues), trackChanges = opts.enableChangeDataFeed,
      failOnMultipleMatches = !opts.allowDuplicateMatches)
  }

  // --------------------------------------------------------- constraint

  /** FK-ish pre-write check (write.py:1165-1189): rows of `source` whose
    * `columns` have no match in `ref` — an anti join, broadcastable when
    * the reference table is small. */
  def constraintViolations(source: DataFrame, ref: DataFrame,
                           columns: Seq[String]): DataFrame =
    source.join(ref, columns, "left_anti")

  // ------------------------------------------------------------- schemas

  /** Target schema a write pattern produces for a given source — used to
    * bootstrap empty targets (create-table pre-step analogue). Includes
    * generated columns (type derived by applying their expressions), so
    * the merge's target-schema projection doesn't silently drop them.
    * Generated expressions may reference the metadata columns (the real
    * write applies them after metaCols), so type derivation runs on a
    * frame carrying typed-null metadata columns. */
  def targetSchemaFor(source: DataFrame, writeType: String, keys: Seq[String],
                      columnAttributes: Seq[String] = Nil,
                      opts: WriteOptions = WriteOptions()): StructType = {
    import org.apache.spark.sql.types._
    val n = opts.names
    val ts = TimestampType
    val base: Seq[StructField] =
      if (opts.generatedCols.isEmpty) source.schema.fields.toSeq
      else {
        val withMetaNulls = Meta.All.foldLeft(source) { (d, c) =>
          val t = if (c == Meta.KeyHash || c == Meta.DataHash ||
            c == Meta.Active || c == Meta.ColumnKeyHash) "string" else "timestamp"
          d.withColumn(n(c), lit(null).cast(t))
        }
        val genTypes = withGenerated(withMetaNulls, opts).schema
        source.schema.fields.toSeq ++
          opts.generatedCols.map(g => genTypes(g._1))
      }
    val upsert = if (opts.generateRecordUpsertColumns)
      Seq(StructField(n.insertTs, ts), StructField(n.updateTs, ts)) else Nil
    val extra = writeType match {
      case "append" | "overwrite" =>
        Seq(StructField(n.validToTs, ts)) ++
          (if (opts.generateRecordUpsertColumns) Seq(StructField(n.insertTs, ts)) else Nil)
      case "scd1" =>
        Seq(StructField(n.keyHash, StringType), StructField(n.dataHash, StringType),
          StructField(n.validToTs, ts), StructField(n.validFromTs, ts)) ++ upsert
      case "scd2" =>
        Seq(StructField(n.keyHash, StringType), StructField(n.dataHash, StringType),
          StructField(n.validToTs, ts), StructField(n.validFromTs, ts),
          StructField(n.active, StringType)) ++ upsert
      case "scd3" =>
        columnAttributes.map(k =>
          StructField(s"prev_$k", source.schema(k).dataType)) ++
          Seq(StructField(n.keyHash, StringType), StructField(n.dataHash, StringType),
            StructField(n.columnKeyHash, StringType),
            StructField(n.validToTs, ts), StructField(n.validFromTs, ts)) ++ upsert
      case other => throw new IllegalArgumentException(s"write type $other")
    }
    StructType(base ++ extra)
  }
}
