package graft

import graft.table.ManagedTable
import graft.write.{WriteOptions, Writers}
import org.apache.spark.sql.functions._

/** SQL-addressable managed tables ([[graft.table.SqlTableResolution]]):
  * SELECT / time travel / INSERT on `graft.`-namespace identifiers must
  * hit the same plans and commits as the Scala API. */
class SqlTablesSpec extends SparkSpec {

  private def quoted(path: String): String = s"graft.`$path`"

  private def freshTable(prefix: String): String = {
    val path = tmpDir(prefix)
    val nation = spark.read.parquet(s"$sf/nation.parquet")
      .select("n_nationkey", "n_name", "n_regionkey")
    ManagedTable(spark, path).write(nation, "APPEND", "append")
    path
  }

  test("SELECT FROM graft.`path` matches ManagedTable.read") {
    val path = freshTable("sqlsel")
    assertSameRows(
      spark.sql(s"SELECT * FROM ${quoted(path)}"),
      ManagedTable(spark, path).read)
  }

  test("predicates and projections over graft.t reach the parquet scan") {
    val path = freshTable("sqlpush")
    val df = spark.sql(
      s"SELECT n_name FROM ${quoted(path)} WHERE n_regionkey = 2")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(n_regionkey), EqualTo(n_regionkey,2)]"),
      s"filter not pushed to scan:\n$plan")
    assert(plan.contains("ReadSchema") &&
      !plan.contains("n_nationkey"), s"projection not pruned:\n$plan")
    assertSameRows(df,
      ManagedTable(spark, path).read
        .filter(col("n_regionkey") === 2).select("n_name"))
  }

  test("aggregates, joins and qualified column refs work over graft tables") {
    val path = freshTable("sqlagg")
    val region = spark.read.parquet(s"$sf/region.parquet")
    region.createOrReplaceTempView("region_v")
    assertSameRows(
      spark.sql(
        s"""SELECT r.r_name, count(*) AS n
           |FROM ${quoted(path)} t JOIN region_v r
           |  ON t.n_regionkey = r.r_regionkey
           |GROUP BY r.r_name""".stripMargin),
      ManagedTable(spark, path).read
        .join(region, col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name").agg(count(lit(1)).as("n")))
  }

  test("VERSION AS OF reads the pinned snapshot") {
    val path = tmpDir("sqltt")
    val nation = spark.read.parquet(s"$sf/nation.parquet")
      .select("n_nationkey", "n_name", "n_regionkey")
    val t = ManagedTable(spark, path)
    t.write(nation.filter(col("n_regionkey") < 2), "APPEND", "append")
    t.write(nation.filter(col("n_regionkey") >= 2), "APPEND", "append")
    assertSameRows(
      spark.sql(s"SELECT * FROM ${quoted(path)} VERSION AS OF 0"),
      t.readAt(0))
    assertSameRows(
      spark.sql(s"SELECT * FROM ${quoted(path)}"),
      nation)
  }

  test("TIMESTAMP AS OF resolves through the commit timeline") {
    val path = tmpDir("sqlts")
    val nation = spark.read.parquet(s"$sf/nation.parquet")
      .select("n_nationkey", "n_name", "n_regionkey")
    val t = ManagedTable(spark, path)
    t.write(nation.filter(col("n_regionkey") < 2), "APPEND", "append")
    val ts0 = t.commitAt(0).timestampMs
    Thread.sleep(5)
    t.write(nation.filter(col("n_regionkey") >= 2), "APPEND", "append")
    val iso = java.time.Instant.ofEpochMilli(ts0).toString.replace("T", " ").stripSuffix("Z")
    assertSameRows(
      spark.sql(s"SELECT * FROM ${quoted(path)} TIMESTAMP AS OF '$iso'"),
      t.readAt(0))
  }

  test("INSERT INTO appends a commit; INSERT OVERWRITE replaces") {
    val path = freshTable("sqlins")
    spark.read.parquet(s"$sf/nation.parquet").createOrReplaceTempView("nation_v")
    spark.sql(
      s"""INSERT INTO ${quoted(path)}
         |SELECT n_nationkey + 100, n_name, n_regionkey FROM nation_v""".stripMargin)
    val t = ManagedTable(spark, path)
    assert(t.latestVersion.contains(1L))
    assert(t.lastCommit.get.operation == "APPEND")
    assert(t.read.count() == 2 * spark.table("nation_v").count())

    spark.sql(
      s"""INSERT OVERWRITE ${quoted(path)}
         |SELECT n_nationkey, n_name, n_regionkey FROM nation_v WHERE n_regionkey = 0""".stripMargin)
    assert(t.lastCommit.get.operation == "OVERWRITE")
    assertSameRows(t.read,
      spark.table("nation_v")
        .select("n_nationkey", "n_name", "n_regionkey")
        .filter(col("n_regionkey") === 0))
  }

  test("INSERT casts to the table's column types positionally") {
    val path = tmpDir("sqlcast")
    val t = ManagedTable(spark, path)
    import spark.implicits._
    t.write(Seq((1L, "a")).toDF("id", "name"), "APPEND", "append")
    // ints arrive where the table holds longs — must widen, not fail
    spark.sql(s"INSERT INTO ${quoted(path)} VALUES (2, 'b')")
    assert(t.read.schema("id").dataType.typeName == "long")
    assert(t.read.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("explicit column list fills unmentioned columns with NULL") {
    val path = tmpDir("sqlcols")
    val t = ManagedTable(spark, path)
    import spark.implicits._
    t.write(Seq((1L, "a", 10.0)).toDF("id", "name", "score"), "APPEND", "append")
    spark.sql(s"INSERT INTO ${quoted(path)} (id, name) VALUES (2, 'b')")
    val r = t.read.filter(col("id") === 2).head()
    assert(r.getAs[String]("name") == "b" && r.isNullAt(r.fieldIndex("score")))
  }

  test("INSERT INTO a fresh path creates the table with the query schema") {
    val path = tmpDir("sqlcreate")
    spark.read.parquet(s"$sf/region.parquet").createOrReplaceTempView("region_v")
    spark.sql(s"INSERT INTO ${quoted(path)} SELECT * FROM region_v")
    assertSameRows(ManagedTable(spark, path).read, spark.table("region_v"))
  }

  test("warehouse-relative names resolve under spark.graft.warehouse") {
    val wh = tmpDir("sqlwh").stripSuffix("/t")
    spark.conf.set("spark.graft.warehouse", wh)
    try {
      val t = ManagedTable(spark, s"$wh/ns/items")
      import spark.implicits._
      t.write(Seq((1, "x")).toDF("k", "v"), "APPEND", "append")
      // nested namespaces are spelled inside the quotes — a 3-part
      // identifier dies in the session catalog before extension rules run
      assert(spark.sql("SELECT v FROM graft.`ns/items` WHERE k = 1")
        .head().getString(0) == "x")
      spark.sql("INSERT INTO graft.`ns/items` VALUES (2, 'y')")
      assert(t.read.count() == 2)

      val flat = ManagedTable(spark, s"$wh/flat")
      flat.write(Seq((7, "z")).toDF("k", "v"), "APPEND", "append")
      assert(spark.sql("SELECT v FROM graft.flat").head().getString(0) == "z")
    } finally spark.conf.unset("spark.graft.warehouse")
  }

  test("arity mismatch without a column list fails loudly") {
    val path = freshTable("sqlbad")
    intercept[Exception] {
      spark.sql(s"INSERT INTO ${quoted(path)} VALUES (1, 'only-two')")
    }
  }

  test("deletion vectors and column mapping are honored through SQL reads") {
    val path = tmpDir("sqldv")
    val t = ManagedTable(spark, path)
    import spark.implicits._
    t.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"),
      "APPEND", "append")
    t.deleteVectors(col("id") === 2)
    t.renameColumn("name", "label")
    assert(spark.sql(s"SELECT id, label FROM ${quoted(path)} ORDER BY id")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a"), (3L, "c")))
  }

  test("DELETE FROM prunes dirs via stats and removes only matching rows") {
    val path = freshTable("sqldel")
    val t = ManagedTable(spark, path)
    spark.sql(s"DELETE FROM ${quoted(path)} WHERE n_regionkey = 2")
    assert(t.lastCommit.get.operation == "DELETE")
    assertSameRows(t.read,
      spark.read.parquet(s"$sf/nation.parquet")
        .select("n_nationkey", "n_name", "n_regionkey")
        .filter(col("n_regionkey") =!= 2))
    // aliased form with qualified refs
    spark.sql(s"DELETE FROM ${quoted(path)} n WHERE n.n_nationkey < 3")
    assert(t.read.filter(col("n_nationkey") < 3).count() == 0)
  }

  test("UPDATE SET rewrites matching rows in place") {
    val path = freshTable("sqlupd")
    val t = ManagedTable(spark, path)
    spark.sql(
      s"UPDATE ${quoted(path)} SET n_name = concat(n_name, '!') WHERE n_regionkey = 0")
    assert(t.lastCommit.get.operation == "UPDATE")
    val bang = t.read.filter(col("n_name").endsWith("!"))
    assert(bang.count() > 0 &&
      bang.count() == t.read.filter(col("n_regionkey") === 0).count())
  }

  test("MERGE INTO updates matches and inserts the rest through one commit") {
    val path = tmpDir("sqlmerge")
    val t = ManagedTable(spark, path)
    import spark.implicits._
    t.write(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "score"),
      "APPEND", "append")
    Seq((2L, "B", 99.0), (3L, "c", 30.0)).toDF("id", "name", "score")
      .createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO ${quoted(path)} tgt USING merge_src s
         |ON tgt.id = s.id
         |WHEN MATCHED THEN UPDATE SET name = s.name, score = s.score
         |WHEN NOT MATCHED THEN INSERT (id, name, score) VALUES (s.id, s.name, s.score)
         |""".stripMargin)
    assert(t.lastCommit.get.operation == "MERGE INTO")
    assert(t.read.orderBy("id").as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a", 10.0), (2L, "B", 99.0), (3L, "c", 30.0)))
  }

  test("MERGE INTO with UPDATE SET * and INSERT *") {
    val path = tmpDir("sqlmerge2")
    val t = ManagedTable(spark, path)
    import spark.implicits._
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), "APPEND", "append")
    Seq((2L, "B2"), (4L, "d")).toDF("id", "name")
      .createOrReplaceTempView("merge_src2")
    spark.sql(
      s"""MERGE INTO ${quoted(path)} USING merge_src2 s ON ${quoted(path)}.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(t.read.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "B2"), (4L, "d")))
  }

  test("MERGE INTO with a residual over both sides counts only rows that pass it") {
    // `s.v > tgt.v` mixes the sides, so a per-key count of source rows
    // would over-approximate: the guard must see the residual
    val path = tmpDir("sqlmerge_mixed")
    val t = ManagedTable(spark, path)
    import spark.implicits._
    t.write(Seq((1L, 10), (2L, 20)).toDF("id", "v"), "APPEND", "append")
    def merge(src: Seq[(Long, Int)]): Unit = {
      src.toDF("id", "v").createOrReplaceTempView("merge_src_mixed")
      spark.sql(
        s"""MERGE INTO ${quoted(path)} tgt USING merge_src_mixed s
           |ON tgt.id = s.id AND s.v > tgt.v
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      ()
    }
    // (1, 5) fails the residual and inserts; (1, 15) alone updates
    merge(Seq((1L, 5), (1L, 15)))
    assert(t.read.orderBy("id", "v").as[(Long, Int)].collect().toSeq ==
      Seq((1L, 5), (1L, 15), (2L, 20)))
    val e = intercept[Exception](merge(Seq((2L, 30), (2L, 40))))
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("MERGE cardinality violation")))
    assert(t.read.orderBy("id", "v").as[(Long, Int)].collect().toSeq ==
      Seq((1L, 5), (1L, 15), (2L, 20)))
  }

  test("MERGE INTO with only WHEN MATCHED drops source-only rows") {
    val path = tmpDir("sqlmerge_matched_only")
    val t = ManagedTable(spark, path)
    import spark.implicits._
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), "APPEND", "append")
    Seq((2L, "B"), (3L, "c")).toDF("id", "name")
      .createOrReplaceTempView("merge_src_matched_only")
    spark.sql(
      s"""MERGE INTO ${quoted(path)} tgt USING merge_src_matched_only s
         |ON tgt.id = s.id
         |WHEN MATCHED THEN UPDATE SET name = s.name""".stripMargin)
    assert(t.read.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "B")))
  }

  test("MERGE INTO fenced on its read version: an append landing mid-MERGE survives") {
    val path = tmpDir("sqlmerge_race")
    val t = ManagedTable(spark, path)
    import spark.implicits._
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), "APPEND", "append")
    Seq((2L, "B"), (3L, "c")).toDF("id", "name")
      .withColumn("name", udf(MergeGate.pass _).apply($"name"))
      .createOrReplaceTempView("merge_src_race")
    MergeGate.arm()
    try {
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val th = new Thread(() =>
        try {
          spark.sql(
            s"""MERGE INTO ${quoted(path)} tgt USING merge_src_race s
               |ON tgt.id = s.id
               |WHEN MATCHED THEN UPDATE SET name = s.name
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          ()
        } catch { case e: Throwable => err.set(e) })
      th.start()
      MergeGate.awaitReached()
      // a second handle appends while the MERGE evaluates its source
      ManagedTable(spark, path)
        .write(Seq((7L, "racer")).toDF("id", "name"), "APPEND", "append")
      MergeGate.release()
      th.join(120000)
      def chain(x: Throwable): Seq[Throwable] =
        if (x == null) Nil else x +: chain(x.getCause)
      assert(chain(err.get()).exists(_.isInstanceOf[ManagedTable.ConcurrentCommitException]),
        s"expected the MERGE to surface a conflict, got ${err.get()}")
    } finally MergeGate.disarm()
    assert(t.read.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (7L, "racer")))
    assertNoOrphanDirs(path)
  }

  test("MERGE rejects unsupported clauses loudly") {
    val path = tmpDir("sqlmerge3")
    val t = ManagedTable(spark, path)
    import spark.implicits._
    t.write(Seq((1L, "a")).toDF("id", "name"), "APPEND", "append")
    Seq((1L, "x")).toDF("id", "name").createOrReplaceTempView("merge_src3")
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO ${quoted(path)} tgt USING merge_src3 s ON tgt.id = s.id
           |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(e.getMessage.contains("not supported"))
  }

  test("CREATE TABLE and ALTER TABLE TBLPROPERTIES round-trip") {
    val path = tmpDir("sqlcreate2")
    spark.sql(
      s"""CREATE TABLE ${quoted(path)} (id BIGINT, name STRING)
         |TBLPROPERTIES ('team' = 'data-eng')""".stripMargin)
    val t = ManagedTable(spark, path)
    assert(t.exists && t.lastCommit.get.properties("team") == "data-eng")
    // idempotent under IF NOT EXISTS; loud without
    spark.sql(s"CREATE TABLE IF NOT EXISTS ${quoted(path)} (id BIGINT, name STRING)")
    intercept[Exception] {
      spark.sql(s"CREATE TABLE ${quoted(path)} (id BIGINT, name STRING)")
    }
    spark.sql(s"INSERT INTO ${quoted(path)} VALUES (1, 'x')")
    spark.sql(
      s"ALTER TABLE ${quoted(path)} SET TBLPROPERTIES ('bloom.columns' = 'name')")
    assert(ManagedTable(spark, path).lastCommit.get
      .properties(ManagedTable.BloomColumnsProp) == "name")
    spark.sql(s"ALTER TABLE ${quoted(path)} UNSET TBLPROPERTIES ('team')")
    assert(!ManagedTable(spark, path).lastCommit.get.properties.contains("team"))
  }

  test("ALTER TABLE ADD/RENAME/DROP COLUMN are metadata-only commits") {
    val path = tmpDir("sqlddlcols")
    val t = ManagedTable(spark, path)
    import spark.implicits._
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), "APPEND", "append")
    val dirsBefore = t.lastCommit.get.dirs

    spark.sql(s"ALTER TABLE ${quoted(path)} ADD COLUMN score DOUBLE")
    assert(t.read.schema.fieldNames.toSeq == Seq("id", "name", "score"))
    assert(t.read.filter(col("score").isNull).count() == 2)
    spark.sql(s"INSERT INTO ${quoted(path)} VALUES (3, 'c', 9.5)")
    assert(t.read.filter(col("score") === 9.5).count() == 1)

    spark.sql(s"ALTER TABLE ${quoted(path)} RENAME COLUMN name TO label")
    assert(t.read.schema.fieldNames.contains("label"))

    spark.sql(s"ALTER TABLE ${quoted(path)} DROP COLUMN score")
    assert(!t.read.schema.fieldNames.contains("score"))
    // every ALTER carried the original dirs — zero rewrites
    assert(dirsBefore.forall(t.lastCommit.get.dirs.contains))
    // re-adding a dropped name would resurrect old bytes — refused
    intercept[Exception] {
      spark.sql(s"ALTER TABLE ${quoted(path)} ADD COLUMN score DOUBLE")
    }
    spark.sql(s"ALTER TABLE ${quoted(path)} DROP COLUMN IF EXISTS ghost")
  }

  test("ALTER TABLE ADD CONSTRAINT CHECK persists and gates writes") {
    val path = tmpDir("sqlddlcons")
    val t = ManagedTable(spark, path)
    import spark.implicits._
    t.write(Seq((1L, 10.0)).toDF("id", "score"), "APPEND", "append")
    spark.sql(
      s"ALTER TABLE ${quoted(path)} ADD CONSTRAINT pos_score CHECK (score > 0)")
    assert(t.lastCommit.get.constraints.contains("pos_score"))
    intercept[Exception] {
      spark.sql(s"INSERT INTO ${quoted(path)} VALUES (2, -5.0)")
    }
    assert(t.read.count() == 1)
    spark.sql(s"INSERT INTO ${quoted(path)} VALUES (3, 5.0)")
    assert(t.read.count() == 2)
  }

  test("readStream.table over graft.t streams the snapshot + tail") {
    val path = tmpDir("sqlstream")
    val t = ManagedTable(spark, path)
    import spark.implicits._
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), "APPEND", "append")
    val out = tmpDir("sqlstream_out")
    val q = spark.readStream.table(s"graft.`$path`")
      .writeStream.format("memory").queryName("graft_sql_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("graft_sql_stream").count() == 2)
    locally(out)
  }

  test("CALL graft procedures: history, vacuum, optimize, analyze, restore") {
    val path = tmpDir("sqlcall")
    val t = ManagedTable(spark, path)
    import spark.implicits._
    t.write(Seq((1L, "a")).toDF("id", "name"), "APPEND", "append")
    t.write(Seq((2L, "b")).toDF("id", "name"), "APPEND", "append")
    t.write(Seq((9L, "z")).toDF("id", "name"), "OVERWRITE", "replace")

    val hist = spark.sql(s"CALL graft.history('$path')")
    assert(hist.columns.toSeq.take(2) == Seq("version", "operation"))
    assert(hist.select("operation").as[String].collect().toSeq ==
      Seq("OVERWRITE", "APPEND", "APPEND"))

    val dry = spark.sql(s"CALL graft.vacuum('$path', 1, true)").head()
    assert(dry.getInt(0) == 2) // would prune 2 versions
    assert(t.earliestVersion.contains(0L)) // dry run touched nothing
    val real = spark.sql(s"CALL graft.vacuum('$path', 1)").head()
    assert(real.getInt(0) == 2 && t.earliestVersion.contains(2L))

    val an = spark.sql(s"CALL graft.analyze('$path')").head()
    assert(an.getString(1) == "ANALYZE")

    spark.sql(s"INSERT INTO ${quoted(path)} VALUES (10, 'y')")
    val restored = spark.sql(s"CALL graft.restore('$path', 2)").head()
    assert(restored.getString(1).startsWith("RESTORE"))
    assert(t.read.count() == 1)

    val dst = tmpDir("sqlcall_clone")
    spark.sql(s"CALL graft.clone('$path', '$dst')")
    assertSameRows(ManagedTable(spark, dst).read, t.read)

    intercept[Exception] { spark.sql(s"CALL graft.frobnicate('$path')") }
  }

  test("CALL graft.drift_check profiles, judges vs history, and accumulates") {
    val path = tmpDir("sqldrift")
    val metrics = tmpDir("sqldrift_metrics")
    val t = ManagedTable(spark, path)
    import spark.implicits._
    t.write((1L to 100L).map(i => (i, s"n$i")).toDF("id", "name"),
      "APPEND", "append")
    def call() = spark.sql(
      s"CALL graft.drift_check('$path', 'count; distinct:id', '$metrics', 200000)")
      .collect().map(r => r.getString(0) -> r.getInt(5)).toMap
    // first call: vacuous pass, profile lands in the history
    assert(call() === Map("row_count" -> 1, "distinct_count" -> 1))
    assert(ManagedTable(spark, metrics).read.count() === 2L)
    // stable snapshot: passes against real history
    assert(call().values.forall(_ == 1))
    // triple the table: row_count drifts past 20%
    t.write((101L to 300L).map(i => (i, s"n$i")).toDF("id", "name"),
      "APPEND", "append")
    val v = call()
    assert(v("row_count") === 0 && ManagedTable(spark, metrics).read.count() === 6L)
  }

  test("CALL graft.optimize folds small dirs into one commit") {
    val path = tmpDir("sqlopt")
    val t = ManagedTable(spark, path)
    import spark.implicits._
    (1 to 5).foreach(i =>
      t.write(Seq((i.toLong, s"r$i")).toDF("id", "name"), "APPEND", "append"))
    val before = t.lastCommit.get.dirs.size
    val out = spark.sql(s"CALL graft.optimize('$path')")
    assert(out.head().getString(1).startsWith("COMPACT"))
    assert(t.lastCommit.get.dirs.size < before)
    assert(t.read.count() == 5)
  }

  test("CALL graft.cluster_by then graft.maintain: the grid lands once, " +
      "routine maintenance folds the append tail onto it") {
    val path = tmpDir("sqlclby")
    val t = ManagedTable(spark, path)
    import spark.implicits._
    t.write((1 to 40).map(i => (i.toLong, s"k$i"))
      .toDF("id", "name"), "APPEND", "append")
    val out = spark.sql(s"CALL graft.cluster_by('$path', 'id', 4)")
    assert(out.head().getString(1).startsWith("CLUSTER BY"))
    assert(t.lastCommit.get.dirs.forall(
      _.contains(s"/${ManagedTable.CLUSTER_COL}=")))
    // an append lands an unbucketed tail; maintain folds it onto the grid
    t.write(Seq((41L, "k41"), (42L, "k42")).toDF("id", "name"),
      "APPEND", "append")
    val rows = spark.sql(s"CALL graft.maintain('$path')").collect()
    assert(rows.exists(_.getString(1).startsWith("CLUSTER APPEND")))
    assert(t.lastCommit.get.dirs.forall(
      _.contains(s"/${ManagedTable.CLUSTER_COL}=")))
    assert(t.read.count() === 42L)
    // nothing pending → no commit rows at all
    assert(spark.sql(s"CALL graft.maintain('$path')").collect().isEmpty)
  }

  test("SHOW TBLPROPERTIES and DESCRIBE read the commit log") {
    val path = tmpDir("sqlshow")
    val t = ManagedTable(spark, path)
    import spark.implicits._
    t.write(Seq((1L, "a")).toDF("id", "name"), "APPEND", "append")
    t.setProperties(Map("bloom.columns" -> "name", "team" -> "data-eng"))

    val props = spark.sql(s"SHOW TBLPROPERTIES ${quoted(path)}")
      .as[(String, String)].collect().toMap
    assert(props == Map("bloom.columns" -> "name", "team" -> "data-eng"))
    assert(spark.sql(s"SHOW TBLPROPERTIES ${quoted(path)} ('team')")
      .head().getString(1) == "data-eng")
    assert(spark.sql(s"SHOW TBLPROPERTIES ${quoted(path)} ('ghost')")
      .head().getString(1).contains("does not have"))

    val desc = spark.sql(s"DESCRIBE ${quoted(path)}").collect()
    assert(desc.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("id", "bigint"), ("name", "string")))
    val ext = spark.sql(s"DESCRIBE EXTENDED ${quoted(path)}").collect()
      .map(_.getString(0))
    assert(ext.contains("Location") && ext.contains("Version"))
  }

  test("registered catalog: 3-part names, SHOW TABLES/NAMESPACES, DROP, RENAME") {
    val wh = tmpDir("sqlcat").stripSuffix("/t")
    spark.conf.set("spark.graft.warehouse", wh)
    try {
      import spark.implicits._
      spark.sql("CREATE TABLE graft.sales.orders (id BIGINT, amt DOUBLE)")
      spark.sql("INSERT INTO graft.sales.orders VALUES (1, 10.5), (2, 20.0)")
      // 3-part SELECT resolves through catalog + resolution rule
      assert(spark.sql(
        "SELECT sum(amt) FROM graft.sales.orders WHERE id <= 2")
        .head().getDouble(0) == 30.5)
      spark.sql("UPDATE graft.sales.orders SET amt = amt + 1 WHERE id = 1")
      assert(spark.sql("SELECT amt FROM graft.sales.orders WHERE id = 1")
        .head().getDouble(0) == 11.5)

      spark.sql("CREATE TABLE graft.sales.items (k INT)")
      val tables = spark.sql("SHOW TABLES IN graft.sales")
        .select("tableName").as[String].collect().toSet
      assert(tables == Set("orders", "items"))
      val namespaces = spark.sql("SHOW NAMESPACES IN graft")
        .as[String].collect().toSet
      assert(namespaces.contains("sales"))

      spark.sql("ALTER TABLE graft.sales.items RENAME TO graft.sales.items2")
      assert(ManagedTable(spark, s"$wh/sales/items2").exists)
      assert(!ManagedTable(spark, s"$wh/sales/items").exists)

      spark.sql("DROP TABLE graft.sales.items2")
      assert(!ManagedTable(spark, s"$wh/sales/items2").exists)
      assert(spark.sql("SHOW TABLES IN graft.sales").count() == 1)
    } finally spark.conf.unset("spark.graft.warehouse")
  }

  test("SHOW VIEWS lists warehouse views (LIKE-filtered); DESCRIBE " +
      "HISTORY reads the commit log with the CALL procedure's shape") {
    val wh = tmpDir("sqlshowv").stripSuffix("/t")
    spark.conf.set("spark.graft.warehouse", wh)
    try {
      import spark.implicits._
      spark.sql("CREATE TABLE graft.shns.t1 (id BIGINT)")
      spark.sql("INSERT INTO graft.shns.t1 VALUES (1), (2)")
      spark.sql("CREATE TABLE graft.shns.t2 (k STRING)")
      spark.sql("CREATE VIEW graft.shns.v1 AS SELECT id * 2 AS d FROM graft.shns.t1")
      spark.sql("CREATE VIEW graft.shns.v2 AS SELECT count(*) AS n FROM graft.shns.t1")
      // tables list through the catalog, views through the new command
      assert(spark.sql("SHOW TABLES IN graft.shns")
        .select("tableName").as[String].collect().toSet === Set("t1", "t2"))
      val views = spark.sql("SHOW VIEWS IN graft.shns")
      assert(views.columns.toSeq === Seq("namespace", "viewName", "isTemporary"))
      assert(views.select("viewName").as[String].collect().toSet ===
        Set("v1", "v2"))
      assert(spark.sql("SHOW VIEWS IN graft.shns LIKE 'v1'")
        .select("viewName").as[String].collect().toSeq === Seq("v1"))
      // the view still reads (listing is metadata-only)
      assert(spark.sql("SELECT sum(d) FROM graft.shns.v1").head().getLong(0) === 6L)
      // DESCRIBE HISTORY — Delta's spelling, the CALL's exact rows
      val hist = spark.sql("DESCRIBE HISTORY graft.shns.t1")
      assert(hist.columns.toSeq === Seq("version", "operation",
        "timestamp_ms", "num_dirs", "operation_metrics", "user_metadata"))
      assert(hist.select("operation").as[String].collect().toSeq ===
        Seq("APPEND", "CREATE TABLE"))
      assertSameRows(hist,
        spark.sql(s"CALL graft.history('$wh/shns/t1')"))
      // non-graft DESCRIBE statements delegate untouched
      val e = intercept[Exception] {
        spark.sql("DESCRIBE HISTORY not_graft.t")
      }
      assert(!e.getMessage.contains("graft table"))
    } finally spark.conf.unset("spark.graft.warehouse")
  }

  test("CREATE TABLE with inline CHECK constraints enforces them") {
    val path = tmpDir("sqlctcons")
    spark.sql(
      s"""CREATE TABLE ${quoted(path)} (id BIGINT, score DOUBLE,
         |  CONSTRAINT pos_score CHECK (score > 0))""".stripMargin)
    val t = ManagedTable(spark, path)
    assert(t.lastCommit.get.constraints.contains("pos_score"))
    spark.sql(s"INSERT INTO ${quoted(path)} VALUES (1, 5.0)")
    intercept[Exception] {
      spark.sql(s"INSERT INTO ${quoted(path)} VALUES (2, -1.0)")
    }
    assert(t.read.count() == 1)
  }

  test("reader options versionAsOf / timestampAsOf on table()") {
    val path = tmpDir("sqlropt")
    val t = ManagedTable(spark, path)
    import spark.implicits._
    t.write(Seq((1L, "a")).toDF("id", "name"), "APPEND", "append")
    t.write(Seq((2L, "b")).toDF("id", "name"), "APPEND", "append")
    assert(spark.read.option("versionAsOf", "0")
      .table(s"graft.`$path`").count() == 1)
    assert(spark.read.table(s"graft.`$path`").count() == 2)
    val ts0 = java.time.Instant.ofEpochMilli(t.commitAt(0).timestampMs)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.toString
    assert(spark.read.option("timestampAsOf", ts0)
      .table(s"graft.`$path`").count() == 1)
    intercept[Exception] {
      spark.read.option("versionAsOf", "0").option("timestampAsOf", ts0)
        .table(s"graft.`$path`").count()
    }
  }

  test("non-graft relations pass through the rule untouched") {
    spark.read.parquet(s"$sf/region.parquet").createOrReplaceTempView("region_v")
    assert(spark.sql("SELECT count(*) FROM region_v").head().getLong(0) ==
      spark.table("region_v").count())
  }

  test("CTAS creates the table with the query's schema and rows") {
    val path = tmpDir("sqlctas")
    spark.read.parquet(s"$sf/nation.parquet").createOrReplaceTempView("nation_ctas")
    spark.sql(s"""CREATE TABLE ${quoted(path)} AS
                 |SELECT n_nationkey, n_name FROM nation_ctas
                 |WHERE n_nationkey < 10""".stripMargin)
    assertSameRows(
      spark.sql(s"SELECT * FROM ${quoted(path)}"),
      spark.table("nation_ctas").select("n_nationkey", "n_name")
        .filter(col("n_nationkey") < 10))
    assert(ManagedTable(spark, path).lastCommit.get.operation ===
      "CREATE TABLE AS SELECT")
  }

  test("partitioned CTAS carries the layout; TBLPROPERTIES stamp before data") {
    val path = tmpDir("sqlctasp")
    spark.read.parquet(s"$sf/nation.parquet").createOrReplaceTempView("nation_ctas2")
    spark.sql(s"""CREATE TABLE ${quoted(path)}
                 |PARTITIONED BY (n_regionkey)
                 |TBLPROPERTIES ('graft.owner' = 'ctas-spec')
                 |AS SELECT n_nationkey, n_name, n_regionkey
                 |FROM nation_ctas2""".stripMargin)
    val t = ManagedTable(spark, path)
    assert(t.lastCommit.get.partitionBy === Seq("n_regionkey"))
    assert(t.lastCommit.get.properties.get("graft.owner").contains("ctas-spec"))
    // the property commit precedes the data commit (layout-bearing
    // properties must govern the first files)
    assert(t.history.map(_.operation).reverse.take(3) ===
      Seq("CREATE TABLE", "SET TBLPROPERTIES", "CREATE TABLE AS SELECT"))
    assertSameRows(spark.sql(s"SELECT * FROM ${quoted(path)}"),
      spark.table("nation_ctas2").select("n_nationkey", "n_name", "n_regionkey"))
  }

  test("CTAS IF NOT EXISTS is a no-op on an existing table; plain CTAS refuses") {
    val path = freshTable("sqlctasine")
    val before = spark.sql(s"SELECT count(*) FROM ${quoted(path)}").head().getLong(0)
    val v = ManagedTable(spark, path).latestVersion
    spark.sql(s"""CREATE TABLE IF NOT EXISTS ${quoted(path)} AS
                 |SELECT 1 AS x""".stripMargin)
    assert(ManagedTable(spark, path).latestVersion === v,
      "IF NOT EXISTS must not commit anything")
    assert(spark.sql(s"SELECT count(*) FROM ${quoted(path)}")
      .head().getLong(0) === before)
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE ${quoted(path)} AS SELECT 1 AS x")
    }
    assert(e.getMessage.contains("already"))
  }

  test("CREATE OR REPLACE TABLE AS SELECT replaces data atomically and " +
      "keeps history; plain REPLACE on a missing table refuses") {
    val path = freshTable("sqlrtas")
    val vBefore = ManagedTable(spark, path).latestVersion.get
    spark.sql(s"""CREATE OR REPLACE TABLE ${quoted(path)} AS
                 |SELECT 7 AS n_nationkey, 'X' AS n_name""".stripMargin)
    val t = ManagedTable(spark, path)
    assert(t.lastCommit.get.operation === "REPLACE TABLE AS SELECT")
    assert(spark.sql(s"SELECT * FROM ${quoted(path)}").count() === 1L)
    // history intact: the pre-replace snapshot is still time-travelable
    assert(spark.sql(
      s"SELECT count(*) FROM ${quoted(path)} VERSION AS OF $vBefore")
      .head().getLong(0) > 1L)
    // OR CREATE on a fresh path falls back to CTAS
    val fresh = tmpDir("sqlrtas2")
    spark.sql(s"CREATE OR REPLACE TABLE ${quoted(fresh)} AS SELECT 1 AS x")
    assert(spark.sql(s"SELECT * FROM ${quoted(fresh)}").count() === 1L)
    // plain REPLACE TABLE on a missing path refuses
    val missing = tmpDir("sqlrtas3")
    val e = intercept[Exception] {
      spark.sql(s"REPLACE TABLE ${quoted(missing)} AS SELECT 1 AS x")
    }
    assert(e.getMessage.contains("does not exist"))
  }

  test("RTAS lands data + properties as ONE replace commit and RESETS " +
      "pre-existing properties") {
    val path = freshTable("sqlrtasp")
    spark.sql(
      s"ALTER TABLE ${quoted(path)} SET TBLPROPERTIES ('stale' = 'old')")
    val vBefore = ManagedTable(spark, path).latestVersion.get
    spark.sql(s"""CREATE OR REPLACE TABLE ${quoted(path)}
                 |TBLPROPERTIES ('team' = 'rtas-spec')
                 |AS SELECT 1 AS x""".stripMargin)
    val t = ManagedTable(spark, path)
    // exactly one commit past the SET TBLPROPERTIES — no separate
    // property commit a failing SELECT could strand
    assert(t.latestVersion.get === vBefore + 1)
    val c = t.lastCommit.get
    assert(c.operation === "REPLACE TABLE AS SELECT")
    assert(c.properties === Map("team" -> "rtas-spec"),
      s"RTAS must RESET properties to the declared set, got ${c.properties}")
    // layout-bearing declared properties govern the replace's own files
    val path2 = freshTable("sqlrtasc")
    spark.sql(s"""CREATE OR REPLACE TABLE ${quoted(path2)}
                 |TBLPROPERTIES ('cluster.columns' = 'x')
                 |AS SELECT id AS x FROM range(100)""".stripMargin)
    assert(ManagedTable(spark, path2).lastCommit.get.properties
      .get("cluster.columns").contains("x"))
  }

  test("view SQL with backslashes, embedded quotes, and newlines " +
      "round-trips the storage escape exactly") {
    val path = freshTable("sqlviewesc")
    val v = tmpDir("sqlview_esc")
    // multi-line text with a regex backslash-n literal and a double quote
    val sql = s"""SELECT regexp_replace(n_name, '\\\\d', 'N') AS a,
                 |  'he said "hi"' AS b,
                 |  '\\\\n' AS c
                 |FROM ${quoted(path)}""".stripMargin
    spark.sql(s"CREATE VIEW graft.`$v` AS $sql")
    assertSameRows(spark.sql(s"SELECT * FROM graft.`$v`"), spark.sql(sql))
    // c must be the two-char string backslash-n, not a newline
    assert(spark.sql(s"SELECT c FROM graft.`$v`").head().getString(0)
      === "\\n")
  }

  test("CALL init/refresh_join_view accept the optional minmax_csv " +
      "argument") {
    import spark.implicits._
    val lp = tmpDir("callmm_l"); val rp = tmpDir("callmm_r")
    val sj = tmpDir("callmm_s")
    ManagedTable(spark, lp).write(
      Seq((1L, 5.0), (1L, 9.0)).toDF("k", "x"), "APPEND", "append")
    ManagedTable(spark, rp).write(Seq((1L, "d1")).toDF("k", "d"),
      "APPEND", "append")
    spark.sql(
      s"CALL graft.init_join_view('$lp', '$rp', '$sj', 'k', 'd', 'x', 'x')")
    ManagedTable(spark, lp).delete(col("x") === 9.0)
    spark.sql(
      s"CALL graft.refresh_join_view('$lp', '$rp', '$sj', 'k', 'd', 'x', 'x')")
    val row = ManagedTable(spark, sj).read
      .select("min_x", "max_x", "cnt").head()
    assert((row.getDouble(0), row.getDouble(1), row.getLong(2)) ===
      ((5.0, 5.0, 1L)))
  }

  test("CREATE VIEW stores SQL text; reads splice the plan (pushdown " +
      "intact); view-over-view, OR REPLACE, IF NOT EXISTS, DROP VIEW, " +
      "and table/view kind checks") {
    val path = freshTable("sqlview_t")
    val v1 = tmpDir("sqlview_v1")
    val v2 = tmpDir("sqlview_v2")
    spark.sql(s"""CREATE VIEW graft.`$v1` AS
                 |SELECT n_name, n_regionkey FROM ${quoted(path)}
                 |WHERE n_regionkey >= 2""".stripMargin)
    assertSameRows(
      spark.sql(s"SELECT * FROM graft.`$v1`"),
      ManagedTable(spark, path).read
        .filter(col("n_regionkey") >= 2).select("n_name", "n_regionkey"))
    // pushdown reaches the parquet scan THROUGH the view
    val plan = spark.sql(
      s"SELECT n_name FROM graft.`$v1` WHERE n_regionkey = 3")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("n_regionkey"),
      s"filter not pushed through the view:\n$plan")
    // view over view
    spark.sql(s"""CREATE VIEW graft.`$v2` AS
                 |SELECT n_regionkey, count(*) AS n FROM graft.`$v1`
                 |GROUP BY n_regionkey""".stripMargin)
    assertSameRows(
      spark.sql(s"SELECT * FROM graft.`$v2`"),
      ManagedTable(spark, path).read.filter(col("n_regionkey") >= 2)
        .groupBy("n_regionkey").agg(count(lit(1)).as("n")))
    // DESCRIBE works on views: column rows from the analyzed SQL,
    // EXTENDED shows the stored text
    val desc = spark.sql(s"DESCRIBE EXTENDED graft.`$v2`").collect()
    assert(desc.exists(r => r.getString(0) == "n" &&
      r.getString(1) == "bigint"), desc.mkString("\n"))
    assert(desc.exists(r => r.getString(0) == "Type" &&
      r.getString(1) == "VIEW"))
    // warehouse-relative (unquoted) view names resolve like tables do
    spark.sql(s"CREATE OR REPLACE VIEW graft.relview13 AS " +
      s"SELECT n_name FROM ${quoted(path)}")
    assert(spark.sql("SELECT * FROM graft.relview13").columns.toSeq ===
      Seq("n_name"))
    spark.sql("DROP VIEW graft.relview13")
    // a view tracks its base table's CURRENT snapshot
    spark.sql(s"INSERT INTO ${quoted(path)} VALUES (99, 'ZED', 2)")
    assert(spark.sql(
      s"SELECT count(*) FROM graft.`$v1` WHERE n_name = 'ZED'")
      .head().getLong(0) === 1L)
    // plain CREATE on an existing view refuses; IF NOT EXISTS no-ops;
    // OR REPLACE redefines
    val e1 = intercept[Exception] {
      spark.sql(s"CREATE VIEW graft.`$v1` AS SELECT 1 AS x")
    }
    assert(e1.getMessage.contains("already"))
    spark.sql(s"CREATE VIEW IF NOT EXISTS graft.`$v1` AS SELECT 1 AS x")
    assert(spark.sql(s"SELECT * FROM graft.`$v1`").columns
      .contains("n_name"), "IF NOT EXISTS must not redefine")
    spark.sql(s"CREATE OR REPLACE VIEW graft.`$v1` AS " +
      s"SELECT n_name FROM ${quoted(path)}")
    assert(spark.sql(s"SELECT * FROM graft.`$v1`").columns.toSeq ===
      Seq("n_name"))
    // kind checks both ways
    val e2 = intercept[Exception] {
      spark.sql(s"CREATE VIEW ${quoted(path)} AS SELECT 1 AS x")
    }
    assert(e2.getMessage.contains("TABLE"))
    val e3 = intercept[Exception] {
      spark.sql(s"DROP VIEW ${quoted(path)}")
    }
    assert(e3.getMessage.contains("DROP TABLE"))
    // drop
    spark.sql(s"DROP VIEW graft.`$v2`")
    val e4 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.`$v2`").collect()
    }
    assert(e4.getMessage.contains("does not exist") ||
      e4.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"))
    spark.sql(s"DROP VIEW IF EXISTS graft.`$v2`") // no-op, no throw
  }

  test("DROP VIEW deletes only the view descriptor — pre-existing files " +
      "under the same root survive") {
    val root = tmpDir("sqlviewdrop")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a user file already lives where the view will be created
    val keeper = new org.apache.hadoop.fs.Path(root, "notes.txt")
    val out = fs.create(keeper); out.write("keep me".getBytes); out.close()
    spark.sql(s"CREATE VIEW graft.`$root` AS SELECT 1 AS x")
    assert(spark.sql(s"SELECT x FROM graft.`$root`").head().getInt(0) === 1)
    spark.sql(s"DROP VIEW graft.`$root`")
    assert(fs.exists(keeper), "DROP VIEW must not destroy unrelated files")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "_graft_view.json")))
    // an empty view root leaves with its descriptor
    val root2 = tmpDir("sqlviewdrop2")
    spark.sql(s"CREATE VIEW graft.`$root2` AS SELECT 2 AS x")
    spark.sql(s"DROP VIEW graft.`$root2`")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root2)),
      "an empty root should leave with the descriptor")
  }

  test("CALL init/refresh procedures drive the whole view family from SQL") {
    import spark.implicits._
    // aggregate view
    val src = tmpDir("callv_src"); val st = tmpDir("callv_st")
    val t = ManagedTable(spark, src)
    t.write(Seq(("a", 1.0), ("b", 2.0)).toDF("g", "x"), "APPEND", "append")
    val v0 = spark.sql(
      s"CALL graft.init_agg_view('$src', '$st', 'g', 'x')").head().getLong(0)
    assert(v0 === 0L)
    t.write(Seq(("a", 3.0)).toDF("g", "x"), "APPEND", "append")
    assert(spark.sql(s"CALL graft.refresh_agg_view('$src', '$st', 'g', 'x')")
      .head().getLong(0) === 1L)
    val cnt = ManagedTable(spark, st).read
      .filter(col("g") === "a").select("cnt").head().getLong(0)
    assert(cnt === 2L)
    // join view
    val lp = tmpDir("callv_l"); val rp = tmpDir("callv_r")
    val sj = tmpDir("callv_sj")
    ManagedTable(spark, lp).write(Seq((1L, 5.0)).toDF("k", "x"),
      "APPEND", "append")
    ManagedTable(spark, rp).write(Seq((1L, "d1")).toDF("k", "d"),
      "APPEND", "append")
    val r0 = spark.sql(
      s"CALL graft.init_join_view('$lp', '$rp', '$sj', 'k', 'd', 'x')").head()
    assert((r0.getLong(0), r0.getLong(1)) === ((0L, 0L)))
    ManagedTable(spark, lp).write(Seq((1L, 7.0)).toDF("k", "x"),
      "APPEND", "append")
    val r1 = spark.sql(
      s"CALL graft.refresh_join_view('$lp', '$rp', '$sj', 'k', 'd', 'x')").head()
    assert((r1.getLong(0), r1.getLong(1)) === ((1L, 0L)))
    assert(ManagedTable(spark, sj).read.select("cnt").head().getLong(0) === 2L)
    // bm25 view
    val bsrc = tmpDir("callv_b"); val bst = tmpDir("callv_bs")
    ManagedTable(spark, bsrc).write(
      Seq((1L, "spark merge"), (2L, "table scan")).toDF("doc_id", "text"),
      "APPEND", "append")
    assert(spark.sql(s"CALL graft.init_bm25_view('$bsrc', '$bst', 1000)")
      .head().getLong(0) === 0L)
    ManagedTable(spark, bsrc).write(Seq((3L, "spark table")).toDF("doc_id", "text"),
      "APPEND", "append")
    assert(spark.sql(s"CALL graft.refresh_bm25_view('$bsrc', '$bst')")
      .head().getLong(0) === 1L)
    val q = Seq((1L, "spark")).toDF("query_id", "query_text")
    assertSameRows(
      new graft.table.Bm25IndexView(spark, bsrc, bst).search(q, k = 5,
        exact = true),
      graft.llm.Retrieval.bm25TopK(ManagedTable(spark, bsrc).read, q, k = 5,
        exact = true))
  }

  test("CALL graft.refresh_views folds MANY views from one slice read; " +
      "stream_refresh_view drives streaming maintenance from SQL") {
    import spark.implicits._
    val src = tmpDir("mvc_src")
    val st1 = tmpDir("mvc_bm25"); val st2 = tmpDir("mvc_ph")
    val t = ManagedTable(spark, src)
    t.write(Seq((1L, "spark merge table"), (2L, "table scan row"),
      (3L, "stream window group")).toDF("doc_id", "text"),
      "APPEND", "append")
    spark.sql(s"CALL graft.init_bm25_view('$src', '$st1', 1000)").collect()
    spark.sql(s"CALL graft.init_phrase_view('$src', '$st2', 1000)").collect()
    t.write(Seq((4L, "spark window")).toDF("doc_id", "text"),
      "APPEND", "append")
    t.delete(col("doc_id") === 2L)
    ManagedTable.changeFeedReads.set(0L)
    val rows = spark.sql(
      s"CALL graft.refresh_views('$src', 'bm25:$st1,phrase:$st2')").collect()
    assert(ManagedTable.changeFeedReads.get === 1L,
      "the CALL must net the slice once for both views")
    assert(rows.map(r => (r.getString(0), r.getLong(2))).toSet ===
      Set(("bm25", 2L), ("phrase", 2L)))
    val rebuilt = graft.llm.Retrieval.bm25Postings(t.read, "text", "doc_id")
    val bm = new graft.table.Bm25IndexView(spark, src, st1)
    assert(bm.read.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(bm.read).isEmpty)
    // streaming maintenance as SQL: one AvailableNow drain per CALL
    t.write(Seq((5L, "merge group hash")).toDF("doc_id", "text"),
      "APPEND", "append")
    val ck = tmpDir("mvc_ck")
    val s1 = spark.sql(
      s"CALL graft.stream_refresh_view('bm25', '$src', '$st1', '$ck')").head()
    assert(s1.getString(2) === "drained")
    assert(bm.sourceVersion === t.latestVersion.get,
      "the streamed fold must advance the watermark to the source head")
    val rebuilt2 = graft.llm.Retrieval.bm25Postings(t.read, "text", "doc_id")
    assert(bm.read.exceptAll(rebuilt2).isEmpty &&
      rebuilt2.exceptAll(bm.read).isEmpty)
    // the multi-view streaming spelling drains the remaining view too
    val ck2 = tmpDir("mvc_ck2")
    val s2 = spark.sql(s"CALL graft.stream_refresh_view('views', '$src', " +
      s"'phrase:$st2', '$ck2')").head()
    assert(s2.getString(2) === "drained")
    val ph = new graft.table.PositionalIndexView(spark, src, st2)
    assert(ph.sourceVersion === t.latestVersion.get)
    val rebuiltP = graft.llm.Retrieval.positionalIndex(t.read, "text", "doc_id")
    assert(ph.read.exceptAll(rebuiltP).isEmpty &&
      rebuiltP.exceptAll(ph.read).isEmpty)
    // the agg spelling streams too (group/sum csvs ride the CALL)
    val asrc = tmpDir("mvc_asrc"); val ast = tmpDir("mvc_ast")
    val at = ManagedTable(spark, asrc)
    at.write(Seq(("a", 1.0), ("b", 2.0)).toDF("g", "x"), "APPEND", "append")
    spark.sql(s"CALL graft.init_agg_view('$asrc', '$ast', 'g', 'x')").collect()
    at.write(Seq(("a", 3.0)).toDF("g", "x"), "APPEND", "append")
    val s3 = spark.sql(s"CALL graft.stream_refresh_view('agg', '$asrc', " +
      s"'$ast', '${tmpDir("mvc_ack")}', 'g', 'x')").head()
    assert(s3.getString(2) === "drained")
    assert(ManagedTable(spark, ast).read
      .filter(col("g") === "a").select("cnt").head().getLong(0) === 2L)
    // the refresh_views list grammar carries the marts and source
    // overrides: agg(group|..;sum|..):state entries fold from the SAME
    // slice read as the index views, and a `src>`-prefixed entry folds
    // a DIFFERENT source's view in the same CALL (one read per source)
    val ast2 = tmpDir("mvc_ast2")
    spark.sql(s"CALL graft.init_agg_view('$src', '$ast2', 'doc_id', '')")
      .collect()
    t.write(Seq((6L, "hash table probe")).toDF("doc_id", "text"),
      "APPEND", "append")
    at.write(Seq(("b", 5.0)).toDF("g", "x"), "APPEND", "append")
    ManagedTable.changeFeedReads.set(0L)
    val rows2 = spark.sql(s"CALL graft.refresh_views('$src', " +
      s"'bm25:$st1,agg(doc_id;):$ast2,$asrc>agg(g;x):$ast')").collect()
    assert(ManagedTable.changeFeedReads.get === 2L,
      "two sources in one CALL: one slice read each")
    assert(rows2.length === 3)
    assert(ManagedTable(spark, ast2).read.count() === t.read.count(),
      "the in-CALL agg mart folded the same slice as the index view")
    assert(ManagedTable(spark, ast).read
      .filter(col("g") === "b").select(col("sum_x").cast("double"))
      .head().getDouble(0) === 7.0,
      "the overridden-source mart folded its own source's slice")
    // malformed entries refuse loudly with the grammar in the message
    val e1 = intercept[Exception](
      spark.sql(s"CALL graft.refresh_views('$src', 'agg:$ast2')").collect())
    assert(e1.getMessage.contains("agg(group|..;sum|..[;minmax|..])"))
    val e2 = intercept[Exception](
      spark.sql(s"CALL graft.refresh_views('$src', 'bm25(x):$st1')")
        .collect())
    assert(e2.getMessage.contains("takes no (params)"))
    // the multi-source STREAM spelling: one CALL, one stream (and
    // checkpoint subdir) per source, all drained
    t.write(Seq((7L, "window probe")).toDF("doc_id", "text"),
      "APPEND", "append")
    at.write(Seq(("c", 1.5)).toDF("g", "x"), "APPEND", "append")
    val s4 = spark.sql(s"CALL graft.stream_refresh_view('views', '$src', " +
      s"'bm25:$st1,$asrc>agg(g;x):$ast', '${tmpDir("mvc_mck")}')").head()
    assert(s4.getString(2) === "drained")
    assert(bm.sourceVersion === t.latestVersion.get)
    assert(ManagedTable(spark, ast).read.filter(col("g") === "c")
      .select("cnt").head().getLong(0) === 1L)
    // both CALLs accept the auto_maintain opt-in: below the default
    // debt thresholds the pass folds and maintains NOTHING extra —
    // content and results identical to a plain refresh
    t.write(Seq((8L, "probe row")).toDF("doc_id", "text"),
      "APPEND", "append")
    val st1v = ManagedTable(spark, st1).latestVersion.get
    val rows3 = spark.sql(
      s"CALL graft.refresh_views('$src', 'bm25:$st1', true)").collect()
    assert(rows3.length === 1 &&
      rows3(0).getLong(2) === t.latestVersion.get)
    assert(ManagedTable(spark, st1).latestVersion.get === st1v + 1,
      "below-threshold auto_maintain adds NO commit beyond the fold")
    t.write(Seq((9L, "drain row")).toDF("doc_id", "text"),
      "APPEND", "append")
    val s5 = spark.sql(s"CALL graft.stream_refresh_view('views', '$src', " +
      s"'bm25:$st1', '${tmpDir("mvc_amck")}', true)").head()
    assert(s5.getString(2) === "drained")
    assert(bm.sourceVersion === t.latestVersion.get)
  }

  test("CALL graft.refresh_ann_view with max_drift re-initializes exactly " +
      "when reconstruction error exceeds the threshold") {
    import spark.implicits._
    val src = tmpDir("adp_src"); val st = tmpDir("adp_st")
    val t = ManagedTable(spark, src)
    def vecs(ids: Range, shift: Double = 0.0) = ids.map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 7 + d * 3) + shift).toSeq)
    }.toDF("vec_id", "embedding")
    t.write(vecs(0 until 64), "APPEND", "append")
    spark.sql(s"CALL graft.init_ann_view('$src', '$st', 4, 4, 8)").collect()
    val view = new graft.table.AnnIndexView(spark, src, st)
    val quantV0 = ManagedTable(spark, st.stripSuffix("/") + "_centroids")
      .latestVersion.get
    // a small same-distribution append: drift stays tiny — a generous
    // threshold must NOT re-initialize
    t.write(vecs(64 until 68), "APPEND", "append")
    spark.sql(s"CALL graft.refresh_ann_view('$src', '$st', 1e9)").collect()
    assert(ManagedTable(spark, st.stripSuffix("/") + "_centroids")
      .latestVersion.get === quantV0, "no re-init under the threshold")
    // distribution shift + impossible threshold: exactly one re-init —
    // the quantizer tables gain one version and the init commit names it
    t.write(vecs(100 until 164, shift = 25.0), "APPEND", "append")
    val before = ManagedTable(spark, st).latestVersion.get
    spark.sql(s"CALL graft.refresh_ann_view('$src', '$st', 1e-12)").collect()
    val quantV1 = ManagedTable(spark, st.stripSuffix("/") + "_centroids")
      .latestVersion.get
    assert(quantV1 === quantV0 + 1,
      "drift past the threshold must retrain exactly one quantizer version")
    assert(ManagedTable(spark, st).lastCommit.get.operation === "ANN_INIT")
    // AS-OF rankings from BEFORE the re-init reproduce under the OLD
    // quantizer (versioned lineage)
    val q = vecs(0 until 2)
      .select((col("vec_id") + 9000).as("vec_id"), col("embedding"))
    val asOf = view.searchAt(before, q, k = 3)
    assert(asOf.count() > 0)
    // and a repeat policy call with a generous threshold is stable
    spark.sql(s"CALL graft.refresh_ann_view('$src', '$st', 1e9)").collect()
    assert(ManagedTable(spark, st.stripSuffix("/") + "_centroids")
      .latestVersion.get === quantV1)
  }

  test("SHOW CREATE TABLE reconstructs DDL from the commit log; views " +
      "answer with their CREATE VIEW text") {
    val path = tmpDir("sqlshowc")
    spark.sql(s"""CREATE TABLE ${quoted(path)} (
                 |  id BIGINT NOT NULL, name STRING)
                 |TBLPROPERTIES ('team' = 'ddl-spec')""".stripMargin)
    spark.sql(s"ALTER TABLE ${quoted(path)} ADD CONSTRAINT pos CHECK (id > 0)")
    val ddl = spark.sql(s"SHOW CREATE TABLE ${quoted(path)}")
      .head().getString(0)
    assert(ddl.contains("CREATE TABLE graft.`" + path + "`"), ddl)
    assert(ddl.contains("id BIGINT NOT NULL") && ddl.contains("name STRING"), ddl)
    assert(ddl.contains("CONSTRAINT pos CHECK (id > 0)"), ddl)
    assert(ddl.contains("'team' = 'ddl-spec'"), ddl)
    val v = tmpDir("sqlshowv")
    spark.sql(s"CREATE VIEW graft.`$v` AS SELECT id FROM ${quoted(path)}")
    val vddl = spark.sql(s"SHOW CREATE TABLE graft.`$v`").head().getString(0)
    assert(vddl.startsWith("CREATE VIEW") && vddl.contains("SELECT id"), vddl)
  }

  test("TRUNCATE TABLE empties the snapshot but keeps schema and history") {
    val path = freshTable("sqltrunc")
    val v = ManagedTable(spark, path).latestVersion.get
    val before = spark.sql(s"SELECT count(*) FROM ${quoted(path)}")
      .head().getLong(0)
    spark.sql(s"TRUNCATE TABLE ${quoted(path)}")
    val t = ManagedTable(spark, path)
    assert(t.lastCommit.get.operation === "TRUNCATE")
    assert(spark.sql(s"SELECT count(*) FROM ${quoted(path)}")
      .head().getLong(0) === 0L)
    assert(t.read.columns.toSeq ===
      Seq("n_nationkey", "n_name", "n_regionkey"))
    // history intact: the pre-truncate snapshot still reads
    assert(spark.sql(
      s"SELECT count(*) FROM ${quoted(path)} VERSION AS OF $v")
      .head().getLong(0) === before)
    // inserts after truncate work against the preserved schema
    spark.sql(s"INSERT INTO ${quoted(path)} VALUES (99, 'X', 1)")
    assert(spark.sql(s"SELECT count(*) FROM ${quoted(path)}")
      .head().getLong(0) === 1L)
  }

  test("CTAS rejects non-identity partitioning transforms") {
    val path = tmpDir("sqlctasb")
    val e = intercept[Exception] {
      spark.sql(s"""CREATE TABLE ${quoted(path)}
                   |PARTITIONED BY (bucket(4, n_nationkey))
                   |AS SELECT 1 AS n_nationkey""".stripMargin)
    }
    assert(e.getMessage.contains("identity"))
  }
}
