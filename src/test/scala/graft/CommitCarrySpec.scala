package graft

import graft.table.ManagedTable
import graft.table.ManagedTable.Commit
import graft.write.{WriteOptions, Writers}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Which fields each commit path carries from its parent and which it
  * resets. One fixture table holds a `txn` high-water, a live deletion
  * vector, a renamed column (column mapping), a constraint and a
  * property; every path runs once on its own copy of that table's
  * commit log, and its new entry is compared field by field with the
  * fixture head it was committed over. */
class CommitCarrySpec extends SparkSpec {
  import spark.implicits._

  private val Inherited: Map[String, Commit => Any] = Map(
    "txn" -> (_.txn), "dvDirs" -> (_.dvDirs), "columnMap" -> (_.columnMap),
    "constraints" -> (_.constraints), "properties" -> (_.properties))
  private val All = Inherited.keySet

  private def withFeatures(t: ManagedTable): Commit = {
    t.addConstraint("id_nonneg", "check:id_nonneg:id >= 0")
    t.setProperties(Map("owner" -> "carry"))
    t.renameColumn("v", "w")
    t.deleteVectors(col("id") === 1, txnUpdate = Some("app" -> 7L))
  }

  /** v0 CREATE, v1 MERGE, v2 CLUSTER BY (2 dirs), v3 ADD CONSTRAINT,
    * v4 SET TBLPROPERTIES, v5 RENAME COLUMN, v6 DELETE VECTORS. */
  private lazy val fixture: String = {
    val path = tmpDir("carry")
    Writers.scd1(spark, path, (0 until 20).map(i => (i, s"v$i")).toDF("id", "v"),
      Seq("id"), WriteOptions(now = Some("2026-01-05 00:00:00")))
    val t = ManagedTable(spark, path)
    t.clusterBy("id", 2)
    val head = withFeatures(t)
    assert(head.txn === Map("app" -> 7L) && head.dvDirs.size === 1 &&
      head.columnMap === Map("w" -> "v") && head.constraints.size === 1 &&
      head.properties("owner") === "carry")
    path
  }

  private lazy val partitioned: String = {
    val path = tmpDir("carry_part")
    ManagedTable(spark, path).write((0 until 8).map(i => (i, s"v$i", i % 2))
      .toDF("id", "v", "p"), "APPEND", "append", partitionBy = Seq("p"))
    withFeatures(ManagedTable(spark, path))
    path
  }

  /** A table sharing `src`'s commit log (its entries reference `src`'s
    * data dirs by path, like a shallow clone that keeps every field). */
  private var copyPath: String = _
  private def copyOf(src: String): ManagedTable = {
    val dst = tmpDir("carry_copy")
    copyPath = dst
    val to = Files.createDirectories(Paths.get(dst, "_graft_log"))
    Files.list(Paths.get(src, "_graft_log")).iterator().asScala
      .foreach(f => Files.copy(f, to.resolve(f.getFileName)))
    ManagedTable(spark, dst)
  }

  private def pin(name: String, keeps: Set[String], src: => String = fixture)(
      op: ManagedTable => Commit)(more: (Commit, Commit) => Unit): Unit =
    test(s"$name carries ${if (keeps == All) "every inherited field" else keeps.toSeq.sorted.mkString(", ")}") {
      val t = copyOf(src)
      val p = t.lastCommit.get
      op(t)
      val n = t.lastCommit.get
      assert(n.version === p.version + 1 && n.readVersion === p.version)
      assert(Inherited.filter { case (_, f) => f(n) == f(p) }.keySet === keeps)
      more(p, n)
    }

  private def sameDirs(p: Commit, n: Commit): Unit = assert(n.dirs === p.dirs)

  pin("append", All)(t => t.write(t.read.filter($"id" === 2), "APPEND", "append")) {
    (p, n) => assert(n.dirs.init === p.dirs)
  }
  pin("replace", Set("txn", "constraints", "properties"))(t =>
    t.write(t.read, "OVERWRITE", "replace")) { (_, n) =>
    assert(n.dvDirs.isEmpty && n.columnMap.isEmpty && n.dirs.size === 1)
  }
  pin("scd1 merge", All)(_ => Writers.scd1(spark, copyPath,
      Seq((5, "B5"), (6, "B6")).toDF("id", "w"), Seq("id"),
      WriteOptions(now = Some("2026-01-06 00:00:00")))) { (_, n) =>
    assert(n.operation === "MERGE(scd1)" && n.operationMetrics.contains("numCarriedDirs"))
  }
  pin("selective overwrite", All, partitioned)(t =>
    t.selectiveOverwrite(Seq((0, "z", 0)).toDF("id", "w", "p"), Seq("p"))) { (_, n) =>
    assert(n.partitionBy === Seq("p"))
  }
  pin("delete", All)(t => t.delete(col("id") === 3))((_, _) => ())
  pin("update", All)(t => t.update(Map("w" -> lit("z")), col("id") === 4))((_, _) => ())
  pin("DV delete", All - "dvDirs")(t => t.deleteVectors(col("id") === 5)) { (p, n) =>
    sameDirs(p, n)
    assert(n.dvDirs.init === p.dvDirs && n.changeDir.isDefined)
  }
  pin("purge", All - "dvDirs")(t => t.purgeDeletes().get)((_, n) => assert(n.dvDirs.isEmpty))
  pin("clusterBy", Set("txn", "constraints"))(t => t.clusterBy("id", 3)) { (p, n) =>
    assert(n.dvDirs.isEmpty && n.columnMap.isEmpty)
    assert(n.properties("cluster.by.bounds") != p.properties("cluster.by.bounds"))
    assert(n.properties("owner") === "carry")
  }
  pin("compactDirs", All)(t => t.compactDirs().get)((_, n) => assert(n.dirs.size === 1))
  pin("ANALYZE", All)(_.recomputeStats())(sameDirs)
  pin("set properties", All - "properties")(_.setProperties(Map("k2" -> "v2"))) {
    (p, n) => sameDirs(p, n); assert(n.properties === p.properties + ("k2" -> "v2"))
  }
  pin("unset properties", All - "properties")(_.unsetProperties(Seq("owner"))) {
    (p, n) => assert(n.properties === p.properties - "owner")
  }
  pin("add constraint", All - "constraints")(_.addConstraint("w_set", "not_null:w")) {
    (p, n) => sameDirs(p, n); assert(n.constraints.size === 2)
  }
  pin("drop constraint", All - "constraints")(_.dropConstraint("id_nonneg")) {
    (_, n) => assert(n.constraints.isEmpty)
  }
  pin("add column", All)(_.addColumn("extra", IntegerType)) { (p, n) =>
    sameDirs(p, n)
    assert(StructType.fromDDL(n.schemaDdl).fieldNames.last === "extra")
  }
  pin("rename column", All - "columnMap")(_.renameColumn("w", "w2")) {
    (_, n) => assert(n.columnMap === Map("w2" -> "v"))
  }
  pin("drop column", All - "columnMap")(_.dropColumn("w")) { (_, n) =>
    assert(!n.columnMap.contains("w") && n.columnMap.values.toSeq === Seq("v"))
  }
  // v4 (SET TBLPROPERTIES) predates the rename and the DV delete
  pin("restore", Set("txn", "constraints", "properties"))(_.restore(4)) { (p, n) =>
    val target = ManagedTable(spark, fixture).commitAt(4)
    assert(n.dirs === target.dirs && n.dvDirs === target.dvDirs &&
      n.columnMap === target.columnMap && n.schemaDdl === target.schemaDdl)
    assert(n.txn === p.txn, "txn high-waters survive a restore")
  }
}
