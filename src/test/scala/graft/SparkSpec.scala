package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Shared local SparkSession + golden-comparison helpers for all specs
  * (mirrors the reference's assertDataFrameEqual style,
  * tests/integration_tests/test_batch.py:31). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf: String = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    Files.createTempDirectory(s"graft_test_$prefix").toString + "/t"

  /** Order-insensitive full comparison on collected rows. */
  def assertSameRows(actual: DataFrame, expected: DataFrame): Unit = {
    assert(actual.columns.sorted.toSeq === expected.columns.sorted.toSeq,
      "column sets differ")
    val cols = actual.columns.sorted.toSeq
    def canon(df: DataFrame): Seq[String] =
      df.select(cols.map(org.apache.spark.sql.functions.col): _*)
        .collect().toSeq.map(_.toSeq.map(v => if (v == null) "" else v.toString)
          .mkString("|")).sorted
    assert(canon(actual) === canon(expected))
  }

  def rowsOf(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** Fails when a dir under the table's `data/` or `_change_data/` is
    * referenced by no retained commit (as a data dir, a partition or
    * cluster subdir of one, a deletion-vector dir or a change dir) — what
    * a losing or failed commit attempt leaves behind when it does not
    * delete what it wrote. Vacuum never reclaims such a dir. */
  def assertNoOrphanDirs(root: String): Unit = {
    import org.apache.hadoop.fs.Path
    val history = graft.table.ManagedTable(spark, root).history
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def children(area: String): Set[String] = {
      val p = new Path(root, area)
      if (!fs.exists(p)) Set.empty
      else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSet
    }
    // the entry's dir directly under data/ (entries may be subdirs)
    def underData(d: String): String = {
      var p = new Path(d)
      while (p.getParent != null && p.getParent.getName != "data") p = p.getParent
      p.getName
    }
    val data = history.flatMap(c => c.dirs ++ c.dvDirs).map(underData).toSet
    val change = history.flatMap(_.changeDir).map(d => new Path(d).getName).toSet
    val orphans = (children("data") -- data).map("data/" + _) ++
      (children("_change_data") -- change).map("_change_data/" + _)
    assert(orphans.isEmpty,
      s"dirs of $root referenced by no retained commit: ${orphans.toSeq.sorted.mkString(", ")}")
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Harness.withGraftConf(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
