package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Seeded input generation. Every value is a pure function of the seed
  * and the row's coordinates, so a seed always gives the same inputs and
  * the generator can re-derive any row it produced before. */
object Gen {
  /** splitmix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Long =
    mix(mix(mix(seed ^ a) + b) + c)
  def below(h: Long, n: Long): Long = java.lang.Long.remainderUnsigned(h, n)
  def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))

  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** Write a generated batch as one parquet file under `path` and return
    * the bytes of its data files: the input a batch hands the program. */
  def stage(batch: DataFrame, path: String): Long = {
    batch.coalesce(1).write.mode("overwrite").parquet(path)
    Files.bytesUnder(path, _.endsWith(".parquet"))
  }

  private val Words = Array.tabulate(2000)(i => s"w${Integer.toString(i, 36)}")
  /** Skewed word choice: low word ids are common, as in real text. */
  def word(h: Long): String = Words((Words.length * math.pow(unit(h), 3)).toInt)
}

/** Orders as in TPC-H, reduced to the columns the pipeline uses. A row is
  * a pure function of (key, revision): revision 0 is the initial load and
  * each change bumps it, so the generator can emit an unchanged copy of
  * any current row. */
final class OrdersGen(seed: Long, val initialKeys: Int) {
  val schema: StructType = StructType.fromDDL(
    "o_orderkey BIGINT, custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DECIMAL(12,2), o_orderdate DATE, o_orderpriority STRING, " +
      "o_comment STRING")
  val customers: Int = math.max(initialKeys / 10, 10)
  private val Status = Array("F", "O", "P")
  private val Priority = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def values(key: Long, rev: Int): Seq[Any] = {
    def h(f: Long) = Gen.hash(seed, key, rev.toLong, f)
    Seq(key, 1L + Gen.below(h(1), customers.toLong),
      Status(Gen.below(h(2), 3L).toInt),
      java.math.BigDecimal.valueOf(100L + Gen.below(h(3), 50000000L), 2),
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(8035L + Gen.below(h(4), 2400L))),
      Priority(Gen.below(h(5), 5L).toInt),
      s"${Gen.word(h(6))} ${Gen.word(h(7))} ${Gen.word(h(8))}")
  }
  def row(key: Long, rev: Int): Row = Row.fromSeq(values(key, rev))
}

object Files {
  import java.nio.file.{Files => NFiles, Paths}
  /** Sizes of the regular files under `root`, by path. */
  def sizes(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!NFiles.exists(p)) return Map.empty
    val s = NFiles.walk(p)
    try s.iterator().asScala.filter(NFiles.isRegularFile(_))
      .map(f => f.toString -> NFiles.size(f)).toMap
    finally s.close()
  }
  def bytesUnder(root: String, keep: String => Boolean): Long =
    sizes(root).collect { case (f, n) if keep(f) => n }.sum
}
