package graft

import graft.meta.Meta
import graft.table.ManagedTable
import graft.write.{WriteOptions, WritePatterns, Writers}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/**
 * Deterministic, oracle-checkable scenarios for every implemented operator.
 *
 * Each query is a pure function of (spark, sfDir). Write-pattern scenarios
 * materialize a scratch [[ManagedTable]] under java.io.tmpdir, run one or
 * two loads with **fixed load timestamps** (T0/T1) so the resulting state
 * is bit-deterministic, and return the final table state with timestamp
 * columns cast to string for engine-neutral comparison.
 */
object Queries {
  val T0 = "2026-01-01 00:00:00"
  val T1 = "2026-02-01 00:00:00"
  val T2 = "2026-03-01 00:00:00"
  val HighTs = "9999-12-31 00:00:00"

  private def tmp(prefix: String): String =
    Files.createTempDirectory(s"graft_$prefix").toString + "/t"

  /** `awaitTermination(timeout)` returns false on timeout — a silent
    * partial read if ignored (the caller would query a sink the stream
    * is still appending to). Every streaming scenario drains through
    * this guard so a hung stream fails loudly instead. */
  private def drainOrFail(q: org.apache.spark.sql.streaming.StreamingQuery,
                          what: String, timeoutMs: Long = 120000): Unit =
    require(q.awaitTermination(timeoutMs),
      s"$what did not drain within ${timeoutMs / 1000}s")

  def pq(spark: SparkSession, dir: String, t: String): DataFrame =
    spark.read.parquet(s"$dir/$t.parquet")

  /** Exact epoch-microsecond view of the events `ts` column, robust to
    * the physical type the generator happened to emit: INT64 raw nanos
    * (surfaced as LongType under `spark.sql.legacy.parquet.nanosAsLong`)
    * or TIMESTAMP/TIMESTAMP_NTZ (micros). Integer arithmetic only — a
    * double division would lose precision past 2^53. The harness pins
    * `spark.sql.session.timeZone=UTC`, so the NTZ wall time IS the UTC
    * instant, matching DuckDB's `epoch_us(ts)` on the oracle side. */
  private[graft] def eventMicros(ev: DataFrame, c: String = "ts"): Column =
    ev.schema(c).dataType match {
      case org.apache.spark.sql.types.LongType => expr(s"$c div 1000")
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        expr(s"unix_micros(cast($c as timestamp))")
      case other =>
        throw new IllegalStateException(
          s"events.$c has unsupported type $other; expected raw-nanos long or timestamp")
    }

  /** Multiset row equality in ONE aggregation job: sign each side ±1,
    * group on every column, and any non-zero net count is a difference.
    * Replaces the two-directional exceptAll-both-empty gate pattern,
    * which evaluates BOTH inputs twice across two actions
    * and pays two wide shuffles — the signed union evaluates each input
    * once and shuffles once (guide §1.2: don't compute things twice;
    * §2.4: two operations keyed the same way share one exchange).
    * Semantics match the exceptAll pair exactly: both are bag equality
    * with SQL null/NaN grouping semantics. */
  private[graft] def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.toSeq.map(c => col(s"`$c`"))
    val bCols = b.columns.toSeq.map(c => col(s"`$c`"))
    a.select(cols :+ lit(1L).as("__sign__"): _*)
      .unionByName(b.select(bCols :+ lit(-1L).as("__sign__"): _*))
      .groupBy(cols: _*)
      .agg(sum(col("__sign__")).as("__net__"))
      .filter(col("__net__") =!= 0L)
      .isEmpty
  }

  /** Planted-scenario guard: queries that plant copies of corpus vectors
    * at `vec_id + offset` (and whose oracle SQL hard-codes that offset)
    * are only sound while every natural id is below the offset. */
  private[graft] def assertPlantedIdHeadroom(emb: DataFrame, offset: Long): Unit = {
    val maxId = emb.agg(max(col("vec_id"))).head().getAs[Number](0).longValue
    require(maxId < offset,
      s"planted-id offset $offset collides with natural vec_id range " +
        s"(max $maxId) — the planted oracle and recall gate would be wrong; " +
        "raise the offset in BOTH the query and its oracle SQL")
  }

  // --------------------------------------------------------- analytics

  /** TPC-H Q1-style pricing summary. Sums over decimal-cast values so the
    * result is exact and engine-independent; filter + 6-column projection
    * push down to the parquet scan. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    pq(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("string").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("string").as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
          .cast("string").as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS sum_base_price,
      | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS VARCHAR) AS sum_disc_price,
      | COUNT(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** Top-10 orders by revenue: lineitem⋈orders with deterministic
    * (revenue desc, orderkey) ordering. */
  def q3TopOrders(spark: SparkSession, dir: String): DataFrame = {
    val li = pq(spark, dir, "lineitem")
    val o = pq(spark, dir, "orders").filter(col("o_orderdate") < lit("1998-01-01"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderkey")
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).as("rev"))
      .orderBy(col("rev").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), col("rev").cast("string").as("revenue"))
  }

  val q3Sql: String =
    """SELECT o_orderkey, CAST(rev AS VARCHAR) AS revenue FROM (
      | SELECT o_orderkey,
      |  SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev
      | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      | WHERE o_orderdate < TIMESTAMP '1998-01-01'
      | GROUP BY o_orderkey ORDER BY rev DESC, o_orderkey LIMIT 10)""".stripMargin

  /** TPC-H Q10 shape (returned-item reporting): customers ranked by
    * revenue lost to returns in a date window — two fact joins keyed on
    * custkey/orderkey, the nation dim broadcast, decimal-exact revenue,
    * deterministic (revenue desc, custkey) top-20. */
  def q10ReturnedCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = pq(spark, dir, "customer")
    val o = pq(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1997-01-01"))
    val li = pq(spark, dir, "lineitem").filter(col("l_returnflag") === "R")
    val n = pq(spark, dir, "nation")
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(li, o("o_orderkey") === li("l_orderkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).as("rev"))
      .orderBy(col("rev").desc, col("c_custkey"))
      .limit(20)
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("rev").cast("string").as("revenue"))
  }

  val q10Sql: String =
    """SELECT c_custkey, c_name, n_name, CAST(rev AS VARCHAR) AS revenue FROM (
      | SELECT c_custkey, c_name, n_name,
      |  SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev
      | FROM customer
      | JOIN orders ON c_custkey = o_custkey
      | JOIN lineitem ON o_orderkey = l_orderkey
      | JOIN nation ON c_nationkey = n_nationkey
      | WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |   AND o_orderdate < TIMESTAMP '1997-01-01'
      |   AND l_returnflag = 'R'
      | GROUP BY c_custkey, c_name, n_name
      | ORDER BY rev DESC, c_custkey LIMIT 20)""".stripMargin

  /** TPC-H Q16 shape (parts/supplier relationship): how many DISTINCT
    * suppliers ship each surviving (brand, type, size) part class,
    * excluding suppliers matching a complaint-ish predicate — the one
    * classic shape combining a distinct-agg OVER A JOIN with an
    * ANTI-join in a single plan (the synthetic schema has no partsupp,
    * so lineitem's (l_partkey, l_suppkey) pairs are the bridge).
    * Scale: the part filters (two inequalities + an IN list) push to
    * the parquet scan; the excluded-supplier list is a subquery result
    * of dim-table size, so its anti-join broadcasts; count(DISTINCT)
    * plans as Spark's two-phase expand/partial-distinct aggregate —
    * shuffle keyed on the (brand, type, size, suppkey) expansion,
    * never a per-group set materialization. */
  def q16PartsSupplier(spark: SparkSession, dir: String): DataFrame = {
    val sizes = Seq(1, 5, 9, 14, 19, 23, 36, 45)
    val p = pq(spark, dir, "part")
      .filter(col("p_brand") =!= "Brand#13" && col("p_type") =!= "MEDIUM" &&
        col("p_size").isin(sizes: _*))
    val excluded = pq(spark, dir, "supplier")
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    pq(spark, dir, "lineitem").select("l_partkey", "l_suppkey")
      .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  val q16Sql: String =
    """SELECT p_brand, p_type, p_size,
      | CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#13' AND p_type <> 'MEDIUM'
      | AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
      | AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size""".stripMargin

  /** TPC-H Q4 shape (order priority checking): orders in a quarter that
    * had at least one slow lineitem, counted by priority. The synthetic
    * lineitem carries no commit/receipt dates, so "slow" is re-derived
    * as `l_shipdate > o_orderdate + 60 days` — preserving Q4's defining
    * plan shape: a LEFT SEMI join whose condition mixes an equi key
    * (orderkey) with a correlated non-equi date comparison. Scale: the
    * order-date window prunes the orders scan; the semi join shuffles
    * both sides on orderkey once and keeps at most one match per order
    * (no fact-side row explosion), then the tiny 5-group aggregate. */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val o = pq(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-07-01") &&
        col("o_orderdate") < lit("1996-10-01"))
    val li = pq(spark, dir, "lineitem").select("l_orderkey", "l_shipdate")
    o.join(li, o("o_orderkey") === li("l_orderkey") &&
        li("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  val q4Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders o
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      |  AND o_orderdate < TIMESTAMP '1996-10-01'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q21 shape (suppliers who kept orders waiting): for finished
    * orders, the suppliers whose lineitem was late while EVERY other
    * supplier on the same order shipped on time — the classic
    * semi-join + anti-join pair against the same fact table in one
    * plan. "Late" is `l_shipdate > o_orderdate + 60 days` (no
    * commit/receipt dates in the synthetic schema). Scale: the late
    * set l1 is built once with a single orderkey-keyed join and reused
    * by both the multi-supplier semi join and the no-other-late anti
    * join (same shuffle key, so the exchange is reused); supplier and
    * nation dims broadcast; deterministic (numwait desc, s_name)
    * top-25. */
  def q21WaitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val o = pq(spark, dir, "orders").filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    val li = pq(spark, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    // one late-lineitem row per (order, supplier): keeps counts engine-neutral
    val late = li.join(o, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .select("l_orderkey", "l_suppkey").distinct()
    val all = li.select("l_orderkey", "l_suppkey").distinct()
    val l2 = all.withColumnRenamed("l_suppkey", "other_suppkey")
    val l3 = late.select(col("l_orderkey").as("lo_orderkey"),
      col("l_suppkey").as("late_suppkey"))
    val waiting = late
      .join(l2, late("l_orderkey") === l2("l_orderkey") &&
        col("other_suppkey") =!= late("l_suppkey"), "left_semi")
      .join(l3, late("l_orderkey") === l3("lo_orderkey") &&
        col("late_suppkey") =!= late("l_suppkey"), "left_anti")
    val s = pq(spark, dir, "supplier")
    waiting.join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(25)
  }

  val q21Sql: String =
    """WITH late AS (
      | SELECT DISTINCT l_orderkey, l_suppkey
      | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      | WHERE o_orderstatus = 'F'
      |   AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |SELECT s_name, COUNT(*) AS numwait
      |FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
      |WHERE EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM late l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey)
      |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 25""".stripMargin

  /** TPC-H Q17 shape (small-quantity-order revenue): revenue from
    * lineitems under 40% of their part's average quantity, for one
    * brand slice. The defining shape is the correlated scalar
    * subquery `avg(l_quantity) per part`, planned Spark-first as a
    * pre-aggregation joined back to the fact — the per-part avg table
    * is dim-sized, so the join broadcasts; the fact scan reads only
    * the filtered brand's partkeys. Decimal-exact: the 0.4·avg
    * threshold compares decimal to decimal. */
  def q17SmallQuantity(spark: SparkSession, dir: String): DataFrame = {
    val li = pq(spark, dir, "lineitem")
    val p = pq(spark, dir, "part").filter(col("p_brand") === "Brand#23")
      .select("p_partkey")
    val partAvg = li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey").as("pa_partkey"))
      .agg((sum(col("l_quantity").cast("decimal(18,4)")) / count(lit(1)))
        .cast("decimal(18,8)").as("avg_qty"))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(partAvg), col("l_partkey") === col("pa_partkey"))
      .filter(col("l_quantity").cast("decimal(18,8)") <
        col("avg_qty") * lit(BigDecimal("0.4")))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)"))
        .cast("string").as("avg_yearly_base"),
        count(lit(1)).as("n_items"))
  }

  val q17Sql: String =
    """WITH pa AS (
      | SELECT l_partkey AS pa_partkey,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) / COUNT(*) AS DECIMAL(18,8)) AS avg_qty
      | FROM lineitem JOIN part ON l_partkey = p_partkey
      | WHERE p_brand = 'Brand#23' GROUP BY l_partkey)
      |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS avg_yearly_base,
      | COUNT(*) AS n_items
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#23'
      |JOIN pa ON l_partkey = pa_partkey
      |WHERE CAST(l_quantity AS DECIMAL(18,8)) < avg_qty * 0.4""".stripMargin

  /** TPC-H Q18 shape (large-volume customers): orders whose total
    * quantity exceeds a threshold, joined back to customers — the
    * aggregate-then-semi-join pattern (the HAVING subquery becomes a
    * pre-agg reused as the join's filter side; one shuffle on
    * orderkey serves both the agg and the join). Deterministic
    * (o_totalprice desc, o_orderkey) top-20. */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val li = pq(spark, dir, "lineitem")
    val big = li.groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("total_qty"))
      .filter(col("total_qty") > lit(BigDecimal("120")))
    val o = pq(spark, dir, "orders")
    val c = pq(spark, dir, "customer")
    o.join(big, o("o_orderkey") === big("l_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").cast("string").as("total_price"),
        col("total_qty").cast("string").as("total_qty"))
  }

  val q18Sql: String =
    """SELECT c_name, c_custkey, o_orderkey,
      | CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total_price,
      | CAST(total_qty AS VARCHAR) AS total_qty
      |FROM (SELECT l_orderkey,
      |        SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
      |      FROM lineitem GROUP BY l_orderkey HAVING total_qty > 120) b
      |JOIN orders ON o_orderkey = b.l_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin

  /** TPC-H Q22 shape (global sales opportunity): above-average-balance
    * customers who never ordered — a scalar aggregate broadcast into a
    * filter plus a LEFT ANTI join against the orders fact, grouped by
    * a derived country-ish code. The scalar avg is one 1-row
    * broadcast; the anti join shuffles on custkey only. The anti side
    * is the RECENT orders slice (synthetic order dates cover every
    * customer eventually, so the unwindowed form is empty — "no order
    * since 1998" keeps Q22's no-recent-activity reading and a
    * non-vacuous result). */
  def q22GlobalSales(spark: SparkSession, dir: String): DataFrame = {
    val c = pq(spark, dir, "customer")
    val avgBal = c.filter(col("c_acctbal") > 0)
      .agg((sum(col("c_acctbal").cast("decimal(18,4)")) / count(lit(1)))
        .cast("decimal(18,6)").as("avg_bal"))
    val o = pq(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1998-01-01")).select("o_custkey")
    c.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal").cast("decimal(18,6)") > col("avg_bal"))
      .join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy((col("c_nationkey") % 7).as("cntrycode"))
      .agg(count(lit(1)).as("numcust"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("string").as("totacctbal"))
  }

  val q22Sql: String =
    """SELECT c_nationkey % 7 AS cntrycode, COUNT(*) AS numcust,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS VARCHAR) AS totacctbal
      |FROM customer
      |WHERE CAST(c_acctbal AS DECIMAL(18,6)) >
      |  (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) / COUNT(*) AS DECIMAL(18,6))
      |   FROM customer WHERE c_acctbal > 0)
      | AND c_custkey NOT IN (SELECT o_custkey FROM orders
      |                       WHERE o_orderdate >= TIMESTAMP '1998-01-01')
      |GROUP BY c_nationkey % 7""".stripMargin

  /** Multi-join revenue per nation with explicitly broadcast dimension
    * tables (region/nation/supplier stay tiny at every scale factor; the
    * only shuffles left are the two fact-table joins + final agg). */
  def q5RegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val c = pq(spark, dir, "customer")
    val o = pq(spark, dir, "orders")
    val li = pq(spark, dir, "lineitem")
    val s = pq(spark, dir, "supplier")
    val n = pq(spark, dir, "nation")
    val r = pq(spark, dir, "region").filter(col("r_name") === "ASIA")
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(li, o("o_orderkey") === li("l_orderkey"))
      .join(broadcast(s), li("l_suppkey") === s("s_suppkey") &&
        c("c_nationkey") === s("s_nationkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("n_name")
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).cast("string").as("revenue"))
  }

  val q5Sql: String =
    """SELECT n_name,
      | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS VARCHAR) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
      | AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      | AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      | AND r_name = 'ASIA'
      |GROUP BY n_name""".stripMargin

  // ---- TPC-H completion batch: the 12 remaining query shapes (Q2, Q6,
  // Q7, Q8, Q9, Q11, Q12, Q13, Q14, Q15, Q19, Q20), adapted to the
  // synthetic schema (no partsupp / shipmode / commitdate — each
  // adaptation preserves the query's DEFINING plan shape and says how).

  /** TPC-H Q2 shape (minimum-cost supplier): for each part in a
    * size/type slice, the European supplier(s) achieving the minimum
    * supply cost. No partsupp table, so supply cost is re-derived as
    * `min(l_extendedprice)` per (part, supplier) — keeping Q2's
    * defining shape: a correlated MIN subquery planned as a per-part
    * pre-aggregation joined back on (partkey, cost) equality. Scale:
    * the part slice and the region-filtered supplier dim both
    * broadcast; the only shuffle is the (part, supplier) aggregate of
    * the fact; cost is decimal so the equality join-back is exact.
    * Deterministic (acctbal desc, name, partkey) top-100. */
  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val p = pq(spark, dir, "part")
      .filter(col("p_type") === "LARGE" && col("p_size").between(10, 20))
      .select("p_partkey", "p_name")
    val n = pq(spark, dir, "nation")
    val r = pq(spark, dir, "region").filter(col("r_name") === "EUROPE")
    val eu = pq(spark, dir, "supplier")
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    val cost = pq(spark, dir, "lineitem")
      .select("l_partkey", "l_suppkey", "l_extendedprice")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(eu), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_partkey"), col("p_name"), col("s_suppkey"),
        col("s_name"), col("s_acctbal"), col("n_name"))
      .agg(min(col("l_extendedprice").cast("decimal(18,2)")).as("supply_cost"))
    val minCost = cost.groupBy(col("p_partkey").as("mc_partkey"))
      .agg(min(col("supply_cost")).as("min_cost"))
    cost.join(broadcast(minCost), col("p_partkey") === col("mc_partkey") &&
        col("supply_cost") === col("min_cost"))
      // order on the DECIMAL rendering of acctbal, exactly what the
      // oracle's inner ORDER BY sees — sorting the raw double here
      // could order sub-cent differences the 2-dp oracle ties
      .orderBy(col("s_acctbal").cast("decimal(18,2)").desc,
        col("s_name"), col("p_partkey"))
      .limit(100)
      .select(col("s_acctbal").cast("decimal(18,2)").cast("string").as("s_acctbal"),
        col("s_name"), col("n_name"), col("p_partkey"), col("p_name"),
        col("supply_cost").cast("string").as("supply_cost"))
  }

  // NOTE the ORDER BY lives in the INNER query, on the DECIMAL — naming
  // the outer VARCHAR alias would sort lexicographically in DuckDB
  // ('999.50' > '1000.25') and pick a different top-100 than Spark's
  // numeric sort. Same convention as q3/q10.
  val q2Sql: String =
    """WITH cost AS (
      | SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
      |  MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS supply_cost
      | FROM lineitem
      | JOIN part ON l_partkey = p_partkey
      |  AND p_type = 'LARGE' AND p_size BETWEEN 10 AND 20
      | JOIN supplier ON l_suppkey = s_suppkey
      | JOIN nation ON s_nationkey = n_nationkey
      | JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
      | GROUP BY p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name),
      |best AS (
      | SELECT CAST(s_acctbal AS DECIMAL(18,2)) AS bal, s_name, n_name,
      |        p_partkey, p_name, supply_cost
      | FROM cost c
      | WHERE supply_cost = (SELECT MIN(supply_cost) FROM cost m
      |                      WHERE m.p_partkey = c.p_partkey)
      | ORDER BY bal DESC, s_name, p_partkey LIMIT 100)
      |SELECT CAST(bal AS VARCHAR) AS s_acctbal, s_name, n_name,
      | p_partkey, p_name, CAST(supply_cost AS VARCHAR) AS supply_cost
      |FROM best""".stripMargin

  /** TPC-H Q6 (forecasting revenue change): the pure scan-side query —
    * one fact table, three pushable range predicates, one decimal sum.
    * Its whole point is pushdown: the year window, the discount band
    * and the quantity cap all reach the parquet scan as PushedFilters,
    * and only 3 columns are read. No joins, no wide shuffle — the agg
    * is a 1-row partial-combine. */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    pq(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(sum((col("l_extendedprice") * col("l_discount"))
        .cast("decimal(18,4)")).cast("string").as("revenue"),
        count(lit(1)).as("n_items"))

  val q6Sql: String =
    """SELECT
      | CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS VARCHAR) AS revenue,
      | COUNT(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  /** TPC-H Q7 shape (volume shipping between two nations): revenue
    * flowing supplier-nation → customer-nation for an ordered pair of
    * nations, by ship year. Two fact joins (lineitem⋈orders⋈customer)
    * carry the plan; supplier and both nation role-dims broadcast; the
    * nation-pair disjunction prunes BEFORE the fact join (the supplier
    * side collapses to the two nations' suppliers at scan time). */
  def q7VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val nations = Seq("NATION_1", "NATION_2")
    val n1 = pq(spark, dir, "nation")
      .filter(col("n_name").isin(nations: _*))
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val n2 = pq(spark, dir, "nation")
      .filter(col("n_name").isin(nations: _*))
      .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
    val s = pq(spark, dir, "supplier")
      .join(broadcast(n1), col("s_nationkey") === col("sn_key"))
      .select("s_suppkey", "supp_nation")
    val li = pq(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
    val o = pq(spark, dir, "orders").select("o_orderkey", "o_custkey")
    val c = pq(spark, dir, "customer")
      .join(broadcast(n2), col("c_nationkey") === col("cn_key"))
      .select("c_custkey", "cust_nation")
    li.join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).cast("string").as("revenue"))
  }

  val q7Sql: String =
    """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      | CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
      | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS VARCHAR) AS revenue
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |WHERE sn.n_name IN ('NATION_1', 'NATION_2')
      |  AND cn.n_name IN ('NATION_1', 'NATION_2')
      |  AND sn.n_name <> cn.n_name
      |  AND l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |GROUP BY 1, 2, 3""".stripMargin

  /** TPC-H Q8 shape (national market share): of the ASIA-customer
    * STANDARD-part volume per order year, the fraction supplied by one
    * nation. The share is emitted integer-exact as parts-per-million:
    * both decimal sums are exact, FLOORED to BIGINT cents — the floor
    * matters: a bare decimal→BIGINT cast truncates in Spark but
    * ROUNDS in DuckDB (`.89` cents would differ by one); floor of a
    * decimal is the same integral decimal in both engines and its
    * cast is unambiguous — then `num·10⁶ div den` truncates
    * identically in both. Exact while num·10⁶ stays under
    * 2⁶³ (num < ~9·10¹⁰ revenue-cents — beyond sf100 for a one-type
    * year slice; past that, swap the two BIGINTs for DECIMAL(38,0)).
    * Plan: part/supplier/nation/region dims broadcast; the two fact
    * joins shuffle once each; the yearly agg is tiny. */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val p = pq(spark, dir, "part").filter(col("p_type") === "STANDARD")
      .select("p_partkey")
    val n = pq(spark, dir, "nation")
    val r = pq(spark, dir, "region").filter(col("r_name") === "ASIA")
    val c = pq(spark, dir, "customer")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select("c_custkey")
    val sn = pq(spark, dir, "nation")
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val s = pq(spark, dir, "supplier")
      .join(broadcast(sn), col("s_nationkey") === col("sn_key"))
      .select("s_suppkey", "supp_nation")
    val o = pq(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1998-01-01"))
    val vol = (col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast("decimal(18,4)")
    pq(spark, dir, "lineitem")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_5", vol)
          .otherwise(lit(BigDecimal("0.0000")))).as("num"),
        sum(vol).as("den"))
      .select(col("o_year"),
        expr("CAST(FLOOR(num * 100) AS BIGINT) * 1000000 div CAST(FLOOR(den * 100) AS BIGINT)")
          .as("mkt_share_ppm"),
        col("num").cast("string").as("nation_volume"),
        col("den").cast("string").as("total_volume"))
  }

  val q8Sql: String =
    """WITH v AS (
      | SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
      |  SUM(CASE WHEN sn.n_name = 'NATION_5'
      |       THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
      |       ELSE CAST(0 AS DECIMAL(18,4)) END) AS num,
      |  SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS den
      | FROM lineitem
      | JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
      | JOIN supplier ON l_suppkey = s_suppkey
      | JOIN nation sn ON s_nationkey = sn.n_nationkey
      | JOIN orders ON l_orderkey = o_orderkey
      | JOIN customer ON o_custkey = c_custkey
      | JOIN nation cn ON c_nationkey = cn.n_nationkey
      | JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
      | WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |   AND o_orderdate < TIMESTAMP '1998-01-01'
      | GROUP BY 1)
      |SELECT o_year,
      | CAST(FLOOR(num * 100) AS BIGINT) * 1000000 // CAST(FLOOR(den * 100) AS BIGINT) AS mkt_share_ppm,
      | CAST(num AS VARCHAR) AS nation_volume,
      | CAST(den AS VARCHAR) AS total_volume
      |FROM v""".stripMargin

  /** TPC-H Q9 shape (product-type profit): profit by supplier nation
    * and order year over a part-name slice. No partsupp supply cost, so
    * cost is re-derived as `0.1 · p_retailprice · l_quantity` — a
    * deterministic per-row expression keeping Q9's shape: a 5-table
    * join where three dims broadcast and profit is a decimal-cast
    * arithmetic over fact+dim columns. The LIKE filter prunes the part
    * dim before it broadcasts. */
  def q9ProductProfit(spark: SparkSession, dir: String): DataFrame = {
    val p = pq(spark, dir, "part").filter(col("p_name").like("%red%"))
      .select("p_partkey", "p_retailprice")
    val n = pq(spark, dir, "nation")
    val s = pq(spark, dir, "supplier")
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "n_name")
    val o = pq(spark, dir, "orders").select("o_orderkey", "o_orderdate")
    val amount = (col("l_extendedprice") * (lit(1) - col("l_discount")) -
      col("p_retailprice") * col("l_quantity") * lit(0.1))
      .cast("decimal(18,4)")
    pq(spark, dir, "lineitem")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).as("o_year"))
      .agg(sum(amount).cast("string").as("sum_profit"))
  }

  val q9Sql: String =
    """SELECT n_name AS nation,
      | CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
      | CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
      |               - p_retailprice * l_quantity * 0.1 AS DECIMAL(18,4)))
      |      AS VARCHAR) AS sum_profit
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1, 2""".stripMargin

  /** TPC-H Q11 shape (important stock identification): per-part value
    * shipped by one nation's suppliers, kept when above a fraction of
    * that nation's total — the group-agg + global-scalar-threshold
    * shape (the HAVING subquery becomes a 1-row broadcast crossJoin).
    * No partsupp, so value is `sum(l_extendedprice · l_quantity)` over
    * the nation's lineitems. Decimal end-to-end: the 0.001 threshold
    * multiply stays decimal, so the comparison is exact. */
  def q11ImportantStock(spark: SparkSession, dir: String): DataFrame = {
    val n = pq(spark, dir, "nation").filter(col("n_name") === "NATION_3")
    val s = pq(spark, dir, "supplier")
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val vals = pq(spark, dir, "lineitem")
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey").as("partkey"))
      .agg(sum((col("l_extendedprice") * col("l_quantity"))
        .cast("decimal(18,2)")).as("value"))
    val threshold = vals
      .agg((sum(col("value")) * lit(BigDecimal("0.001"))).as("cut"))
    vals.crossJoin(broadcast(threshold))
      .filter(col("value") > col("cut"))
      .select(col("partkey"), col("value").cast("string").as("value"))
  }

  val q11Sql: String =
    """WITH v AS (
      | SELECT l_partkey AS partkey,
      |  SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,2))) AS value
      | FROM lineitem
      | JOIN supplier ON l_suppkey = s_suppkey
      | JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3'
      | GROUP BY 1)
      |SELECT partkey, CAST(value AS VARCHAR) AS value
      |FROM v
      |WHERE value > (SELECT SUM(value) * 0.001 FROM v)""".stripMargin

  /** TPC-H Q12 shape (shipping modes / order priority): late lineitems
    * (no commit/receipt dates — "late" is `shipdate > orderdate+90d`)
    * bucketed by line status, counting urgent vs non-urgent order
    * priorities. One fact-fact equi join on orderkey with the non-equi
    * lateness predicate evaluated post-join; integer counts — exact by
    * construction. */
  def q12PriorityShipping(spark: SparkSession, dir: String): DataFrame = {
    val o = pq(spark, dir, "orders").select("o_orderkey", "o_orderdate",
      "o_orderpriority")
    val urgent = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    pq(spark, dir, "lineitem")
      .select("l_orderkey", "l_linestatus", "l_shipdate")
      .join(o, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy(col("l_linestatus"))
      .agg(sum(when(urgent, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(urgent, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_linestatus")
  }

  val q12Sql: String =
    """SELECT l_linestatus,
      | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |           THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
      |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    * join with a predicate INSIDE the join condition (the defining
    * trap — filtering orders in a WHERE would drop order-less
    * customers), then a two-level aggregate: orders per customer,
    * customers per order-count. `count(o_orderkey)` skips the
    * outer-join nulls in both engines, so zero-order customers land in
    * the c_count=0 bucket. Both aggs shuffle on small keys. */
  def q13CustomerDistribution(spark: SparkSession, dir: String): DataFrame = {
    val c = pq(spark, dir, "customer").select("c_custkey")
    val o = pq(spark, dir, "orders")
      .filter(col("o_orderpriority") =!= "5-LOW")
      .select("o_orderkey", "o_custkey")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  val q13Sql: String =
    """SELECT c_count, COUNT(*) AS custdist
      |FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |      FROM customer LEFT OUTER JOIN orders
      |        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      |      GROUP BY c_custkey)
      |GROUP BY c_count""".stripMargin

  /** TPC-H Q14 (promotion effect): the fraction of one ship-month's
    * revenue from PROMO parts, emitted integer-exact as
    * parts-per-million (same BIGINT-cents `div` construction as
    * [[q8MarketShare]], same documented overflow bound). The month
    * window pushes to the fact scan; the part dim broadcasts. */
  def q14PromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val p = pq(spark, dir, "part").select("p_partkey", "p_type")
    val vol = (col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast("decimal(18,4)")
    pq(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-03-01") &&
        col("l_shipdate") < lit("1997-04-01"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", vol)
          .otherwise(lit(BigDecimal("0.0000")))).as("num"),
        sum(vol).as("den"))
      .select(
        expr("CAST(FLOOR(num * 100) AS BIGINT) * 1000000 div CAST(FLOOR(den * 100) AS BIGINT)")
          .as("promo_ppm"),
        col("num").cast("string").as("promo_revenue"),
        col("den").cast("string").as("total_revenue"))
  }

  val q14Sql: String =
    """WITH v AS (
      | SELECT
      |  SUM(CASE WHEN p_type = 'PROMO'
      |       THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
      |       ELSE CAST(0 AS DECIMAL(18,4)) END) AS num,
      |  SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS den
      | FROM lineitem JOIN part ON l_partkey = p_partkey
      | WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      |   AND l_shipdate < TIMESTAMP '1997-04-01')
      |SELECT
      | CAST(FLOOR(num * 100) AS BIGINT) * 1000000 // CAST(FLOOR(den * 100) AS BIGINT) AS promo_ppm,
      | CAST(num AS VARCHAR) AS promo_revenue,
      | CAST(den AS VARCHAR) AS total_revenue
      |FROM v""".stripMargin

  /** TPC-H Q15 (top supplier): suppliers whose quarterly revenue equals
    * the maximum — the view + scalar-max + equality-join-back shape.
    * The per-supplier revenue agg is computed ONCE and reused by both
    * the 1-row max and the final filter (same plan subtree); revenue is
    * decimal so the max-equality is exact, and ties (all maxima) are
    * returned exactly as the spec demands. */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = pq(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-10-01") &&
        col("l_shipdate") < lit("1997-01-01"))
      .groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).as("total_rev"))
    val maxRev = rev.agg(max(col("total_rev")).as("max_rev"))
    val s = pq(spark, dir, "supplier")
    rev.crossJoin(broadcast(maxRev))
      .filter(col("total_rev") === col("max_rev"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev").cast("string").as("total_rev"))
  }

  val q15Sql: String =
    """WITH rev AS (
      | SELECT l_suppkey,
      |  SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS total_rev
      | FROM lineitem
      | WHERE l_shipdate >= TIMESTAMP '1996-10-01'
      |   AND l_shipdate < TIMESTAMP '1997-01-01'
      | GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(total_rev AS VARCHAR) AS total_rev
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)""".stripMargin

  /** TPC-H Q19 (discounted revenue, disjunctive predicates): revenue
    * matched by an OR of three (brand, size-range, quantity-range)
    * conjuncts — the classic test that a DISJUNCTION still prunes: the
    * common `p_partkey` equi key keeps the join hash-based (never a
    * cartesian), the part-side disjuncts (`brand ∈ …, size ≤ 15`)
    * reach the part scan, and the per-branch quantity bands evaluate
    * post-join inside codegen. */
  def q19DiscountRevenue(spark: SparkSession, dir: String): DataFrame = {
    val p = pq(spark, dir, "part").select("p_partkey", "p_brand", "p_size")
    val li = pq(spark, dir, "lineitem")
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val branch1 = col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
      col("l_quantity").between(1, 11)
    val branch2 = col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
      col("l_quantity").between(10, 20)
    val branch3 = col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
      col("l_quantity").between(20, 30)
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(branch1 || branch2 || branch3)
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).cast("string").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q19Sql: String =
    """SELECT
      | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS VARCHAR) AS revenue,
      | COUNT(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
      |       AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
      |       AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  /** TPC-H Q20 shape (suppliers with excess stock): suppliers who
    * shipped more than a threshold quantity of some name-slice part in
    * a year — the nested-IN shape planned as agg → semi-join chain: the
    * (part, supplier) quantity agg is the inner subquery, and the
    * supplier table is LEFT SEMI joined against its qualifying rows.
    * No partsupp availqty, so "excess" is `sum(l_quantity) > 60` over
    * the year's shipments. The part slice broadcasts into the agg; the
    * semi join broadcasts the (tiny) qualifying-supplier set. */
  def q20ExcessSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val p = pq(spark, dir, "part").filter(col("p_name").like("blue%"))
      .select("p_partkey")
    val qualifying = pq(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
      .filter(col("qty") > lit(BigDecimal("60")))
      .select("l_suppkey")
    pq(spark, dir, "supplier")
      .join(broadcast(qualifying), col("s_suppkey") === col("l_suppkey"),
        "left_semi")
      .select("s_suppkey", "s_name")
  }

  val q20Sql: String =
    """SELECT s_suppkey, s_name
      |FROM supplier
      |WHERE s_suppkey IN (
      | SELECT l_suppkey
      | FROM lineitem JOIN part ON l_partkey = p_partkey
      | WHERE p_name LIKE 'blue%'
      |   AND l_shipdate >= TIMESTAMP '1996-01-01'
      |   AND l_shipdate < TIMESTAMP '1997-01-01'
      | GROUP BY l_partkey, l_suppkey
      | HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 60)""".stripMargin

  /** Window functions over the event stream table: first 5 events per user
    * with lag(), deterministic tiebreak on event_id. `eventMicros` derives
    * exact epoch micros whatever physical timestamp encoding the events
    * parquet carries (raw-nanos INT64 or TIMESTAMP_NTZ micros). */
  def eventsWindow(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val ev = pq(spark, dir, "events")
    ev.withColumn("ts_us", eventMicros(ev))
      .withColumn("rn", row_number().over(w))
      .withColumn("prev_event_id", lag("event_id", 1).over(w))
      .filter(col("rn") <= 5)
      .select("user_id", "event_id", "ts_us", "rn", "prev_event_id")
  }

  val eventsWindowSql: String =
    """SELECT user_id, event_id, ts_us, rn, prev_event_id FROM (
      | SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |  ROW_NUMBER() OVER w AS rn,
      |  LAG(event_id) OVER w AS prev_event_id
      | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
      |WHERE rn <= 5""".stripMargin

  /** Window FRAME surface beyond lag/row_number: a value-based RANGE
    * frame (5-minute rolling sum per user — frame membership is decided
    * by the timestamp VALUE, so ties contribute identically in any
    * engine and any row order), ntile quartiles, percent_rank, and an
    * explicit unbounded ROWS frame for last_value. Sums run over
    * decimal-cast values: a double sum's result depends on reduction
    * order, a decimal sum's does not. All orderings carry the event_id
    * tiebreak so every window is a total order. */
  def eventsFrames(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev0 = pq(spark, dir, "events")
    val ev = ev0.withColumn("ts_us", eventMicros(ev0))
      .withColumn("dv", col("value").cast("decimal(18,6)"))
    val byTime = Window.partitionBy("user_id").orderBy(col("ts_us"))
      .rangeBetween(-300000000L, 0L) // 5 minutes in micros, inclusive
    val byRow = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
    val full = byRow.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ev.select(col("user_id"), col("event_id"), col("ts_us"),
        sum(col("dv")).over(byTime).cast("string").as("rolling_5m"),
        ntile(4).over(byRow).as("quartile"),
        percent_rank().over(byRow).cast("decimal(9,6)").cast("string").as("pct_rank"),
        last(col("event_id")).over(full).as("last_event_id"))
      .filter(col("user_id") % 7 === 0)
  }

  val eventsFramesSql: String =
    """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      | CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
      |   RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW) AS VARCHAR) AS rolling_5m,
      | CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
      | CAST(CAST(PERCENT_RANK() OVER w AS DECIMAL(9,6)) AS VARCHAR) AS pct_rank,
      | LAST_VALUE(event_id) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_event_id
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |QUALIFY user_id % 7 = 0""".stripMargin

  /** Explicit GROUPING SETS with grouping_id disambiguation — the
    * general grouping-sets form (rollup/cube are its two shorthands;
    * this exercises an arbitrary set list plus the grouping() marker
    * that tells a real NULL group from a super-aggregate row). */
  def groupingSetsRevenue(spark: SparkSession, dir: String): DataFrame =
    pq(spark, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
          Seq(col("o_orderstatus")), Seq()),
        col("o_orderpriority"), col("o_orderstatus"))
      .agg(
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("string").as("total_price"),
        count(lit(1)).as("n_orders"),
        grouping(col("o_orderpriority")).as("g_priority"),
        grouping(col("o_orderstatus")).as("g_status"))
      .select(
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        col("g_priority").cast("int").as("g_priority"),
        col("g_status").cast("int").as("g_status"),
        col("total_price"), col("n_orders"))

  val groupingSetsRevenueSql: String =
    """SELECT coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
      | coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
      | CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
      | CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS total_price,
      | COUNT(*) AS n_orders
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderstatus), ())""".stripMargin

  /** Semi-structured extraction: pull a typed field out of the events
    * table's JSON `props` column with a path expression and aggregate
    * on it — `get_json_object` is codegen'd, stays inside the scan's
    * projection, and needs no schema declaration (the schema-on-read
    * path for property bags; `from_json` is the schema-full sibling).
    * Decimal-cast sum keeps the aggregate engine-exact. */
  def eventsJson(spark: SparkSession, dir: String): DataFrame =
    pq(spark, dir, "events")
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"),
        col("value"))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("string").as("sum_value"))

  val eventsJsonSql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
      | COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS sum_value
      |FROM events GROUP BY 1""".stripMargin

  /** Ordered funnel over the event stream: users who did
    * view → click → purchase in strict timestamp order, counted per
    * stage. Each stage is a user-keyed aggregate joined to the
    * previous stage's first-completion time — every join and groupBy
    * keys on user_id, so one hash partitioning serves the whole chain
    * (no broadcast needed: stages shrink monotonically but start
    * user-cardinality-sized). Strict `>` plus min() at every stage
    * makes the stage times unique per user and the counts exact. */
  def funnelSteps(spark: SparkSession, dir: String): DataFrame = {
    val ev0 = pq(spark, dir, "events")
    val ev = ev0.withColumn("ts_us", eventMicros(ev0))
      .select("user_id", "event_type", "ts_us")
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts_us")).as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, "user_id").filter(col("ts_us") > col("t1"))
      .groupBy("user_id").agg(min(col("ts_us")).as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, "user_id").filter(col("ts_us") > col("t2"))
      .groupBy("user_id").agg(min(col("ts_us")).as("t3"))
    s1.agg(count(lit(1)).as("n_viewed"))
      .crossJoin(s2.agg(count(lit(1)).as("n_clicked")))
      .crossJoin(s3.agg(count(lit(1)).as("n_purchased")))
  }

  val funnelStepsSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |s1 AS (SELECT user_id, MIN(ts_us) AS t1 FROM e
      |       WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, MIN(ts_us) AS t2 FROM e JOIN s1 USING (user_id)
      |       WHERE event_type = 'click' AND ts_us > t1 GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, MIN(ts_us) AS t3 FROM e JOIN s2 USING (user_id)
      |       WHERE event_type = 'purchase' AND ts_us > t2 GROUP BY e.user_id)
      |SELECT (SELECT COUNT(*) FROM s1) AS n_viewed,
      |       (SELECT COUNT(*) FROM s2) AS n_clicked,
      |       (SELECT COUNT(*) FROM s3) AS n_purchased""".stripMargin

  /** Time-boxed funnel ([[graft.operators.EventAnalytics.funnelWindowed]]):
    * view → click → purchase with BOTH expiry knobs — each step within
    * 2 days of the previous one, the whole funnel within 5 days of the
    * user's first view (greedy-earliest anchor, documented on the
    * operator). Pure integer microsecond arithmetic; the oracle
    * mirrors the same greedy chain. */
  def funnelWindowed(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.EventAnalytics
    val ev0 = pq(spark, dir, "events")
    EventAnalytics.funnelWindowed(
      ev0.withColumn("ts_us", eventMicros(ev0)),
      steps = Seq("view", "click", "purchase"),
      conversionWindowMicros = Some(5 * EventAnalytics.MicrosPerDay),
      maxStepGapMicros = Some(2 * EventAnalytics.MicrosPerDay))
  }

  /** DuckDB mirror of [[funnelWindowed]] — same greedy-earliest chain
    * with the same integer bounds. */
  val funnelWindowedSql: String =
    """WITH e AS (SELECT user_id AS u, event_type AS t, epoch_us(ts) AS ts
      |           FROM events),
      |s1 AS (SELECT u, MIN(ts) AS tp, MIN(ts) AS t1 FROM e
      |       WHERE t = 'view' GROUP BY u),
      |s2 AS (SELECT e.u, MIN(e.ts) AS tp, MIN(s1.t1) AS t1
      |       FROM e JOIN s1 USING (u)
      |       WHERE t = 'click' AND e.ts > s1.tp
      |         AND e.ts <= s1.tp + 172800000000
      |         AND e.ts <= s1.t1 + 432000000000
      |       GROUP BY e.u),
      |s3 AS (SELECT e.u, MIN(e.ts) AS tp, MIN(s2.t1) AS t1
      |       FROM e JOIN s2 USING (u)
      |       WHERE t = 'purchase' AND e.ts > s2.tp
      |         AND e.ts <= s2.tp + 172800000000
      |         AND e.ts <= s2.t1 + 432000000000
      |       GROUP BY e.u)
      |SELECT 1 AS step, 'view' AS event_type,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_users
      |UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
      |UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)""".stripMargin

  /** Funnel time-to-convert statistics
    * ([[graft.operators.EventAnalytics.funnelConversionStats]]): the
    * same greedy windowed chain as [[funnelWindowed]], emitting per
    * transition the exact count/min/max/sum of `t_i − t_{i−1}` plus
    * DISCRETE p50/p90 by counting sort over millisecond buckets — the
    * cumulative window runs over distinct buckets, never users, so
    * exact quantiles survive any funnel size. Everything BIGINT. */
  def funnelConversionStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.EventAnalytics
    val ev0 = pq(spark, dir, "events")
    EventAnalytics.funnelConversionStats(
      ev0.withColumn("ts_us", eventMicros(ev0)),
      steps = Seq("view", "click", "purchase"),
      conversionWindowMicros = Some(5 * EventAnalytics.MicrosPerDay),
      maxStepGapMicros = Some(2 * EventAnalytics.MicrosPerDay))
  }

  /** DuckDB mirror of [[funnelConversionStats]]. */
  val funnelConversionStatsSql: String =
    """WITH e AS (SELECT user_id AS u, event_type AS t, epoch_us(ts) AS ts
      |           FROM events),
      |s1 AS (SELECT u, MIN(ts) AS tp, MIN(ts) AS t1 FROM e
      |       WHERE t = 'view' GROUP BY u),
      |s2 AS (SELECT e.u, MIN(e.ts) AS tp, MIN(s1.t1) AS t1
      |       FROM e JOIN s1 USING (u)
      |       WHERE t = 'click' AND e.ts > s1.tp
      |         AND e.ts <= s1.tp + 172800000000
      |         AND e.ts <= s1.t1 + 432000000000
      |       GROUP BY e.u),
      |s3 AS (SELECT e.u, MIN(e.ts) AS tp, MIN(s2.t1) AS t1
      |       FROM e JOIN s2 USING (u)
      |       WHERE t = 'purchase' AND e.ts > s2.tp
      |         AND e.ts <= s2.tp + 172800000000
      |         AND e.ts <= s2.t1 + 432000000000
      |       GROUP BY e.u),
      |d2 AS (SELECT s2.tp - s1.tp AS d FROM s2 JOIN s1 USING (u)),
      |d3 AS (SELECT s3.tp - s2.tp AS d FROM s3 JOIN s2 USING (u)),
      |n2 AS (SELECT CAST(count(*) AS BIGINT) AS n, MIN(d) AS mn, MAX(d) AS mx,
      |        CAST(sum(d) AS BIGINT) AS s FROM d2),
      |n3 AS (SELECT CAST(count(*) AS BIGINT) AS n, MIN(d) AS mn, MAX(d) AS mx,
      |        CAST(sum(d) AS BIGINT) AS s FROM d3),
      |c2 AS (SELECT b, sum(c) OVER (ORDER BY b
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |       FROM (SELECT d // 1000 AS b, CAST(count(*) AS BIGINT) AS c
      |             FROM d2 GROUP BY 1)),
      |c3 AS (SELECT b, sum(c) OVER (ORDER BY b
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |       FROM (SELECT d // 1000 AS b, CAST(count(*) AS BIGINT) AS c
      |             FROM d3 GROUP BY 1)),
      |q2 AS (SELECT
      |        CAST(min(CASE WHEN cum >= (n+1)//2 THEN b*1000 END) AS BIGINT)
      |          AS p50,
      |        CAST(min(CASE WHEN cum >= (9*n+9)//10 THEN b*1000 END) AS BIGINT)
      |          AS p90
      |       FROM c2, n2),
      |q3 AS (SELECT
      |        CAST(min(CASE WHEN cum >= (n+1)//2 THEN b*1000 END) AS BIGINT)
      |          AS p50,
      |        CAST(min(CASE WHEN cum >= (9*n+9)//10 THEN b*1000 END) AS BIGINT)
      |          AS p90
      |       FROM c3, n3)
      |SELECT 2 AS step, 'click' AS event_type, n AS n_converted, mn AS min_us,
      |       q2.p50 AS p50_us, q2.p90 AS p90_us, mx AS max_us, s AS sum_us
      |FROM n2, q2 WHERE n > 0
      |UNION ALL
      |SELECT 3, 'purchase', n, mn, q3.p50, q3.p90, mx, s
      |FROM n3, q3 WHERE n > 0""".stripMargin

  /** The `any_qualifying` funnel anchor policy
    * ([[graft.operators.EventAnalytics.funnelWindowed]]'s re-anchoring
    * knob): every step-1 event is a candidate anchor and a user counts
    * when ANY anchor's greedy chain converts. Two planted users pin the
    * semantics IN-QUERY before the oracle sees anything: 9900001's
    * first view expires (the click lands 4 days later, past the 2-day
    * step gap) but a second view 3 days in rescues the chain — the
    * user converts ONLY under `any_qualifying`; 9900002 converts under
    * both policies. The gates run both policies over just the planted
    * rows (tiny frames) and require exactly that split; the returned
    * frame is the `any_qualifying` counts over the full corpus +
    * plants, hash-matched against the DuckDB per-(user, anchor) chain. */
  def funnelAnchorPolicy(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.EventAnalytics
    import spark.implicits._
    val D = EventAnalytics.MicrosPerDay
    val A = 1704067200000000L // 2024-01-01 00:00:00 UTC in epoch micros
    val W = Some(5 * D) // whole-funnel window
    val G = Some(2 * D) // per-step gap
    val planted = Seq(
      (9900001L, "view", A),
      (9900001L, "view", A + 3 * D),
      (9900001L, "click", A + 4 * D),
      (9900001L, "purchase", A + 4 * D + D / 2),
      (9900002L, "view", A),
      (9900002L, "click", A + 1 * D),
      (9900002L, "purchase", A + 2 * D)).toDF("user_id", "event_type", "ts_us")
    val steps = Seq("view", "click", "purchase")
    def converted(policy: String): Long =
      EventAnalytics.funnelWindowed(planted, steps,
          conversionWindowMicros = W, maxStepGapMicros = G,
          anchorPolicy = policy)
        .filter(col("step") === 3).head().getLong(2)
    require(converted("earliest") == 1L,
      "funnel_anchor_policy: under the earliest anchor only 9900002 may " +
        "convert — the expired first view must NOT be rescued")
    require(converted("any_qualifying") == 2L,
      "funnel_anchor_policy: under any_qualifying the second view must " +
        "rescue 9900001 — re-anchoring is the point of the policy")
    val raw = pq(spark, dir, "events")
    val ev = raw.withColumn("ts_us", eventMicros(raw))
      .select(col("user_id").cast("long").as("user_id"),
        col("event_type"), col("ts_us"))
    require(ev.agg(max("user_id")).head().getLong(0) < 9900001L,
      "planted user ids collide with the natural user_id range")
    EventAnalytics.funnelWindowed(ev.unionByName(planted), steps,
      conversionWindowMicros = W, maxStepGapMicros = G,
      anchorPolicy = "any_qualifying")
  }

  /** DuckDB mirror of [[funnelAnchorPolicy]] — the greedy chain per
    * (user, anchor), counting DISTINCT users per step. */
  val funnelAnchorPolicySql: String =
    """WITH e AS (SELECT CAST(user_id AS BIGINT) AS u, event_type AS t,
      |                  epoch_us(ts) AS ts FROM events
      |           UNION ALL SELECT * FROM (VALUES
      |             (9900001, 'view',     1704067200000000),
      |             (9900001, 'view',     1704326400000000),
      |             (9900001, 'click',    1704412800000000),
      |             (9900001, 'purchase', 1704456000000000),
      |             (9900002, 'view',     1704067200000000),
      |             (9900002, 'click',    1704153600000000),
      |             (9900002, 'purchase', 1704240000000000))
      |             v(u, t, ts)),
      |s1 AS (SELECT DISTINCT u, ts AS a FROM e WHERE t = 'view'),
      |s2 AS (SELECT e.u, s1.a, MIN(e.ts) AS tp
      |       FROM e JOIN s1 USING (u)
      |       WHERE t = 'click' AND e.ts > s1.a
      |         AND e.ts <= s1.a + 172800000000
      |         AND e.ts <= s1.a + 432000000000
      |       GROUP BY e.u, s1.a),
      |s3 AS (SELECT e.u, s2.a, MIN(e.ts) AS tp
      |       FROM e JOIN s2 USING (u)
      |       WHERE t = 'purchase' AND e.ts > s2.tp
      |         AND e.ts <= s2.tp + 172800000000
      |         AND e.ts <= s2.a + 432000000000
      |       GROUP BY e.u, s2.a)
      |SELECT 1 AS step, 'view' AS event_type,
      |       CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users FROM s1
      |UNION ALL SELECT 2, 'click', COUNT(DISTINCT u) FROM s2
      |UNION ALL SELECT 3, 'purchase', COUNT(DISTINCT u) FROM s3""".stripMargin

  /** ROLLUP aggregation (grouping-sets family — beyond the reference's
    * own operator set, exposed through the engine's SQL surface). */
  def rollupRevenue(spark: SparkSession, dir: String): DataFrame =
    pq(spark, dir, "orders")
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("string").as("total_price"),
        count(lit(1)).as("n_orders"))
      .select(
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        col("total_price"), col("n_orders"))

  val rollupRevenueSql: String =
    """SELECT coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
      | coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS total_price,
      | COUNT(*) AS n_orders
      |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)""".stripMargin

  /** CUBE over (returnflag, linestatus): all four grouping combinations
    * in one pass (rollup's sibling; completes the grouping-sets surface). */
  def cubeRevenue(spark: SparkSession, dir: String): DataFrame =
    pq(spark, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("string").as("base_price"),
        count(lit(1)).as("n_items"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("base_price"), col("n_items"))

  val cubeRevenueSql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
      | coalesce(l_linestatus, 'ALL') AS l_linestatus,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS base_price,
      | COUNT(*) AS n_items
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin

  /** Pivot order status into columns (explicit value list, so the plan
    * needs no distinct-values pre-pass — the 100 TB form of pivot). */
  def pivotStatus(spark: SparkSession, dir: String): DataFrame =
    pq(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")))
      .select(col("o_orderpriority"),
        col("F").cast("string").as("f_total"),
        col("O").cast("string").as("o_total"),
        col("P").cast("string").as("p_total"))

  val pivotStatusSql: String =
    """SELECT o_orderpriority,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (o_orderstatus = 'F') AS VARCHAR) AS f_total,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (o_orderstatus = 'O') AS VARCHAR) AS o_total,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (o_orderstatus = 'P') AS VARCHAR) AS p_total
      |FROM orders GROUP BY 1""".stripMargin

  /** Unpivot (melt) three lineitem measures into (measure, value) rows —
    * a streaming-friendly Expand, one pass, no join or union of scans. */
  def unpivotMeasures(spark: SparkSession, dir: String): DataFrame =
    pq(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("decimal(18,2)").as("quantity"),
        col("l_extendedprice").cast("decimal(18,2)").as("extendedprice"),
        col("l_tax").cast("decimal(18,2)").as("tax"))
      .unpivot(
        ids = Array(col("l_orderkey"), col("l_linenumber")),
        values = Array(col("quantity"), col("extendedprice"), col("tax")),
        variableColumnName = "measure", valueColumnName = "value")
      .groupBy("measure")
      .agg(sum(col("value")).cast("string").as("total"),
        count(lit(1)).as("n"))

  val unpivotMeasuresSql: String =
    """WITH m AS (
      | SELECT 'quantity' AS measure, CAST(l_quantity AS DECIMAL(18,2)) AS value FROM lineitem
      | UNION ALL
      | SELECT 'extendedprice', CAST(l_extendedprice AS DECIMAL(18,2)) FROM lineitem
      | UNION ALL
      | SELECT 'tax', CAST(l_tax AS DECIMAL(18,2)) FROM lineitem)
      |SELECT measure, CAST(SUM(value) AS VARCHAR) AS total, COUNT(*) AS n
      |FROM m GROUP BY 1""".stripMargin

  // ------------------------------------------------ hashes & append

  /** The metadata-hash core exposed directly (write.py:103-134). */
  def keyDataHash(spark: SparkSession, dir: String): DataFrame =
    pq(spark, dir, "customer")
      .select(col("c_custkey"),
        Meta.hashOf(Seq("c_custkey")).as("key_hash"),
        Meta.hashOf(Seq("c_name", "c_mktsegment")).as("data_hash"))

  val keyDataHashSql: String =
    """SELECT c_custkey,
      | md5(concat_ws('|', coalesce(CAST(c_custkey AS VARCHAR), ''))) AS key_hash,
      | md5(concat_ws('|', coalesce(c_name, ''), coalesce(c_mktsegment, ''))) AS data_hash
      |FROM customer""".stripMargin

  /** `append` column decoration (write.py:1043-1058) with a fixed load ts. */
  def appendBasic(spark: SparkSession, dir: String): DataFrame = {
    val opts = WriteOptions(generateRecordUpsertColumns = true, now = Some(T0))
    WritePatterns.appendColumns(pq(spark, dir, "region"), opts)
      .select(col("r_regionkey"), col("r_name"),
        col(Meta.ValidToTs).cast("string").as(Meta.ValidToTs),
        col(Meta.InsertTs).cast("string").as(Meta.InsertTs))
  }

  val appendBasicSql: String =
    s"""SELECT r_regionkey, r_name,
       | '$T0' AS __metadata_valid_to_ts__,
       | '$T0' AS __metadata_insert_ts__
       |FROM region""".stripMargin

  /** Two appends into one managed table — exercises the dir-composition
    * commit log (append is O(new data), no rewrite). */
  def appendManaged(spark: SparkSession, dir: String): DataFrame = {
    val path = tmp("append")
    val nation = pq(spark, dir, "nation")
    Writers.append(spark, path, nation.filter(col("n_regionkey") < 2),
      WriteOptions(now = Some(T0)))
    Writers.append(spark, path, nation.filter(col("n_regionkey") >= 2),
      WriteOptions(now = Some(T1)))
    ManagedTable(spark, path).read
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
        col(Meta.ValidToTs).cast("string").as(Meta.ValidToTs))
  }

  val appendManagedSql: String =
    s"""SELECT n_nationkey, n_name, n_regionkey,
       | CASE WHEN n_regionkey < 2 THEN '$T0' ELSE '$T1' END AS __metadata_valid_to_ts__
       |FROM nation""".stripMargin

  /**
   * Table maintenance: three partitioned appends fragment every
   * nation-key partition, `compact` rewrites the fragmented partitions
   * one-file-per-partition through a selective-overwrite commit, and
   * `vacuum` prunes the pre-compaction history. The rows the oracle sees
   * must be byte-for-byte unaffected by either operation. In-query hard
   * checks: the OPTIMIZE commit exists, history really was pruned, and
   * every touched partition really holds one file.
   */
  def tableMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val path = tmp("maint")
    val customer = pq(spark, dir, "customer")
      .select("c_custkey", "c_name", "c_mktsegment", "c_nationkey")
    def slice(f: Column) = customer.filter(f)
    val o = WriteOptions(now = Some(T0))
    val part = Seq("c_nationkey")
    Writers.append(spark, path, slice(col("c_custkey") % 3 === 0), o, partitionBy = part)
    Writers.append(spark, path, slice(col("c_custkey") % 3 === 1), o, partitionBy = part)
    Writers.append(spark, path, slice(col("c_custkey") % 3 === 2), o, partitionBy = part)
    val t = ManagedTable(spark, path)
    val optimized = t.compact(part, minFiles = 2).getOrElse(
      throw new IllegalStateException("3-way fragmented table must compact"))
    require(optimized.operation.startsWith("OPTIMIZE"),
      s"expected OPTIMIZE commit, got ${optimized.operation}")
    val stats = t.vacuum(keepLast = 1)
    require(stats.prunedVersions == 3 && t.earliestVersion.contains(3L),
      s"vacuum must prune the 3 pre-compaction versions, got $stats")
    t.read.select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
      col("c_nationkey").cast("int").as("c_nationkey"),
      col(Meta.ValidToTs).cast("string").as(Meta.ValidToTs))
  }

  val tableMaintenanceSql: String =
    s"""SELECT c_custkey, c_name, c_mktsegment, CAST(c_nationkey AS INT) AS c_nationkey,
       | '$T0' AS __metadata_valid_to_ts__
       |FROM customer""".stripMargin

  /**
   * Composed corpus-cleaning pipeline — the CCNet-ish chain every
   * training-data run needs, as ONE lazy plan: quality gate (length) →
   * language gate (n-gram lang-id = 'en') → exact dedup (min-id per
   * text hash) → near-dup dedup (MinHash-LSH candidates, exact-Jaccard
   * verify). Exercises that the individual operators (each with its own
   * oracle) also compose correctly: the DuckDB oracle recomputes the
   * whole chain including all-pairs Jaccard over the gated subset.
   */
  def corpusClean(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.{Dedup, TextOps}
    val docs = pq(spark, dir, "documents")
    // documents carries its own n_chars column — alias the computed one
    val quality = TextOps.textQuality(docs)
      .select(col("doc_id"), col("n_chars").as("q_n_chars"))
    val lang = TextOps.langId(docs).select("doc_id", "predicted_lang")
    val gated = docs
      .join(quality, "doc_id").join(lang, "doc_id")
      .filter(col("q_n_chars") >= 150 && col("predicted_lang") === "en")
      .select(docs.columns.map(col).toIndexedSeq: _*)
    // barrier: the near-dup stage consumes the cleaned frame from four
    // subtrees (signatures, two shingle-join sides, the final anti-join);
    // without it the 3-join gate + dedup recompute each time
    val exact = TextOps.exactDedup(gated).localCheckpoint()
    Dedup.dedupNear(exact, threshold = 0.8).select("doc_id", "lang", "source")
  }

  val corpusCleanSql: String =
    """WITH t AS (SELECT doc_id, ' ' || lower(text) || ' ' AS tx FROM documents),
      |s AS (SELECT doc_id,
      | (length(tx) - length(replace(tx, ' the ', ''))) + (length(tx) - length(replace(tx, ' and ', ''))) + (length(tx) - length(replace(tx, ' a ', ''))) AS score_en,
      | (length(tx) - length(replace(tx, ' der ', ''))) + (length(tx) - length(replace(tx, ' und ', ''))) + (length(tx) - length(replace(tx, ' die ', ''))) AS score_de,
      | (length(tx) - length(replace(tx, ' le ', ''))) + (length(tx) - length(replace(tx, ' et ', ''))) + (length(tx) - length(replace(tx, ' la ', ''))) AS score_fr,
      | (length(tx) - length(replace(tx, ' el ', ''))) + (length(tx) - length(replace(tx, ' y ', ''))) + (length(tx) - length(replace(tx, ' los ', ''))) AS score_es
      | FROM t),
      |lang AS (SELECT doc_id,
      | CASE WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
      |      WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
      |      WHEN score_fr >= score_es THEN 'fr'
      |      ELSE 'es' END AS predicted_lang
      | FROM s),
      |gated AS (SELECT d.* FROM documents d
      | JOIN lang l ON d.doc_id = l.doc_id
      | WHERE length(d.text) >= 150 AND l.predicted_lang = 'en'),
      |keepers AS (SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
      |exact AS (SELECT g.* FROM gated g JOIN keepers k ON g.doc_id = k.doc_id),
      |d AS (SELECT doc_id,
      |  list_distinct([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
      |                 for i in range(1, len(s)-1)]) AS sh
      | FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS s
      |       FROM exact)),
      |losers AS (SELECT DISTINCT b.doc_id AS doc_id
      | FROM d a JOIN d b ON a.doc_id < b.doc_id
      | WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
      |       len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8)
      |SELECT doc_id, lang, source FROM exact
      |WHERE doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin

  /**
   * Dir-level data skipping ([[ManagedTable.readWhere]]): three appends
   * with disjoint order-date ranges, then a point-in-range read that must
   * plan a scan over ONLY the one matching dir — asserted in-query against
   * the physical plan (the scale behavior under test: a needle query over
   * an append-heavy table opens O(matching dirs) files, driven entirely by
   * commit-log min/max stats, the Delta data-skipping analogue). The
   * returned rows are independently recomputable by the oracle from the
   * raw orders table.
   */
  def dataSkipping(spark: SparkSession, dir: String): DataFrame = {
    val path = tmp("skip")
    val orders = pq(spark, dir, "orders")
    val t = ManagedTable(spark, path)
    // orders' parquet timestamp has no zone → Spark reads TIMESTAMP_NTZ;
    // the literal must be NTZ-typed too (LocalDateTime) for both the
    // filter semantics and the skipping stats to line up
    def ts(s: String) = lit(java.time.LocalDateTime.parse(s))
    t.write(orders.filter(col("o_orderdate") < ts("1994-01-01T00:00:00")),
      "APPEND", "append")
    t.write(orders.filter(col("o_orderdate") >= ts("1994-01-01T00:00:00") &&
      col("o_orderdate") < ts("1996-01-01T00:00:00")), "APPEND", "append")
    t.write(orders.filter(col("o_orderdate") >= ts("1996-01-01T00:00:00")),
      "APPEND", "append")
    val q = t.readWhere(col("o_orderdate") >= ts("1996-06-01T00:00:00"))
    // hard gate: min/max stats must prune the two pre-1996 dirs before the
    // scan is planned (plan inspection only — no extra job)
    val scannedDirs = q.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.size
    }.sum
    require(scannedDirs == 1,
      s"data skipping must leave exactly 1 of 3 dirs in the scan, got $scannedDirs")
    q.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
  }

  val dataSkippingSql: String =
    """SELECT o_orderpriority, count(*) AS n,
      | min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-06-01 00:00:00'
      |GROUP BY o_orderpriority""".stripMargin

  /**
   * Z-order clustering under the correctness gate: customers land in a
   * managed table, get Z-clustered on (c_custkey, c_nationkey), and a
   * range query on EACH clustered column must (a) prune the scan below
   * the full bucket count — asserted in-query against the physical plan —
   * and (b) return rows DuckDB recomputes from the raw table.
   */
  def zorderSkipping(spark: SparkSession, dir: String): DataFrame = {
    val path = tmp("zorder")
    val t = ManagedTable(spark, path)
    t.write(pq(spark, dir, "customer")
      .select("c_custkey", "c_nationkey", "c_mktsegment"), "APPEND", "append")
    val c = t.clusterByZ(Seq("c_custkey", "c_nationkey"), buckets = 16)
    def scanned(df: DataFrame): Int = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.size
    }.sum
    val byKey = t.readWhere(col("c_custkey") <= 100)
    val byNation = t.readWhere(col("c_nationkey") === 3)
    require(scanned(byKey) < c.dirs.size && scanned(byNation) < c.dirs.size,
      s"z-order must prune both axes: key=${scanned(byKey)} " +
        s"nation=${scanned(byNation)} of ${c.dirs.size}")
    byKey.select(col("c_custkey"), col("c_nationkey").cast("int").as("c_nationkey"),
      col("c_mktsegment"))
  }

  val zorderSkippingSql: String =
    """SELECT c_custkey, CAST(c_nationkey AS INT) AS c_nationkey, c_mktsegment
      |FROM customer WHERE c_custkey <= 100""".stripMargin

  /**
   * Hilbert clustering under the same gate as
   * [[zorderSkipping]] — the curve-ordered sibling
   * ([[graft.table.ManagedTable.clusterByHilbert]], Skilling 2004):
   * consecutive curve positions are always grid neighbors, so each
   * bucket is a compact blob and range probes on EITHER clustered
   * column must prune the scan below the bucket count. The curve
   * kernel's bijectivity and unit-step property are exhaustively
   * enumerated in ManagedTableSpec; here the driver gate is the plan
   * shape plus DuckDB value equality.
   */
  def hilbertSkipping(spark: SparkSession, dir: String): DataFrame = {
    val path = tmp("hilbert")
    val t = ManagedTable(spark, path)
    t.write(pq(spark, dir, "customer")
      .select("c_custkey", "c_nationkey", "c_mktsegment"), "APPEND", "append")
    val c = t.clusterByHilbert(Seq("c_custkey", "c_nationkey"), buckets = 16)
    def scanned(df: DataFrame): Int = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.size
    }.sum
    val byKey = t.readWhere(col("c_custkey") <= 100)
    val byNation = t.readWhere(col("c_nationkey") === 3)
    require(scanned(byKey) < c.dirs.size && scanned(byNation) < c.dirs.size,
      s"hilbert clustering must prune both axes: key=${scanned(byKey)} " +
        s"nation=${scanned(byNation)} of ${c.dirs.size}")
    byKey.select(col("c_custkey"), col("c_nationkey").cast("int").as("c_nationkey"),
      col("c_mktsegment"))
  }

  val hilbertSkippingSql: String = zorderSkippingSql

  /**
   * RESTORE under the correctness gate: append nation, overwrite with a
   * single row, restore version 0 — the final read must be the original
   * append (metadata-only re-reference), which the oracle recomputes
   * from the raw table.
   */
  def restoreSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val path = tmp("restore")
    val t = ManagedTable(spark, path)
    t.write(pq(spark, dir, "nation").select("n_nationkey", "n_name"),
      "APPEND", "append")
    t.write(pq(spark, dir, "nation").select("n_nationkey", "n_name").limit(1),
      "OVERWRITE", "replace")
    val r = t.restore(0)
    require(r.operation == "RESTORE(version=0)" && t.latestVersion.contains(2L),
      s"unexpected restore commit $r")
    t.read
  }

  val restoreSnapshotSql: String =
    "SELECT n_nationkey, n_name FROM nation"

  /**
   * Dir-scoped row-level DML under the correctness gate: three
   * key-ranged appends, a DELETE and an UPDATE whose predicates touch
   * only the middle range — the in-query gate asserts exactly one dir
   * was rewritten each time (data skipping localized the DML) — then the
   * final state, which the oracle recomputes from the raw table with
   * WHERE/CASE.
   */
  def dmlDeleteUpdate(spark: SparkSession, dir: String): DataFrame = {
    val path = tmp("dml")
    val t = ManagedTable(spark, path)
    val nation = pq(spark, dir, "nation").select("n_nationkey", "n_name")
    t.write(nation.filter(col("n_nationkey") < 8), "APPEND", "append")
    t.write(nation.filter(col("n_nationkey") >= 8 && col("n_nationkey") < 16),
      "APPEND", "append")
    t.write(nation.filter(col("n_nationkey") >= 16), "APPEND", "append")
    val d = t.delete(col("n_nationkey") === 10)
    require(d.operationMetrics("numRewrittenDirs") == "1",
      s"DELETE must rewrite exactly the middle dir, got ${d.operationMetrics}")
    val u = t.update(Map("n_name" -> upper(col("n_name"))),
      col("n_nationkey") >= 8 && col("n_nationkey") < 16)
    require(u.operationMetrics("numRewrittenDirs") == "1",
      s"UPDATE must rewrite exactly the middle dir, got ${u.operationMetrics}")
    t.read
  }

  val dmlDeleteUpdateSql: String =
    """SELECT n_nationkey,
      | CASE WHEN n_nationkey >= 8 AND n_nationkey < 16
      |      THEN upper(n_name) ELSE n_name END AS n_name
      |FROM nation WHERE n_nationkey <> 10""".stripMargin

  /** Overwrite replaces the whole snapshot: second write wins. */
  def overwriteManaged(spark: SparkSession, dir: String): DataFrame = {
    val path = tmp("overwrite")
    val nation = pq(spark, dir, "nation")
    Writers.overwrite(spark, path, nation.filter(col("n_regionkey") < 2),
      WriteOptions(now = Some(T0)))
    Writers.overwrite(spark, path, nation, WriteOptions(now = Some(T1)))
    ManagedTable(spark, path).read
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
        col(Meta.ValidToTs).cast("string").as(Meta.ValidToTs))
  }

  val overwriteManagedSql: String =
    s"""SELECT n_nationkey, n_name, n_regionkey, '$T1' AS __metadata_valid_to_ts__
       |FROM nation""".stripMargin

  /** Time travel over the commit log ([[ManagedTable.readAt]]) — every
    * version's dir composition stays readable after later appends and
    * replaces (the Delta `versionAsOf` analogue). */
  def timeTravel(spark: SparkSession, dir: String): DataFrame = {
    val path = tmp("time_travel")
    val c = cust(spark, dir)
    Writers.append(spark, path, c.filter(col("c_custkey") <= 500),
      WriteOptions(now = Some(T0)))
    Writers.append(spark, path,
      c.filter(col("c_custkey") > 500 && col("c_custkey") <= 1000),
      WriteOptions(now = Some(T1)))
    Writers.overwrite(spark, path, c.filter(col("c_custkey") <= 100),
      WriteOptions(now = Some(T1)))
    val t = ManagedTable(spark, path)
    (0L to 2L).map { v =>
      t.readAt(v).select(lit(v).as("snapshot_version"),
        col("c_custkey"), col("c_name"), col("c_mktsegment"))
    }.reduce(_ unionByName _)
  }

  val timeTravelSql: String =
    """SELECT CAST(0 AS BIGINT) AS snapshot_version, c_custkey, c_name, c_mktsegment
      | FROM customer WHERE c_custkey <= 500
      |UNION ALL
      |SELECT 1, c_custkey, c_name, c_mktsegment FROM customer WHERE c_custkey <= 1000
      |UNION ALL
      |SELECT 2, c_custkey, c_name, c_mktsegment FROM customer WHERE c_custkey <= 100""".stripMargin

  /** Change-data-feed CDC over CDF-enabled scd1 merges: two incremental
    * runs with persisted state ([[Cdc.changeFeedBounds]], the reference's
    * delta_cdc_feed, delta_source.py:198-250). The second run's feed covers
    * [prev_next_value .. latest] — the reference's inclusive-start quirk
    * re-reads the previous end version, so v1's inserts appear again
    * alongside v2's update pre/post-images and inserts. */
  def cdcChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    import graft.cdc.Cdc
    import graft.state.StateStore
    val path = tmp("cdf_tbl")
    val store = new StateStore(spark.sparkContext.hadoopConfiguration, tmp("cdf_state"))
    val cdf0 = WriteOptions(now = Some(T0), enableChangeDataFeed = true)
    val cdf1 = WriteOptions(now = Some(T1), enableChangeDataFeed = true)

    Writers.scd1(spark, path, load0(spark, dir), Seq("c_custkey"), cdf0)
    val t = ManagedTable(spark, path)
    val b1 = Cdc.changeFeedBounds(t, Cdc.loadState(store, "cdf_in"))
    t.readChangeFeed(b1.startingVersion, Some(b1.endingVersion)).count() // consume run 1
    Cdc.saveState(store, "cdf_in", b1.newState)

    Writers.scd1(spark, path, load1(spark, dir, changeNames = false),
      Seq("c_custkey"), cdf1)
    val b2 = Cdc.changeFeedBounds(t, Cdc.loadState(store, "cdf_in"))
    t.readChangeFeed(b2.startingVersion, Some(b2.endingVersion))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("_change_type"), col("_commit_version"))
  }

  val cdcChangeFeedSql: String =
    """SELECT c_custkey, c_name, c_mktsegment, 'insert' AS _change_type,
      | CAST(1 AS BIGINT) AS _commit_version
      | FROM customer WHERE c_custkey <= 1000
      |UNION ALL
      |SELECT c_custkey, c_name, c_mktsegment, 'update_preimage', 2
      | FROM customer WHERE c_custkey > 500 AND c_custkey <= 1000 AND c_custkey % 2 = 0
      |UNION ALL
      |SELECT c_custkey, c_name, c_mktsegment || '_X', 'update_postimage', 2
      | FROM customer WHERE c_custkey > 500 AND c_custkey <= 1000 AND c_custkey % 2 = 0
      |UNION ALL
      |SELECT c_custkey, c_name,
      | CASE WHEN c_custkey % 2 = 0 THEN c_mktsegment || '_X' ELSE c_mktsegment END,
      | 'insert', 2
      | FROM customer WHERE c_custkey > 1000""".stripMargin

  /** Deequ-style expectations suite
    * ([[graft.operators.Expectations.check]]): six rule kinds over
    * orders evaluated in ONE aggregate over one scan; the oracle
    * recomputes every violation count with explicit SQL, so the null
    * semantics (NULLs belong to not_null, never to range/regex/set
    * rules; a NULL CHECK predicate is a violation) are pinned
    * cross-engine. */
  def expectationsCheck(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Expectations._
    graft.operators.Expectations.check(pq(spark, dir, "orders"), Seq(
      NotNull("o_custkey"),
      Unique(Seq("o_orderkey")),
      InRange("o_totalprice", 0.0, 400000.0),
      MatchesRegex("o_orderpriority", "^[1-5]-"),
      OneOf("o_orderstatus", Seq("O", "F")),
      Satisfies("o_orderdate >= TIMESTAMP '1995-01-01'", "orderdate_floor")))
  }

  val expectationsCheckSql: String =
    """WITH v AS (
      | SELECT 'not_null' AS rule, 'o_custkey' AS "column",
      |  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
      | FROM orders
      | UNION ALL
      | SELECT 'unique', 'o_orderkey',
      |  CAST(SUM(CASE WHEN o_orderkey IS NOT NULL THEN 1 ELSE 0 END)
      |       - COUNT(DISTINCT o_orderkey) AS BIGINT)
      | FROM orders
      | UNION ALL
      | SELECT 'in_range', 'o_totalprice',
      |  CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
      |                 AND (o_totalprice < 0 OR o_totalprice > 400000)
      |            THEN 1 ELSE 0 END) AS BIGINT)
      | FROM orders
      | UNION ALL
      | SELECT 'matches_regex', 'o_orderpriority',
      |  CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL
      |                 AND NOT regexp_matches(o_orderpriority, '^[1-5]-')
      |            THEN 1 ELSE 0 END) AS BIGINT)
      | FROM orders
      | UNION ALL
      | SELECT 'one_of', 'o_orderstatus',
      |  CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
      |                 AND o_orderstatus NOT IN ('O', 'F')
      |            THEN 1 ELSE 0 END) AS BIGINT)
      | FROM orders
      | UNION ALL
      | SELECT 'satisfies', 'orderdate_floor',
      |  CAST(SUM(CASE WHEN COALESCE(o_orderdate >= TIMESTAMP '1995-01-01', FALSE)
      |            THEN 0 ELSE 1 END) AS BIGINT)
      | FROM orders)
      |SELECT rule, "column", n_violations,
      | CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS INTEGER) AS passed
      |FROM v""".stripMargin

  /** Append-time type widening ([[graft.table.ManagedTable.write]] with
    * mergeSchema): an int/float table joined by a long/double batch
    * adopts the wider types — old parquet files keep their physical
    * int32/float encoding and are read under the widened schema with no
    * rewrite. The oracle reproduces the narrow batch's float32 rounding
    * with an explicit REAL→DOUBLE round-trip, so the float-precision
    * values must agree bit-for-bit across engines. */
  def typeWidening(spark: SparkSession, dir: String): DataFrame = {
    import graft.table.ManagedTable
    val path = tmp("widen_tbl")
    val c = pq(spark, dir, "customer").select("c_custkey", "c_acctbal")
    val t = ManagedTable(spark, path)
    t.write(c.filter(col("c_custkey") <= 500)
      .select(col("c_custkey").cast("int").as("c_custkey"),
        col("c_acctbal").cast("float").as("c_acctbal")), "APPEND", "append")
    t.write(c.filter(col("c_custkey") > 500 && col("c_custkey") <= 1000)
      .select(col("c_custkey").cast("long").as("c_custkey"),
        col("c_acctbal").cast("double").as("c_acctbal")), "APPEND", "append",
      mergeSchema = true)
    require(t.read.schema("c_custkey").dataType ==
      org.apache.spark.sql.types.LongType &&
      t.read.schema("c_acctbal").dataType ==
        org.apache.spark.sql.types.DoubleType,
      s"type widening did not adopt the wider types: ${t.read.schema.toDDL}")
    t.read
  }

  val typeWideningSql: String =
    """SELECT c_custkey,
      | CASE WHEN c_custkey <= 500 THEN CAST(CAST(c_acctbal AS REAL) AS DOUBLE)
      |      ELSE c_acctbal END AS c_acctbal
      |FROM customer WHERE c_custkey <= 1000""".stripMargin

  /** Zero-copy CLONE ([[graft.table.ManagedTable.cloneTo]]): shallow
    * clone of a customer slice, then divergence on both sides, then the
    * CLONE is overwritten and vacuumed — which must not touch the
    * source's dirs (vacuum's own-root guard; in-query require). Output
    * is both sides' per-segment counts; the oracle re-derives them from
    * the slices alone. */
  def tableClone(spark: SparkSession, dir: String): DataFrame = {
    import graft.table.ManagedTable
    val srcPath = tmp("clone_src")
    val dstPath = tmp("clone_dst")
    val c = pq(spark, dir, "customer").select("c_custkey", "c_mktsegment")
    val t = ManagedTable(spark, srcPath)
    t.write(c.filter(col("c_custkey") <= 300), "APPEND", "append")
    t.cloneTo(dstPath)
    val clone = ManagedTable(spark, dstPath)
    // diverge: source grows, clone is replaced with a narrower slice
    t.write(c.filter(col("c_custkey") > 300 && col("c_custkey") <= 600),
      "APPEND", "append")
    clone.write(c.filter(col("c_custkey") <= 100), "OVERWRITE", "replace")
    clone.vacuum(keepLast = 1) // drops the clone's v0 — source dirs are in it
    require(t.read.count() == c.filter(col("c_custkey") <= 600).count(),
      "clone vacuum deleted source data — own-root guard broken")
    t.read.groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      .withColumn("side", lit("source"))
      .unionByName(clone.read.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n")).withColumn("side", lit("clone")))
      .select("side", "c_mktsegment", "n")
  }

  val tableCloneSql: String =
    """SELECT 'source' AS side, c_mktsegment, COUNT(*) AS n
      |FROM customer WHERE c_custkey <= 600 GROUP BY c_mktsegment
      |UNION ALL
      |SELECT 'clone', c_mktsegment, COUNT(*)
      |FROM customer WHERE c_custkey <= 100 GROUP BY c_mktsegment""".stripMargin

  /** Logical SQL VIEWS over the graft namespace
    * ([[graft.table.GraftViews]]): a graft TABLE materializes from
    * customers, a view filters+projects it, a second view aggregates
    * THROUGH the first (view-over-view), and the result reads through
    * both splices. In-query gates: the base table evolves AFTER view
    * creation and the view reflects the new snapshot (views store SQL
    * text, not data); `DROP VIEW` makes the name unresolvable; plain
    * re-CREATE refuses while OR REPLACE redefines. Oracle: the
    * equivalent direct SQL over the same rows. */
  /** The SQL catalog LISTING surface — `SHOW TABLES IN graft.ns`,
    * `SHOW VIEWS IN graft.ns [LIKE ...]`, and `DESCRIBE HISTORY
    * graft.ns.t` (Delta's spelling, via the injected parser): two
    * tables and two views land under a warehouse namespace, the SHOW
    * listings enumerate them by kind, and DESCRIBE HISTORY must return
    * row-for-row what `CALL graft.history` returns (gated in-query,
    * along with the LIKE filter). Reference posture: the framework
    * contract enumerates its data objects
    * (`framework/contract/config/objects.py:59`); here the warehouse
    * IS the registry and listing is one directory scan. Output:
    * `(name, kind)` sorted — the catalog's object inventory. */
  def sqlShowObjects(spark: SparkSession, dir: String): DataFrame = {
    val wh = tmp("showobj_wh")
    spark.conf.set("spark.graft.warehouse", wh)
    try {
      pq(spark, dir, "nation").createOrReplaceTempView("showobj_nation")
      spark.sql("CREATE TABLE graft.invns.nat (n_nationkey BIGINT, n_name STRING)")
      spark.sql("INSERT INTO graft.invns.nat " +
        "SELECT n_nationkey, n_name FROM showobj_nation")
      spark.sql("CREATE TABLE graft.invns.nat2 (n_regionkey BIGINT)")
      spark.sql("INSERT INTO graft.invns.nat2 " +
        "SELECT DISTINCT n_regionkey FROM showobj_nation")
      spark.sql("CREATE VIEW graft.invns.big AS " +
        "SELECT * FROM graft.invns.nat WHERE n_nationkey >= 10")
      spark.sql("CREATE VIEW graft.invns.cnt AS " +
        "SELECT count(*) AS n FROM graft.invns.big")
      // DESCRIBE HISTORY ≡ CALL graft.history, row for row
      val hist = spark.sql("DESCRIBE HISTORY graft.invns.nat2").collect().toSeq
      val call = spark.sql(s"CALL graft.history('$wh/invns/nat2')")
        .collect().toSeq
      require(hist == call,
        "sql_show_objects: DESCRIBE HISTORY must return the CALL's rows")
      require(hist.map(_.getString(1)) == Seq("APPEND", "CREATE TABLE"),
        s"sql_show_objects: unexpected history ${hist.map(_.getString(1))}")
      require(spark.sql("SHOW VIEWS IN graft.invns LIKE 'c*'")
        .collect().map(_.getString(1)).toSeq == Seq("cnt"),
        "sql_show_objects: the SHOW VIEWS LIKE filter must apply")
      val tables = spark.sql("SHOW TABLES IN graft.invns")
        .select(col("tableName").as("name"), lit("table").as("kind"))
      val views = spark.sql("SHOW VIEWS IN graft.invns")
        .select(col("viewName").as("name"), lit("view").as("kind"))
      tables.unionByName(views).orderBy("name").localCheckpoint()
    } finally spark.conf.unset("spark.graft.warehouse")
  }

  /** DuckDB mirror of [[sqlShowObjects]] — the expected inventory. */
  val sqlShowObjectsSql: String =
    """SELECT * FROM (VALUES ('big','view'), ('cnt','view'),
      |  ('nat','table'), ('nat2','table')) AS t(name, kind)
      |ORDER BY name""".stripMargin

  def sqlCreateView(spark: SparkSession, dir: String): DataFrame = {
    val base = tmp("sqlview_base")
    val v1 = tmp("sqlview_one")
    val v2 = tmp("sqlview_two")
    pq(spark, dir, "customer")
      .select("c_custkey", "c_name", "c_mktsegment", "c_nationkey", "c_acctbal")
      .createOrReplaceTempView("cust_view_src")
    spark.sql(s"""CREATE TABLE graft.`$base` AS
                 |SELECT * FROM cust_view_src WHERE c_custkey <= 900""".stripMargin)
    spark.sql(s"""CREATE VIEW graft.`$v1` AS
                 |SELECT c_custkey, c_mktsegment, c_nationkey, c_acctbal
                 |FROM graft.`$base` WHERE c_nationkey < 15""".stripMargin)
    spark.sql(s"""CREATE VIEW graft.`$v2` AS
                 |SELECT c_mktsegment, count(*) AS n_customers,
                 |  sum(CAST(c_acctbal AS DECIMAL(18,2))) AS total_bal
                 |FROM graft.`$v1` GROUP BY c_mktsegment""".stripMargin)
    // the view must track the base table's CURRENT snapshot: rows
    // inserted AFTER view creation show through both splices
    spark.sql(s"""INSERT INTO graft.`$base`
                 |SELECT * FROM cust_view_src
                 |WHERE c_custkey > 900 AND c_custkey <= 1100""".stripMargin)
    val throughView = spark.sql(
      s"SELECT count(*) FROM graft.`$v1`").head().getLong(0)
    val direct = spark.table("cust_view_src")
      .filter(col("c_custkey") <= 1100 && col("c_nationkey") < 15).count()
    require(throughView == direct,
      s"sql_create_view: view must see the evolved base table " +
        s"($direct rows), got $throughView")
    val e = scala.util.Try(
      spark.sql(s"CREATE VIEW graft.`$v1` AS SELECT 1 AS x"))
    require(e.isFailure, "sql_create_view: plain re-CREATE must refuse")
    spark.sql(s"CREATE OR REPLACE VIEW graft.`$v1` AS " +
      s"SELECT c_custkey, c_mktsegment, c_nationkey, c_acctbal " +
      s"FROM graft.`$base` WHERE c_nationkey < 15")
    spark.sql(s"DROP VIEW IF EXISTS graft.`${v1}_ghost`")
    val result = spark.sql(
      s"""SELECT c_mktsegment, n_customers,
         |  CAST(total_bal AS STRING) AS total_bal
         |FROM graft.`$v2`""".stripMargin)
      .localCheckpoint()
    spark.sql(s"DROP VIEW graft.`$v2`")
    require(scala.util.Try(
      spark.sql(s"SELECT * FROM graft.`$v2`").collect()).isFailure,
      "sql_create_view: a dropped view must be unresolvable")
    result
  }

  val sqlCreateViewSql: String =
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers,
      |  CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,2))
      |       AS VARCHAR) AS total_bal
      |FROM customer
      |WHERE c_custkey <= 1100 AND c_nationkey < 15
      |GROUP BY c_mktsegment""".stripMargin

  /**
   * SQL-addressable managed tables ([[graft.table.SqlTableResolution]]):
   * the ENTIRE lifecycle runs as SQL text against `graft.`-namespace
   * identifiers — CREATE-by-INSERT, a second appending INSERT, an
   * INSERT OVERWRITE replace, and a final filtered aggregate — each
   * statement resolving through the injected analyzer rule into the
   * same commit-log plans the Scala API builds (one tree; pushdown and
   * pruning apply unchanged, pinned in SqlTablesSpec). In-query gates:
   * every statement really committed (versions 0/1/2 with operations
   * APPEND/APPEND/OVERWRITE), and `VERSION AS OF 1` still serves the
   * full pre-overwrite 1200 rows.
   */
  def sqlTableDml(spark: SparkSession, dir: String): DataFrame = {
    import graft.table.ManagedTable
    val path = tmp("sqldml")
    pq(spark, dir, "customer")
      .select("c_custkey", "c_name", "c_mktsegment", "c_nationkey")
      .createOrReplaceTempView("cust_src_sql")
    spark.sql(
      s"""INSERT INTO graft.`$path`
         |SELECT * FROM cust_src_sql WHERE c_custkey <= 700""".stripMargin)
    spark.sql(
      s"""INSERT INTO graft.`$path`
         |SELECT * FROM cust_src_sql
         |WHERE c_custkey > 700 AND c_custkey <= 1200""".stripMargin)
    spark.sql(
      s"""INSERT OVERWRITE graft.`$path`
         |SELECT * FROM cust_src_sql WHERE c_custkey <= 400""".stripMargin)
    val t = ManagedTable(spark, path)
    require(t.latestVersion.contains(2L) &&
      t.history.map(_.operation) == Seq("OVERWRITE", "APPEND", "APPEND"),
      s"SQL DML must leave APPEND,APPEND,OVERWRITE commits, got ${t.history}")
    val preOverwrite = spark.sql(
      s"SELECT count(*) AS n FROM graft.`$path` VERSION AS OF 1")
      .head().getLong(0)
    val want = spark.table("cust_src_sql")
      .filter(col("c_custkey") <= 1200).count()
    require(preOverwrite == want,
      s"VERSION AS OF 1 must see the pre-overwrite $want rows, got $preOverwrite")
    spark.sql(
      s"""SELECT c_mktsegment, count(*) AS n_customers,
         |  sum(c_custkey) AS sum_key
         |FROM graft.`$path` WHERE c_nationkey < 13
         |GROUP BY c_mktsegment""".stripMargin)
  }

  val sqlTableDmlSql: String =
    """SELECT c_mktsegment, count(*) AS n_customers,
      | CAST(sum(c_custkey) AS BIGINT) AS sum_key
      |FROM customer WHERE c_custkey <= 400 AND c_nationkey < 13
      |GROUP BY c_mktsegment""".stripMargin

  /** `CREATE TABLE ... AS SELECT` through the SQL surface
    * ([[graft.table.GraftCtasCommand]]) — the first statement of any
    * SQL-first workflow: a partitioned CTAS with TBLPROPERTIES over the
    * orders table, re-read through `graft.` and aggregated. In-query
    * gates pin the commit shape (CREATE → SET TBLPROPERTIES → CTAS
    * data write, so layout properties govern the first files), the
    * carried partition layout, and that `IF NOT EXISTS` on the
    * existing table is a zero-commit no-op; the oracle recomputes the
    * aggregate from the source parquet. */
  def sqlTableCtas(spark: SparkSession, dir: String): DataFrame = {
    import graft.table.ManagedTable
    val path = tmp("sqlctas")
    pq(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      .createOrReplaceTempView("orders_ctas_src")
    spark.sql(
      s"""CREATE TABLE graft.`$path`
         |PARTITIONED BY (o_orderstatus)
         |TBLPROPERTIES ('graft.owner' = 'ctas-verify')
         |AS SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
         |FROM orders_ctas_src WHERE o_orderkey <= 6000""".stripMargin)
    val t = ManagedTable(spark, path)
    val c = t.lastCommit.get
    require(c.operation == "CREATE TABLE AS SELECT" &&
      c.partitionBy == Seq("o_orderstatus") &&
      t.history.map(_.operation).reverse ==
        Seq("CREATE TABLE", "SET TBLPROPERTIES", "CREATE TABLE AS SELECT"),
      s"sql_table_ctas: unexpected commit shape ${t.history.map(_.operation)}")
    require(c.properties.get("graft.owner").contains("ctas-verify"),
      "sql_table_ctas: TBLPROPERTIES did not persist")
    spark.sql(s"CREATE TABLE IF NOT EXISTS graft.`$path` AS SELECT 1 AS x")
    require(t.latestVersion.contains(c.version),
      "sql_table_ctas: IF NOT EXISTS must not commit")
    // RTAS lifecycle gate on a scratch table: CREATE OR REPLACE lands a
    // single replace commit on the SAME log (history stays travelable),
    // and plain REPLACE on a missing table refuses
    val rt = tmp("sqlrtas")
    spark.sql(s"CREATE OR REPLACE TABLE graft.`$rt` AS SELECT 1 AS x")
    spark.sql(s"CREATE OR REPLACE TABLE graft.`$rt` AS SELECT 2 AS x, 3 AS y")
    val rtT = ManagedTable(spark, rt)
    require(rtT.lastCommit.get.operation == "REPLACE TABLE AS SELECT" &&
      rtT.read.columns.toSeq == Seq("x", "y") &&
      rtT.readAt(rtT.latestVersion.get - 1).columns.toSeq == Seq("x"),
      "sql_table_ctas: RTAS must replace schema+data in one commit with " +
        "history intact")
    require(scala.util.Try(spark.sql(
      s"REPLACE TABLE graft.`${tmp("sqlrtas_missing")}` AS SELECT 1 AS x"
    )).isFailure, "sql_table_ctas: plain REPLACE on a missing table must refuse")
    spark.sql(
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
         |  sum(o_custkey) AS sum_cust
         |FROM graft.`$path`
         |GROUP BY o_orderstatus, o_orderpriority""".stripMargin)
  }

  /** DuckDB mirror of [[sqlTableCtas]]. */
  val sqlTableCtasSql: String =
    """SELECT o_orderstatus, o_orderpriority,
      | CAST(count(*) AS BIGINT) AS n_orders,
      | CAST(sum(o_custkey) AS BIGINT) AS sum_cust
      |FROM orders WHERE o_orderkey <= 6000
      |GROUP BY o_orderstatus, o_orderpriority""".stripMargin

  /** `VERSION AS OF` time travel through pure SQL: two SQL INSERTs, then
    * a UNION of the version-pinned snapshots, each tagged with its
    * version. The TIMESTAMP AS OF form resolves against wall-clock
    * commit times, so it gates in-query (against `readAt`) instead of
    * shaping the oracle-checked output. */
  def sqlTableTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    import graft.table.ManagedTable
    val path = tmp("sqltt")
    cust(spark, dir).createOrReplaceTempView("cust_tt_sql")
    spark.sql(
      s"""INSERT INTO graft.`$path`
         |SELECT * FROM cust_tt_sql WHERE c_custkey <= 500""".stripMargin)
    spark.sql(
      s"""INSERT INTO graft.`$path`
         |SELECT * FROM cust_tt_sql
         |WHERE c_custkey > 500 AND c_custkey <= 1000""".stripMargin)
    val t = ManagedTable(spark, path)
    val tsIso = java.time.Instant.ofEpochMilli(t.commitAt(0).timestampMs)
      .toString.replace("T", " ").stripSuffix("Z")
    val viaTs = spark.sql(
      s"SELECT count(*) AS n FROM graft.`$path` TIMESTAMP AS OF '$tsIso'")
      .head().getLong(0)
    require(viaTs == t.readAt(0).count(),
      s"TIMESTAMP AS OF v0's commit time must serve v0, got $viaTs rows")
    spark.sql(
      s"""SELECT CAST(0 AS BIGINT) AS snapshot_version, c_custkey, c_name, c_mktsegment
         |FROM graft.`$path` VERSION AS OF 0
         |UNION ALL
         |SELECT CAST(1 AS BIGINT), c_custkey, c_name, c_mktsegment
         |FROM graft.`$path` VERSION AS OF 1""".stripMargin)
  }

  val sqlTableTimeTravelSql: String =
    """SELECT CAST(0 AS BIGINT) AS snapshot_version, c_custkey, c_name, c_mktsegment
      | FROM customer WHERE c_custkey <= 500
      |UNION ALL
      |SELECT 1, c_custkey, c_name, c_mktsegment FROM customer WHERE c_custkey <= 1000""".stripMargin

  /**
   * Bigram fluency ([[graft.llm.TextOps.bigramScore]]) — the 2-gram
   * CCNet-style gate: integer-exact transition coverage against the
   * corpus's own bigram LM (the oracle recomputes it in SQL), with the
   * true interpolated perplexity spec-pinned API-side (libm-dependent
   * floats stay out of the hash). In-query gate: every scored doc's
   * perplexity is finite and > 1 (−ln p of probabilities < 1 can never
   * average to ≤ 0), so a broken backoff fails the driver run loudly.
   */
  def bigramFluency(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.TextOps
    val docs = pq(spark, dir, "documents")
    val out = TextOps.bigramScore(docs).localCheckpoint()
    val bad = out.filter(col("n_bigrams") > 0 &&
      (col("bigram_ppl").isNull || col("bigram_ppl") <= 1.0 ||
        col("bigram_ppl").isNaN)).count()
    require(bad == 0,
      s"bigram_fluency: $bad docs scored a degenerate perplexity — " +
        "the interpolated backoff is broken")
    out.select("doc_id", "n_bigrams", "n_seen_bigrams", "passes_fluency")
  }

  val bigramFluencySql: String =
    """WITH toks AS (SELECT doc_id,
      |  regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
      |bg AS (SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
      |       FROM toks, unnest(generate_series(1, len(ts)-1)) AS t(i)),
      |lm AS (SELECT w1, w2, count(*) AS cnt FROM bg GROUP BY w1, w2),
      |agg AS (SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |        CAST(sum(CASE WHEN lm.cnt >= 3 THEN 1 ELSE 0 END) AS BIGINT)
      |          AS n_seen_bigrams
      |        FROM bg JOIN lm USING (w1, w2) GROUP BY bg.doc_id)
      |SELECT d.doc_id,
      | coalesce(a.n_bigrams, 0) AS n_bigrams,
      | coalesce(a.n_seen_bigrams, 0) AS n_seen_bigrams,
      | CASE WHEN coalesce(a.n_bigrams, 0) > 0
      |       AND coalesce(a.n_seen_bigrams, 0) * 2 >= coalesce(a.n_bigrams, 0)
      |      THEN 1 ELSE 0 END AS passes_fluency
      |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin

  /** Daily-ingest form: the standing 90% corpus trains both LMs, the
    * 10% batch scores against them — transitions the corpus never saw
    * count as unseen, the out-of-distribution signal an ingest gate
    * wants ([[graft.llm.TextOps.bigramScoreWith]]). */
  def bigramFluencyIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.TextOps
    val docs = pq(spark, dir, "documents")
    val standing = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    TextOps.bigramScoreWith(batch, TextOps.bigramModel(standing),
        TextOps.unigramModel(standing))
      .select("doc_id", "n_bigrams", "n_seen_bigrams", "passes_fluency")
  }

  val bigramFluencyIncrementalSql: String =
    """WITH toksAll AS (SELECT doc_id,
      |  regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
      |bgAll AS (SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
      |          FROM toksAll, unnest(generate_series(1, len(ts)-1)) AS t(i)),
      |lm AS (SELECT w1, w2, count(*) AS cnt FROM bgAll
      |       WHERE doc_id % 10 <> 0 GROUP BY w1, w2),
      |bg AS (SELECT * FROM bgAll WHERE doc_id % 10 = 0),
      |agg AS (SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |        CAST(sum(CASE WHEN coalesce(lm.cnt, 0) >= 3 THEN 1 ELSE 0 END)
      |          AS BIGINT) AS n_seen_bigrams
      |        FROM bg LEFT JOIN lm USING (w1, w2) GROUP BY bg.doc_id)
      |SELECT d.doc_id,
      | coalesce(a.n_bigrams, 0) AS n_bigrams,
      | coalesce(a.n_seen_bigrams, 0) AS n_seen_bigrams,
      | CASE WHEN coalesce(a.n_bigrams, 0) > 0
      |       AND coalesce(a.n_seen_bigrams, 0) * 2 >= coalesce(a.n_bigrams, 0)
      |      THEN 1 ELSE 0 END AS passes_fluency
      |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
      |WHERE d.doc_id % 10 = 0""".stripMargin

  /**
   * The SQL row-level DML surface ([[graft.table.SqlDml]]): MERGE INTO
   * (compiled to the one-full-outer-join MergeEmulator plan), DELETE
   * FROM (stats-pruned dir-scoped rewrite), and UPDATE (same), all as
   * pure SQL text against a `graft.` identifier. The oracle recomputes
   * the final state from the base table with CASE arithmetic, so every
   * clause's semantics — matched update, not-matched insert, delete
   * predicate, update expression — is value-checked row for row.
   * In-query gates pin the commit operations the statements must leave.
   */
  def sqlTableMerge(spark: SparkSession, dir: String): DataFrame = {
    import graft.table.ManagedTable
    val path = tmp("sqlmrg")
    cust(spark, dir).createOrReplaceTempView("cust_mrg_sql")
    spark.sql(
      s"""INSERT INTO graft.`$path`
         |SELECT * FROM cust_mrg_sql WHERE c_custkey <= 800""".stripMargin)
    spark.sql(
      s"""MERGE INTO graft.`$path` t
         |USING (SELECT c_custkey, c_name, c_mktsegment || '*' AS c_mktsegment
         |       FROM cust_mrg_sql
         |       WHERE c_custkey BETWEEN 401 AND 1200) s
         |ON t.c_custkey = s.c_custkey
         |WHEN MATCHED THEN UPDATE SET c_mktsegment = s.c_mktsegment
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.sql(s"DELETE FROM graft.`$path` WHERE c_custkey % 10 = 0")
    spark.sql(
      s"""UPDATE graft.`$path` SET c_name = upper(c_name)
         |WHERE c_custkey % 2 = 0""".stripMargin)
    val t = ManagedTable(spark, path)
    require(t.history.map(_.operation).take(3) ==
      Seq("UPDATE", "DELETE", "MERGE INTO"),
      s"SQL DML must leave MERGE INTO,DELETE,UPDATE commits, got ${t.history}")
    t.read.select("c_custkey", "c_name", "c_mktsegment")
  }

  val sqlTableMergeSql: String =
    """SELECT c_custkey,
      | CASE WHEN c_custkey % 2 = 0 THEN upper(c_name) ELSE c_name END AS c_name,
      | CASE WHEN c_custkey > 400 THEN c_mktsegment || '*' ELSE c_mktsegment END AS c_mktsegment
      |FROM customer
      |WHERE c_custkey <= 1200 AND c_custkey % 10 <> 0""".stripMargin

  /**
   * Incremental re-clustering ([[graft.table.ManagedTable.clusterAppend]]
   * — the O(new data) maintenance loop a clustered 100 TB table runs):
   * orders cluster on o_custkey, two appends land as unclustered tail
   * dirs, and `CALL graft.cluster_append` folds ONLY the tail into
   * per-bucket dirs against the boundaries the original clusterBy
   * persisted — every already-clustered dir carries by reference.
   * In-query gates: the original bucket dirs all survive the fold
   * untouched, the tail dirs leave the composition, and a custkey range
   * probe still prunes the scan. The oracle recomputes the final rows
   * from `orders`.
   */
  def clusterIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.table.ManagedTable
    val path = tmp("clusterinc")
    val t = ManagedTable(spark, path)
    val orders = pq(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    t.write(orders.filter(col("o_orderkey") % 3 === 0), "APPEND", "append")
    val full = t.clusterBy("o_custkey", buckets = 8)
    t.write(orders.filter(col("o_orderkey") % 3 === 1), "APPEND", "append")
    t.write(orders.filter(col("o_orderkey") % 3 === 2), "APPEND", "append")
    val inc = spark.sql(s"CALL graft.cluster_append('$path')").collect()
    require(inc.length == 1 && inc(0).getString(1).startsWith("CLUSTER APPEND"),
      s"cluster_append must fold the 2 tail dirs, got ${inc.toSeq}")
    val now = t.lastCommit.get
    require(full.dirs.forall(now.dirs.contains),
      "incremental fold must carry every clustered dir by reference")
    require(now.dirs.forall(_.contains("__graft_cluster__=")),
      s"tail dirs must leave the composition, got ${now.dirs}")
    val probe = t.readWhere(col("o_custkey") <= 100)
    val scanned = probe.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.size
    }.sum
    require(scanned < now.dirs.size,
      s"clustered probe must prune: scanned $scanned of ${now.dirs.size}")
    probe.select("o_orderkey", "o_custkey", "o_totalprice")
  }

  val clusterIncrementalSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders WHERE o_custkey <= 100""".stripMargin

  /**
   * Write-time clustering via the `cluster.columns` table property
   * ([[graft.table.ManagedTable.ClusterColumnsProp]]): the batch
   * range-partitions + sorts on the declared columns before writing, so
   * files and row groups are born value-disjoint and the scan's pushed
   * filters prune INSIDE dirs — no clusterByRange/Z maintenance pass
   * needed before skipping works (the liquid-clustering intent). The
   * orders table arrives in orderkey order, so a custkey range probe
   * over an unclustered copy reads everything; the in-query gate
   * requires the clustered table's scan to output strictly fewer rows
   * than the unclustered twin's for the same probe. Data itself must be
   * byte-identical (oracle recomputes from `orders`).
   */
  def clusterOnWrite(spark: SparkSession, dir: String): DataFrame = {
    import graft.table.ManagedTable
    // deterministic multi-file frame: LCG-shuffled keys, so WITHOUT
    // clustering every written file's [min,max] spans the whole domain
    // (no scan pruning possible), while the clustered twin's files are
    // range-disjoint by construction. DuckDB recomputes the same rows
    // from range() — both engines do exact int64 arithmetic.
    val data = spark.range(200000L)
      .select(col("id"), (col("id") * 48271L % 200003L).as("k"),
        md5(col("id").cast("string")).as("v"))
    def build(clustered: Boolean): ManagedTable = {
      val t = ManagedTable(spark, tmp(if (clustered) "clw_c" else "clw_p"))
      t.createIfNotExists(data.schema)
      if (clustered)
        t.setProperties(Map(ManagedTable.ClusterColumnsProp -> "k"))
      t.write(data.repartition(8, col("id")), "APPEND", "append")
      t
    }
    def scanRows(t: ManagedTable): (DataFrame, Long) = {
      val df = t.read.filter(col("k").between(100000L, 100400L))
      df.collect() // execute THIS plan — its scan metrics are the gate
      (df, df.queryExecution.executedPlan.collectLeaves()
        .map(_.metrics("numOutputRows").value).sum)
    }
    val (plainDf, plainScan) = scanRows(build(clustered = false))
    val (clusDf, clusScan) = scanRows(build(clustered = true))
    require(clusScan < plainScan,
      s"cluster.columns write must let row-group stats prune the probe " +
        s"scan: clustered=$clusScan unclustered=$plainScan")
    require(plainDf.count() == clusDf.count(),
      "clustering changed the visible rows")
    clusDf.select("id", "k", "v")
  }

  val clusterOnWriteSql: String =
    """SELECT id, (id * 48271) % 200003 AS k, md5(CAST(id AS VARCHAR)) AS v
      |FROM range(200000) t(id)
      |WHERE (id * 48271) % 200003 BETWEEN 100000 AND 100400""".stripMargin

  /**
   * Maintenance procedures as SQL `CALL` statements
   * ([[graft.table.SqlProcedures]]): three SQL INSERTs fragment the
   * table, `CALL graft.optimize` folds the small dirs, `CALL
   * graft.vacuum` prunes the pre-compaction history, and `CALL
   * graft.history` reads the commit log back as rows — the
   * VACUUM/OPTIMIZE/DESCRIBE-HISTORY operational loop, driven entirely
   * from SQL text. The data must be byte-for-byte unaffected (oracle
   * recomputes it from `customer`); in-query gates pin the compaction
   * commit, the pruned history, and the procedures' returned stats.
   */
  def sqlCallMaintenance(spark: SparkSession, dir: String): DataFrame = {
    import graft.table.ManagedTable
    val path = tmp("sqlcallm")
    cust(spark, dir).createOrReplaceTempView("cust_call_sql")
    (0 to 2).foreach { i =>
      spark.sql(
        s"""INSERT INTO graft.`$path`
           |SELECT * FROM cust_call_sql WHERE c_custkey % 3 = $i
           |  AND c_custkey <= 900""".stripMargin)
    }
    val opt = spark.sql(s"CALL graft.optimize('$path')").collect()
    require(opt.length == 1 && opt(0).getString(1).startsWith("COMPACT"),
      s"optimize must fold the 3 fragment dirs, got ${opt.toSeq}")
    val vac = spark.sql(s"CALL graft.vacuum('$path', 1)").head()
    require(vac.getInt(0) == 3,
      s"vacuum(keep 1) must prune the 3 pre-compaction versions, got $vac")
    val hist = spark.sql(s"CALL graft.history('$path')").collect()
    val t = ManagedTable(spark, path)
    require(hist.length.toLong == t.history.size &&
      hist(0).getString(1).startsWith("COMPACT"),
      s"history must serve the surviving commits, got ${hist.toSeq}")
    spark.sql(s"SELECT c_custkey, c_name, c_mktsegment FROM graft.`$path`")
  }

  val sqlCallMaintenanceSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer WHERE c_custkey <= 900""".stripMargin

  /**
   * Parquet-native bloom filters via table properties
   * ([[graft.table.ManagedTable.setProperties]], `bloom.columns`): the
   * needle-lookup path dir-level min/max CANNOT serve — md5 fingerprints
   * are uniform, so every dir's [min,max] interval spans the whole hex
   * domain and interval skipping keeps everything. With the property
   * set, each write emits row-group bloom filters for `fp` inside the
   * data files themselves (zero driver state — the only bloom placement
   * that survives 100 TB), and the scan's pushed equality filter skips
   * row groups whose filter excludes the probe. In-query gates: a probe
   * for an absent fingerprint must produce ZERO rows out of the scan
   * node itself (proving row groups were eliminated — min/max provably
   * can't have done it), and present-key probes return exactly the
   * planted rows the oracle recomputes.
   */
  def bloomSkipping(spark: SparkSession, dir: String): DataFrame = {
    import graft.table.ManagedTable
    val path = tmp("bloom_tbl")
    val docs = pq(spark, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("fp"))
    val t = ManagedTable(spark, path)
    t.createIfNotExists(docs.schema)
    t.setProperties(Map(
      ManagedTable.BloomColumnsProp -> "fp",
      ManagedTable.BloomNdvProp + ".fp" -> "1000000"))
    t.write(docs, "APPEND", "append")
    // absent probe: 32 hex chars inside every row group's [min,max]
    val absent = t.read.filter(col("fp") === "88888888deadbeef8888deadbeef8888")
    require(absent.count() == 0, "absent fingerprint matched rows")
    val scanned = absent.queryExecution.executedPlan.collectLeaves()
      .map(_.metrics("numOutputRows").value).sum
    require(scanned == 0,
      s"bloom row-group skip failed: scan produced $scanned rows for an absent key")
    t.read.filter(col("doc_id") % 100 === 7)
  }

  val bloomSkippingSql: String =
    "SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 100 = 7"

  /** Deletion vectors ([[graft.table.ManagedTable.deleteVectors]]) —
    * merge-on-read row deletes, Delta's DV feature re-expressed over
    * the dir-composition log: deleting scattered rows writes ONLY
    * their `(file key, row index)` tombstones (O(deleted rows) at any
    * table size — the 100 TB sparse-delete path a copy-on-write
    * rewrite cannot serve), reads anti-join them out, and
    * `purgeDeletes` (REORG APPLY PURGE) rewrites just the tombstoned
    * dirs to clear the read tax. In-query gates: both DV commits leave
    * every data dir untouched; the second delete's tombstones overlap
    * the first's and re-deletes count as no-ops (metric exactness);
    * time travel still serves the pre-delete snapshot; the captured
    * change feed carries exactly `numDeletedRows` delete rows; and the
    * purged table equals the tombstoned view (both exceptAll
    * directions) with the DV set cleared. */
  def deletionVectors(spark: SparkSession, dir: String): DataFrame = {
    import graft.table.ManagedTable
    val path = tmp("dv_table")
    val l = pq(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_discount"),
        col("l_returnflag"))
    val t = ManagedTable(spark, path)
    t.write(l.filter(col("l_orderkey") % 2 === 0), "APPEND", "append")
    t.write(l.filter(col("l_orderkey") % 2 === 1), "APPEND", "append")
    val v0 = t.lastCommit.get.version
    val total = t.read.count()

    val d1 = t.deleteVectors(col("l_quantity") >= 45.0)
    require(d1.dirs == t.commitAt(v0).dirs && d1.operation == "DELETE VECTORS",
      "DV delete must leave every data dir untouched")
    // overlapping predicate: rows with BOTH qty>=45 and discount<=0.01
    // are already tombstoned — they must not re-count
    val d2 = t.deleteVectors(col("l_discount") <= 0.01)
    require(d2.dirs == d1.dirs, "second DV delete must also be metadata+tombstones only")
    val n1 = d1.operationMetrics("numDeletedRows").toLong
    val n2 = d2.operationMetrics("numDeletedRows").toLong
    require(t.read.count() == total - n1 - n2,
      "tombstone counts must be exact under overlap (re-delete is a no-op)")
    require(t.readAt(v0).count() == total,
      "time travel must serve the pre-delete snapshot")
    val feed1 = t.readChangeFeed(d1.version, Some(d1.version))
    require(feed1.count() == n1 &&
        feed1.filter(col("_change_type") =!= "delete").count() == 0,
      "DV delete change feed must carry exactly the deleted rows")

    // order-free multiset digest (count + sum of row hashes): one
    // aggregate per side instead of two exceptAll shuffle-joins
    def digest(df: DataFrame): (Long, BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")))
        .head()
      (r.getLong(0),
        Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
    }
    val maskedDigest = digest(t.read)
    val purged = t.purgeDeletes().get
    require(purged.dvDirs.isEmpty, "purge must clear the tombstone set")
    require(digest(t.read) == maskedDigest,
      "purge must materialize exactly the tombstoned view")

    t.read.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("string").as("sum_qty"))
      .select("l_returnflag", "n", "sum_qty")
  }

  val deletionVectorsSql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS sum_qty
      |FROM lineitem
      |WHERE NOT (l_quantity >= 45.0) AND NOT (l_discount <= 0.01)
      |GROUP BY l_returnflag""".stripMargin

  /** Persistent table constraints
    * ([[graft.table.ManagedTable.addConstraint]], Delta's
    * `ALTER TABLE ADD CONSTRAINT` analogue): rules recorded in the
    * commit log and enforced on every data-adding write by folding
    * violation counts into the write job's existing Observation — no
    * second scan, and a violating batch rolls back BEFORE its commit
    * publishes. In-query gates: a violating append throws and leaves
    * version, composition, and row count untouched; a violating
    * UPDATE rolls back the same way; conforming writes proceed. The
    * emitted aggregate re-derives from `orders`. */
  def tableConstraints(spark: SparkSession, dir: String): DataFrame = {
    import graft.table.ManagedTable
    import graft.write.WriteTableConstraintError
    val path = tmp("cons_table")
    val o = pq(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val t = ManagedTable(spark, path)
    t.write(o.filter(col("o_orderkey") % 2 === 0), "APPEND", "append")
    t.addConstraint("price_pos", "check:price_pos:o_totalprice > 0")
    t.addConstraint("status_known", "one_of:o_orderstatus:O|F|P")
    t.write(o.filter(col("o_orderkey") % 2 === 1), "APPEND", "append")
    val before = t.lastCommit.get
    val n = t.read.count()
    // derived from the table so the batch schema (incl. nullability)
    // matches — only the CONSTRAINT must reject it, not the schema check
    val violating = t.read.limit(1)
      .withColumn("o_totalprice", col("o_totalprice") * 0 - 5)
    val bad = try {
      t.write(violating, "APPEND", "append")
      false
    } catch { case _: WriteTableConstraintError => true }
    require(bad, "violating append must throw WriteTableConstraintError")
    require(t.lastCommit.get.version == before.version &&
        t.lastCommit.get.dirs == before.dirs && t.read.count() == n,
      "violating append must roll back without a commit")
    val badUpd = try {
      t.update(Map("o_orderstatus" -> lit("X")), col("o_orderkey") === 2); false
    } catch { case _: WriteTableConstraintError => true }
    require(badUpd && t.read.filter(col("o_orderstatus") === "X").count() == 0,
      "violating update must roll back")
    // conforming update proceeds under the constraints
    t.update(Map("o_totalprice" -> (col("o_totalprice") + 1)),
      col("o_orderkey") % 100 === 0)
    t.read.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("string")
          .as("sum_price"))
  }

  val tableConstraintsSql: String =
    """SELECT o_orderstatus, COUNT(*) AS n,
      | CAST(SUM(CAST(CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice + 1
      |                    ELSE o_totalprice END AS DECIMAL(18,2))) AS VARCHAR)
      |   AS sum_price
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  /** Column mapping ([[graft.table.ManagedTable.renameColumn]] /
    * [[graft.table.ManagedTable.dropColumn]], Delta's column-mapping
    * analogue): RENAME and DROP commit as metadata only — the parquet
    * files keep their physical column names, reads alias physical →
    * logical at scan time, and later appends + DML keep working under
    * the new logical names against the same untouched files. In-query
    * gates: the rename commit's dir composition is byte-identical to
    * its parent's; the pre-rename dir's parquet still carries the OLD
    * physical name on disk; a post-rename append's files ALSO carry
    * the physical name (uniform naming); and the dropped column's
    * bytes do not resurrect. The oracle re-derives the final state
    * with plain SQL aliases. */
  def columnRename(spark: SparkSession, dir: String): DataFrame = {
    import graft.table.ManagedTable
    val path = tmp("cmap_table")
    val c = pq(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("c_acctbal"))
    val t = ManagedTable(spark, path)
    t.write(c.filter(col("c_custkey") % 2 === 0), "APPEND", "append")
    val preDir = t.lastCommit.get.dirs.head
    val renamed = t.renameColumn("c_name", "customer_name")
    require(renamed.dirs == t.commitAt(0L).dirs,
      "rename must be metadata-only — dir composition changed")
    require(spark.read.parquet(preDir).columns.contains("c_name"),
      "rename rewrote the physical files")
    t.write(c.filter(col("c_custkey") % 2 === 1)
        .withColumnRenamed("c_name", "customer_name"), "APPEND", "append")
    require(spark.read.parquet(t.lastCommit.get.dirs.last).columns
        .contains("c_name"),
      "post-rename append must keep writing the physical name")
    t.dropColumn("c_acctbal")
    t.delete(col("customer_name").endsWith("1"))
    val out = t.read
    require(out.columns.toSeq == Seq("c_custkey", "customer_name", "c_mktsegment"),
      s"unexpected logical schema ${out.columns.mkString(",")}")
    out.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), max(col("customer_name")).as("max_name"))
  }

  val columnRenameSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n, MAX(c_name) AS max_name
      |FROM customer
      |WHERE c_name NOT LIKE '%1'
      |GROUP BY c_mktsegment""".stripMargin

  /** Snapshot manifest export ([[graft.table.ManagedTable.exportManifest]],
    * Delta's `symlink_format_manifest` analogue): after appends and a
    * copy-on-write delete reshape the composition, the manifest lists
    * exactly the LIVE snapshot's data-file URIs so an external engine
    * with no commit-log reader scans a consistent version. In-query
    * gates: an "external" read of precisely the manifest's files (a
    * plain `spark.read.parquet(files)`, no table layer) equals the
    * table read in both exceptAll directions, and the manifest file
    * count matches the export stats. The emitted aggregate re-derives
    * from `orders` in DuckDB. */
  def exportManifest(spark: SparkSession, dir: String): DataFrame = {
    import graft.table.ManagedTable
    val path = tmp("manifest_src")
    val mdir = tmp("manifest_out")
    val o = pq(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val t = ManagedTable(spark, path)
    t.write(o.filter(col("o_orderkey") % 2 === 0), "APPEND", "append")
    t.write(o.filter(col("o_orderkey") % 2 === 1), "APPEND", "append")
    t.delete(col("o_orderkey") % 5 === 0)
    val stats = t.exportManifest(mdir)
    val fs = new org.apache.hadoop.fs.Path(mdir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(mdir), true)
      val b = Seq.newBuilder[String]
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName == "manifest") {
          val in = fs.open(st.getPath)
          val bytes = try org.apache.commons.io.IOUtils.toByteArray(in)
            finally in.close()
          b ++= new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
            .split("\n").filter(_.nonEmpty)
        }
      }
      b.result()
    }
    require(files.size == stats.numFiles && stats.numManifests == 1,
      s"manifest stats drifted: listed ${files.size} vs ${stats.numFiles}")
    val external = spark.read.parquet(files: _*)
    val internal = t.read
    require(sameRows(external, internal),
      "external manifest read must equal the table snapshot exactly")
    external.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("string")
          .as("sum_price"))
  }

  val exportManifestSql: String =
    """SELECT o_orderstatus, COUNT(*) AS n,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS sum_price
      |FROM orders WHERE o_orderkey % 5 <> 0
      |GROUP BY o_orderstatus""".stripMargin

  /** Incrementally-maintained materialized aggregate
    * ([[graft.table.IncrementalAggView]]): init from a snapshot, then
    * three refreshes fold an append (dir-diff feed), a DELETE without
    * change capture (coarse rewrite feed), and an UPDATE with capture
    * (minimal pre/post feed) — the three CDF granularities additivity
    * must absorb. In-query gate: the folded state equals a full
    * recompute of the final table, both directions of exceptAll; the
    * oracle independently re-derives the surviving rows and the exact
    * decimal sums from `orders`. */
  def incrementalView(spark: SparkSession, dir: String): DataFrame = {
    import graft.table.{IncrementalAggView, ManagedTable}
    val path = tmp("iview_src")
    val st = tmp("iview_state")
    val o = pq(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val t = ManagedTable(spark, path)
    t.write(o.filter(col("o_orderkey") % 3 === 0), "APPEND", "append")
    val view = new IncrementalAggView(spark, path, st,
      Seq("o_orderstatus"), Seq("o_totalprice"))
    view.initialize()
    t.write(o.filter(col("o_orderkey") % 3 === 1), "APPEND", "append")
    view.refresh()
    t.delete(col("o_orderkey") % 5 === 0)
    view.refresh()
    t.update(Map("o_totalprice" -> (col("o_totalprice") * 2)),
      col("o_orderkey") % 7 === 0, captureChangeData = true)
    view.refresh()
    val got = view.read.select("o_orderstatus", "cnt", "sum_o_totalprice")
    val want = t.read.groupBy("o_orderstatus")
      .agg(sum(lit(1L)).as("cnt"),
        sum(col("o_totalprice").cast("decimal(28,6)")).cast("decimal(28,6)")
          .as("sum_o_totalprice"))
    require(sameRows(got, want),
      "incremental_view drifted from the full recompute")
    // WRITE-SIDE pins at GROUP cardinality (the 10^9-group mart shape,
    // where a full-state replace per fold is the write amplification
    // the touched-group path retires): an o_orderkey-keyed view (one
    // group per key) must fold a small delta as frame-keyed DELETION
    // VECTORS + an APPEND of the touched groups — O(touched groups)
    // writes, standing dirs untouched — and a full-churn fold as ONE
    // replace
    val fineSt = tmp("iview_fine_state")
    val fine = new IncrementalAggView(spark, path, fineSt,
      Seq("o_orderkey"), Seq("o_totalprice"))
    Staging.timed { fine.initialize() }
    val fineState = ManagedTable(spark, fineSt)
    val fineDirs = fineState.lastCommit.get.dirs
    // residues 3 and 4 mod 30 are ≡ 0/1 mod 3 and alive past the %5
    // delete — a ~7 % touched set, far under the fraction threshold
    t.delete(col("o_orderkey") % 30 === 3)
    t.update(Map("o_totalprice" -> (col("o_totalprice") + 1)),
      col("o_orderkey") % 30 === 4, captureChangeData = true)
    fine.refresh()
    val fApp = fineState.lastCommit.get
    require(fApp.operation == "VIEW_DELTA" &&
      fineDirs.forall(fApp.dirs.contains),
      s"incremental_view: a small-delta fold must APPEND the touched " +
        s"groups over untouched standing dirs, got ${fApp.operation}")
    require(fineState.commitAt(fApp.version - 1).operation ==
      "DELETE VECTORS",
      "incremental_view: touched groups must tombstone as frame-keyed DVs")
    // READ-side pin, one level down from the O(touched groups) write:
    // tombstone LOCATION must dir-prune. Recluster the state into 8
    // range-disjoint bucket dirs, then fold a NARROW key-range delete —
    // the fold's DV scan must touch strictly fewer dirs than the state
    // holds (commit-log key-stats pruning: the IN-list form prunes per
    // touched VALUE, the frame form by the keys' min/max range), and
    // the tombstone commit must carry no change dir (nothing consumes
    // the view state's own change feed — capture would force the scan
    // to full row width)
    fineState.clusterBy("o_orderkey", 8)
    val liveDirs = fineState.lastCommit.get.dirs.size
    val dvScan0 = ManagedTable.dvScanDirs.get
    // ~5 % of the KEYSPACE (sf-relative — the absolute key range grows
    // with scale, the touched FRACTION stays fixed and under the
    // replace tier); this delete postdates the coarse view's last fold,
    // so the oracle never sees it
    val narrowKey = o.agg(max("o_orderkey")).head().getLong(0) / 20L
    t.delete(col("o_orderkey") <= narrowKey)
    fine.refresh()
    val pruneApp = fineState.lastCommit.get
    require(pruneApp.operation == "VIEW_DELTA",
      s"incremental_view: the narrow delete must fold as DV+APPEND, got " +
        s"${pruneApp.operation}")
    val pruneDv = fineState.commitAt(pruneApp.version - 1)
    require(pruneDv.operation == "DELETE VECTORS" &&
      pruneDv.changeDir.isEmpty,
      "incremental_view: the state tombstone commit must not pay " +
        "full-width change capture")
    val dvScanned = ManagedTable.dvScanDirs.get - dvScan0
    require(dvScanned >= 1 && dvScanned < liveDirs,
      s"incremental_view: a narrow-range fold must scan strictly fewer " +
        s"state dirs than the $liveDirs live — scanned $dvScanned (the " +
        "O(touched groups) write would still pay an O(state) read)")
    t.update(Map("o_totalprice" -> (col("o_totalprice") * 2)), lit(true))
    fine.refresh()
    require(fineState.lastCommit.get.operation == "VIEW_REFRESH",
      "incremental_view: a full-churn fold must land one replace, got " +
        fineState.lastCommit.get.operation)
    val fineWant = t.read.groupBy("o_orderkey")
      .agg(sum(lit(1L)).as("cnt"),
        sum(col("o_totalprice").cast("decimal(28,6)")).cast("decimal(28,6)")
          .as("sum_o_totalprice"))
    require(sameRows(fine.read, fineWant),
      "incremental_view: the delta-folded fine-grained state drifted " +
        "from the full recompute")
    got.select(col("o_orderstatus"), col("cnt"),
      col("sum_o_totalprice").cast("string").as("sum_totalprice"))
  }

  /** Incrementally-maintained JOIN-aggregate view
    * ([[graft.table.IncrementalJoinAggView]] — the star-join mart the
    * single-table view cannot express): `orders ⋈ customer` grouped by
    * market segment, maintained by the signed delta-join identity
    * `L1⋈R1 − L0⋈R0 = dL⋈R0 + L0⋈dR + dL⋈dR` while the scenario
    * drives appends on BOTH sides (including a fact batch whose
    * customers arrive in the same range — the cross term), a fact
    * delete, and a dimension update that MOVES rows across groups.
    * Each refresh reads only the change-feed ranges plus the other
    * side's watermark snapshot semi-pruned to the delta's keys. The
    * in-query gate compares against the full join recompute; the
    * oracle rebuilds the final state from the base tables. */
  def incrementalJoinView(spark: SparkSession, dir: String): DataFrame = {
    import graft.table.{IncrementalJoinAggView, ManagedTable}
    val lp = tmp("jview_l")
    val rp = tmp("jview_r")
    val sp = tmp("jview_s")
    val o = pq(spark, dir, "orders")
      .select(col("o_custkey").as("custkey"), col("o_orderkey"),
        col("o_totalprice"))
    val c = pq(spark, dir, "customer")
      .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
    val lt = ManagedTable(spark, lp)
    val rt = ManagedTable(spark, rp)
    lt.write(o.filter(col("o_orderkey") % 3 === 0), "APPEND", "append")
    rt.write(c.filter(col("custkey") % 2 === 0), "APPEND", "append")
    val view = new IncrementalJoinAggView(spark, lp, rp, sp,
      joinKeys = Seq("custkey"), groupCols = Seq("c_mktsegment"),
      sumCols = Seq("o_totalprice"), minMaxCols = Seq("o_totalprice"))
    view.initialize()
    // both sides move in ONE range: odd customers arrive together with
    // more facts — the dL⋈dR cross term fires alongside both snapshots
    lt.write(o.filter(col("o_orderkey") % 3 === 1), "APPEND", "append")
    rt.write(c.filter(col("custkey") % 2 =!= 0), "APPEND", "append")
    view.refresh()
    lt.delete(col("o_orderkey") % 5 === 0)
    rt.update(Map("c_mktsegment" -> lit("MOVED")),
      col("custkey") % 7 === 0, captureChangeData = true)
    view.refresh()
    val got = view.read
    val want = lt.read.join(rt.read, Seq("custkey"))
      .groupBy("c_mktsegment")
      .agg(sum(lit(1L)).as("cnt"),
        sum(col("o_totalprice").cast("decimal(28,6)")).cast("decimal(28,6)")
          .as("sum_o_totalprice"),
        min("o_totalprice").as("min_o_totalprice"),
        max("o_totalprice").as("max_o_totalprice"))
    require(sameRows(got, want),
      "incremental_join_view drifted from the full join recompute")
    // WRITE-SIDE pins at GROUP cardinality: an o_orderkey-keyed join
    // view (one group per fact row — the 10^9-group mart shape) must
    // fold a small delta as frame-keyed DELETION VECTORS + an APPEND
    // of the touched groups, and a full fact churn as ONE replace
    val fineSp = tmp("jview_fine_s")
    val fine = new IncrementalJoinAggView(spark, lp, rp, fineSp,
      joinKeys = Seq("custkey"), groupCols = Seq("o_orderkey"),
      sumCols = Seq("o_totalprice"))
    Staging.timed { fine.initialize() }
    val fineState = ManagedTable(spark, fineSp)
    val fineDirs = fineState.lastCommit.get.dirs
    // residues 3/4 mod 30 are ≡ 0/1 mod 3 and alive past the %5 delete
    lt.delete(col("o_orderkey") % 30 === 3)
    lt.update(Map("o_totalprice" -> (col("o_totalprice") + 1)),
      col("o_orderkey") % 30 === 4, captureChangeData = true)
    fine.refresh()
    val fApp = fineState.lastCommit.get
    require(fApp.operation == "JOINVIEW_DELTA" &&
      fineDirs.forall(fApp.dirs.contains),
      s"incremental_join_view: a small-delta fold must APPEND the " +
        s"touched groups over untouched standing dirs, got ${fApp.operation}")
    require(fineState.commitAt(fApp.version - 1).operation ==
      "DELETE VECTORS",
      "incremental_join_view: touched groups must tombstone as " +
        "frame-keyed DVs")
    lt.update(Map("o_totalprice" -> (col("o_totalprice") * 2)), lit(true))
    fine.refresh()
    require(fineState.lastCommit.get.operation == "JOINVIEW_REFRESH",
      "incremental_join_view: a full-churn fold must land one replace, " +
        s"got ${fineState.lastCommit.get.operation}")
    val fineWant = lt.read.join(rt.read, Seq("custkey"))
      .groupBy("o_orderkey")
      .agg(sum(lit(1L)).as("cnt"),
        sum(col("o_totalprice").cast("decimal(28,6)")).cast("decimal(28,6)")
          .as("sum_o_totalprice"))
    require(sameRows(fine.read, fineWant),
      "incremental_join_view: the delta-folded fine-grained state " +
        "drifted from the full join recompute")
    got.select(col("c_mktsegment"), col("cnt"),
      col("sum_o_totalprice").cast("string").as("sum_totalprice"),
      col("min_o_totalprice").as("min_price"),
      col("max_o_totalprice").as("max_price"))
  }

  /** DuckDB mirror of [[incrementalJoinView]] — the final state from
    * the base tables. */
  val incrementalJoinViewSql: String =
    """WITH l AS (SELECT o_custkey AS custkey, o_totalprice FROM orders
      |           WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 5 <> 0),
      |r AS (SELECT c_custkey AS custkey,
      |        CASE WHEN c_custkey % 7 = 0 THEN 'MOVED'
      |             ELSE c_mktsegment END AS c_mktsegment
      |      FROM customer)
      |SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS cnt,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS VARCHAR)
      |   AS sum_totalprice,
      | MIN(o_totalprice) AS min_price,
      | MAX(o_totalprice) AS max_price
      |FROM l JOIN r USING (custkey)
      |GROUP BY c_mktsegment""".stripMargin

  /** HIGH-GROUP-CARDINALITY aggregate-view fold — the 10^9-group mart
    * shape at bench scale, where the state is FACT-sized (one group per
    * `(l_orderkey, l_linenumber)` — the composite key forces the
    * FRAME-keyed tombstone path) and a small delta must cost O(touched)
    * on BOTH sides of the fold: the init + recluster are staged out, so
    * the probed cost is the fold itself — touched-group recompute over
    * a readWhere range-pruned slice, frame-keyed DVs whose tombstone
    * scan dir-prunes by the touched keys' min/max (pinned in-query:
    * strictly fewer dirs scanned than the state holds, no change-
    * capture dir on the tombstone commit), and an APPEND of the
    * recomputed rows. Rides the bench scale probe pinned by name, so
    * the read-side prune is slope-visible across sf instead of only
    * counter-visible. Oracle: the per-line aggregate over the touched
    * key range after the update. */
  def aggViewHighcard(spark: SparkSession, dir: String): DataFrame = {
    import graft.table.{IncrementalAggView, ManagedTable}
    val src = tmp("avh_src")
    val st = tmp("avh_state")
    val li = pq(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    val t = ManagedTable(spark, src)
    val view = new IncrementalAggView(spark, src, st,
      Seq("l_orderkey", "l_linenumber"), Seq("l_extendedprice"))
    Staging.timed {
      t.write(li, "APPEND", "append")
      view.initialize()
      // the standing mart's serving layout: 16 range-disjoint bucket
      // dirs on the leading group key (the heavy maintenance pass a
      // real mart runs at its own cadence — staged out of the fold)
      ManagedTable(spark, st).clusterBy("l_orderkey", 16)
    }
    // the day's delta: a narrow key range moves (~0.01-10 % of groups
    // across sf) — a repricing event on recent orders. Staged with
    // captured change rows so the probed cost is the FOLD, not the
    // source churn: the fold then reads the minimal per-row feed
    // instead of a coarse whole-dir rewrite feed
    Staging.timed {
      t.update(Map("l_extendedprice" -> (col("l_extendedprice") + 1)),
        col("l_orderkey") <= 150L, captureChangeData = true)
    }
    val s = ManagedTable(spark, st)
    val liveDirs = s.lastCommit.get.dirs.size
    val dvScan0 = ManagedTable.dvScanDirs.get
    view.refresh()
    val appendC = s.lastCommit.get
    require(appendC.operation == "VIEW_DELTA",
      s"agg_view_highcard: a narrow fold against a fact-cardinality " +
        s"state must land DV+APPEND, got ${appendC.operation}")
    val dvC = s.commitAt(appendC.version - 1)
    require(dvC.operation == "DELETE VECTORS" && dvC.changeDir.isEmpty,
      "agg_view_highcard: touched groups must tombstone frame-keyed " +
        "with no change capture")
    val dvScanned = ManagedTable.dvScanDirs.get - dvScan0
    require(dvScanned >= 1 && dvScanned < liveDirs,
      s"agg_view_highcard: the frame-keyed tombstone scan must dir-prune " +
        s"by the touched keys' range — scanned $dvScanned of $liveDirs")
    // serving read over the touched range (dir-pruned), verified by the
    // oracle's recompute
    view.readWhere(col("l_orderkey") <= 150L)
      .select(col("l_orderkey"), col("l_linenumber"), col("cnt"),
        col("sum_l_extendedprice").cast("string").as("sum_price"))
  }

  /** DuckDB mirror of [[aggViewHighcard]] — the touched range's
    * per-line aggregate with the repricing applied. */
  val aggViewHighcardSql: String =
    """SELECT l_orderkey, l_linenumber, CAST(COUNT(*) AS BIGINT) AS cnt,
      | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))
      |        + CAST(1 AS DECIMAL(28,6))) AS DECIMAL(28,6)) AS VARCHAR)
      |   AS sum_price
      |FROM lineitem WHERE l_orderkey <= 150
      |GROUP BY l_orderkey, l_linenumber""".stripMargin

  /** Layout maintenance as POLICY (`CALL graft.maintain_auto`,
    * [[graft.table.ManagedTable.maintainLayoutIfNeeded]]): a
    * continuously-maintained mart accrues ~2 read-overhead dirs per
    * DV+APPEND fold — at 100 TB with folds every few minutes, serving
    * reads degrade unless SOMETHING decides when to fold the debt, and
    * a scheduled OPTIMIZE job either runs too often (wasted rewrites)
    * or too rarely (read amplification). The policy prices the debt
    * from the state's HEAD COMMIT alone (small-dir count + DV-dir
    * count — one log-entry read, no data scan, no FS listing), so
    * asking after every fold is free. In-query gates: four narrow
    * repricing folds accrue visible debt; a below-threshold CALL
    * reports it and lands NOTHING (state version pinned unchanged); a
    * past-threshold CALL purges every deletion vector and folds the
    * small dirs (pinned strictly fewer dirs, zero DV dirs) while the
    * watermark and the served aggregate stay byte-identical. Oracle:
    * the repriced per-order aggregate over the probed key range. */
  def viewAutoMaintain(spark: SparkSession, dir: String): DataFrame = {
    import graft.table.{IncrementalAggView, ManagedTable}
    val src = tmp("vam_src")
    val st = tmp("vam_state")
    val o = pq(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    val t = ManagedTable(spark, src)
    t.write(o, "APPEND", "append")
    val view = new IncrementalAggView(spark, src, st,
      Seq("o_orderkey"), Seq("o_totalprice"))
    view.initialize()
    // four daily ticks, each repricing a disjoint 2 % key slice — every
    // fold lands tombstones + a small append (the O(touched) path), so
    // the state accrues exactly the debt a real fold loop accrues
    (1 to 4).foreach { k =>
      t.update(Map("o_totalprice" -> (col("o_totalprice") + 1)),
        col("o_orderkey") % 50 === k, captureChangeData = true)
      view.refresh()
    }
    val s = ManagedTable(spark, st)
    val debt = s.maintenanceDebt()
    require(debt.dvDirs >= 3 && debt.smallDirs >= 3,
      s"view_auto_maintain: four DV+APPEND folds must accrue visible " +
        s"debt, got ${debt.smallDirs} small dirs / ${debt.dvDirs} DV dirs")
    val wm = view.sourceVersion
    val vBefore = s.latestVersion.get
    val dirsBefore = s.lastCommit.get.dirs.size
    val quiet = spark.sql(
      s"CALL graft.maintain_auto('$st', ${64L << 20}, 16, 8)").head()
    require(quiet.getInt(2) == 0 && s.latestVersion.get == vBefore,
      "view_auto_maintain: a below-threshold CALL must land nothing")
    val fired = spark.sql(
      s"CALL graft.maintain_auto('$st', ${64L << 20}, 3, 3)").head()
    require(fired.getInt(2) == 1 && !fired.isNullAt(3),
      "view_auto_maintain: past-threshold debt must trigger the fold")
    val head = s.lastCommit.get
    require(head.dvDirs.isEmpty && head.dirs.size < dirsBefore,
      s"view_auto_maintain: maintenance must purge tombstones and fold " +
        s"small dirs — ${head.dirs.size} of $dirsBefore dirs, " +
        s"${head.dvDirs.size} DV dirs")
    require(view.sourceVersion == wm,
      "view_auto_maintain: maintenance commits are watermark-less")
    view.readWhere(col("o_orderkey") <= 300L)
      .select(col("o_orderkey"), col("cnt"),
        col("sum_o_totalprice").cast("string").as("sum_price"))
  }

  /** DuckDB mirror of [[viewAutoMaintain]] — the probed key range's
    * per-order aggregate with the four repricing ticks applied. */
  val viewAutoMaintainSql: String =
    """SELECT o_orderkey, CAST(COUNT(*) AS BIGINT) AS cnt,
      | CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))
      |        + CASE WHEN o_orderkey % 50 IN (1,2,3,4)
      |               THEN CAST(1 AS DECIMAL(28,6))
      |               ELSE CAST(0 AS DECIMAL(28,6)) END)
      |      AS DECIMAL(28,6)) AS VARCHAR) AS sum_price
      |FROM orders WHERE o_orderkey <= 300
      |GROUP BY o_orderkey""".stripMargin

  /** Retention as POLICY (`CALL graft.vacuum_auto`,
    * [[graft.table.ManagedTable.vacuumIfNeeded]]) — the storage twin of
    * `view_auto_maintain`'s read-amplification policy: a fold/load loop
    * commits thousands of versions a day, and on a copy-on-write table
    * every superseded version holds its full bytes until vacuumed. The
    * ask is two advisory-pointer reads (no listing, no entry reads) so
    * it can ride EVERY load; the slack is hysteresis, so a firing
    * prunes a whole slack's worth in one pass instead of one version
    * per commit. In-query gates: 12 UPDATE ticks accrue 13 versions; a
    * below-threshold CALL reports retained=13 and lands nothing; a
    * past-threshold CALL prunes exactly to the kept chain's snapshot
    * base (v10 — LogSnapshotInterval conservatism, like Delta keeping
    * its checkpoint); time travel below the cut then refuses loudly.
    * Oracle: the surviving head recomputed from the raw table. */
  def autoVacuum(spark: SparkSession, dir: String): DataFrame = {
    import graft.table.ManagedTable
    val path = tmp("avac")
    val t = ManagedTable(spark, path)
    t.write(pq(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"))
      .filter(col("o_orderkey") <= 2000), "APPEND", "append")
    (1 to 12).foreach { k =>
      t.update(Map("o_orderstatus" -> lit(s"T$k")),
        col("o_orderkey") % 60 === k)
    }
    require(t.retainedVersionCount == 13,
      s"auto_vacuum: 12 ticks over the initial load must retain 13 " +
        s"versions, got ${t.retainedVersionCount}")
    val quiet = spark.sql(s"CALL graft.vacuum_auto('$path', 5, 16)").head()
    require(quiet.getInt(0) == 13 && quiet.getInt(1) == 0 &&
      t.retainedVersionCount == 13,
      "auto_vacuum: below keep+slack the CALL reports debt and lands nothing")
    val fired = spark.sql(s"CALL graft.vacuum_auto('$path', 3, 8)").head()
    require(fired.getInt(1) == 1 && fired.getInt(2) == 10,
      s"auto_vacuum: 13 retained >= 3+8 must prune to the kept chain's " +
        s"snapshot base v10, pruned ${fired.getInt(2)}")
    require(t.earliestVersion.contains(10L) && t.retainedVersionCount == 3,
      "auto_vacuum: versions 10..12 survive the cut")
    val refused =
      try { t.readAt(5L); false }
      catch { case _: IllegalArgumentException => true }
    require(refused, "auto_vacuum: time travel below the cut must refuse " +
      "loudly, not serve a partial snapshot")
    t.read
  }

  /** DuckDB mirror of [[autoVacuum]] — the surviving head: the 12
    * status ticks applied to the raw table. */
  val autoVacuumSql: String =
    """SELECT o_orderkey,
      | CASE WHEN o_orderkey % 60 BETWEEN 1 AND 12
      |      THEN 'T' || CAST(o_orderkey % 60 AS VARCHAR)
      |      ELSE o_orderstatus END AS o_orderstatus
      |FROM orders WHERE o_orderkey <= 2000""".stripMargin

  /** STREAMING maintenance of the join-aggregate view
    * ([[graft.table.StandingViews.refreshStreamAll]] — the fact side's
    * CDF stream drives ledgered both-sides folds): appends
    * on BOTH sides, a fact delete, and a group-moving dimension update
    * drain through ONE checkpoint; the resumed checkpoint folds exactly
    * the new fact slice; a batch refresh after the stream is a
    * zero-commit no-op. In-query gate: the stream-maintained state
    * equals the full join recompute after BOTH drains. Oracle: the
    * final join-aggregate from the base tables. */
  def streamJoinView(spark: SparkSession, dir: String): DataFrame = {
    import graft.table.{IncrementalJoinAggView, ManagedTable}
    val lp = tmp("jvs_l"); val rp = tmp("jvs_r")
    val sp = tmp("jvs_s"); val ck = tmp("jvs_ck")
    val o = pq(spark, dir, "orders")
      .select(col("o_custkey").as("custkey"), col("o_orderkey"),
        col("o_totalprice"))
    val c = pq(spark, dir, "customer")
      .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
    val lt = ManagedTable(spark, lp)
    val rt = ManagedTable(spark, rp)
    val view = new IncrementalJoinAggView(spark, lp, rp, sp,
      joinKeys = Seq("custkey"), groupCols = Seq("c_mktsegment"),
      sumCols = Seq("o_totalprice"), minMaxCols = Seq("o_totalprice"))
    Staging.timed {
      lt.write(o.filter(col("o_orderkey") % 3 === 0), "APPEND", "append")
      rt.write(c.filter(col("custkey") % 2 === 0), "APPEND", "append")
      view.initialize()
    }
    // both sides move while only the FACT stream triggers: the epoch's
    // fold must carry the dimension delta (and the group move) too
    lt.write(o.filter(col("o_orderkey") % 3 === 1), "APPEND", "append")
    rt.write(c.filter(col("custkey") % 2 =!= 0), "APPEND", "append")
    lt.delete(col("o_orderkey") % 5 === 0)
    rt.update(Map("c_mktsegment" -> lit("MOVED")),
      col("custkey") % 7 === 0, captureChangeData = true)
    require(view.refreshStream(ck).awaitTermination(300000),
      "stream_join_view: the join view stream did not drain")
    def fullRecompute() = lt.read.join(rt.read, Seq("custkey"))
      .groupBy("c_mktsegment")
      .agg(sum(lit(1L)).as("cnt"),
        sum(col("o_totalprice").cast("decimal(28,6)")).cast("decimal(28,6)")
          .as("sum_o_totalprice"),
        min("o_totalprice").as("min_o_totalprice"),
        max("o_totalprice").as("max_o_totalprice"))
    val w1 = fullRecompute()
    require(sameRows(view.read, w1),
      "stream_join_view: stream-maintained state drifted from the full " +
        "join recompute")
    // resume the SAME checkpoint after one more fact slice — exactly
    // that slice folds (a double-fold would double its counts)
    lt.write(o.filter(col("o_orderkey") % 3 === 2), "APPEND", "append")
    require(view.refreshStream(ck).awaitTermination(300000),
      "stream_join_view: the resumed join view stream did not drain")
    val w2 = fullRecompute()
    require(sameRows(view.read, w2),
      "stream_join_view: the resumed checkpoint double-folded or dropped " +
        "the new fact slice")
    val vBefore = ManagedTable(spark, sp).latestVersion
    view.refresh()
    require(ManagedTable(spark, sp).latestVersion == vBefore,
      "stream_join_view: a batch refresh after the stream must be a " +
        "zero-commit no-op")
    view.read.select(col("c_mktsegment"), col("cnt"),
      col("sum_o_totalprice").cast("string").as("sum_totalprice"),
      col("min_o_totalprice").as("min_price"),
      col("max_o_totalprice").as("max_price"))
  }

  /** DuckDB mirror of [[streamJoinView]] — the final state from the
    * base tables (the last fact slice arrived AFTER the delete, so its
    * %5 rows survive; the oracle never sees the stream). */
  val streamJoinViewSql: String =
    """WITH l AS (SELECT o_custkey AS custkey, o_totalprice FROM orders
      |           WHERE (o_orderkey % 3 IN (0, 1) AND o_orderkey % 5 <> 0)
      |              OR o_orderkey % 3 = 2),
      |r AS (SELECT c_custkey AS custkey,
      |        CASE WHEN c_custkey % 7 = 0 THEN 'MOVED'
      |             ELSE c_mktsegment END AS c_mktsegment
      |      FROM customer)
      |SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS cnt,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS VARCHAR)
      |   AS sum_totalprice,
      | MIN(o_totalprice) AS min_price,
      | MAX(o_totalprice) AS max_price
      |FROM l JOIN r USING (custkey)
      |GROUP BY c_mktsegment""".stripMargin

  /** DIMENSION-triggered streaming maintenance
    * ([[graft.table.StandingViews.refreshStreamAllMulti]] with
    * `dimTriggers`, reached through the 6-arg
    * `CALL graft.stream_refresh_view('views', ...)`): a fact-triggered
    * stream folds dimension churn only on the NEXT fact epoch, so a
    * mart over a quiet fact table and a moving dimension goes stale —
    * here the dimension table gets its own trigger stream whose epochs
    * run a RIGHT-ONLY fold (the left watermark never moves under an
    * in-flight fact slice). In-query gates: the fact table never
    * commits after init, yet the drained CALL leaves the mart current
    * to the dimension head with the left watermark untouched. Oracle:
    * the full join recompute with the segment moves applied. */
  def streamDimTrigger(spark: SparkSession, dir: String): DataFrame = {
    import graft.table.{IncrementalJoinAggView, ManagedTable}
    val lp = tmp("sdt_l"); val rp = tmp("sdt_r")
    val sp = tmp("sdt_s"); val ck = tmp("sdt_ck")
    val o = pq(spark, dir, "orders")
      .select(col("o_custkey").as("custkey"), col("o_totalprice"))
    val c = pq(spark, dir, "customer")
      .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
    val lt = ManagedTable(spark, lp)
    val rt = ManagedTable(spark, rp)
    val view = new IncrementalJoinAggView(spark, lp, rp, sp,
      joinKeys = Seq("custkey"), groupCols = Seq("c_mktsegment"),
      sumCols = Seq("o_totalprice"))
    Staging.timed {
      lt.write(o, "APPEND", "append")
      rt.write(c.filter(col("custkey") % 2 === 0), "APPEND", "append")
      view.initialize()
    }
    // dimension-only churn: the fact table NEVER commits again
    rt.write(c.filter(col("custkey") % 2 =!= 0), "APPEND", "append")
    rt.update(Map("c_mktsegment" -> lit("MOVED")),
      col("custkey") % 7 === 0, captureChangeData = true)
    val lv = lt.latestVersion.get
    val drained = spark.sql(
      s"CALL graft.stream_refresh_view('views', '$lp', " +
        s"'join($rp;custkey;c_mktsegment;o_totalprice):$sp', '$ck', " +
        "false, true)").head()
    require(drained.getString(2) == "drained",
      s"stream_dim_trigger: expected a drained stream, got $drained")
    require(view.sourceVersions == ((lv, rt.latestVersion.get)),
      "stream_dim_trigger: the dimension trigger stream must fold the " +
        s"dimension churn with the left watermark untouched — got " +
        s"${view.sourceVersions}, want ($lv, ${rt.latestVersion.get})")
    view.read.select(col("c_mktsegment"), col("cnt"),
      col("sum_o_totalprice").cast("string").as("sum_totalprice"))
  }

  /** DuckDB mirror of [[streamDimTrigger]] — the join recompute with
    * the segment moves applied (the oracle never sees the stream). */
  val streamDimTriggerSql: String =
    """SELECT CASE WHEN c_custkey % 7 = 0 THEN 'MOVED'
      |            ELSE c_mktsegment END AS c_mktsegment,
      | CAST(COUNT(*) AS BIGINT) AS cnt,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS VARCHAR)
      |   AS sum_totalprice
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1""".stripMargin

  val incrementalViewSql: String =
    """WITH rows AS (
      | SELECT o_orderstatus,
      |  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
      |       ELSE o_totalprice END AS v
      | FROM orders
      | WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 5 <> 0)
      |SELECT o_orderstatus, COUNT(*) AS cnt,
      | CAST(SUM(CAST(v AS DECIMAL(28,6))) AS VARCHAR) AS sum_totalprice
      |FROM rows GROUP BY o_orderstatus""".stripMargin

  /** Min/max incremental view ([[graft.table.IncrementalAggView]] with
    * `minMaxCols`): min/max are NOT delta-maintainable under deletes —
    * removing the max says nothing about the runner-up — so the view
    * recomputes ONLY the groups present in each change-feed slice and
    * carries untouched groups over unread. The scenario drives exactly
    * that: a delete of every row above a price threshold (coarse
    * rewrite feed) must LOWER maxes through refresh (in-query gate
    * requires it), then a captured update halving some prices lowers
    * mins; the folded state must equal a full recompute (both
    * exceptAll directions, in-query) and the oracle re-derives the
    * final aggregates from `orders` alone. */
  def incrementalViewMinMax(spark: SparkSession, dir: String): DataFrame = {
    import graft.table.{IncrementalAggView, ManagedTable}
    val path = tmp("ivmm_src")
    val st = tmp("ivmm_state")
    val o = pq(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val t = ManagedTable(spark, path)
    t.write(o.filter(col("o_orderkey") % 3 === 0), "APPEND", "append")
    val view = new IncrementalAggView(spark, path, st,
      Seq("o_orderstatus"), Seq("o_totalprice"),
      minMaxCols = Seq("o_totalprice"))
    view.initialize()
    t.write(o.filter(col("o_orderkey") % 3 === 1), "APPEND", "append")
    view.refresh()
    val before = view.read
      .select(col("o_orderstatus"), col("max_o_totalprice")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    t.delete(col("o_totalprice") > 300000.0)
    view.refresh()
    val after = view.read
      .select(col("o_orderstatus"), col("max_o_totalprice")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    require(after.exists { case (g, m) => m < before(g) },
      "incremental_view_minmax: the delete lowered no group max — the " +
        "touched-group recompute is not being exercised")
    t.update(Map("o_totalprice" -> (col("o_totalprice") * 0.5)),
      col("o_orderkey") % 7 === 0, captureChangeData = true)
    view.refresh()
    val got = view.read.select("o_orderstatus", "cnt", "sum_o_totalprice",
      "min_o_totalprice", "max_o_totalprice")
    val want = t.read.groupBy("o_orderstatus")
      .agg(sum(lit(1L)).as("cnt"),
        sum(col("o_totalprice").cast("decimal(28,6)")).cast("decimal(28,6)")
          .as("sum_o_totalprice"),
        min(col("o_totalprice")).as("min_o_totalprice"),
        max(col("o_totalprice")).as("max_o_totalprice"))
    require(sameRows(got, want),
      "incremental_view_minmax drifted from the full recompute")
    got.select(col("o_orderstatus"), col("cnt"),
      col("sum_o_totalprice").cast("string").as("sum_totalprice"),
      col("min_o_totalprice").as("min_totalprice"),
      col("max_o_totalprice").as("max_totalprice"))
  }

  val incrementalViewMinMaxSql: String =
    """WITH rows AS (
      | SELECT o_orderstatus,
      |  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 0.5
      |       ELSE o_totalprice END AS v
      | FROM orders
      | WHERE o_orderkey % 3 IN (0, 1) AND NOT (o_totalprice > 300000))
      |SELECT o_orderstatus, COUNT(*) AS cnt,
      | CAST(SUM(CAST(v AS DECIMAL(28,6))) AS VARCHAR) AS sum_totalprice,
      | MIN(v) AS min_totalprice, MAX(v) AS max_totalprice
      |FROM rows GROUP BY o_orderstatus""".stripMargin

  // ---------------------------------------------------- SCD scenarios

  /** customer with a 3-column projection used by all SCD scenarios:
    * key = c_custkey, data = (c_name, c_mktsegment). */
  private def cust(spark: SparkSession, dir: String): DataFrame =
    pq(spark, dir, "customer").select("c_custkey", "c_name", "c_mktsegment")

  private def load0(spark: SparkSession, dir: String): DataFrame =
    cust(spark, dir).filter(col("c_custkey") <= 1000)

  /** Second load: keys > 500; even keys get a changed segment, and (for
    * scd3) keys divisible by 3 get a changed name. */
  private def load1(spark: SparkSession, dir: String, changeNames: Boolean): DataFrame = {
    val base = cust(spark, dir).filter(col("c_custkey") > 500)
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 2 === 0, concat(col("c_mktsegment"), lit("_X")))
          .otherwise(col("c_mktsegment")))
    if (changeNames)
      base.withColumn("c_name",
        when(col("c_custkey") % 3 === 0, concat(col("c_name"), lit("_N")))
          .otherwise(col("c_name")))
    else base
  }

  private def scdProjection(cols: String*): Seq[Column] =
    cols.map {
      case c if c.startsWith("__") || c.startsWith("prev_ts") =>
        col(c).cast("string").as(c)
      case c => col(c)
    }

  def scd1Upsert(spark: SparkSession, dir: String): DataFrame = {
    val path = tmp("scd1")
    // initial load is fixture staging; the measured operator is the merge
    Staging.timed {
      Writers.scd1(spark, path, load0(spark, dir), Seq("c_custkey"),
        WriteOptions(now = Some(T0)))
    }
    Writers.scd1(spark, path, load1(spark, dir, changeNames = false), Seq("c_custkey"),
      WriteOptions(now = Some(T1)))
    ManagedTable(spark, path).read.select(scdProjection(
      "c_custkey", "c_name", "c_mktsegment", Meta.KeyHash, Meta.DataHash,
      Meta.ValidToTs, Meta.ValidFromTs): _*)
  }

  val scd1UpsertSql: String =
    s"""WITH final AS (
       | SELECT c_custkey, c_name,
       |  CASE WHEN c_custkey > 500 AND c_custkey % 2 = 0
       |       THEN c_mktsegment || '_X' ELSE c_mktsegment END AS seg,
       |  CASE WHEN c_custkey > 1000 THEN 'I'
       |       WHEN c_custkey > 500 AND c_custkey % 2 = 0 THEN 'U'
       |       ELSE 'K' END AS st
       | FROM customer)
       |SELECT c_custkey, c_name, seg AS c_mktsegment,
       | md5(concat_ws('|', coalesce(CAST(c_custkey AS VARCHAR), ''))) AS __metadata_key_hash__,
       | md5(concat_ws('|', coalesce(c_name, ''), coalesce(seg, ''))) AS __metadata_data_hash__,
       | CASE WHEN st = 'K' THEN '$T0' ELSE '$T1' END AS __metadata_valid_to_ts__,
       | CASE WHEN st = 'I' THEN '$T1' ELSE '$T0' END AS __metadata_valid_from_ts__
       |FROM final""".stripMargin

  /** Merge schema evolution (Delta autoMerge analogue): the second load
    * brings a brand-new `c_flag` column under `mergeSchema = true`, so the
    * table widens — untouched rows read NULL, every matched key updates
    * (the data hash now spans the new column), inserts carry it. Scale
    * shape: the widened commit only REWRITES what the merge scope touches;
    * old dirs are served under the union read schema (parquet missing
    * columns → NULL), never rewritten for the evolution itself. */
  def scd1Evolve(spark: SparkSession, dir: String): DataFrame = {
    val path = tmp("scd1e")
    Staging.timed {
      Writers.scd1(spark, path, load0(spark, dir), Seq("c_custkey"),
        WriteOptions(now = Some(T0)))
    }
    val evolved = load1(spark, dir, changeNames = false)
      .withColumn("c_flag", concat(lit("F"), (col("c_custkey") % 5).cast("string")))
    Writers.scd1(spark, path, evolved, Seq("c_custkey"),
      WriteOptions(now = Some(T1), mergeSchema = true))
    ManagedTable(spark, path).read.select(scdProjection(
      "c_custkey", "c_name", "c_mktsegment", "c_flag", Meta.KeyHash,
      Meta.DataHash, Meta.ValidToTs, Meta.ValidFromTs): _*)
  }

  val scd1EvolveSql: String =
    s"""WITH final AS (
       | SELECT c_custkey, c_name,
       |  CASE WHEN c_custkey > 500 AND c_custkey % 2 = 0
       |       THEN c_mktsegment || '_X' ELSE c_mktsegment END AS seg,
       |  CASE WHEN c_custkey > 500 THEN 'F' || CAST(c_custkey % 5 AS VARCHAR)
       |       ELSE NULL END AS flag,
       |  CASE WHEN c_custkey > 1000 THEN 'I'
       |       WHEN c_custkey > 500 THEN 'U'
       |       ELSE 'K' END AS st
       | FROM customer)
       |SELECT c_custkey, c_name, seg AS c_mktsegment, flag AS c_flag,
       | md5(concat_ws('|', coalesce(CAST(c_custkey AS VARCHAR), ''))) AS __metadata_key_hash__,
       | CASE WHEN st = 'K'
       |      THEN md5(concat_ws('|', coalesce(c_name, ''), coalesce(seg, '')))
       |      ELSE md5(concat_ws('|', coalesce(c_name, ''), coalesce(seg, ''), coalesce(flag, ''))) END
       |   AS __metadata_data_hash__,
       | CASE WHEN st = 'K' THEN '$T0' ELSE '$T1' END AS __metadata_valid_to_ts__,
       | CASE WHEN st = 'I' THEN '$T1' ELSE '$T0' END AS __metadata_valid_from_ts__
       |FROM final""".stripMargin

  /** Partition-scoped scd1 (the reference's `use_paritition_column_in_merge`
    * file-skipping intent, write.py:190-213, :472-486): the table is
    * physically partitioned by the stable c_nationkey and the second load
    * touches only nations 0-9, so the merge reads ONLY those partitions
    * (literal partition predicate → static pruning) and the commit is
    * prevDirs − touched + new via [[graft.table.ManagedTable.selectiveOverwrite]]
    * — untouched nations' files survive byte-identical. The scale path for
    * merging a daily batch into a 100 TB table. */
  def scd1Partitioned(spark: SparkSession, dir: String): DataFrame = {
    val path = tmp("scd1p")
    val part = Seq("c_nationkey")
    def opts(t: String) =
      WriteOptions(now = Some(t), usePartitionColumnInMerge = part)
    def custN(f: Column) = pq(spark, dir, "customer")
      .select("c_custkey", "c_nationkey", "c_name", "c_mktsegment").filter(f)
    val load1 = custN(col("c_custkey") > 500 && col("c_nationkey") < 10)
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 2 === 0, concat(col("c_mktsegment"), lit("_X")))
          .otherwise(col("c_mktsegment")))
    Staging.timed {
      Writers.scd1(spark, path, custN(col("c_custkey") <= 1000), Seq("c_custkey"),
        opts(T0), partitionBy = part)
    }
    Writers.scd1(spark, path, load1, Seq("c_custkey"), opts(T1), partitionBy = part)
    ManagedTable(spark, path).read.select(scdProjection(
      "c_custkey", "c_nationkey", "c_name", "c_mktsegment", Meta.KeyHash,
      Meta.DataHash, Meta.ValidToTs, Meta.ValidFromTs): _*)
  }

  val scd1PartitionedSql: String =
    s"""WITH final AS (
       | SELECT c_custkey, c_nationkey, c_name,
       |  CASE WHEN c_custkey > 500 AND c_custkey % 2 = 0 AND c_nationkey < 10
       |       THEN c_mktsegment || '_X' ELSE c_mktsegment END AS seg,
       |  CASE WHEN c_custkey > 1000 THEN 'I'
       |       WHEN c_custkey > 500 AND c_custkey % 2 = 0 AND c_nationkey < 10 THEN 'U'
       |       ELSE 'K' END AS st
       | FROM customer
       | WHERE c_custkey <= 1000 OR c_nationkey < 10)
       |SELECT c_custkey, c_nationkey, c_name, seg AS c_mktsegment,
       | md5(concat_ws('|', coalesce(CAST(c_custkey AS VARCHAR), ''))) AS __metadata_key_hash__,
       | md5(concat_ws('|', coalesce(CAST(c_nationkey AS VARCHAR), ''),
       |   coalesce(c_name, ''), coalesce(seg, ''))) AS __metadata_data_hash__,
       | CASE WHEN st = 'K' THEN '$T0' ELSE '$T1' END AS __metadata_valid_to_ts__,
       | CASE WHEN st = 'I' THEN '$T1' ELSE '$T0' END AS __metadata_valid_from_ts__
       |FROM final""".stripMargin

  /** File-scoped scd1 on an UNPARTITIONED table (round-6 top ask #2):
    * the table is range-clustered into 4 dirs with per-dir key stats
    * ([[graft.table.ManagedTable.clusterBy]]), and the second load is the
    * common bimodal incremental shape — low-range updates plus brand-new
    * high keys. The merge reads only the dirs whose stats may contain a
    * source key and commits the others by reference, byte-identical
    * (proven in FileScopedMergeSpec); this query gates the RESULT of
    * that path against the oracle. */
  def scd1FileScoped(spark: SparkSession, dir: String): DataFrame = {
    val path = tmp("scd1fs")
    val c = cust(spark, dir)
    val t = ManagedTable(spark, path)
    Staging.timed {
      Writers.scd1(spark, path, c, Seq("c_custkey"), WriteOptions(now = Some(T0)))
      t.clusterBy("c_custkey", 4)
    }
    val updates = c.filter(col("c_custkey") <= 150)
      .withColumn("c_mktsegment", concat(col("c_mktsegment"), lit("_X")))
    val inserts = c.filter(col("c_custkey") <= 50)
      .select((col("c_custkey") + 1000000).as("c_custkey"),
        concat(col("c_name"), lit("_new")).as("c_name"), col("c_mktsegment"))
    Writers.scd1(spark, path, updates.unionByName(inserts), Seq("c_custkey"),
      WriteOptions(now = Some(T1)))
    t.read.select(scdProjection(
      "c_custkey", "c_name", "c_mktsegment", Meta.ValidToTs, Meta.ValidFromTs): _*)
  }

  val scd1FileScopedSql: String =
    s"""SELECT c_custkey, c_name,
       | CASE WHEN c_custkey <= 150 THEN c_mktsegment || '_X'
       |      ELSE c_mktsegment END AS c_mktsegment,
       | CASE WHEN c_custkey <= 150 THEN '$T1' ELSE '$T0' END AS __metadata_valid_to_ts__,
       | '$T0' AS __metadata_valid_from_ts__
       |FROM customer
       |UNION ALL
       |SELECT c_custkey + 1000000, c_name || '_new', c_mktsegment, '$T1', '$T1'
       |FROM customer WHERE c_custkey <= 50""".stripMargin

  /** File-scoped scd1 keyed on a STRING column over a clusterByRange
    * layout — the uuid/natural-key shape (the numeric clusterBy cannot
    * lay these tables out). Self-checking like merge_maintenance: the
    * merge must carry untouched dirs or the query fails. */
  def scd1StringScoped(spark: SparkSession, dir: String): DataFrame = {
    val path = tmp("scd1ss")
    val c = cust(spark, dir).select("c_name", "c_custkey", "c_mktsegment")
    val t = ManagedTable(spark, path)
    Staging.timed {
      Writers.scd1(spark, path, c, Seq("c_name"), WriteOptions(now = Some(T0)))
      t.clusterByRange("c_name", 4)
    }
    val updates = c.filter(col("c_custkey") <= 100)
      .withColumn("c_mktsegment", concat(col("c_mktsegment"), lit("_S")))
    val inserts = c.filter(col("c_custkey") <= 30)
      .select(concat(col("c_name"), lit("_new")).as("c_name"),
        (col("c_custkey") + 4000000).as("c_custkey"), col("c_mktsegment"))
    Writers.scd1(spark, path, updates.unionByName(inserts), Seq("c_name"),
      WriteOptions(now = Some(T1)))
    require(t.lastCommit.get.operationMetrics.get("numCarriedDirs").exists(_.toInt >= 1),
      s"string-keyed merge did not file-scope: ${t.lastCommit.get.operationMetrics}")
    t.read.select(col("c_name"), col("c_custkey"), col("c_mktsegment"),
      col(Meta.ValidToTs).cast("string").as(Meta.ValidToTs))
  }

  val scd1StringScopedSql: String =
    s"""SELECT c_name, c_custkey,
       | CASE WHEN c_custkey <= 100 THEN c_mktsegment || '_S'
       |      ELSE c_mktsegment END AS c_mktsegment,
       | CASE WHEN c_custkey <= 100 THEN '$T1' ELSE '$T0' END AS __metadata_valid_to_ts__
       |FROM customer
       |UNION ALL
       |SELECT c_name || '_new', c_custkey + 4000000, c_mktsegment, '$T1'
       |FROM customer WHERE c_custkey <= 30""".stripMargin

  /** Continuous-maintenance lifecycle on an unpartitioned merge table:
    * init → range-cluster → file-scoped update merge → two insert-only
    * merges (each adds a tiny dir) → compactDirs folds the small dirs →
    * a final file-scoped merge over the now MIXED composition (carried
    * cluster subdirs + the compacted dir). The query REQUIRES the scale
    * paths to engage (carried-dir metrics + a real compaction), so a
    * silent fallback to full rewrites fails the run rather than
    * producing the right rows the wrong way; DuckDB recomputes the end
    * state from the base table alone. */
  def mergeMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val path = tmp("mmaint")
    val c = cust(spark, dir)
    val t = ManagedTable(spark, path)
    Staging.timed {
      Writers.scd1(spark, path, c, Seq("c_custkey"), WriteOptions(now = Some(T0)))
      t.clusterBy("c_custkey", 4)
    }
    def newKeys(offset: Int, seg: Column) = c.filter(col("c_custkey") <= 30)
      .select((col("c_custkey") + offset).as("c_custkey"), col("c_name"),
        seg.as("c_mktsegment"))
    // merge 1: low-range updates — must rewrite ONLY the matching buckets.
    // ≥1 carried dir works at every sf (at tiny sf the ≤100 key range can
    // span 3 of the 4 buckets); the strict ≥3-bucket evidence lives in
    // FileScopedMergeSpec on controlled data.
    Writers.scd1(spark, path,
      c.filter(col("c_custkey") <= 100)
        .withColumn("c_mktsegment", concat(col("c_mktsegment"), lit("_A"))),
      Seq("c_custkey"), WriteOptions(now = Some(T1)))
    require(t.lastCommit.get.operationMetrics.get("numCarriedDirs").exists(_.toInt >= 1),
      s"merge 1 did not file-scope: ${t.lastCommit.get.operationMetrics}")
    // merges 2+3: insert-only batches outside every range → tiny dirs
    Writers.scd1(spark, path, newKeys(2000000, col("c_mktsegment")),
      Seq("c_custkey"), WriteOptions(now = Some(T1)))
    Writers.scd1(spark, path, newKeys(3000000, col("c_mktsegment")),
      Seq("c_custkey"), WriteOptions(now = Some(T1)))
    // fold the tiny dirs; threshold = smallest cluster bucket's bytes so
    // the (bucket-sized) composition survives while insert dirs fold
    val hconf = spark.sparkContext.hadoopConfiguration
    def dirBytes(d: String): Long = {
      val p = new org.apache.hadoop.fs.Path(d)
      val fsys = p.getFileSystem(hconf)
      val it = fsys.listFiles(p, true)
      var n = 0L
      while (it.hasNext) {
        val st = it.next()
        if (!st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith(".")) n += st.getLen
      }
      n
    }
    val cut = t.lastCommit.get.dirs
      .filter(_.contains(ManagedTable.CLUSTER_COL)).map(dirBytes).min
    require(t.compactDirs(maxDirBytes = cut).isDefined,
      "compaction found nothing to fold — lifecycle not exercised")
    // merge 4 over the mixed composition: a middle range + the inserted
    // 2M keys (bimodal), still file-scoped
    Writers.scd1(spark, path,
      c.filter(col("c_custkey") > 700 && col("c_custkey") <= 800)
        .withColumn("c_mktsegment", concat(col("c_mktsegment"), lit("_B")))
        .unionByName(newKeys(2000000, concat(col("c_mktsegment"), lit("_C")))),
      Seq("c_custkey"), WriteOptions(now = Some(T2)))
    require(t.lastCommit.get.operationMetrics.get("numCarriedDirs").exists(_.toInt >= 1),
      s"merge 4 did not file-scope: ${t.lastCommit.get.operationMetrics}")
    t.read.select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
      col(Meta.ValidToTs).cast("string").as(Meta.ValidToTs))
  }

  val mergeMaintenanceSql: String =
    s"""SELECT c_custkey, c_name,
       | CASE WHEN c_custkey <= 100 THEN c_mktsegment || '_A'
       |      WHEN c_custkey > 700 AND c_custkey <= 800 THEN c_mktsegment || '_B'
       |      ELSE c_mktsegment END AS c_mktsegment,
       | CASE WHEN c_custkey <= 100 THEN '$T1'
       |      WHEN c_custkey > 700 AND c_custkey <= 800 THEN '$T2'
       |      ELSE '$T0' END AS __metadata_valid_to_ts__
       |FROM customer
       |UNION ALL
       |SELECT c_custkey + 2000000, c_name, c_mktsegment || '_C', '$T2'
       |FROM customer WHERE c_custkey <= 30
       |UNION ALL
       |SELECT c_custkey + 3000000, c_name, c_mktsegment, '$T1'
       |FROM customer WHERE c_custkey <= 30""".stripMargin

  def scd2Initial(spark: SparkSession, dir: String): DataFrame = {
    val path = tmp("scd2i")
    Writers.scd2(spark, path, load0(spark, dir), Seq("c_custkey"),
      WriteOptions(now = Some(T0)))
    ManagedTable(spark, path).read.select(scdProjection(
      "c_custkey", "c_name", "c_mktsegment", Meta.KeyHash, Meta.DataHash,
      Meta.ValidToTs, Meta.ValidFromTs, Meta.Active): _*)
  }

  val scd2InitialSql: String =
    s"""SELECT c_custkey, c_name, c_mktsegment,
       | md5(concat_ws('|', coalesce(CAST(c_custkey AS VARCHAR), ''))) AS __metadata_key_hash__,
       | md5(concat_ws('|', coalesce(c_name, ''), coalesce(c_mktsegment, ''))) AS __metadata_data_hash__,
       | '$HighTs' AS __metadata_valid_to_ts__,
       | '$T0' AS __metadata_valid_from_ts__,
       | 'Y' AS __metadata_active__
       |FROM customer WHERE c_custkey <= 1000""".stripMargin

  def scd2TwoLoads(spark: SparkSession, dir: String): DataFrame = {
    val path = tmp("scd2")
    Staging.timed {
      Writers.scd2(spark, path, load0(spark, dir), Seq("c_custkey"),
        WriteOptions(now = Some(T0)))
    }
    Writers.scd2(spark, path, load1(spark, dir, changeNames = false), Seq("c_custkey"),
      WriteOptions(now = Some(T1)))
    ManagedTable(spark, path).read.select(scdProjection(
      "c_custkey", "c_name", "c_mktsegment", Meta.KeyHash, Meta.DataHash,
      Meta.ValidToTs, Meta.ValidFromTs, Meta.Active): _*)
  }

  val scd2TwoLoadsSql: String =
    s"""WITH rows_out AS (
       | -- load-1 rows (original values); closed iff a new version arrived
       | SELECT c_custkey, c_name, c_mktsegment AS seg,
       |  CASE WHEN c_custkey > 500 AND c_custkey % 2 = 0 THEN '$T1' ELSE '$HighTs' END AS valid_to,
       |  '$T0' AS valid_from,
       |  CASE WHEN c_custkey > 500 AND c_custkey % 2 = 0 THEN 'N' ELSE 'Y' END AS active
       | FROM customer WHERE c_custkey <= 1000
       | UNION ALL
       | -- new versions for changed keys
       | SELECT c_custkey, c_name, c_mktsegment || '_X' AS seg,
       |  '$HighTs' AS valid_to, '$T1' AS valid_from, 'Y' AS active
       | FROM customer
       | WHERE c_custkey > 500 AND c_custkey <= 1000 AND c_custkey % 2 = 0
       | UNION ALL
       | -- brand-new keys from load 2
       | SELECT c_custkey, c_name,
       |  CASE WHEN c_custkey % 2 = 0 THEN c_mktsegment || '_X' ELSE c_mktsegment END AS seg,
       |  '$HighTs' AS valid_to, '$T1' AS valid_from, 'Y' AS active
       | FROM customer WHERE c_custkey > 1000)
       |SELECT c_custkey, c_name, seg AS c_mktsegment,
       | md5(concat_ws('|', coalesce(CAST(c_custkey AS VARCHAR), ''))) AS __metadata_key_hash__,
       | md5(concat_ws('|', coalesce(c_name, ''), coalesce(seg, ''))) AS __metadata_data_hash__,
       | valid_to AS __metadata_valid_to_ts__,
       | valid_from AS __metadata_valid_from_ts__,
       | active AS __metadata_active__
       |FROM rows_out""".stripMargin

  def scd3Shift(spark: SparkSession, dir: String): DataFrame = {
    val path = tmp("scd3")
    Staging.timed {
      Writers.scd3(spark, path, load0(spark, dir), Seq("c_custkey"), Seq("c_mktsegment"),
        WriteOptions(now = Some(T0)))
    }
    Writers.scd3(spark, path, load1(spark, dir, changeNames = true), Seq("c_custkey"),
      Seq("c_mktsegment"), WriteOptions(now = Some(T1)))
    ManagedTable(spark, path).read.select(scdProjection(
      "c_custkey", "c_name", "c_mktsegment", "prev_c_mktsegment", Meta.KeyHash,
      Meta.DataHash, Meta.ColumnKeyHash, Meta.ValidToTs, Meta.ValidFromTs): _*)
  }

  val scd3ShiftSql: String =
    s"""WITH f AS (
       | SELECT c_custkey,
       |  CASE WHEN c_custkey > 500 AND c_custkey % 3 = 0
       |       THEN c_name || '_N' ELSE c_name END AS new_name,
       |  CASE WHEN c_custkey > 500 AND c_custkey % 2 = 0
       |       THEN c_mktsegment || '_X' ELSE c_mktsegment END AS new_seg,
       |  c_mktsegment AS orig_seg
       | FROM customer)
       |SELECT c_custkey, new_name AS c_name, new_seg AS c_mktsegment,
       | CASE WHEN c_custkey > 500 AND c_custkey <= 1000 AND c_custkey % 2 = 0
       |      THEN orig_seg ELSE NULL END AS prev_c_mktsegment,
       | md5(concat_ws('|', coalesce(CAST(c_custkey AS VARCHAR), ''))) AS __metadata_key_hash__,
       | md5(concat_ws('|', coalesce(new_name, ''))) AS __metadata_data_hash__,
       | md5(concat_ws('|', coalesce(new_seg, ''))) AS __metadata_column_key_hash__,
       | CASE WHEN c_custkey > 1000 THEN '$T1'
       |      WHEN c_custkey > 500 AND (c_custkey % 2 = 0 OR c_custkey % 3 = 0) THEN '$T1'
       |      ELSE '$T0' END AS __metadata_valid_to_ts__,
       | CASE WHEN c_custkey > 1000 THEN '$T1' ELSE '$T0' END AS __metadata_valid_from_ts__
       |FROM f""".stripMargin

  // ------------------------------------------------- task / CDC / stream

  /** End-to-end declarative task: parquet→csv staging, csv input with a
    * filter feature, SQL-text execution, append write, re-read
    * (reference test_batch.py:43). */
  def taskE2eCsvAppend(spark: SparkSession, dir: String): DataFrame = {
    import graft.config.Config._
    import graft.task.SparkTask
    val srcDir = tmp("task_csv")
    pq(spark, dir, "region").select("r_regionkey", "r_name")
      .write.option("header", "true").csv(srcDir)
    val sink = tmp("task_csv_sink")
    val t = TaskConf("e2e_csv",
      inputs = Seq(InputConf("region_csv", srcDir, "csv",
        features = InputFeatures(filterExpression = Some("r_regionkey < 4")))),
      executionSql = Some("SELECT r_regionkey, r_name FROM region_csv"),
      outputs = Seq(OutputConf("out", sink, writeType = "append",
        options = Map("now" -> T0))))
    SparkTask.run(spark, t)
    ManagedTable(spark, sink).read
      .select(col("r_regionkey"), col("r_name"),
        col(Meta.ValidToTs).cast("string").as(Meta.ValidToTs))
  }

  val taskE2eCsvAppendSql: String =
    s"""SELECT r_regionkey, r_name, '$T0' AS __metadata_valid_to_ts__
       |FROM region WHERE r_regionkey < 4""".stripMargin

  /** JSON source end-to-end under the oracle gate (the path was
    * previously sbt-only): stage a documents slice as JSON lines, read it
    * back through the task layer's json input with a filter feature and a
    * SQL transform, and return the aggregate. Round-tripping through JSON
    * is identity on the data, so the oracle is the same aggregate off the
    * parquet view. */
  def jsonSourceAgg(spark: SparkSession, dir: String): DataFrame = {
    import graft.config.Config._
    import graft.task.SparkTask
    val srcDir = tmp("json_src")
    pq(spark, dir, "documents").select("doc_id", "lang", "source", "n_chars")
      .coalesce(2).write.json(srcDir)
    val sink = tmp("json_sink")
    val t = TaskConf("json_agg",
      inputs = Seq(InputConf("docs_json", srcDir, "json",
        features = InputFeatures(filterExpression = Some("n_chars >= 100")))),
      executionSql = Some(
        """SELECT lang, source, COUNT(*) AS n_docs, SUM(n_chars) AS sum_chars
          |FROM docs_json GROUP BY lang, source""".stripMargin),
      outputs = Seq(OutputConf("out", sink, writeType = "append",
        options = Map("now" -> T0))))
    SparkTask.run(spark, t)
    ManagedTable(spark, sink).read
      .select("lang", "source", "n_docs", "sum_chars")
  }

  val jsonSourceAggSql: String =
    """SELECT lang, source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE n_chars >= 100 GROUP BY lang, source""".stripMargin

  /** Attribute CDC across two incremental runs (test_batch.py:668): run 2
    * sees the grown source but ingests only rows past the persisted
    * watermark — final table has every key exactly once, stamped by the
    * run that loaded it. */
  def cdcTwoRuns(spark: SparkSession, dir: String): DataFrame = {
    import graft.config.Config._
    import graft.task.SparkTask
    val srcDir = tmp("cdc_src")
    val sink = tmp("cdc_sink")
    val state = tmp("cdc_state")
    val orders = pq(spark, dir, "orders").select("o_orderkey", "o_custkey")
    def conf(now: String) = TaskConf("cdc",
      inputs = Seq(InputConf("orders_in", srcDir, "parquet",
        features = InputFeatures(changeData = Some(ChangeData("o_orderkey", "integer"))))),
      executionSql = Some("SELECT * FROM orders_in"),
      outputs = Seq(OutputConf("out", sink, writeType = "append",
        options = Map("now" -> now))),
      stateLocation = Some(state))
    orders.filter(col("o_orderkey") <= 1000).write.mode("overwrite").parquet(srcDir)
    SparkTask.run(spark, conf(T0))
    orders.write.mode("overwrite").parquet(srcDir) // new rows arrive
    SparkTask.run(spark, conf(T1))
    ManagedTable(spark, sink).read
      .select(col("o_orderkey"), col("o_custkey"),
        col(Meta.ValidToTs).cast("string").as(Meta.ValidToTs))
  }

  val cdcTwoRunsSql: String =
    s"""SELECT o_orderkey, o_custkey,
       | CASE WHEN o_orderkey <= 1000 THEN '$T0' ELSE '$T1' END AS __metadata_valid_to_ts__
       |FROM orders""".stripMargin

  /** Managed-table STREAMING SOURCE (`format("graft-table")`,
    * [[graft.streaming.TableStreamSource]] — the Delta streaming-source
    * analogue): bronze is a managed table fed by appends; the stream
    * backfills the initial snapshot, then tails ONLY the dirs the later
    * append committed (version offsets, O(new data) per trigger), each
    * micro-batch merged into silver through the exactly-once txn guard.
    * The medallion bronze→silver chain at its smallest. */
  def streamTableSource(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val bronze = tmp("tstream_bronze")
    val silver = tmp("tstream_silver")
    val ckpt = tmp("tstream_ck")
    val c = pq(spark, dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    Staging.timed {
      ManagedTable(spark, bronze)
        .write(c.filter(col("c_custkey") <= 700), "APPEND", "replace")
    }
    def drain(): Unit = {
      val q = graft.streaming.StreamOps.streamTable(spark, bronze)
        .writeStream.foreachBatch { (b: DataFrame, id: Long) =>
          Writers.scd1(spark, silver, b, Seq("c_custkey"),
            WriteOptions(now = Some(T0)), txn = Some((s"graft-stream:$ckpt", id)))
          ()
        }.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      drainOrFail(q, "stream_table_source")
    }
    drain() // snapshot backfill
    ManagedTable(spark, bronze)
      .write(c.filter(col("c_custkey") > 700), "APPEND", "append")
    drain() // tail: exactly the appended dirs
    ManagedTable(spark, silver).read.select(
      col("c_custkey"), col("c_name"), col("c_mktsegment"),
      col(Meta.ValidToTs).cast("string").as(Meta.ValidToTs))
  }

  val streamTableSourceSql: String =
    s"""SELECT c_custkey, c_name, c_mktsegment,
       | '$T0' AS __metadata_valid_to_ts__
       |FROM customer""".stripMargin

  /** Managed-table STREAMING SINK (`writeStream.format("graft-table")`,
    * [[graft.streaming.TableStreamSink]]): the same bronze→silver chain
    * as [[streamTableSource]] but committed through the sink in scd1
    * mode — each micro-batch merges on its keys with the (appId,
    * batchId) exactly-once txn stamp, no foreachBatch lambda anywhere. */
  def streamTableSink(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val bronze = tmp("tsink_bronze")
    val silver = tmp("tsink_silver")
    val ckpt = tmp("tsink_ck")
    val c = pq(spark, dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    Staging.timed {
      ManagedTable(spark, bronze)
        .write(c.filter(col("c_custkey") <= 700), "APPEND", "replace")
    }
    def drain(): Unit = {
      val q = graft.streaming.StreamOps.streamTable(spark, bronze)
        .writeStream.format("graft-table")
        .option("path", silver)
        .option("writeType", "scd1").option("keys", "c_custkey")
        .option("now", T0)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      drainOrFail(q, "stream_table_sink")
    }
    drain() // snapshot backfill merged as batch 0
    ManagedTable(spark, bronze)
      .write(c.filter(col("c_custkey") > 700), "APPEND", "append")
    drain() // tail batch merged on keys
    ManagedTable(spark, silver).read.select(
      col("c_custkey"), col("c_name"), col("c_mktsegment"),
      col(Meta.ValidToTs).cast("string").as(Meta.ValidToTs))
  }

  val streamTableSinkSql: String =
    s"""SELECT c_custkey, c_name, c_mktsegment,
       | '$T0' AS __metadata_valid_to_ts__
       |FROM customer""".stripMargin

  /** STREAMING funnel ([[graft.streaming.StreamOps.streamingFunnel]]):
    * the greedy windowed funnel as per-user `flatMapGroupsWithState` —
    * transitions emit the moment the qualifying event arrives. The
    * events table splits into three TIME-CONTIGUOUS appends on a
    * managed table and each drains as its own micro-batch run against
    * the same checkpoint, so per-user state genuinely spans batch
    * boundaries (a user can view in batch 1 and click in batch 3);
    * completed users drop their state. Exactly-once appends under the
    * (appId, epoch) txn stamp. The oracle recomputes every per-user
    * transition time from the batch chain — batch-boundary invariance
    * under ordered input is the whole claim, and it is hash-checked
    * row for row, not just counted. */
  def streamFunnel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StreamOps
    implicit val sp: SparkSession = spark
    import spark.implicits._
    val D = graft.operators.EventAnalytics.MicrosPerDay
    val bronze = tmp("sfun_bronze")
    val silver = tmp("sfun_silver")
    val ckpt = tmp("sfun_ck")
    val appId = "stream_funnel"
    val raw = pq(spark, dir, "events")
    val ev = raw.withColumn("ts_us", eventMicros(raw))
      .select(col("user_id").cast("long").as("user_id"),
        col("event_type"), col("ts_us"))
    val bounds = ev.agg(min("ts_us"), max("ts_us")).head()
    val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
    val b1 = mn + (mx - mn) / 3
    val b2 = mn + 2 * ((mx - mn) / 3)
    val t = ManagedTable(spark, bronze)
    def drain(): Unit = {
      val stream = StreamOps.streamTable(spark, bronze)
        .select(col("user_id").as("userId"),
          col("event_type").as("eventType"), col("ts_us").as("tsUs"))
        .as[StreamOps.FunnelEvent]
      val q = StreamOps.streamingFunnel(stream,
          Seq("view", "click", "purchase"),
          conversionWindowMicros = Some(5 * D),
          maxStepGapMicros = Some(2 * D))
        .toDF()
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, epoch: Long) =>
          val replayed = ManagedTable(spark, silver)
            .lastTxnVersion(appId).exists(_ >= epoch)
          if (!replayed) {
            graft.write.Writers.append(spark, silver, batch,
              txn = Some((appId, epoch)))
            ()
          }
        }
        .start()
      drainOrFail(q, "stream_funnel")
    }
    Staging.timed {
      t.write(ev.filter(col("ts_us") < b1), "APPEND", "append")
    }
    drain()
    t.write(ev.filter(col("ts_us") >= b1 && col("ts_us") < b2),
      "APPEND", "append")
    drain()
    t.write(ev.filter(col("ts_us") >= b2), "APPEND", "append")
    drain()
    ManagedTable(spark, silver).read
      .select("user_id", "step", "event_type", "ts_us")
  }

  /** DuckDB mirror of [[streamFunnel]] — every per-user transition
    * time from the equivalent batch greedy chain. */
  val streamFunnelSql: String =
    """WITH e AS (SELECT user_id AS u, event_type AS t, epoch_us(ts) AS ts
      |           FROM events),
      |s1 AS (SELECT u, MIN(ts) AS tp, MIN(ts) AS t1 FROM e
      |       WHERE t = 'view' GROUP BY u),
      |s2 AS (SELECT e.u, MIN(e.ts) AS tp, MIN(s1.t1) AS t1
      |       FROM e JOIN s1 USING (u)
      |       WHERE t = 'click' AND e.ts > s1.tp
      |         AND e.ts <= s1.tp + 172800000000
      |         AND e.ts <= s1.t1 + 432000000000
      |       GROUP BY e.u),
      |s3 AS (SELECT e.u, MIN(e.ts) AS tp, MIN(s2.t1) AS t1
      |       FROM e JOIN s2 USING (u)
      |       WHERE t = 'purchase' AND e.ts > s2.tp
      |         AND e.ts <= s2.tp + 172800000000
      |         AND e.ts <= s2.t1 + 432000000000
      |       GROUP BY e.u)
      |SELECT u AS user_id, 1 AS step, 'view' AS event_type, tp AS ts_us FROM s1
      |UNION ALL SELECT u, 2, 'click', tp FROM s2
      |UNION ALL SELECT u, 3, 'purchase', tp FROM s3""".stripMargin

  /** OUT-OF-ORDER streaming funnel
    * ([[graft.streaming.StreamOps.streamingFunnelOutOfOrder]]): the
    * event stream is split into three time bands, but every band's
    * last-quarter events for `user_id % 7 == 3` are HELD BACK one
    * micro-batch — planted cross-batch stragglers that violate the
    * ordered operator's contract. The watermark-buffered form keeps
    * each user's pending events in state, folds them in timestamp
    * order as the watermark (delay = half a band, comfortably covering
    * the quarter-band lateness) passes, and re-fires parked groups via
    * event-time timeouts; a final flush event pushes the watermark
    * past everything. The oracle is the SAME batch greedy chain as
    * `stream_funnel` — hash-equality proves arrival order and batch
    * boundaries changed nothing. */
  def streamFunnelOoo(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StreamOps
    implicit val sp: SparkSession = spark
    import spark.implicits._
    val D = graft.operators.EventAnalytics.MicrosPerDay
    val bronze = tmp("sfoo_bronze")
    val silver = tmp("sfoo_silver")
    val ckpt = tmp("sfoo_ck")
    val appId = "stream_funnel_ooo"
    val raw = pq(spark, dir, "events")
    val ev = raw.withColumn("ts_us", eventMicros(raw))
      .select(col("user_id").cast("long").as("user_id"),
        col("event_type"), col("ts_us"))
    val bounds = ev.agg(min("ts_us"), max("ts_us")).head()
    val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
    val band = (mx - mn) / 3
    val q = band / 4
    val (b1, b2) = (mn + band, mn + 2 * band)
    val late = col("user_id") % 7 === 3
    val h1 = col("ts_us") >= b1 - q && col("ts_us") < b1 && late
    val h2 = col("ts_us") >= b2 - q && col("ts_us") < b2 && late
    val t = ManagedTable(spark, bronze)
    def drain(): Unit = {
      val stream = StreamOps.streamTable(spark, bronze)
        .select(col("user_id").as("userId"),
          col("event_type").as("eventType"), col("ts_us").as("tsUs"))
        .as[StreamOps.FunnelEvent]
      val sq = StreamOps.streamingFunnelOutOfOrder(stream,
          Seq("view", "click", "purchase"),
          watermarkDelay = s"${band / 2} microseconds",
          conversionWindowMicros = Some(5 * D),
          maxStepGapMicros = Some(2 * D))
        .toDF()
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, epoch: Long) =>
          val replayed = ManagedTable(spark, silver)
            .lastTxnVersion(appId).exists(_ >= epoch)
          if (!replayed) {
            graft.write.Writers.append(spark, silver, batch,
              txn = Some((appId, epoch)))
            ()
          }
        }
        .start()
      drainOrFail(sq, "stream_funnel_ooo")
    }
    Staging.timed {
      t.write(ev.filter(col("ts_us") < b1 && !h1), "APPEND", "append")
    }
    drain()
    t.write(ev.filter((col("ts_us") >= b1 && col("ts_us") < b2 && !h2) || h1),
      "APPEND", "append")
    drain()
    t.write(ev.filter(col("ts_us") >= b2 || h2), "APPEND", "append")
    drain()
    // flush: one far-future non-step event advances the watermark past
    // every pending buffer; parked groups re-fire on their timeouts
    t.write(ev.filter(lit(false)).unionByName(
        Seq((999999999L, "zzflush", mx + 100 * band))
          .toDF("user_id", "event_type", "ts_us")),
      "APPEND", "append")
    drain()
    ManagedTable(spark, silver).read
      .select("user_id", "step", "event_type", "ts_us")
  }

  /** DuckDB mirror of [[streamFunnelOoo]] — identical to
    * [[streamFunnelSql]]: the batch chain over ALL events, which the
    * out-of-order stream must reproduce exactly. */
  val streamFunnelOooSql: String = streamFunnelSql

  /** Streaming corpus CURATION end to end: documents stream out of a
    * managed table (two commits → snapshot backfill + a tail batch) and
    * each micro-batch runs the curation chain — whitespace/control
    * normalization, a token floor, and the corpus-LM rarity gate
    * against a FROZEN unigram model (the stream-static pattern; the
    * per-batch aggregates run inside foreachBatch) — with survivors
    * appended under the (appId, epoch) exactly-once txn stamp. Batch
    * boundaries cannot change the answer: every gate is per-document
    * and the LM is frozen, so the streamed result equals the batch
    * recompute the oracle runs over the whole corpus. */
  def streamCurate(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.TextOps
    import org.apache.spark.sql.streaming.Trigger
    val bronze = tmp("curate_bronze")
    val silver = tmp("curate_silver")
    val ckpt = tmp("curate_ck")
    val appId = "stream_curate"
    val docs = pq(spark, dir, "documents")
    val lm = Staging.timed {
      ManagedTable(spark, bronze)
        .write(docs.filter(col("doc_id") % 2 === 0), "APPEND", "replace")
      ManagedTable(spark, bronze)
        .write(docs.filter(col("doc_id") % 2 =!= 0), "APPEND", "append")
      // the standing model: built once, frozen for every micro-batch
      TextOps.unigramModel(docs).localCheckpoint()
    }
    val q = graft.streaming.StreamOps.streamTable(spark, bronze)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val replayed = ManagedTable(spark, silver)
          .lastTxnVersion(appId).exists(_ >= epoch)
        if (!replayed) {
          val keep = TextOps.normalizeText(batch)
            .join(TextOps.rareTokenScoreWith(batch, lm), "doc_id")
            .filter(col("passes_rarity") === 1 && col("n_tokens") >= 5)
            .select("doc_id", "clean_text", "n_tokens", "n_rare_tokens")
          graft.write.Writers.append(spark, silver, keep,
            txn = Some((appId, epoch)))
          ()
        }
      }
      .start()
    drainOrFail(q, "stream_curate")
    ManagedTable(spark, silver).read
      .select("doc_id", "clean_text", "n_tokens", "n_rare_tokens")
  }

  val streamCurateSql: String =
    """WITH tok AS (SELECT doc_id,
      |  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      | FROM documents),
      |dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |       FROM tok GROUP BY doc_id, tok),
      |lm AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS freq FROM dt GROUP BY tok),
      |agg AS (SELECT dt.doc_id,
      |         CAST(sum(dt.tf) AS BIGINT) AS n_tokens,
      |         CAST(sum(CASE WHEN lm.freq < 3 THEN dt.tf ELSE 0 END) AS BIGINT)
      |           AS n_rare_tokens
      |        FROM dt JOIN lm USING (tok) GROUP BY dt.doc_id),
      |norm AS (SELECT doc_id,
      |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |    regexp_replace(regexp_replace(text,
      |      '\t', ' ', 'g'),
      |      '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
      |    '  +', ' ', 'g'),
      |    ' *\n *', '\n', 'g'),
      |    '\n\n\n+', '\n\n', 'g'),
      |    '^[ \n]+|[ \n]+$', '', 'g') AS clean_text
      | FROM documents)
      |SELECT a.doc_id, n.clean_text, a.n_tokens, a.n_rare_tokens
      |FROM agg a JOIN norm n ON a.doc_id = n.doc_id
      |WHERE a.n_tokens >= 5 AND a.n_rare_tokens * 5 <= a.n_tokens""".stripMargin

  /** STREAMING exact dedup: documents arrive in two micro-batches (even
    * ids, then odd ids) and each batch keeps only content never seen
    * before — batch-locally the min-id row per text hash, then an
    * anti-join against the silver table's standing hashes, appended
    * exactly-once. The survivor rule is fully deterministic:
    * (arrival batch, doc_id) per hash — no reliance on which rows a
    * stateful operator happens to see first inside a batch. At 100 TB
    * the silver side of the anti-join prunes to the single hash column
    * through the managed-table read path (a standing hash INDEX in
    * table form); the per-batch cost is the batch's hash pass plus one
    * hash-keyed anti-join, never a corpus rescan. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.expressions.Window
    val bronze = tmp("sdedup_bronze")
    val silver = tmp("sdedup_silver")
    val ckpt = tmp("sdedup_ck")
    val appId = "stream_dedup"
    val docs = pq(spark, dir, "documents")
    Staging.timed {
      ManagedTable(spark, bronze)
        .write(docs.filter(col("doc_id") % 2 === 0), "APPEND", "replace")
    }
    def drain(): Unit = {
      val q = graft.streaming.StreamOps.streamTable(spark, bronze)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, epoch: Long) =>
          val t = ManagedTable(spark, silver)
          val replayed = t.lastTxnVersion(appId).exists(_ >= epoch)
          if (!replayed) {
            val hashed = batch.withColumn("h", md5(col("text").cast("binary")))
            val w = Window.partitionBy("h").orderBy("doc_id")
            val local = hashed.withColumn("__rn__", row_number().over(w))
              .filter(col("__rn__") === 1).drop("__rn__")
            val fresh =
              if (!t.exists) local
              else local.join(t.read.select(col("h")), Seq("h"), "left_anti")
            graft.write.Writers.append(spark, silver,
              fresh.select("doc_id", "lang", "n_chars", "h"),
              txn = Some((appId, epoch)))
            ()
          }
        }
        .start()
      drainOrFail(q, "stream_dedup")
    }
    drain() // even ids: batch 0
    // the corpus has no exact dups at small SFs, so the second batch
    // plants cross-batch copies (every 50th doc's text under a new id)
    // — the gate is vacuous unless the anti-join provably drops them
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    require(maxId < 1000000L,
      "planted-id offset 1000000 collides with natural doc_id range — " +
        "raise it in BOTH the query and its oracle SQL")
    val planted = docs.filter(col("doc_id") % 50 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    ManagedTable(spark, bronze)
      .write(docs.filter(col("doc_id") % 2 =!= 0).unionByName(planted),
        "APPEND", "append")
    drain() // odd ids + planted copies: deduped against batch 0's survivors
    ManagedTable(spark, silver).read.select("doc_id", "lang", "n_chars")
  }

  val streamDedupSql: String =
    """WITH corpus AS (
      | SELECT doc_id, lang, n_chars, text, doc_id % 2 AS batch FROM documents
      | UNION ALL
      | SELECT doc_id + 1000000, lang, n_chars, text, 1 AS batch
      | FROM documents WHERE doc_id % 50 = 0),
      |r AS (SELECT doc_id, lang, n_chars,
      |  row_number() OVER (PARTITION BY md5(text)
      |                     ORDER BY batch, doc_id) AS rn
      | FROM corpus)
      |SELECT doc_id, lang, n_chars FROM r WHERE rn = 1""".stripMargin

  /**
   * STREAMING NEAR-dup curation ([[graft.llm.Dedup.dedupNewBatch]] per
   * micro-batch): each arriving batch keeps only docs that are near-dup
   * neither of the STANDING silver corpus (via its incrementally-
   * maintained [[graft.llm.Dedup.buildNearDupIndex]] table — appended
   * per batch, never rebuilt) nor of a smaller-id doc in the same batch
   * — the streaming form of the daily-ingest dedup action, completing
   * the family next to streaming EXACT dedup (stream_dedup). Both the
   * silver append and the index append are exactly-once per table
   * (per-table txn high-water); index rows carry their ingest epoch and
   * the cross-check reads `_ingest_epoch < epoch`, so a crash replayed
   * between the two appends can never treat a batch as its own corpus.
   * Batch 2 plants exact copies of batch-1 docs under new ids — each
   * copy has jaccard 1 with its original, whose own survivor (itself,
   * or whatever displaced it at ≥ threshold) matches the copy equally,
   * so every plant MUST drop (in-query gate); the oracle replays the
   * per-batch keep rule with exact Jaccard in DuckDB, leaning on the
   * spec-pinned LSH full recall at threshold 0.8.
   */
  def streamNearDup(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.Dedup
    import org.apache.spark.sql.streaming.Trigger
    val bronze = tmp("sndup_bronze")
    val silver = tmp("sndup_silver")
    val idxPath = tmp("sndup_idx")
    val ckpt = tmp("sndup_ck")
    val appId = "stream_neardup"
    val docs = pq(spark, dir, "documents")
    Staging.timed {
      ManagedTable(spark, bronze)
        .write(docs.filter(col("doc_id") % 2 === 0), "APPEND", "replace")
    }
    def drain(): Unit = {
      val q = graft.streaming.StreamOps.streamTable(spark, bronze)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, epoch: Long) =>
          val sil = ManagedTable(spark, silver)
          val idx = ManagedTable(spark, idxPath)
          val survivors = (if (!idx.exists) Dedup.dedupNear(batch)
            else Dedup.dedupNewBatch(batch,
              idx.read.filter(col("_ingest_epoch") < epoch)
                .select("doc_id", "signature", "sh")))
            .localCheckpoint() // two appends below read it once
          if (!idx.lastTxnVersion(appId).exists(_ >= epoch)) {
            Writers.append(spark, idxPath,
              Dedup.buildNearDupIndex(survivors)
                .withColumn("_ingest_epoch", lit(epoch)),
              txn = Some((appId, epoch)))
            ()
          }
          if (!sil.lastTxnVersion(appId).exists(_ >= epoch)) {
            Writers.append(spark, silver,
              survivors.select("doc_id", "lang", "n_chars"),
              txn = Some((appId, epoch)))
            ()
          }
        }
        .start()
      drainOrFail(q, "stream_neardup")
    }
    drain() // even ids: batch 0
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    require(maxId < 1000000L,
      "planted-id offset 1000000 collides with natural doc_id range — " +
        "raise it in BOTH the query and its oracle SQL")
    val planted = docs.filter(col("doc_id") % 50 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    ManagedTable(spark, bronze)
      .write(docs.filter(col("doc_id") % 2 =!= 0).unionByName(planted),
        "APPEND", "append")
    drain() // odd ids + planted copies
    val sil = ManagedTable(spark, silver).read.localCheckpoint()
    require(sil.filter(col("doc_id") >= 1000000L).count() == 0,
      "stream_neardup: a planted near-dup copy survived — the standing " +
        "index or the batch-internal rule lost it")
    // the index is the silver corpus, exactly (consistency invariant)
    require(sameRows(sil.select("doc_id"),
        ManagedTable(spark, idxPath).read.select("doc_id")),
      "stream_neardup: index and silver diverged")
    sil.select("doc_id", "lang", "n_chars")
  }

  val streamNearDupSql: String =
    """WITH base AS (
      | SELECT doc_id, lang, n_chars, text, 0 AS b FROM documents
      | WHERE doc_id % 2 = 0
      | UNION ALL
      | SELECT doc_id, lang, n_chars, text, 1 FROM documents
      | WHERE doc_id % 2 = 1
      | UNION ALL
      | SELECT doc_id + 1000000, lang, n_chars, text, 1 FROM documents
      | WHERE doc_id % 50 = 0),
      |sh AS (SELECT doc_id, b, lang, n_chars,
      |  list_distinct([g[i] || ' ' || g[i+1] || ' ' || g[i+2]
      |                 for i in range(1, len(g)-1)]) AS sh
      | FROM (SELECT doc_id, b, lang, n_chars,
      |        regexp_extract_all(lower(text), '[a-z0-9]+') AS g FROM base)),
      |d0 AS (SELECT DISTINCT y.doc_id FROM sh x JOIN sh y
      | ON x.b = 0 AND y.b = 0 AND x.doc_id < y.doc_id
      | AND len(x.sh) > 0 AND len(y.sh) > 0
      | AND len(list_intersect(x.sh, y.sh))::DOUBLE /
      |     len(list_distinct(list_concat(x.sh, y.sh))) >= 0.8),
      |k0 AS (SELECT * FROM sh WHERE b = 0
      | AND doc_id NOT IN (SELECT doc_id FROM d0)),
      |d1x AS (SELECT DISTINCT n.doc_id FROM sh n JOIN k0 o
      | ON n.b = 1 AND len(n.sh) > 0 AND len(o.sh) > 0
      | AND len(list_intersect(n.sh, o.sh))::DOUBLE /
      |     len(list_distinct(list_concat(n.sh, o.sh))) >= 0.8),
      |d1i AS (SELECT DISTINCT y.doc_id FROM sh x JOIN sh y
      | ON x.b = 1 AND y.b = 1 AND x.doc_id < y.doc_id
      | AND len(x.sh) > 0 AND len(y.sh) > 0
      | AND len(list_intersect(x.sh, y.sh))::DOUBLE /
      |     len(list_distinct(list_concat(x.sh, y.sh))) >= 0.8),
      |k1 AS (SELECT * FROM sh WHERE b = 1
      | AND doc_id NOT IN (SELECT doc_id FROM d1x)
      | AND doc_id NOT IN (SELECT doc_id FROM d1i))
      |SELECT doc_id, lang, n_chars FROM k0
      |UNION ALL
      |SELECT doc_id, lang, n_chars FROM k1""".stripMargin

  /** Structured Streaming input with Trigger.AvailableNow, foreachBatch
    * re-entering the batch append writer (test_stream.py:31) — result
    * equals the batch equivalent. */
  def streamAppend(spark: SparkSession, dir: String): DataFrame = {
    import graft.config.Config._
    import graft.task.SparkTask
    val srcDir = tmp("stream_src")
    val sink = tmp("stream_sink")
    val state = tmp("stream_state")
    pq(spark, dir, "nation").select("n_nationkey", "n_name")
      .write.parquet(srcDir)
    val t = TaskConf("stream",
      inputs = Seq(InputConf("nation_in", srcDir, "parquet",
        sourceExtractType = "stream",
        schemaDdl = Some("n_nationkey INT, n_name STRING"))),
      executionSql = Some("SELECT * FROM nation_in"),
      outputs = Seq(OutputConf("out", sink, writeType = "append",
        options = Map("now" -> T0))),
      refreshPolicy = RefreshPolicy(refreshType = "stream"),
      stateLocation = Some(state))
    SparkTask.run(spark, t)
    ManagedTable(spark, sink).read
      .select(col("n_nationkey"), col("n_name"),
        col(Meta.ValidToTs).cast("string").as(Meta.ValidToTs))
  }

  val streamAppendSql: String =
    s"""SELECT n_nationkey, n_name, '$T0' AS __metadata_valid_to_ts__
       |FROM nation""".stripMargin

  /**
   * Watermarked stream-stream interval join
   * ([[graft.streaming.StreamOps.intervalJoin]]): orders and their
   * lineitems shipped within 90 days, both sides read as FILE STREAMS and
   * joined with event-time bounds (the state-evictable shape), drained
   * with AvailableNow into parquet, then aggregated per order. An inner
   * interval join emits matches eagerly, so with finite input the result
   * equals the batch join — which is exactly what the DuckDB oracle
   * recomputes. Keys are restricted to o_orderkey % 100 = 0 to keep the
   * one-shot join state proportional to a 1% key slice at any SF.
   */
  def streamJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamOps
    val out = tmp("ssjoin_out")
    // file streams source DIRECTORIES: stage the 1% key slice of each
    // table (watermarks demand TIMESTAMP, not NTZ; session tz is UTC so
    // the cast preserves the wall-clock value both engines compare)
    val oDir = tmp("ssjoin_orders")
    val lDir = tmp("ssjoin_items")
    // coalesce the staged slices: the 1% filter leaves ~1-2k rows, and 32
    // shuffle-partition files would cost a listing + task per tiny file in
    // every micro-batch — pure harness overhead, not operator work
    Staging.timed {
      pq(spark, dir, "orders").filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey").as("okey"),
          col("o_orderdate").cast("timestamp").as("order_ts"))
        .coalesce(2).write.parquet(oDir)
      pq(spark, dir, "lineitem").filter(col("l_orderkey") % 100 === 0)
        .select(col("l_orderkey").as("okey"),
          col("l_shipdate").cast("timestamp").as("ship_ts"))
        .coalesce(2).write.parquet(lDir)
    }
    val orders = spark.readStream
      .schema("okey BIGINT, order_ts TIMESTAMP").parquet(oDir)
    val items = spark.readStream
      .schema("okey BIGINT, ship_ts TIMESTAMP").parquet(lDir)
    val joined = StreamOps.intervalJoin(orders, items, "okey",
      "order_ts", "ship_ts", watermark = "1 day", within = "90 days")
    // a stream-stream join commits FOUR state stores per shuffle
    // partition per micro-batch; on this 1% key slice 32 partitions are
    // pure store overhead, so the lifecycle runs at 8 (values identical
    // under any partitioning; a full-corpus stream would keep 32+)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = joined.writeStream.format("parquet")
        .outputMode("append").option("path", out)
        .option("checkpointLocation", tmp("ssjoin_ckpt"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drainOrFail(q, "stream_join")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    spark.read.parquet(out)
      .groupBy("okey")
      .agg(count(lit(1)).as("n_items"),
        min(col("ship_ts")).cast("string").as("first_ship"),
        max(col("ship_ts")).cast("string").as("last_ship"))
  }

  val streamJoinSql: String =
    """SELECT o_orderkey AS okey, count(*) AS n_items,
      | CAST(min(l_shipdate) AS VARCHAR) AS first_ship,
      | CAST(max(l_shipdate) AS VARCHAR) AS last_ship
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      | AND l_shipdate >= o_orderdate
      | AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
      |WHERE o_orderkey % 100 = 0
      |GROUP BY o_orderkey""".stripMargin

  /** Tumbling event-time windows over the events table (batch form of
    * StreamOps.windowedCounts — identical grouping semantics). */
  def windowedCounts(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = pq(spark, dir, "events")
    ev.withColumn("ts_us", eventMicros(ev))
      .withColumn("bucket_us", expr("ts_us - (ts_us % 60000000)")) // 1-min tumble
      .groupBy("user_id", "bucket_us")
      .agg(count(lit(1)).as("n_events"))
  }

  val windowedCountsSql: String =
    """SELECT user_id, epoch_us(ts) - (epoch_us(ts) % 60000000) AS bucket_us,
      | COUNT(*) AS n_events
      |FROM events GROUP BY 1, 2""".stripMargin

  /** STREAMING windowed quantiles
    * ([[graft.streaming.StreamOps.windowedQuantiles]]): daily GK
    * summaries of event values per type, aggregated under a watermark
    * with the summary as the state-store buffer. Stream estimates are
    * gated DISTRIBUTED against the batch histogram (every estimate
    * within eps·n ranks of its window's exact, one agg + one `head`),
    * and the deterministic OUTPUT is the exact rank-selected quantile
    * per comfortably-closed window — windows at least a full day
    * older than the last event, so the oracle never has to re-derive
    * Spark's exact watermark-emission boundary. */
  def streamQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.streaming.Trigger
    val probs = Seq(0.25, 0.5, 0.9)
    val eps = 0.05
    val dayUs = 86400000000L
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev0 = pq(spark, dir, "events")
    val ev = ev0.withColumn("ts_us", eventMicros(ev0))
      .select(col("event_type"), col("ts_us"), col("value"))
    val src = tmp("squant_src")
    ev.select(col("event_type"), timestamp_micros(col("ts_us")).as("ts"),
      col("value")).write.parquet(src)
    val out = tmp("squant_out")
    val stream = spark.readStream
      .schema("event_type STRING, ts TIMESTAMP, value DOUBLE").parquet(src)
    val q = StreamOps.windowedQuantiles(stream, "ts", "event_type", "value",
      "24 hours", "10 seconds", probs, eps)
      .writeStream.format("parquet").outputMode("append")
      .option("path", out)
      .option("checkpointLocation", tmp("squant_ck"))
      .trigger(Trigger.AvailableNow()).start()
    drainOrFail(q, "stream_quantiles")

    val maxUs = ev.agg(max(col("ts_us"))).head().getLong(0)
    // "comfortably closed": a full DAY older than (last event − the 10s
    // watermark) — strictly inside anything append mode could withhold
    def closed(bucket: Column) =
      bucket + lit(2 * dayUs) <= lit(maxUs) - lit(10000000L)
    val est = spark.read.parquet(out)
      .withColumn("bucket_us", unix_micros(col("window_start")))
      .filter(closed(col("bucket_us")))
      .select("bucket_us", "event_type", "prob", "value")
    val hist = ev
      .withColumn("bucket_us", col("ts_us") - col("ts_us") % dayUs)
      .filter(closed(col("bucket_us")))
      .groupBy("bucket_us", "event_type", "value")
      .agg(count(lit(1)).as("c"))
    // distributed gate: every emitted estimate within eps·n of exact
    val gate = est.join(hist.withColumnRenamed("value", "v"),
        Seq("bucket_us", "event_type"))
      .groupBy("bucket_us", "event_type", "prob", "value")
      .agg(sum(when(col("v") < col("value"), col("c")).otherwise(0L)).as("below"),
        sum(when(col("v") <= col("value"), col("c")).otherwise(0L)).as("atOrBelow"),
        sum(col("c")).as("n"))
      .withColumn("target", ceil(col("prob") * col("n")).cast("long"))
      .withColumn("err", greatest(
        col("below") + 1 - col("target"), col("target") - col("atOrBelow"), lit(0L)))
      .agg(max(col("err") - floor(lit(eps) * col("n")).cast("long")).as("worst"),
        count(lit(1)).as("n_est"))
      .head()
    require(gate.getLong(1) == probs.size.toLong *
        hist.select("bucket_us", "event_type").distinct().count(),
      "stream_quantiles: the stream withheld a comfortably-closed window")
    // max over zero estimates is NULL — nothing closed, nothing to gate
    require(gate.isNullAt(0) || gate.getLong(0) <= 0L,
      s"stream_quantiles: a GK estimate broke the eps·n guarantee by ${gate.get(0)}")
    // deterministic output: exact rank-selected quantiles per group
    val n = hist.groupBy("bucket_us", "event_type").agg(sum(col("c")).as("n"))
    val w = Window.partitionBy("bucket_us", "event_type").orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.withColumn("cum", sum(col("c")).over(w))
      .join(n, Seq("bucket_us", "event_type"))
      .select(col("bucket_us"), col("event_type"), col("cum"), col("c"),
        col("n"), col("value"),
        explode(array(probs.map(lit): _*)).as("prob"))
      .filter(col("cum") >= ceil(col("prob") * col("n")) &&
        col("cum") - col("c") < ceil(col("prob") * col("n")))
      .select(col("bucket_us"), col("event_type"), col("prob"), col("value"))
  }

  val streamQuantilesSql: String =
    """WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us, value FROM events),
      |mx AS (SELECT MAX(ts_us) AS max_us FROM e),
      |w AS (SELECT event_type, ts_us - ts_us % 86400000000 AS bucket_us, value
      |      FROM e),
      |closed AS (SELECT w.* FROM w, mx
      |           WHERE bucket_us + 2 * 86400000000 <= max_us - 10000000),
      |h AS (SELECT bucket_us, event_type, value AS v, COUNT(*) AS c
      |      FROM closed GROUP BY 1, 2, 3),
      |n AS (SELECT bucket_us, event_type, CAST(SUM(c) AS BIGINT) AS n
      |      FROM h GROUP BY 1, 2),
      |cum AS (SELECT bucket_us, event_type, v, c,
      |         SUM(c) OVER (PARTITION BY bucket_us, event_type ORDER BY v) AS cum
      |        FROM h),
      |p AS (SELECT CAST(UNNEST([0.25, 0.5, 0.9]) AS DOUBLE) AS prob)
      |SELECT c.bucket_us, c.event_type, p.prob, c.v AS value
      |FROM cum c JOIN n USING (bucket_us, event_type), p
      |WHERE c.cum >= CEIL(p.prob * n.n) AND c.cum - c.c < CEIL(p.prob * n.n)""".stripMargin

  /** STREAMING windowed heavy hitters
    * ([[graft.streaming.StreamOps.windowedHeavyHitters]]): per-day
    * top-3 event types per user segment with the mergeable SpaceSaving
    * summary as the state-store aggregation buffer — state per
    * (window, key) capped at `capacity` items however many distinct
    * items flow through, windows retired by the watermark. Run in the
    * EXACT regime (capacity 16 ≥ the event-type taxonomy), gated
    * in-query: every emitted row must carry zero error and every
    * comfortably-closed (window, segment) must have been emitted. The
    * oracle recomputes the top-3 with the same deterministic
    * (count desc, item asc) tie order. */
  def streamHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.streaming.Trigger
    val dayUs = 86400000000L
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev0 = pq(spark, dir, "events")
    val ev = ev0.withColumn("ts_us", eventMicros(ev0))
      .select((col("user_id") % 4).cast("string").as("segment"),
        col("ts_us"), col("event_type"))
    val src = tmp("shh_src")
    ev.select(col("segment"), timestamp_micros(col("ts_us")).as("ts"),
      col("event_type")).write.parquet(src)
    val out = tmp("shh_out")
    val stream = spark.readStream
      .schema("segment STRING, ts TIMESTAMP, event_type STRING").parquet(src)
    val q = StreamOps.windowedHeavyHitters(stream, "ts", "segment",
      "event_type", "24 hours", "10 seconds", capacity = 16, k = 3)
      .writeStream.format("parquet").outputMode("append")
      .option("path", out)
      .option("checkpointLocation", tmp("shh_ck"))
      .trigger(Trigger.AvailableNow()).start()
    drainOrFail(q, "stream_heavy_hitters")
    val maxUs = ev.agg(max(col("ts_us"))).head().getLong(0)
    def closed(bucket: Column) =
      bucket + lit(2 * dayUs) <= lit(maxUs) - lit(10000000L)
    val est = spark.read.parquet(out)
      .withColumn("bucket_us", unix_micros(col("window_start")))
      .filter(closed(col("bucket_us")))
      .localCheckpoint()
    require(est.filter(col("max_err") =!= 0L).count() == 0,
      "stream_heavy_hitters: capacity >= taxonomy must stay exact (max_err 0)")
    val expectedGroups = ev
      .withColumn("bucket_us", col("ts_us") - col("ts_us") % dayUs)
      .filter(closed(col("bucket_us")))
      .select("bucket_us", "segment").distinct().count()
    require(est.select("bucket_us", "segment").distinct().count() == expectedGroups,
      "stream_heavy_hitters: a comfortably-closed window was withheld")
    est.select(col("bucket_us"), col("segment"), col("item"),
      col("est_count").as("n"))
  }

  val streamHeavyHittersSql: String =
    """WITH e AS (SELECT CAST(user_id % 4 AS VARCHAR) AS segment,
      |                  epoch_us(ts) AS ts_us, event_type FROM events),
      |mx AS (SELECT MAX(ts_us) AS max_us FROM e),
      |w AS (SELECT segment, ts_us - ts_us % 86400000000 AS bucket_us, event_type
      |      FROM e),
      |closed AS (SELECT w.* FROM w, mx
      |           WHERE bucket_us + 2 * 86400000000 <= max_us - 10000000),
      |h AS (SELECT bucket_us, segment, event_type AS item,
      |       CAST(COUNT(*) AS BIGINT) AS n
      |      FROM closed GROUP BY 1, 2, 3),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket_us, segment
      |                                   ORDER BY n DESC, item) AS rk FROM h)
      |SELECT bucket_us, segment, item, n FROM r WHERE rk <= 3""".stripMargin

  /** Streaming windowed DISTINCT counts
    * ([[graft.streaming.StreamOps.windowedDistinct]] — the KMV/theta
    * sketch as the state-store aggregation buffer, the cardinality
    * sibling of stream_quantiles' GK and stream_heavy_hitters'
    * SpaceSaving): distinct users per (day, event_type) window over a
    * file stream, state per (window, key) capped at k hashes however
    * many distinct users flow through. Under k the output is EXACT
    * and flagged so (a k-min set is order-blind, hence micro-batch-
    * boundary-independent) — that regime is what the oracle pins;
    * the in-query require makes silently-degraded exactness fail the
    * driver run. */
  def streamDistinct(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.streaming.Trigger
    val dayUs = 86400000000L
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev0 = pq(spark, dir, "events")
    val ev = ev0.withColumn("ts_us", eventMicros(ev0))
      .select(col("event_type"), col("ts_us"), col("user_id"))
    val src = tmp("sdx_src")
    ev.select(col("event_type"), timestamp_micros(col("ts_us")).as("ts"),
      col("user_id")).write.parquet(src)
    val out = tmp("sdx_out")
    val stream = spark.readStream
      .schema("event_type STRING, ts TIMESTAMP, user_id BIGINT").parquet(src)
    val q = StreamOps.windowedDistinct(stream, "ts", "event_type", "user_id",
      "24 hours", "10 seconds", k = 1024)
      .writeStream.format("parquet").outputMode("append")
      .option("path", out)
      .option("checkpointLocation", tmp("sdx_ck"))
      .trigger(Trigger.AvailableNow()).start()
    drainOrFail(q, "stream_distinct")
    val maxUs = ev.agg(max(col("ts_us"))).head().getLong(0)
    def closed(bucket: Column) =
      bucket + lit(2 * dayUs) <= lit(maxUs) - lit(10000000L)
    val est = spark.read.parquet(out)
      .withColumn("bucket_us", unix_micros(col("window_start")))
      .filter(closed(col("bucket_us")))
      .localCheckpoint()
    require(est.filter(col("is_estimate")).count() == 0,
      "stream_distinct: cardinality under k must stay exact")
    val expectedGroups = ev
      .withColumn("bucket_us", col("ts_us") - col("ts_us") % dayUs)
      .filter(closed(col("bucket_us")))
      .select("bucket_us", "event_type").distinct().count()
    require(est.count() == expectedGroups,
      "stream_distinct: a comfortably-closed window was withheld")
    est.select(col("bucket_us"), col("event_type"), col("n_distinct"))
  }

  val streamDistinctSql: String =
    """WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us, user_id FROM events),
      |mx AS (SELECT MAX(ts_us) AS max_us FROM e),
      |w AS (SELECT event_type, ts_us - ts_us % 86400000000 AS bucket_us, user_id
      |      FROM e),
      |closed AS (SELECT w.* FROM w, mx
      |           WHERE bucket_us + 2 * 86400000000 <= max_us - 10000000)
      |SELECT bucket_us, event_type,
      |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
      |FROM closed GROUP BY 1, 2""".stripMargin

  /** Set operations through the SQL surface: customers with orders in
    * 1995 but not 1996 (EXCEPT), via the task layer's SQL execution. */
  def setOpsCustomers(spark: SparkSession, dir: String): DataFrame = {
    pq(spark, dir, "orders").createOrReplaceTempView("orders_v")
    spark.sql(
      """SELECT o_custkey FROM orders_v WHERE year(o_orderdate) = 1995
        |EXCEPT
        |SELECT o_custkey FROM orders_v WHERE year(o_orderdate) = 1996""".stripMargin)
  }

  val setOpsCustomersSql: String =
    """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996""".stripMargin

  /** Partition-scoped replace: load all nations partitioned by region,
    * then selectively overwrite ONLY region 2's partition — other
    * partitions' files untouched (no full-table rewrite). */
  def selectiveOverwriteManaged(spark: SparkSession, dir: String): DataFrame = {
    val path = tmp("selov")
    val nation = pq(spark, dir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    Writers.append(spark, path, nation, WriteOptions(now = Some(T0)),
      partitionBy = Seq("n_regionkey"))
    val patch = nation.filter(col("n_regionkey") === 2)
      .withColumn("n_name", concat(col("n_name"), lit("_PATCHED")))
    Writers.selectiveOverwrite(spark, path, patch, Seq("n_regionkey"),
      WriteOptions(now = Some(T1)))
    ManagedTable(spark, path).read
      .select(col("n_nationkey"), col("n_name"),
        col("n_regionkey").cast("int").as("n_regionkey"),
        col(Meta.ValidToTs).cast("string").as(Meta.ValidToTs))
  }

  val selectiveOverwriteManagedSql: String =
    s"""SELECT n_nationkey,
       | CASE WHEN n_regionkey = 2 THEN n_name || '_PATCHED' ELSE n_name END AS n_name,
       | CAST(n_regionkey AS INT) AS n_regionkey,
       | CASE WHEN n_regionkey = 2 THEN '$T1' ELSE '$T0' END AS __metadata_valid_to_ts__
       |FROM nation""".stripMargin

  /** Gap-based sessionization of the events table (batch form of the
    * streaming stateful operator; 10-minute silence ends a session). */
  def sessionizeEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = pq(spark, dir, "events")
    val ev = raw.withColumn("ts_us", eventMicros(raw))
      .select("user_id", "ts_us")
    graft.streaming.StreamOps.sessionizeBatch(ev, "user_id", "ts_us",
      gapMs = 600L * 1000 * 1000) // 10 min in micros
      .select(col("user_id"), col("startMs").as("session_start_us"),
        col("endMs").as("session_end_us"), col("nEvents").as("n_events"))
  }

  val sessionizeEventsSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
      |m AS (SELECT user_id, ts_us,
      |  CASE WHEN lag(ts_us) OVER w IS NULL
      |            OR ts_us - lag(ts_us) OVER w > 600000000 THEN 1 ELSE 0 END AS new_session
      | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
      |s AS (SELECT user_id, ts_us,
      |  SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
      |    ROWS UNBOUNDED PRECEDING) AS session_id
      | FROM m)
      |SELECT user_id, MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us,
      | COUNT(*) AS n_events
      |FROM s GROUP BY user_id, session_id""".stripMargin

  // ------------------------------------------------------- constraint

  /** Anti-join FK check (write.py:1165-1189): orders referencing customers
    * outside the allowed subset. */
  def constraintViolations(spark: SparkSession, dir: String): DataFrame = {
    val orders = pq(spark, dir, "orders")
    val allowed = pq(spark, dir, "customer")
      .filter(col("c_custkey") < 750)
      .select(col("c_custkey").as("o_custkey"))
    WritePatterns.constraintViolations(orders, allowed, Seq("o_custkey"))
      .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
  }

  val constraintViolationsSql: String =
    """SELECT o_custkey, COUNT(*) AS n_orders FROM orders
      |WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey < 750)
      |GROUP BY o_custkey""".stripMargin

  // --------------------------------------------- similarity / multimodal

  /**
   * ANN top-k with two built-in hard checks (this is the oracle-checkable
   * formulation of [[graft.llm.Similarity.annTopK]]):
   *
   *  1. **Planted ground truth**: the query set is 20 exact copies of
   *     corpus vectors shifted to id+10000. A copy shares every hyperplane
   *     sign with its original, so the LSH bucket join is *guaranteed* to
   *     co-bucket them and exact cosine ranks the original first (the
   *     corpus has no duplicate vectors; max natural pairwise cos ≈ 0.51).
   *     The emitted rank-1 rows are therefore exactly
   *     `(vec_id+10000, vec_id)` — a deterministic DuckDB oracle that a
   *     bucketing, probing, or ranking bug breaks.
   *  2. **Recall gate**: recall@10 of the same ANN run vs exact
   *     [[graft.llm.Similarity.bruteForceTopK]] is computed eagerly and
   *     the query THROWS below `recallFloor` — a silent quality regression
   *     fails verification instead of shipping rows that merely exist.
   *     Calibration (p=6 planes, probe distance 1 → 7/64 of buckets
   *     scanned): measured recall@10 is 0.295 / 0.305 / 0.365 at
   *     sf0.001/0.01/0.1 — the near-random synthetic corpus is the worst
   *     case for hyperplane LSH. The floor 0.20 sits above the 0.10 that
   *     the guaranteed planted top-1s contribute, so a probing or ranking
   *     bug that halves real recall trips it.
   */
  def annTopKVerified(spark: SparkSession, dir: String,
                      recallFloor: Double = 0.20): DataFrame = {
    import graft.llm.Similarity
    val emb = pq(spark, dir, "embeddings").select("vec_id", "embedding")
    // planted ids live at vec_id+10000 (fixed in the oracle SQL too); if
    // the corpus ever grows past that, planted ids would silently collide
    // with natural ids and both the oracle and the recall gate go wrong —
    // fail loudly instead. (max() over one int column is served from
    // parquet footer stats; not a full scan.)
    assertPlantedIdHeadroom(emb, offset = 10000)
    val planted = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val corpus = emb.unionByName(planted).localCheckpoint()
    val queries = corpus.filter(col("vec_id") >= 10000)
    val ann = Similarity.annTopK(corpus, queries, 10).localCheckpoint()
    val bf = Similarity.bruteForceTopK(corpus, queries, 10)
    val total = bf.count()
    val hits = ann.select("query_id", "neighbor_id")
      .intersect(bf.select("query_id", "neighbor_id")).count()
    val recall = hits.toDouble / total
    require(recall >= recallFloor,
      f"ann_topk recall@10 $recall%.3f fell below the calibrated floor " +
        f"$recallFloor%.2f — LSH bucketing/probing is broken")
    ann.filter(col("rank") === 1).select("query_id", "neighbor_id")
  }

  val annTopKSql: String =
    """SELECT vec_id + 10000 AS query_id, vec_id AS neighbor_id
      |FROM embeddings WHERE vec_id < 20""".stripMargin

  /**
   * IVF top-k with the same two hard checks as [[annTopKVerified]]:
   * planted exact copies MUST rank their original first (a copy computes
   * the same argmax-cosine cell as its original, so the cell join is
   * guaranteed to co-locate them — a quantizer/probe/ranking bug breaks
   * the deterministic oracle rows), and an eager recall@10 gate vs brute
   * force THROWS below the floor. Calibration (nlist=16, nProbe=4 ≈ 1/4
   * of the corpus scanned, 2 training iters): measured recall@10 is
   * ~0.45-0.55 across sf0.001-0.1 — higher than hyperplane LSH at the
   * same scan fraction because cells adapt to the data. Floor 0.30 sits
   * well above the 0.10 the planted top-1s alone contribute.
   */
  def ivfTopKVerified(spark: SparkSession, dir: String,
                      recallFloor: Double = 0.30): DataFrame = {
    import graft.llm.Similarity
    val emb = pq(spark, dir, "embeddings").select("vec_id", "embedding")
    assertPlantedIdHeadroom(emb, offset = 10000)
    val planted = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val corpus = emb.unionByName(planted).localCheckpoint()
    val queries = corpus.filter(col("vec_id") >= 10000)
    // quantizer training is the one-time amortizable index build (persist
    // centroids between query batches at scale — ivfTopKWith) — report it
    // as staging like the bucketed layout, not as per-query serve cost
    val cents = Staging.timed {
      Similarity.trainCentroids(corpus, nlist = 16, iters = 2)
    }
    val ivf = Similarity.ivfTopKWith(cents, corpus, queries, 10, nProbe = 4)
      .localCheckpoint()
    val bf = Similarity.bruteForceTopK(corpus, queries, 10)
    val total = bf.count()
    val hits = ivf.select("query_id", "neighbor_id")
      .intersect(bf.select("query_id", "neighbor_id")).count()
    val recall = hits.toDouble / total
    require(recall >= recallFloor,
      f"ann_ivf recall@10 $recall%.3f fell below the calibrated floor " +
        f"$recallFloor%.2f — IVF training/probing is broken")
    ivf.filter(col("rank") === 1).select("query_id", "neighbor_id")
  }

  val ivfTopKSql: String = annTopKSql

  /**
   * Product-quantization top-k ([[graft.llm.Similarity.pqTopK]]) with
   * the family's two hard checks: planted exact copies must rank their
   * original first (the exact re-rank of the ADC candidate set makes
   * cos = 1 win whenever the original survives the ADC cut — rerank=64
   * over this corpus keeps that deterministic, and the in-query require
   * fails loudly if compression ever drops one), and recall@10 vs brute
   * force gates at 0.45 (measured ≥ 0.5 at sf0.001–0.1 with m=8,
   * ksub=16, rerank=64 — the ADC scan reads ~8 small codes per vector
   * instead of 64 floats, the compression PQ exists for). Codebook
   * training + corpus encoding are the amortizable index build
   * (pqTopKWith serves from persisted codes), reported as staging.
   */
  def pqTopKVerified(spark: SparkSession, dir: String,
                     recallFloor: Double = 0.45): DataFrame = {
    import graft.llm.Similarity
    val emb = pq(spark, dir, "embeddings").select("vec_id", "embedding")
    assertPlantedIdHeadroom(emb, offset = 10000)
    val planted = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val corpus = emb.unionByName(planted).localCheckpoint()
    val queries = corpus.filter(col("vec_id") >= 10000)
    val (books, codes) = Staging.timed {
      val b = Similarity.pqTrain(corpus, m = 8, ksub = 16)
      (b, Similarity.pqEncode(corpus, b).localCheckpoint())
    }
    val got = Similarity.pqTopKWith(books, codes, corpus, queries, 10)
      .localCheckpoint()
    val top1 = got.filter(col("rank") === 1)
    val misses = top1.filter(col("neighbor_id") =!= col("query_id") - 10000).count()
    require(misses == 0,
      s"ann_pq: $misses planted copies did not rank their original first — " +
        "ADC candidates or the exact re-rank lost an identical vector")
    val bf = Similarity.bruteForceTopK(corpus, queries, 10)
    val total = bf.count()
    val hits = got.select("query_id", "neighbor_id")
      .intersect(bf.select("query_id", "neighbor_id")).count()
    val recall = hits.toDouble / total
    require(recall >= recallFloor,
      f"ann_pq recall@10 $recall%.3f fell below the calibrated floor " +
        f"$recallFloor%.2f — PQ codebooks/ADC scoring are broken")
    top1.select("query_id", "neighbor_id")
  }

  val pqTopKSql: String = annTopKSql

  /**
   * IVF-PQ ([[graft.llm.Similarity.ivfPqTopKWith]]) — prune + compress
   * + re-rank, the production index layout. Same two hard checks as the
   * rest of the family: a planted copy's FIRST probe is its original's
   * cell, so pruning never loses the exact match before the ADC cut,
   * and the in-query require catches a cut loss loudly; recall@10 vs
   * brute force gates at 0.30 (nProbe 4 of nlist 16 ≈ a quarter of the
   * corpus ADC-scanned, then exact re-rank of 64 — measured ≈ 0.4+
   * across SFs). Index build (centroids + codebooks + coded corpus) is
   * the amortizable staging cost, persisted at scale.
   */
  def ivfPqTopKVerified(spark: SparkSession, dir: String,
                        recallFloor: Double = 0.30): DataFrame = {
    import graft.llm.Similarity
    val emb = pq(spark, dir, "embeddings").select("vec_id", "embedding")
    assertPlantedIdHeadroom(emb, offset = 10000)
    val planted = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val corpus = emb.unionByName(planted).localCheckpoint()
    val queries = corpus.filter(col("vec_id") >= 10000)
    val (cents, books, codes) = Staging.timed {
      val (c, b, cd) = Similarity.ivfPqIndex(corpus, nlist = 16, m = 8, ksub = 16)
      (c, b, cd.localCheckpoint())
    }
    val got = Similarity.ivfPqTopKWith(cents, books, codes, corpus, queries,
      k = 10, nProbe = 4).localCheckpoint()
    val top1 = got.filter(col("rank") === 1)
    val misses = top1.filter(col("neighbor_id") =!= col("query_id") - 10000).count()
    require(misses == 0,
      s"ann_ivfpq: $misses planted copies did not rank their original first")
    val bf = Similarity.bruteForceTopK(corpus, queries, 10)
    val hits = got.select("query_id", "neighbor_id")
      .intersect(bf.select("query_id", "neighbor_id")).count()
    val recall = hits.toDouble / bf.count()
    require(recall >= recallFloor,
      f"ann_ivfpq recall@10 $recall%.3f fell below the calibrated floor " +
        f"$recallFloor%.2f — IVF pruning or ADC scoring is broken")
    top1.select("query_id", "neighbor_id")
  }

  val ivfPqTopKSql: String = annTopKSql

  /**
   * Scalar-quantized top-k ([[graft.llm.Similarity.sq8TopK]]): per-dim
   * byte codes (dim bytes/vector — 8× under float64) scored by the
   * affine-decode identity, exact re-rank on top. Same two hard checks
   * as the PQ family: planted exact copies must rank their original
   * first, and recall@10 vs brute force gates at 0.60 — SQ8 keeps every
   * dimension at byte resolution, so its floor sits well above PQ's
   * (m=8 sub-codes) on the same corpus; a floor breach means the range
   * training or the byte-decode arithmetic broke. Range training +
   * encoding are the amortizable index build (staging).
   */
  def sq8TopKVerified(spark: SparkSession, dir: String,
                      recallFloor: Double = 0.60): DataFrame = {
    import graft.llm.Similarity
    val emb = pq(spark, dir, "embeddings").select("vec_id", "embedding")
    assertPlantedIdHeadroom(emb, offset = 10000)
    val planted = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val corpus = emb.unionByName(planted).localCheckpoint()
    val queries = corpus.filter(col("vec_id") >= 10000)
    val (mins, maxs, codes) = Staging.timed {
      val (mn, mx) = Similarity.sq8Train(corpus)
      (mn, mx, Similarity.sq8Encode(corpus, mn, mx).localCheckpoint())
    }
    val got = Similarity.sq8TopKWith(mins, maxs, codes, corpus, queries, 10)
      .localCheckpoint()
    val top1 = got.filter(col("rank") === 1)
    val misses = top1.filter(col("neighbor_id") =!= col("query_id") - 10000).count()
    require(misses == 0,
      s"ann_sq8: $misses planted copies did not rank their original first — " +
        "the byte-decode scan or exact re-rank lost an identical vector")
    val bf = Similarity.bruteForceTopK(corpus, queries, 10)
    val hits = got.select("query_id", "neighbor_id")
      .intersect(bf.select("query_id", "neighbor_id")).count()
    val recall = hits.toDouble / bf.count()
    require(recall >= recallFloor,
      f"ann_sq8 recall@10 $recall%.3f fell below the calibrated floor " +
        f"$recallFloor%.2f — SQ8 ranges/decode arithmetic are broken")
    top1.select("query_id", "neighbor_id")
  }

  val sq8TopKSql: String = annTopKSql

  /**
   * IVF-PQ as a PERSISTED, INCREMENTALLY-REFRESHED index
   * ([[graft.llm.Similarity.ivfPqAppend]]): epoch 1 trains the index
   * over the natural corpus and persists all three artifacts
   * (centroids table, codebooks table, codes parquet); epoch 2's
   * planted copies are append-encoded against the RELOADED epoch-1
   * codebooks — no re-train, no corpus re-encode — and searched over
   * the combined codes. A copy of an indexed vector gets its
   * original's cell and codes exactly, so every planted query must
   * still rank its original first (in-query require), recall@10 vs
   * brute force keeps the ivf-pq floor, and the reconstruction-error
   * drift signal of the new batch must match the build corpus's
   * (identical distribution — copies OF it). Oracle: exact top-1.
   */
  def ivfPqIncrementalVerified(spark: SparkSession, dir: String,
                               recallFloor: Double = 0.30): DataFrame = {
    import graft.llm.Similarity
    val emb = pq(spark, dir, "embeddings").select("vec_id", "embedding")
    assertPlantedIdHeadroom(emb, offset = 10000)
    val idxDir = tmp("ivfpq_idx")
    // epoch 1: train + persist (once per corpus generation — staging)
    val buildErr = Staging.timed {
      val (c, b, cd) = Similarity.ivfPqIndex(emb, nlist = 16, m = 8, ksub = 16)
      Similarity.centroidsTable(spark, c).write.parquet(s"$idxDir/centroids")
      Similarity.pqBooksTable(spark, b).write.parquet(s"$idxDir/books")
      cd.write.parquet(s"$idxDir/codes")
      Similarity.pqReconstructionError(b, emb)
    }
    // epoch 2: planted copies append-encode against the RELOADED index
    val batch = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
      .localCheckpoint()
    val cents = Similarity.centroidsFrom(spark.read.parquet(s"$idxDir/centroids"))
    val books = Similarity.pqBooksFrom(spark.read.parquet(s"$idxDir/books"))
    val batchErr = Similarity.pqReconstructionError(books, batch)
    require(batchErr <= buildErr * 1.5 + 1e-9,
      f"ann_ivfpq_incremental: batch reconstruction error $batchErr%.4f vs " +
        f"build $buildErr%.4f — copies of the build corpus cannot drift; " +
        "the persisted codebooks round-tripped wrong")
    val codes = spark.read.parquet(s"$idxDir/codes")
      .unionByName(Similarity.ivfPqAppend(cents, books, batch))
    val corpus = emb.unionByName(batch)
    val got = Similarity.ivfPqTopKWith(cents, books, codes, corpus, batch,
      k = 10, nProbe = 4).localCheckpoint()
    val top1 = got.filter(col("rank") === 1)
    val misses = top1.filter(col("neighbor_id") =!= col("query_id") - 10000).count()
    require(misses == 0,
      s"ann_ivfpq_incremental: $misses planted copies did not rank their " +
        "original first — append-encoding diverged from the index build")
    val bf = Similarity.bruteForceTopK(corpus, batch, 10)
    val hits = got.select("query_id", "neighbor_id")
      .intersect(bf.select("query_id", "neighbor_id")).count()
    val recall = hits.toDouble / bf.count()
    require(recall >= recallFloor,
      f"ann_ivfpq_incremental recall@10 $recall%.3f below $recallFloor%.2f")
    top1.select("query_id", "neighbor_id")
  }

  val ivfPqIncrementalSql: String = annTopKSql

  /**
   * Semantic dedup ([[graft.llm.Similarity.semanticDedup]]) in its
   * oracle-checkable formulation: 20 exact copies of corpus vectors are
   * planted at id+10000 and the corpus is deduped at threshold 0.9 — far
   * above the corpus's max natural pairwise cosine (≈0.51, see
   * [[annTopKVerified]]), so the duplicate groups are EXACTLY the 20
   * planted (original, copy) pairs. An exact copy always shares its
   * original's argmax cell, so the within-cell pair join finds every
   * group with probability 1; the keep-the-outlier survivor rule ties on
   * identical vectors (equal centroid cosine) and falls back to smallest
   * id — the originals. Expected output is therefore deterministic
   * (every natural vector survives; originals 0..19 carry group_size 2,
   * everything else 1), and any recall loss in the cell join, wrong
   * survivor pick, or spurious merge hash-mismatches the DuckDB oracle.
   * In-query gates additionally THROW on a wrong group count or a
   * surviving copy, so the bench run (which skips the oracle compare)
   * hard-fails too rather than timing wrong rows.
   */
  def semanticDedupVerified(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.Similarity
    val emb = pq(spark, dir, "embeddings").select("vec_id", "embedding")
    assertPlantedIdHeadroom(emb, offset = 10000)
    val planted = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val corpus = emb.unionByName(planted).localCheckpoint()
    // same amortizable index-build accounting as ann_ivf: the quantizer
    // is trained once per corpus generation (semanticDedupWith)
    val cents = Staging.timed {
      Similarity.trainCentroids(corpus, nlist = 16, iters = 2)
    }
    val out = Similarity.semanticDedupWith(cents, corpus, threshold = 0.9)
      .localCheckpoint()
    val nGroups = out.filter(col("group_size") === 2).count()
    require(nGroups == 20,
      s"semantic_dedup expected exactly the 20 planted duplicate groups, " +
        s"got $nGroups — cell co-location or the pair join lost recall")
    val copies = out.filter(col("vec_id") >= 10000).count()
    require(copies == 0,
      s"semantic_dedup: $copies planted copies survived — the exact-copy " +
        "tie must keep the smaller id (the original)")
    out
  }

  val semanticDedupSql: String =
    """SELECT vec_id,
      | CAST(CASE WHEN vec_id < 20 THEN 2 ELSE 1 END AS BIGINT) AS group_size
      |FROM embeddings""".stripMargin

  /**
   * Incremental (two-epoch) semantic dedup
   * ([[graft.llm.Similarity.semanticDedupBatch]]) in its
   * oracle-checkable formulation. Epoch 1 (the standing corpus) is the
   * even-id half of the embeddings table, indexed once with
   * [[graft.llm.Similarity.buildSemanticIndex]]; epoch 2 (the daily
   * batch) is the odd-id half plus two planted families: exact copies
   * of ten CORPUS vectors at id+20000 (cross-epoch dups — must be
   * dropped, the corpus member wins) and exact copies of five BATCH
   * vectors at id+30000 (within-batch dups — the min-id original
   * survives with group_size 2). Threshold 0.9 sits far above the
   * corpus's max natural pairwise cosine (≈0.51, see
   * [[annTopKVerified]]), so those families are EXACTLY the duplicate
   * structure and the surviving set is deterministic: every odd-id
   * natural, group_size 2 below id 10, else 1. In-query gates throw on
   * a surviving planted id so the bench run hard-fails rather than
   * timing wrong rows.
   */
  def semanticDedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.Similarity
    val emb = pq(spark, dir, "embeddings").select("vec_id", "embedding")
    assertPlantedIdHeadroom(emb, offset = 20000)
    val corpus = emb.filter(col("vec_id") % 2 === 0)
    val naturals = emb.filter(col("vec_id") % 2 === 1)
    val crossEpoch = corpus.filter(col("vec_id") < 20)
      .select((col("vec_id") + 20000).as("vec_id"), col("embedding"))
    val inBatch = naturals.filter(col("vec_id") < 10)
      .select((col("vec_id") + 30000).as("vec_id"), col("embedding"))
    val batch = naturals.unionByName(crossEpoch).unionByName(inBatch)
      .localCheckpoint()
    // index build: train + assign once per corpus generation, amortized
    // across every daily batch — only the batch-side work is per-day
    val (cents, index) = Staging.timed {
      val c = Similarity.trainCentroids(corpus, nlist = 16, iters = 2)
      (c, Similarity.buildSemanticIndex(c, corpus).localCheckpoint())
    }
    val out = Similarity.semanticDedupBatch(cents, batch, index, threshold = 0.9)
      .localCheckpoint()
    require(out.filter(col("vec_id") >= 20000).count() == 0,
      "semantic_dedup_incremental: a planted copy survived — cross-epoch " +
        "cell co-location or the within-batch survivor rule is broken")
    val paired = out.filter(col("group_size") === 2).count()
    require(paired == 5,
      s"semantic_dedup_incremental expected the 5 within-batch duplicate " +
        s"groups, got $paired")
    out
  }

  val semanticDedupIncrementalSql: String =
    """SELECT vec_id,
      | CAST(CASE WHEN vec_id < 10 THEN 2 ELSE 1 END AS BIGINT) AS group_size
      |FROM embeddings WHERE vec_id % 2 = 1""".stripMargin

  /**
   * STREAMING semantic dedup — the [[semanticDedupIncremental]] action
   * as continuous curation, completing the streaming dedup family
   * (exact: stream_dedup; MinHash: stream_neardup; embedding-space:
   * here): vectors arrive in micro-batches, each batch drops members of
   * its cells that match the STANDING accepted corpus at cosine ≥ 0.9
   * and dedups within itself ([[graft.llm.Similarity.semanticDedupBatch]]),
   * and survivors append BOTH to silver and to the standing
   * [[graft.llm.Similarity.buildSemanticIndex]] TABLE — the quantizer
   * trains once on the initial corpus (the standing-quantizer
   * contract; retrain on drift is a policy, not a side effect).
   * Exactly-once per table via txn high-waters with epoch-stamped
   * index rows (`_ingest_epoch < epoch` on the corpus side), same
   * crash-replay argument as stream_neardup. Batch 2 carries both
   * planted families of the incremental oracle: cross-epoch copies
   * must drop against the index, within-batch copies must fold into
   * group_size-2 survivors — so the final silver is deterministic and
   * the in-query gates hard-fail any recall loss.
   */
  def streamSemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.Similarity
    import org.apache.spark.sql.streaming.Trigger
    val bronze = tmp("ssem_bronze")
    val silver = tmp("ssem_silver")
    val idxPath = tmp("ssem_idx")
    val ckpt = tmp("ssem_ck")
    val appId = "stream_semantic"
    val emb = pq(spark, dir, "embeddings").select("vec_id", "embedding")
    assertPlantedIdHeadroom(emb, offset = 20000)
    val corpus = emb.filter(col("vec_id") % 2 === 0)
    val cents = Staging.timed {
      ManagedTable(spark, bronze).write(corpus, "APPEND", "replace")
      Similarity.trainCentroids(corpus, nlist = 16, iters = 2)
    }
    def drain(): Unit = {
      val q = graft.streaming.StreamOps.streamTable(spark, bronze)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, epoch: Long) =>
          val sil = ManagedTable(spark, silver)
          val idx = ManagedTable(spark, idxPath)
          val out = (if (!idx.exists)
            Similarity.semanticDedupWith(cents, batch, threshold = 0.9)
          else Similarity.semanticDedupBatch(cents, batch,
            idx.read.filter(col("_ingest_epoch") < epoch)
              .select("vec_id", "embedding", "cell", "cent_cos"),
            threshold = 0.9)).localCheckpoint()
          val vecs = batch.join(out.select("vec_id"), Seq("vec_id"), "left_semi")
          if (!idx.lastTxnVersion(appId).exists(_ >= epoch)) {
            Writers.append(spark, idxPath,
              Similarity.buildSemanticIndex(cents, vecs)
                .withColumn("_ingest_epoch", lit(epoch)),
              txn = Some((appId, epoch)))
            ()
          }
          if (!sil.lastTxnVersion(appId).exists(_ >= epoch)) {
            Writers.append(spark, silver, out.select("vec_id", "group_size"),
              txn = Some((appId, epoch)))
            ()
          }
        }
        .start()
      drainOrFail(q, "stream_semantic")
    }
    drain() // epoch 0: the even-id corpus admits itself
    val naturals = emb.filter(col("vec_id") % 2 === 1)
    val crossEpoch = corpus.filter(col("vec_id") < 20)
      .select((col("vec_id") + 20000).as("vec_id"), col("embedding"))
    val inBatch = naturals.filter(col("vec_id") < 10)
      .select((col("vec_id") + 30000).as("vec_id"), col("embedding"))
    ManagedTable(spark, bronze).write(
      naturals.unionByName(crossEpoch).unionByName(inBatch), "APPEND", "append")
    drain() // epoch 1: odd naturals + both planted families
    val sil = ManagedTable(spark, silver).read.localCheckpoint()
    require(sil.filter(col("vec_id") >= 20000).count() == 0,
      "stream_semantic: a planted copy survived — the standing index or " +
        "the within-batch survivor rule is broken")
    require(sil.filter(col("group_size") === 2).count() == 5,
      "stream_semantic expected the 5 within-batch duplicate groups")
    require(sameRows(sil.select("vec_id"),
        ManagedTable(spark, idxPath).read.select("vec_id")),
      "stream_semantic: index and silver diverged")
    sil.select("vec_id", "group_size")
  }

  val streamSemanticDedupSql: String =
    """SELECT vec_id,
      | CAST(CASE WHEN vec_id % 2 = 1 AND vec_id < 10 THEN 2 ELSE 1 END
      |      AS BIGINT) AS group_size
      |FROM embeddings""".stripMargin

  /** SimHash fingerprints use md5-derived token hashes precisely so this
    * oracle exists: DuckDB recomputes every fingerprint from the text and
    * brute-forces ALL pairs, so any silent recall loss in the chunk-bucket
    * join (the failure mode a rows-only check cannot see) hash-mismatches.
    * Mirrors the planted zero-token docs and pairs only token-ful docs
    * (the fp CTE inner-joins fp0), matching simhashPairs' empty-doc guard. */
  val simhashPairsSql: String =
    """WITH docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT CAST(-1 AS BIGINT), ''
      |  UNION ALL SELECT CAST(-2 AS BIGINT), '?!.,'),
      |toks AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      |  FROM docs),
      |th AS (
      |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h FROM toks),
      |bits AS (
      |  SELECT doc_id, i,
      |         SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |  FROM th, range(64) r(i)
      |  GROUP BY doc_id, i),
      |fp0 AS (
      |  SELECT doc_id,
      |         SUM(CASE WHEN s > 0 THEN (1::UBIGINT << i) ELSE 0::UBIGINT END)::UBIGINT AS sh
      |  FROM bits GROUP BY doc_id),
      |fp AS (
      |  SELECT d.doc_id, f.sh
      |  FROM docs d JOIN fp0 f USING (doc_id))
      |SELECT a.doc_id AS id1, b.doc_id AS id2,
      |       bit_count(xor(a.sh, b.sh))::INT AS distance
      |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.sh, b.sh)) <= 3""".stripMargin

  /** Multimodal decode with a REAL oracle: payloads are the UTF-8 bytes of
    * `documents.text` (binary column, batched partition-local decode —
    * the production plumbing), and the stub codec's outputs are pure byte
    * functions DuckDB can recompute from the same text: width/height from
    * the first two bytes, n_bytes, and an md5 checksum of the payload. */
  def multimodalDecode(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.Multimodal
    val media = pq(spark, dir, "documents")
      .select(col("doc_id").as("media_id"), encode(col("text"), "UTF-8").as("payload"))
    Multimodal.decodeAndFeaturize(media)
      .select(col("media_id"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        col("features.decoded_ok").as("decoded_ok"),
        col("features.n_bytes").as("n_bytes"),
        md5(col("payload")).as("payload_md5"))
  }

  val multimodalDecodeSql: String =
    """SELECT doc_id AS media_id,
      | (ord(substr(text, 1, 1)) * 16)::INT AS width,
      | (ord(substr(text, 2, 1)) * 16)::INT AS height,
      | true AS decoded_ok,
      | strlen(text)::BIGINT AS n_bytes,
      | md5(text) AS payload_md5
      |FROM documents""".stripMargin

  // --------------------------------------- time-series joins & sketches

  private val HourUs = 3600000000L

  /** Last-touch attribution via as-of join: for every purchase event, the
    * same user's most recent `view` event at-or-before the purchase and
    * within one hour (NULL when the user didn't view recently). One
    * union+window pass — no join node, no pair explosion on hot users. */
  def asofAttribution(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.AsOfJoin
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = pq(spark, dir, "events")
    // one planted NULL-time purchase: gates the left-join stance (NULL
    // left times survive unmatched, AsOfJoin scaladoc) through the oracle
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), eventMicros(ev).as("ts_us"))
      .unionByName(spark.range(1).select(
        lit(-1L).as("event_id"), lit(-1L).as("user_id"),
        lit(null).cast("long").as("ts_us")))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        eventMicros(ev).as("vts_us"))
    AsOfJoin.join(purchases, views, "ts_us", "vts_us", Seq("user_id"),
      direction = "backward", tolerance = Some(HourUs),
      rightTieBreak = Some("view_id"))
      .select("event_id", "user_id", "ts_us", "view_id", "vts_us")
  }

  /** DuckDB recomputes the as-of match the quadratic way: inequality
    * left-join then keep rank 1 under the SAME tie policy the operator
    * guarantees (latest time, then greatest view_id). */
  val asofAttributionSql: String =
    s"""WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
       |           FROM events WHERE event_type = 'purchase'
       |           UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
       |                            CAST(NULL AS BIGINT)),
       |     v AS (SELECT event_id AS view_id, user_id, epoch_us(ts) AS vts_us
       |           FROM events WHERE event_type = 'view'),
       |     j AS (SELECT p.event_id, p.user_id, p.ts_us, v.view_id, v.vts_us,
       |             row_number() OVER (PARTITION BY p.event_id
       |               ORDER BY v.vts_us DESC, v.view_id DESC) AS rn
       |           FROM p LEFT JOIN v
       |             ON v.user_id = p.user_id
       |            AND v.vts_us <= p.ts_us
       |            AND v.vts_us >= p.ts_us - $HourUs)
       |SELECT event_id, user_id, ts_us, view_id, vts_us FROM j WHERE rn = 1""".stripMargin

  /** Bucketed range join: how many events did the user generate in the
    * hour strictly before each purchase? Each purchase defines the
    * half-open interval [ts-1h, ts); the bucketed equi-join meets every
    * qualifying (event, purchase) pair in exactly one (user, hour-bucket)
    * — never a nested-loop or unbounded-range sort-merge. */
  def rangeJoinActivity(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.RangeJoin
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = pq(spark, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), eventMicros(ev).as("ts_us"))
    val intervals = purchases
      .select(col("event_id"), col("user_id"),
        (col("ts_us") - HourUs).as("w_start"), col("ts_us").as("w_end"))
    val points = ev.select(col("user_id"), eventMicros(ev).as("p_ts"))
    val counts = RangeJoin.pointInInterval(points, "p_ts",
        intervals, "w_start", "w_end", bucketWidth = HourUs, keys = Seq("user_id"))
      .groupBy("event_id").agg(count(lit(1)).as("n_before"))
    purchases.select("event_id", "user_id")
      .join(counts, Seq("event_id"), "left")
      .select(col("event_id"), col("user_id"),
        coalesce(col("n_before"), lit(0L)).as("n_before"))
  }

  val rangeJoinActivitySql: String =
    s"""WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
       |           FROM events WHERE event_type = 'purchase'),
       |     e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events)
       |SELECT p.event_id, p.user_id, COUNT(e.ts_us) AS n_before
       |FROM p LEFT JOIN e
       |  ON e.user_id = p.user_id
       | AND e.ts_us >= p.ts_us - $HourUs
       | AND e.ts_us < p.ts_us
       |GROUP BY 1, 2""".stripMargin

  /** HLL distinct customers per order priority, with the estimates GATED
    * in-query: both the direct sketch estimate and the estimate from
    * merging finer-grained (priority, status) sketches must land within
    * 5% of exact (lgK=12 ≈ 1.6% RSE, so the gate has 3σ headroom) or the
    * query throws. The deterministic EXACT counts are what's emitted and
    * hash-compared, so a broken sketch cannot pass silently. */
  def sketchDistinct(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val orders = pq(spark, dir, "orders")
    val exact = orders.groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey")).as("n_exact"))
    val direct = Sketches.approxDistinct(orders, Seq("o_orderpriority"),
      "o_custkey", outCol = "est_direct")
    val merged = Sketches.hllMergeEstimate(
      Sketches.hllSketch(orders, Seq("o_orderpriority", "o_orderstatus"), "o_custkey"),
      Seq("o_orderpriority"), outCol = "est_merged")
    val checked = exact.join(direct, Seq("o_orderpriority"))
      .join(merged, Seq("o_orderpriority"))
      .collect()
    checked.foreach { r =>
      val exactN = r.getAs[Long]("n_exact").toDouble
      Seq("est_direct", "est_merged").foreach { c =>
        val est = r.getAs[Long](c).toDouble
        require(math.abs(est - exactN) / exactN <= 0.05,
          f"$c for ${r.getAs[String]("o_orderpriority")} off by " +
            f"${math.abs(est - exactN) / exactN}%.3f (>5%%) — HLL sketch/merge broken")
      }
    }
    exact
  }

  val sketchDistinctSql: String =
    """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_exact
      |FROM orders GROUP BY 1""".stripMargin

  /** Count-Min frequency sketches ([[graft.operators.Sketches]] CMS
    * pair — the frequency analogue of `sketch_distinct`'s HLL pair):
    * per-DAY shard sketches of event-type occurrences persist at write
    * grain, roll up to a global sketch by element-wise sum (no rescan
    * of the fact table), and point estimates are GATED in-query
    * against exact counts: `est ≥ exact` always (the CMS one-sided
    * guarantee) and `est ≤ exact + 3·eps·n` (the probabilistic bound
    * with headroom). The deterministic EXACT counts are what's emitted
    * and hash-compared, so a broken sketch, merge, or estimate path
    * cannot pass silently. */
  def countminRollup(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val events = pq(spark, dir, "events")
    val exact = events.groupBy("event_type").agg(count(lit(1)).as("n"))
    // the event taxonomy is the bounded candidate list (CMS answers
    // point queries; harvesting candidates is heavyHitters' job)
    val exactRows = exact.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val items = exactRows.keys.toSeq.sorted
    val eps = 1e-4
    val merged = Sketches.countMinMerge(
      Sketches.countMinSketch(
        events.withColumn("day", to_date(col("ts"))).withColumn("all", lit(1)),
        Seq("day", "all"), "event_type", eps = eps),
      Seq("all"))
    val est = Sketches.countMinEstimate(merged, items)
      .collect().map(r => r.getAs[String]("item") -> r.getAs[Long]("est_count"))
      .toMap
    val total = exactRows.values.sum
    val slack = math.max(1L, math.ceil(3 * eps * total).toLong)
    items.foreach { it =>
      require(est(it) >= exactRows(it),
        s"CMS undercounted $it: ${est(it)} < ${exactRows(it)} — sketch broken")
      require(est(it) <= exactRows(it) + slack,
        s"CMS estimate for $it off by ${est(it) - exactRows(it)} (> $slack)")
    }
    exact
  }

  val countminRollupSql: String =
    """SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1""".stripMargin

  /** Exact fuzzy self-join ([[graft.operators.FuzzyJoin]] — FastSS
    * deletion neighborhoods): part names within edit distance 1,
    * candidates from an equi-join on the ≤1-deletion variants (shuffle
    * O(rows·len), never O(rows²)), every candidate verified with the
    * exact codegen'd levenshtein. Recall is exact by the alignment
    * argument in the scaladoc, so the DuckDB oracle can be the BRUTE
    * FORCE levenshtein join over the same subset — any dropped
    * candidate bucket or broken variant generator hash-mismatches. */
  def fuzzyJoinParts(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.FuzzyJoin
    val parts = pq(spark, dir, "part")
      .filter(col("p_partkey") % 37 === 0)
      .select(col("p_partkey"), col("p_name"))
    FuzzyJoin.fuzzySelfJoin(parts, "p_partkey", "p_name", maxDist = 1)
      .select(col("left_key").as("a_key"), col("right_key").as("b_key"),
        col("left_val").as("a_name"), col("right_val").as("b_name"),
        col("edit_distance").cast("long").as("edit_distance"))
  }

  val fuzzyJoinPartsSql: String =
    """WITH p AS (
      |  SELECT p_partkey, p_name FROM part WHERE p_partkey % 37 = 0)
      |SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
      |       a.p_name AS a_name, b.p_name AS b_name,
      |       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_distance
      |FROM p a JOIN p b ON a.p_partkey < b.p_partkey
      |WHERE levenshtein(a.p_name, b.p_name) <= 1""".stripMargin

  /** Fuzzy dedup ACTION ([[graft.operators.FuzzyJoin.fuzzyDedup]]):
    * keep the first occurrence of every fuzzy group on the same
    * subset as fuzzy_join — the pairwise keep-first rule (a row drops
    * iff SOME lower-keyed row is within the distance, dropped or
    * not), which the DuckDB NOT EXISTS brute force states verbatim. */
  def fuzzyDedupParts(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.FuzzyJoin
    val parts = pq(spark, dir, "part")
      .filter(col("p_partkey") % 37 === 0)
      .select(col("p_partkey"), col("p_name"))
    FuzzyJoin.fuzzyDedup(parts, "p_partkey", "p_name", maxDist = 1)
  }

  val fuzzyDedupPartsSql: String =
    """WITH p AS (
      |  SELECT p_partkey, p_name FROM part WHERE p_partkey % 37 = 0)
      |SELECT a.p_partkey, a.p_name FROM p a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM p b
      |  WHERE b.p_partkey < a.p_partkey
      |    AND levenshtein(a.p_name, b.p_name) <= 1)""".stripMargin

  /** Drift / anomaly expectations ([[graft.operators.Expectations]]
    * metrics + driftCheck — the Deequ relative-rate-of-change
    * strategy made ENGINE-EXACT): per-epoch integer metric profiles
    * (row count, null count, exact distincts — each epoch one scan)
    * accumulate as history, and the current epoch's profile is
    * judged against the history mean by DECIMAL(38,0)
    * cross-multiplication — no float ratio anywhere, so PASS/FAIL
    * hashes identically in any engine. The orders table's partial
    * final year (2001) is the natural planted anomaly: its row count
    * and distinct-customer count drift past the 20% band while the
    * priority taxonomy and null counts stay flat; the in-query
    * requires pin exactly that pattern so a broken metric, history
    * fold, or verdict rule fails the driver run. */
  def expectationsDrift(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Expectations
    val orders = pq(spark, dir, "orders")
      .withColumn("yr", year(col("o_orderdate")))
    val metrics = Expectations.parseMetrics(
      "count; nulls:o_totalprice; distinct:o_custkey; distinct:o_orderpriority")
    val hist = (1995 to 2000)
      .map(y => Expectations.metricsProfile(orders.filter(col("yr") === y), metrics))
      .reduce(_ unionByName _)
    val cur = Expectations.metricsProfile(orders.filter(col("yr") === 2001), metrics)
    val verdict = Expectations.driftCheck(cur, hist, tolPpm = 200000L)
      .localCheckpoint()
    val byMetric = verdict.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Int]("passed")).toMap
    require(byMetric(("row_count", "*")) == 0,
      "expectations_drift: the partial year must trip row-count drift")
    require(byMetric(("distinct_count", "o_custkey")) == 0,
      "expectations_drift: the partial year must trip distinct-customer drift")
    require(byMetric(("distinct_count", "o_orderpriority")) == 1,
      "expectations_drift: the stable priority taxonomy must pass")
    require(byMetric(("null_count", "o_totalprice")) == 1,
      "expectations_drift: the zero-null column must pass")
    verdict
  }

  val expectationsDriftSql: String =
    """WITH y AS (
      |  SELECT year(o_orderdate) AS yr, o_custkey, o_orderpriority, o_totalprice
      |  FROM orders),
      |prof AS (
      |  SELECT yr, 'row_count' AS metric, '*' AS "column",
      |         CAST(COUNT(*) AS BIGINT) AS value FROM y GROUP BY yr
      |  UNION ALL
      |  SELECT yr, 'null_count', 'o_totalprice',
      |         CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM y GROUP BY yr
      |  UNION ALL
      |  SELECT yr, 'distinct_count', 'o_custkey',
      |         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM y GROUP BY yr
      |  UNION ALL
      |  SELECT yr, 'distinct_count', 'o_orderpriority',
      |         CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) FROM y GROUP BY yr),
      |cur AS (SELECT metric, "column", value FROM prof WHERE yr = 2001),
      |hist AS (
      |  SELECT metric, "column", CAST(COUNT(*) AS BIGINT) AS hist_n,
      |         CAST(SUM(value) AS BIGINT) AS hist_sum
      |  FROM prof WHERE yr BETWEEN 1995 AND 2000 GROUP BY 1, 2)
      |SELECT c.metric, c."column", c.value,
      |       COALESCE(h.hist_n, 0) AS hist_n,
      |       COALESCE(h.hist_sum, 0) AS hist_sum,
      |       CASE WHEN h.hist_n IS NULL THEN 1
      |            WHEN h.hist_sum = 0 THEN
      |              CASE WHEN c.value = 0 THEN 1 ELSE 0 END
      |            WHEN abs(CAST(c.value AS HUGEINT) * h.hist_n - h.hist_sum)
      |                   * 1000000 <= 200000 * CAST(h.hist_sum AS HUGEINT)
      |            THEN 1 ELSE 0 END AS passed
      |FROM cur c LEFT JOIN hist h USING (metric, "column")""".stripMargin

  /** KMV/theta distinct-overlap sketches ([[graft.operators.Sketches]]
    * KMV family — the SET-OPERATION analogue of `sketch_distinct`'s
    * HLL pair, which can only union): per-(year, status) shard
    * sketches of order-placing customers roll up to per-year sketches
    * (theta union, no rescan), and the 1995-vs-1996 cohort overlap —
    * distinct customers in each year, in both, in either, and in 1995
    * only — is estimated from the two sketches alone. At 100 TB that
    * question is normally a full shuffle join of two fact snapshots;
    * here it is KBs of mergeable per-shard state. Every estimate is
    * GATED in-query within 4σ (k=256 → RSE ≈ 6.3%) of exact, plus the
    * set-algebra invariants; the deterministic EXACT counts are what's
    * emitted and hash-compared, so a broken sketch, union, or set-op
    * estimator cannot pass silently. */
  def kmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val orders = pq(spark, dir, "orders")
      .withColumn("yr", year(col("o_orderdate")))
      .filter(col("yr").isin(1995, 1996))
    // exact cohort facts: one hash-agg per custkey, then one fold
    val exact = orders.groupBy("o_custkey")
      .agg(max(when(col("yr") === 1995, 1).otherwise(0)).as("a"),
        max(when(col("yr") === 1996, 1).otherwise(0)).as("b"))
      .agg(sum(col("a")).cast("long").as("n_a"),
        sum(col("b")).cast("long").as("n_b"),
        count(lit(1)).cast("long").as("n_union"),
        sum(col("a") * col("b")).cast("long").as("n_inter"),
        sum(col("a") * (lit(1) - col("b"))).cast("long").as("n_only_a"))
    // shard-grain sketches -> year grain by theta union -> set ops
    val k = 256
    val byYear = Sketches.kmvMerge(
      Sketches.kmvSketch(orders, Seq("yr", "o_orderstatus"), "o_custkey", k),
      Seq("yr"))
    val joined = byYear.filter(col("yr") === 1995)
      .select(col(Sketches.KmvCol).as("ska"))
      .crossJoin(byYear.filter(col("yr") === 1996)
        .select(col(Sketches.KmvCol).as("skb")))
    val est = Sketches.kmvSetEstimates(joined, "ska", "skb").collect().head
    val ex = exact.collect().head
    val tol = 4.0 / math.sqrt(k - 2.0)
    Seq("est_a" -> "n_a", "est_b" -> "n_b", "est_union" -> "n_union",
      "est_inter" -> "n_inter", "est_diff_a" -> "n_only_a").foreach {
      case (e, x) =>
        val estV = est.getAs[Long](e); val exV = ex.getAs[Long](x).toDouble
        require(math.abs(estV - exV) / exV <= tol,
          f"KMV $e=$estV vs exact $exV%.0f: off by ${math.abs(estV - exV) / exV}%.3f" +
            f" (> $tol%.3f) — sketch/union/set-op broken")
    }
    require(est.getAs[Long]("est_inter") <=
      math.min(est.getAs[Long]("est_a"), est.getAs[Long]("est_b")) &&
      est.getAs[Long]("est_union") <=
        est.getAs[Long]("est_a") + est.getAs[Long]("est_b"),
      "KMV set-algebra invariants violated")
    exact
  }

  val kmvOverlapSql: String =
    """WITH f AS (
      |  SELECT o_custkey,
      |         MAX(CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END) AS a,
      |         MAX(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END) AS b
      |  FROM orders
      |  WHERE year(o_orderdate) IN (1995, 1996)
      |  GROUP BY 1)
      |SELECT CAST(SUM(a) AS BIGINT) AS n_a,
      |       CAST(SUM(b) AS BIGINT) AS n_b,
      |       CAST(COUNT(*) AS BIGINT) AS n_union,
      |       CAST(SUM(a * b) AS BIGINT) AS n_inter,
      |       CAST(SUM(a * (1 - b)) AS BIGINT) AS n_only_a
      |FROM f""".stripMargin

  /** Model-based quality filter ([[graft.llm.QualityClassifier]] —
    * the GPT-3/CCNet "learned gate" stage): weak-label the corpus
    * with a cheap rule (filler-token ratio ≥ 10% → low quality),
    * train the multinomial NB classifier on those labels in one
    * distributed pass, score every document with the learned
    * per-token log-odds. Decisions are floating-point log-odds
    * signs, so the query GATES `min |score|` in-query (boundary
    * margin — both engines' libm agree to ~1e-12, so labels are
    * engine-stable past 1e-6) plus training agreement ≥ 75% and
    * both-classes-predicted; the emitted (doc_id, weak_label,
    * nb_label) rows are then hash-compared against DuckDB
    * re-deriving the ENTIRE model and all decisions from the raw
    * corpus. */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.QualityClassifier
    val docs = pq(spark, dir, "documents")
    val tk = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    val weak = size(filter(tk, t => t === "slow" || t === "big")) * 10 < size(tk)
    val out = QualityClassifier.classify(docs, weak)
      .select(col("doc_id"), col("weak_label").cast("long").as("weak_label"),
        col("nb_label").cast("long").as("nb_label"),
        col("nb_margin"), col("weak_label") === col("nb_label"))
      .toDF("doc_id", "weak_label", "nb_label", "__margin__", "__agree__")
      .cache()
    val g = out.agg(min(col("__margin__")).as("m"),
      avg(col("__agree__").cast("int")).as("agree"),
      sum(col("nb_label")).as("npos"), count(lit(1)).as("n")).collect().head
    require(g.getAs[Double]("m") > 1e-6,
      s"NB decision margin ${g.getAs[Double]("m")} too close to the boundary " +
        "for engine-stable labels")
    require(g.getAs[Double]("agree") >= 0.75,
      s"NB training agreement ${g.getAs[Double]("agree")} < 0.75 — model did not learn")
    require(g.getAs[Long]("npos") > 0 && g.getAs[Long]("npos") < g.getAs[Long]("n"),
      "NB predicted a single class — degenerate model")
    out.select("doc_id", "weak_label", "nb_label")
  }

  val qualityClassifierSql: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
      |  FROM documents),
      |lab AS (
      |  SELECT doc_id, tk,
      |         CASE WHEN len(list_filter(tk, x -> x IN ('slow', 'big'))) * 10
      |                   < len(tk) THEN 1 ELSE 0 END AS weak_label
      |  FROM d),
      |tok AS (SELECT doc_id, weak_label, unnest(tk) AS token FROM lab),
      |cnt AS (
      |  SELECT token, CAST(SUM(weak_label) AS BIGINT) AS np,
      |         CAST(SUM(1 - weak_label) AS BIGINT) AS nn
      |  FROM tok GROUP BY 1),
      |tot AS (
      |  SELECT CAST(SUM(np) AS DOUBLE) AS tp, CAST(SUM(nn) AS DOUBLE) AS tn,
      |         CAST(COUNT(*) AS DOUBLE) AS v
      |  FROM cnt),
      |pri AS (
      |  SELECT CAST(SUM(weak_label) AS DOUBLE) AS dp,
      |         CAST(COUNT(*) - SUM(weak_label) AS DOUBLE) AS dn
      |  FROM lab),
      |sc AS (
      |  SELECT t.doc_id,
      |         SUM(ln((c.np + 1) / (tot.tp + tot.v)) -
      |             ln((c.nn + 1) / (tot.tn + tot.v))) AS sumw
      |  FROM tok t JOIN cnt c USING (token), tot
      |  GROUP BY 1)
      |SELECT l.doc_id, CAST(l.weak_label AS BIGINT) AS weak_label,
      |       CASE WHEN ln(pri.dp / pri.dn) + COALESCE(sc.sumw, 0) > 0
      |            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS nb_label
      |FROM lab l LEFT JOIN sc USING (doc_id), pri""".stripMargin

  /** Standing-model quality classification
    * ([[graft.llm.QualityClassifier.scoreWith]] — the incremental
    * form every other learned component has): the NB model trains on
    * the corpus bulk (docs with `doc_id % 3 != 0`), persists as two
    * parquet tables (integer token counts + priors), and a "daily"
    * batch (the remaining third) scores against the RELOADED tables —
    * only the batch tokenizes at scoring time, O(batch)/day. Unseen
    * batch tokens take the pure smoothing weight. Same margin +
    * both-classes gates as quality_classifier; DuckDB re-derives the
    * epoch-1 model and the batch decisions from the raw corpus, so a
    * lossy persisted model hash-mismatches. */
  def qualityClassifierIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.QualityClassifier
    val tk = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    val weak = (size(filter(tk, t => t === "slow" || t === "big")) * 10
      < size(tk)).cast("int")
    val docs = pq(spark, dir, "documents").withColumn("weak_label", weak)
    val trainDocs = docs.filter(col("doc_id") % 3 =!= 0)
    val modelPath = tmp("nb_model"); val priorPath = tmp("nb_priors")
    QualityClassifier.train(trainDocs).write.mode("overwrite").parquet(modelPath)
    QualityClassifier.priors(trainDocs).write.mode("overwrite").parquet(priorPath)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val out = QualityClassifier.scoreWith(batch,
      spark.read.parquet(modelPath), spark.read.parquet(priorPath))
      .select(col("doc_id"), col("weak_label").cast("long").as("weak_label"),
        col("nb_label").cast("long").as("nb_label"), col("nb_margin"))
      .localCheckpoint()
    val g = out.agg(min(col("nb_margin")).as("m"),
      sum(col("nb_label")).as("npos"), count(lit(1)).as("n")).collect().head
    require(g.getAs[Double]("m") > 1e-6,
      s"incremental NB margin ${g.getAs[Double]("m")} too small for engine-stable labels")
    require(g.getAs[Long]("npos") > 0 && g.getAs[Long]("npos") < g.getAs[Long]("n"),
      "incremental NB predicted a single class")
    out.select("doc_id", "weak_label", "nb_label")
  }

  val qualityClassifierIncrementalSql: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
      |  FROM documents),
      |lab AS (
      |  SELECT doc_id, tk,
      |         CASE WHEN len(list_filter(tk, x -> x IN ('slow', 'big'))) * 10
      |                   < len(tk) THEN 1 ELSE 0 END AS weak_label
      |  FROM d),
      |tok AS (SELECT doc_id, weak_label, unnest(tk) AS token FROM lab),
      |cnt AS (
      |  SELECT token, CAST(SUM(weak_label) AS BIGINT) AS np,
      |         CAST(SUM(1 - weak_label) AS BIGINT) AS nn
      |  FROM tok WHERE doc_id % 3 <> 0 GROUP BY 1),
      |tot AS (
      |  SELECT CAST(SUM(np) AS DOUBLE) AS tp, CAST(SUM(nn) AS DOUBLE) AS tn,
      |         CAST(COUNT(*) AS DOUBLE) AS v
      |  FROM cnt),
      |pri AS (
      |  SELECT CAST(SUM(weak_label) AS DOUBLE) AS dp,
      |         CAST(COUNT(*) - SUM(weak_label) AS DOUBLE) AS dn
      |  FROM lab WHERE doc_id % 3 <> 0),
      |sc AS (
      |  SELECT t.doc_id,
      |         SUM(ln((COALESCE(c.np, 0) + 1) / (tot.tp + tot.v)) -
      |             ln((COALESCE(c.nn, 0) + 1) / (tot.tn + tot.v))) AS sumw
      |  FROM tok t LEFT JOIN cnt c USING (token), tot
      |  WHERE t.doc_id % 3 = 0
      |  GROUP BY 1)
      |SELECT l.doc_id, CAST(l.weak_label AS BIGINT) AS weak_label,
      |       CASE WHEN ln(pri.dp / pri.dn) + COALESCE(sc.sumw, 0) > 0
      |            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS nb_label
      |FROM lab l LEFT JOIN sc USING (doc_id), pri
      |WHERE l.doc_id % 3 = 0""".stripMargin

  /** The NB quality-filter model as a CDF-maintained standing view
    * ([[graft.table.ClassifierModelView]]): per-class token counts and
    * doc priors are additive, so the learned gate folds EXACTLY under
    * appends, deletes, and updates — after curation deletes corpus
    * rows, scoring equals a from-scratch retrain. Epochs: init on 2/3
    * of the weakly-labeled corpus; append the rest; a dir-rewrite
    * DELETE (`% 5 == 1`) and an UPDATE that re-texts AND re-labels
    * (`% 97 == 2` gains spam markers, label recomputed from the new
    * text) fold in ONE refresh on a fresh instance. Gates: merged ≡
    * retrained model + priors (exact equality), zero-commit no-op, and
    * the label-stability margin. Result: maintained-model decisions on
    * a score batch, hash-matched to DuckDB's model-over-final-corpus
    * recompute. */
  def classifierViewRefresh(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.QualityClassifier
    import graft.table.{ClassifierModelView, ManagedTable}
    def weakOf(text: Column): Column = {
      val tk = regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))
      (size(filter(tk, t => t === "slow" || t === "big")) * 10 < size(tk))
        .cast("int")
    }
    val docs = pq(spark, dir, "documents").select("doc_id", "text")
      .withColumn("weak_label", weakOf(col("text")))
    val srcPath = tmp("nbv_src")
    val stPath = tmp("nbv_state")
    val t = ManagedTable(spark, srcPath)
    Staging.timed {
      t.write(docs.filter(col("doc_id") % 3 =!= 0), "APPEND", "append")
      new ClassifierModelView(spark, srcPath, stPath).initialize()
    }
    val view = new ClassifierModelView(spark, srcPath, stPath)
    t.write(docs.filter(col("doc_id") % 3 === 0), "APPEND", "append")
    require(view.refresh() == 1L,
      "classifier_view_refresh: append fold must land on v1")
    t.delete(col("doc_id") % 5 === 1)
    // the update re-texts AND re-labels consistently: the label column
    // is a function of the text, recomputed from the post-image
    val newText = concat(col("text"), lit(" slow big slow big slow big"))
    t.update(Map("text" -> newText, "weak_label" -> weakOf(newText)),
      col("doc_id") % 97 === 2)
    val restarted = new ClassifierModelView(spark, srcPath, stPath)
    require(restarted.refresh() == 3L,
      "classifier_view_refresh: one refresh must fold the delete and update")
    val vBefore = ManagedTable(spark, stPath).latestVersion
    require(restarted.refresh() == 3L &&
      ManagedTable(spark, stPath).latestVersion == vBefore,
      "classifier_view_refresh: an already-current refresh must commit nothing")
    val rebuilt = QualityClassifier.train(t.read)
    require(sameRows(restarted.read, rebuilt),
      "classifier_view_refresh: maintained counts drifted from the retrain")
    val (_, dp, dn) = restarted.watermark
    val priRow = QualityClassifier.priors(t.read).head()
    require(dp == priRow.getLong(0) && dn == priRow.getLong(1),
      s"classifier_view_refresh: maintained priors ($dp, $dn) drifted from " +
        s"the recompute (${priRow.getLong(0)}, ${priRow.getLong(1)})")
    val out = restarted.score(t.read.filter(col("doc_id") % 10 === 0))
      .select(col("doc_id"), col("weak_label").cast("long").as("weak_label"),
        col("nb_label").cast("long").as("nb_label"), col("nb_margin"))
      .localCheckpoint()
    val g = out.agg(min(col("nb_margin")).as("m"),
      sum(col("nb_label")).as("npos"), count(lit(1)).as("n")).head()
    require(g.getAs[Double]("m") > 1e-6,
      s"classifier_view_refresh: margin ${g.getAs[Double]("m")} too small " +
        "for engine-stable labels")
    require(g.getAs[Long]("npos") > 0 && g.getAs[Long]("npos") < g.getAs[Long]("n"),
      "classifier_view_refresh: predicted a single class")
    out.select("doc_id", "weak_label", "nb_label")
  }

  /** DuckDB mirror of [[classifierViewRefresh]] — the model retrained
    * over the FINAL corpus (deletes applied, updated docs re-texted
    * and re-labeled), scoring the same batch. */
  val classifierViewRefreshSql: String =
    """WITH fin AS (SELECT doc_id,
      |  CASE WHEN doc_id % 97 = 2
      |       THEN text || ' slow big slow big slow big' ELSE text END AS text
      | FROM documents WHERE doc_id % 5 <> 1),
      |d AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
      |  FROM fin),
      |lab AS (
      |  SELECT doc_id, tk,
      |         CASE WHEN len(list_filter(tk, x -> x IN ('slow', 'big'))) * 10
      |                   < len(tk) THEN 1 ELSE 0 END AS weak_label
      |  FROM d),
      |tok AS (SELECT doc_id, weak_label, unnest(tk) AS token FROM lab),
      |cnt AS (
      |  SELECT token, CAST(SUM(weak_label) AS BIGINT) AS np,
      |         CAST(SUM(1 - weak_label) AS BIGINT) AS nn
      |  FROM tok GROUP BY 1),
      |tot AS (
      |  SELECT CAST(SUM(np) AS DOUBLE) AS tp, CAST(SUM(nn) AS DOUBLE) AS tn,
      |         CAST(COUNT(*) AS DOUBLE) AS v
      |  FROM cnt),
      |pri AS (
      |  SELECT CAST(SUM(weak_label) AS DOUBLE) AS dp,
      |         CAST(COUNT(*) - SUM(weak_label) AS DOUBLE) AS dn
      |  FROM lab),
      |sc AS (
      |  SELECT t.doc_id,
      |         SUM(ln((COALESCE(c.np, 0) + 1) / (tot.tp + tot.v)) -
      |             ln((COALESCE(c.nn, 0) + 1) / (tot.tn + tot.v))) AS sumw
      |  FROM tok t LEFT JOIN cnt c USING (token), tot
      |  WHERE t.doc_id % 10 = 0
      |  GROUP BY 1)
      |SELECT l.doc_id, CAST(l.weak_label AS BIGINT) AS weak_label,
      |       CASE WHEN ln(pri.dp / pri.dn) + COALESCE(sc.sumw, 0) > 0
      |            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS nb_label
      |FROM lab l LEFT JOIN sc USING (doc_id), pri
      |WHERE l.doc_id % 10 = 0""".stripMargin

  /** Dataset card ([[graft.llm.TextOps.datasetCard]]): the long-form
    * (metric, scope, value) release datasheet — totals, exact-dup
    * count, source count, per-language breakdown with integer
    * basis-point shares. The oracle recomputes every row from the raw
    * table. */
  def datasetCardDocs(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.TextOps
    TextOps.datasetCard(pq(spark, dir, "documents"))
  }

  val datasetCardDocsSql: String =
    """WITH g AS (
      | SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      |  CAST(SUM(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT) AS n_words,
      |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
      | FROM documents),
      |d AS (SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS n_exact_dups
      |      FROM (SELECT COUNT(*) AS c FROM documents GROUP BY md5(text))),
      |l AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs,
      |       CAST(SUM(n_chars) AS BIGINT) AS chars FROM documents GROUP BY lang)
      |SELECT 'n_docs' AS metric, 'corpus' AS scope, CAST(n_docs AS VARCHAR) AS value FROM g
      |UNION ALL SELECT 'n_chars', 'corpus', CAST(n_chars AS VARCHAR) FROM g
      |UNION ALL SELECT 'n_words', 'corpus', CAST(n_words AS VARCHAR) FROM g
      |UNION ALL SELECT 'n_sources', 'corpus', CAST(n_sources AS VARCHAR) FROM g
      |UNION ALL SELECT 'n_exact_dups', 'corpus', CAST(n_exact_dups AS VARCHAR) FROM d
      |UNION ALL SELECT 'lang_docs', lang, CAST(docs AS VARCHAR) FROM l
      |UNION ALL SELECT 'lang_chars', lang, CAST(chars AS VARCHAR) FROM l
      |UNION ALL SELECT 'lang_share_bp', lang,
      |  CAST(docs * 10000 // (SELECT n_docs FROM g) AS VARCHAR) FROM l""".stripMargin

  /** SpaceSaving heavy hitters ([[graft.operators.Sketches.heavyHitters]]):
    * top-3 sources per language. The source domain (20 values) sits far
    * under the summary capacity, so no eviction ever fires, floors stay
    * 0, and the summary is EXACT and partitioning-independent — which
    * is what makes it oracle-checkable; the approximate regime's
    * bounds are property-tested in SketchesSpec. */
  def heavyHittersDocs(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    Sketches.heavyHitters(pq(spark, dir, "documents"), Seq("lang"),
      "source", capacity = 64, k = 3)
  }

  val heavyHittersDocsSql: String =
    """WITH c AS (SELECT lang, source, COUNT(*) AS n
      |           FROM documents GROUP BY lang, source),
      |r AS (SELECT lang, source AS item, n AS est_count,
      |       CAST(0 AS BIGINT) AS max_err,
      |       row_number() OVER (PARTITION BY lang ORDER BY n DESC, source) AS rn
      |      FROM c)
      |SELECT lang, item, est_count, max_err FROM r WHERE rn <= 3""".stripMargin

  /** Bloom-pruned fact join: revenue of lineitems belonging to URGENT
    * orders. The Bloom filter drops non-matching lineitems BEFORE the
    * join shuffle; the join itself removes the filter's false positives,
    * so the aggregate is exact and the oracle is a plain SQL join. */
  def bloomPruneJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val li = pq(spark, dir, "lineitem")
    val urgent = pq(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    Sketches.bloomPrunedJoin(li, urgent, "l_orderkey", "o_orderkey",
        expectedItems = 100000)
      .groupBy("l_returnflag")
      .agg(
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("string").as("urgent_rev"),
        count(lit(1)).as("n_items"))
  }

  val bloomPruneJoinSql: String =
    """SELECT l_returnflag,
      | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS VARCHAR) AS urgent_rev,
      | COUNT(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY 1""".stripMargin

  /** Deterministic salted join under the oracle gate: the fact side gets
    * content-hash salts, the dim side replicates map-side per salt, the
    * join key becomes (key, salt) — row-for-row equal to the unsalted
    * join (which is exactly what the DuckDB oracle computes), with the
    * hot key's shuffle partitions shrunk by the salt factor. */
  def saltedJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.SkewOps
    val li = pq(spark, dir, "lineitem").select(col("l_orderkey").as("okey"),
      col("l_extendedprice"), col("l_discount"))
    val ord = pq(spark, dir, "orders").select(col("o_orderkey").as("okey"),
      col("o_orderpriority"))
    SkewOps.saltedJoin(li, ord, Seq("okey"), saltFactor = 8)
      .groupBy("o_orderpriority")
      .agg(
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("string").as("rev"),
        count(lit(1)).as("n_items"))
  }

  val saltedJoinAggSql: String =
    """SELECT o_orderpriority,
      | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS VARCHAR) AS rev,
      | COUNT(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1""".stripMargin

  /** Co-located bucketed join: both sides persisted `bucketBy(8, key)`,
    * then joined WITHOUT a shuffle — the plan is asserted co-located
    * in-query (a mismatched layout would silently reintroduce the
    * full-fact exchange at 100 TB, so it throws here instead). The
    * aggregate's oracle is a plain SQL join. */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Bucketed
    val base = tmp("bktq")
    // staging: the one-time bucketed layout cost, not the join being
    // measured — Bench reports it separately as staging_sec
    Staging.timed {
      spark.sql("DROP TABLE IF EXISTS graft_bkt_li")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_ord")
      Bucketed.writeBucketed(pq(spark, dir, "lineitem"), "graft_bkt_li",
        "l_orderkey", 8, s"$base/li")
      Bucketed.writeBucketed(pq(spark, dir, "orders"), "graft_bkt_ord",
        "o_orderkey", 8, s"$base/ord")
    }
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = Bucketed.coLocatedJoin(spark, "graft_bkt_li", "graft_bkt_ord",
        "l_orderkey", "o_orderkey")
      require(Bucketed.isCoLocated(j),
        "bucketed layouts did not co-locate — the join would shuffle at scale")
      j.groupBy("o_orderpriority")
        .agg(
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("string").as("rev"),
          count(lit(1)).as("n_items"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  val bucketedJoinSql: String =
    """SELECT o_orderpriority,
      | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS VARCHAR) AS rev,
      | COUNT(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1""".stripMargin

  // ------------------------------------- deterministic sampling & packing
  //
  // Membership comes from an md5-prefix compare both engines can
  // recompute bit-for-bit, so these are HARD oracles: a biased or
  // unstable sampler hash-mismatches immediately. Thresholds below are
  // f"${(rate * 2^32).toLong}%08x" (0.25 -> 40000000, 0.2 -> 33333333).

  /** Reproducible 25% corpus sample keyed on doc identity (salt 'eval'). */
  def hashSampleDocs(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    Sampling.hashSample(pq(spark, dir, "documents"), Seq("doc_id"),
      rate = 0.25, salt = "eval")
      .select("doc_id", "source")
  }

  val hashSampleDocsSql: String =
    """SELECT doc_id, source FROM documents
      |WHERE substr(md5(concat_ws('|', 'eval', CAST(doc_id AS VARCHAR))), 1, 8)
      |      < '40000000'""".stripMargin

  /** Content-keyed train/test split: a doc's split never changes across
    * reruns or appends. */
  def hashSplitDocs(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    Sampling.hashSplit(pq(spark, dir, "documents"), Seq("doc_id"),
      testFraction = 0.2)
      .select("doc_id", "lang", "split")
  }

  val hashSplitDocsSql: String =
    """SELECT doc_id, lang,
      | CASE WHEN substr(md5(concat_ws('|', '', CAST(doc_id AS VARCHAR))), 1, 8)
      |           < '33333333'
      |      THEN 'test' ELSE 'train' END AS split
      |FROM documents""".stripMargin

  /** Quality-weighted sampling: longer documents kept with higher
    * probability (rate = n_chars/600, clamped) — the upsample-the-good-
    * stuff move, still fully deterministic and engine-recomputable. */
  def weightedSampleDocs(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val docs = pq(spark, dir, "documents")
    Sampling.hashSampleWeighted(docs, Seq("doc_id"),
        col("n_chars").cast("double") / lit(600.0), salt = "w")
      .select("doc_id", "n_chars")
  }

  val weightedSampleDocsSql: String =
    """SELECT doc_id, n_chars FROM documents
      |WHERE CAST(('0x' || substr(md5(concat_ws('|', 'w', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
      |      < FLOOR(LEAST(GREATEST(n_chars / 600.0, 0), 1) * 4294967296.0)""".stripMargin

  /** Stratified sampling with per-language rates (deterministic
    * sampleBy): rebalance a multilingual corpus without a shuffle. */
  def stratifiedSampleDocs(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    Sampling.hashSampleBy(pq(spark, dir, "documents"), "lang",
        Map("en" -> 0.5, "zh" -> 1.0, "de" -> 0.25),
        keys = Seq("doc_id"), defaultRate = 0.1, salt = "strat")
      .select("doc_id", "lang")
  }

  val stratifiedSampleDocsSql: String =
    """SELECT doc_id, lang FROM documents
      |WHERE CAST(('0x' || substr(md5(concat_ws('|', 'strat', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
      |      < FLOOR(CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 1.0
      |                  WHEN 'de' THEN 0.25 ELSE 0.1 END * 4294967296.0)""".stripMargin

  /** At most 15 documents per source, selected by hash order (unbiased
    * within the group, deterministic across engines). */
  def capPerSource(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    Sampling.capPerGroup(pq(spark, dir, "documents"), Seq("source"),
      cap = 15, keys = Seq("doc_id"))
      .select("doc_id", "source")
  }

  val capPerSourceSql: String =
    """WITH r AS (
      | SELECT doc_id, source,
      |  row_number() OVER (PARTITION BY source
      |    ORDER BY substr(md5(concat_ws('|', '', CAST(doc_id AS VARCHAR))), 1, 8),
      |             doc_id) AS rn
      | FROM documents)
      |SELECT doc_id, source FROM r WHERE rn <= 15""".stripMargin

  /** Training-mixture assembly over language strata: ~200 docs at
    * 50% en / 20% de / 20% fr / 10% es (zh deliberately unweighted →
    * dropped). Quotas are exact integers, admission is key-hash order —
    * the oracle recomputes the same floor(total·w) caps inline. */
  def mixtureSampleDocs(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    Sampling.mixtureSample(pq(spark, dir, "documents"), "lang",
      weights = Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.1),
      total = 200L, keys = Seq("doc_id"))
      .select("doc_id", "lang", "source")
  }

  val mixtureSampleDocsSql: String =
    """WITH r AS (
      | SELECT doc_id, lang, source,
      |  row_number() OVER (PARTITION BY lang
      |    ORDER BY substr(md5(concat_ws('|', '', CAST(doc_id AS VARCHAR))), 1, 8),
      |             doc_id) AS rn
      | FROM documents)
      |SELECT doc_id, lang, source FROM r
      |WHERE (lang = 'en' AND rn <= 100) OR (lang = 'de' AND rn <= 40)
      |   OR (lang = 'fr' AND rn <= 40) OR (lang = 'es' AND rn <= 20)""".stripMargin

  /** Temperature-scaled mixture quotas
    * ([[graft.operators.Sampling.temperatureQuotas]], α = 0.5): the
    * n^α domain-reweighting rule as an exact integer quota table —
    * sqrt is IEEE-correctly-rounded in both engines, the rest is
    * BIGINT arithmetic, so the oracle reproduces every quota
    * bit-exactly. */
  def temperatureQuotasDocs(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    Sampling.temperatureQuotas(pq(spark, dir, "documents"), "lang",
      total = 500L)
  }

  val temperatureQuotasDocsSql: String =
    """WITH c AS (SELECT lang AS stratum, COUNT(*) AS n FROM documents
      |           WHERE lang IS NOT NULL GROUP BY 1),
      |m AS (SELECT MAX(n) AS n_max FROM c),
      |w AS (SELECT stratum, n,
      |  CAST(FLOOR(1000000 * SQRT(CAST(n AS DOUBLE) / n_max)) AS BIGINT)
      |   AS scaled_weight
      | FROM c, m),
      |s AS (SELECT CAST(SUM(scaled_weight) AS BIGINT) AS sw_sum FROM w)
      |SELECT stratum, n, scaled_weight,
      | CAST(500 * scaled_weight // sw_sum AS BIGINT) AS quota
      |FROM w, s""".stripMargin

  /** Mergeable GK quantile summaries
    * ([[graft.operators.Sketches.approxQuantiles]]) under the oracle
    * gate: the sketch content is partitioning-dependent (like any GK
    * pipeline), so the DETERMINISTIC output is the exact rank-selected
    * quantile (histogram decomposition, same shape as corpus_profile's
    * median) — and the in-query require proves the sketch estimate
    * lands within eps·n ranks of it. A sketch drifting out of its
    * guarantee fails the query, an exact-selection bug fails the
    * hash compare. */
  def quantileSketchDocs(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    import org.apache.spark.sql.expressions.Window
    val probs = Seq(0.25, 0.5, 0.75, 0.9)
    val eps = 0.05
    val docs = pq(spark, dir, "documents")
      .select(col("n_chars").cast("double").as("v"))
    // exact rank selection over the value histogram (distinct sizes,
    // never rows — the corpusProfile argument)
    val hist = docs.groupBy(col("v")).agg(count(lit(1)).as("c"))
    val n = hist.agg(sum(col("c")).as("n"))
    val cum = hist.withColumn("cum",
      sum(col("c")).over(Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val exact = cum.crossJoin(broadcast(n))
      .select(col("*"), explode(array(probs.map(lit): _*)).as("prob"))
      .filter(col("cum") >= ceil(col("prob") * col("n")) &&
        col("cum") - col("c") < ceil(col("prob") * col("n")))
      .select(col("prob"), col("v").as("value"))
    // the gate: every sketch estimate within eps·n ranks of exact
    val total = docs.count()
    val hs = hist.collect().map(r => (r.getDouble(0), r.getLong(1))).sortBy(_._1)
    val est = Sketches.approxQuantiles(
      docs.withColumn("g", lit("all")), Seq("g"), "v", probs, eps)
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    for (p <- probs) {
      val r = math.max(1L, math.ceil(p * total).toLong)
      val lo = hs.filter(_._1 < est(p)).map(_._2).sum + 1
      val hi = hs.filter(_._1 <= est(p)).map(_._2).sum
      val e = if (r < lo) lo - r else if (r > hi) r - hi else 0L
      require(e <= (eps * total).toLong,
        s"quantile_sketch: GK estimate for p=$p off by $e ranks " +
          s"(> ${(eps * total).toLong}) — the eps·n guarantee is broken")
    }
    exact
  }

  val quantileSketchDocsSql: String =
    """WITH h AS (SELECT CAST(n_chars AS DOUBLE) AS v, COUNT(*) AS c
      |           FROM documents GROUP BY 1),
      |t AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM h),
      |cum AS (SELECT v, c, SUM(c) OVER (ORDER BY v) AS cum FROM h),
      |p AS (SELECT CAST(UNNEST([0.25, 0.5, 0.75, 0.9]) AS DOUBLE) AS prob)
      |SELECT prob, v AS value
      |FROM p, t, cum
      |WHERE cum >= CEIL(prob * n) AND cum - c < CEIL(prob * n)""".stripMargin

  /** Column profiling ([[graft.operators.Profiling.profileColumns]])
    * with quantiles: the EXACT mode (histogram rank selection, one
    * extra scan for all numeric columns together) is the oracle-checked
    * output; the in-query gate additionally runs the 100 TB-scale
    * `exact = false` mode — GK summaries folded into the SAME single
    * aggregate as the other stats — and requires every sketch quantile
    * within `eps·n` ranks of the exact answer (the quantile_sketch
    * pattern, applied to the profiling surface). */
  def columnProfileDocs(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Profiling
    val docs = pq(spark, dir, "documents")
    val cols = Seq("doc_id", "lang", "source", "n_chars")
    val qNames = Profiling.Probs.map(_._2)
    val eps = 0.05
    val approx = Profiling
      .profileColumns(docs, cols, exact = false, eps = eps)
      .select((col("column_name") +: qNames.map(col)): _*).collect()
      .map(r => r.getString(0) -> qNames.indices.map(i =>
        if (r.isNullAt(i + 1)) Double.NaN else r.getDouble(i + 1))).toMap
    for (c <- Seq("doc_id", "n_chars")) {
      val hs = docs.select(col(c).cast("double").as("v"))
        .filter(col("v").isNotNull)
        .groupBy("v").agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getDouble(0), r.getLong(1))).sortBy(_._1)
      val total = hs.map(_._2).sum
      for (((p, _), est) <- Profiling.Probs.zip(approx(c))) {
        val r = math.max(1L, math.ceil(p * total).toLong)
        val lo = hs.filter(_._1 < est).map(_._2).sum + 1
        val hi = hs.filter(_._1 <= est).map(_._2).sum
        val e = if (r < lo) lo - r else if (r > hi) r - hi else 0L
        require(e <= (eps * total).toLong,
          s"column_profile: sketch-mode $c p=$p off by $e ranks " +
            s"(> ${(eps * total).toLong}) — GK-in-one-aggregate is broken")
      }
    }
    Profiling.profileColumns(docs, cols)
  }

  /** The composed draw ([[graft.operators.Sampling.temperatureMixtureSample]]):
    * temperature quotas feeding the deterministic key-hash admission —
    * the oracle recomputes quota derivation AND admission from scratch,
    * so both halves of the composition are under the gate at once. */
  def temperatureMixtureDocs(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    Sampling.temperatureMixtureSample(pq(spark, dir, "documents"), "lang",
      total = 500L, keys = Seq("doc_id"))
      .select("doc_id", "lang", "source")
  }

  val temperatureMixtureDocsSql: String =
    """WITH c AS (SELECT lang, COUNT(*) AS n FROM documents
      |           WHERE lang IS NOT NULL GROUP BY 1),
      |m AS (SELECT MAX(n) AS n_max FROM c),
      |w AS (SELECT lang,
      |  CAST(FLOOR(1000000 * SQRT(CAST(n AS DOUBLE) / n_max)) AS BIGINT) AS sw
      | FROM c, m),
      |s AS (SELECT CAST(SUM(sw) AS BIGINT) AS sw_sum FROM w),
      |q AS (SELECT lang, CAST(500 * sw // sw_sum AS BIGINT) AS quota FROM w, s),
      |r AS (
      | SELECT doc_id, lang, source,
      |  row_number() OVER (PARTITION BY lang
      |    ORDER BY substr(md5(concat_ws('|', '', CAST(doc_id AS VARCHAR))), 1, 8),
      |             doc_id) AS rn
      | FROM documents)
      |SELECT doc_id, lang, source FROM r JOIN q USING (lang)
      |WHERE rn <= quota""".stripMargin

  /** Deterministic training order ([[graft.operators.Sampling.trainingOrder]]):
    * every document gets a hash shard and an in-shard position; (pos,
    * shard) lexicographic order is the reproducible global curriculum.
    * The oracle re-derives shard and position from md5 alone — the
    * hex-prefix→int step is spelled as strpos arithmetic because DuckDB
    * has no conv(); identical values or the hash check fails. */
  def trainingOrderDocs(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    Sampling.trainingOrder(pq(spark, dir, "documents"), Seq("doc_id"),
      numShards = 8, salt = "epoch1")
      .select("doc_id", "lang", "shard", "pos")
  }

  val trainingOrderDocsSql: String = {
    // hex char c (1-indexed position i of h) -> value * 16^(4-i)
    def nib(i: Int, mult: Int) =
      s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * $mult"
    s"""WITH d AS (
       | SELECT doc_id, lang,
       |  md5(concat_ws('|', 'epoch1', CAST(doc_id AS VARCHAR))) AS h
       | FROM documents),
       |s AS (
       | SELECT doc_id, lang, h,
       |  CAST((${nib(1, 4096)} + ${nib(2, 256)} + ${nib(3, 16)} + ${nib(4, 1)}) % 8 AS INTEGER) AS shard
       | FROM d)
       |SELECT doc_id, lang, shard,
       | CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS INTEGER) AS pos
       |FROM s""".stripMargin
  }

  /** Fixed-boundary sequence packing: per-language 2000-char training
    * shards; a document's bin is where its exclusive prefix sum starts. */
  def packDocs(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.Packing
    Packing.packSequences(pq(spark, dir, "documents"), Seq("lang"),
      Seq("doc_id"), "n_chars", budget = 2000L)
      .select("doc_id", "lang", "offset", "bin")
  }

  /** Incremental packing ([[graft.llm.Packing.packSequencesFrom]]): the
    * even docs pack as epoch 1, their per-group totals persist to
    * parquet, and the odd docs pack as epoch 2 starting from the
    * RELOADED totals — equal, by construction, to one-shot packing
    * with epochs concatenated, which is exactly what the oracle
    * recomputes with an (epoch, doc_id) window order. */
  def packIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.Packing
    val docs = pq(spark, dir, "documents")
    val e1 = docs.filter(col("doc_id") % 2 === 0)
    val e2 = docs.filter(col("doc_id") % 2 =!= 0)
    val statePath = tmp("packstate")
    Packing.packTotals(e1, Seq("lang"), "n_chars")
      .write.mode("overwrite").parquet(statePath)
    val p1 = Packing.packSequences(e1, Seq("lang"), Seq("doc_id"),
      "n_chars", budget = 2000L)
    val p2 = Packing.packSequencesFrom(e2, spark.read.parquet(statePath),
      Seq("lang"), Seq("doc_id"), "n_chars", budget = 2000L)
    p1.select("doc_id", "lang", "offset", "bin")
      .unionByName(p2.select("doc_id", "lang", "offset", "bin"))
  }

  val packIncrementalSql: String =
    """WITH p AS (
      | SELECT doc_id, lang,
      |  CAST(COALESCE(SUM(n_chars) OVER (PARTITION BY lang
      |    ORDER BY doc_id % 2, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
      | FROM documents)
      |SELECT doc_id, lang, "offset",
      | CAST(FLOOR("offset" / 2000.0) AS BIGINT) AS bin
      |FROM p""".stripMargin

  /** Shard materialization on top of [[packDocs]]'s layout: every
    * (lang, bin) becomes one concatenated training shard. The oracle
    * rebuilds each shard string with `string_agg(... ORDER BY offset,
    * text)` — byte-identical or the hash fails. */
  def exportShardsDocs(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.Packing
    val packed = Packing.packSequences(pq(spark, dir, "documents"),
      Seq("lang"), Seq("doc_id"), "n_chars", budget = 2000L)
    Packing.exportShards(packed, Seq("lang"))
      .select("lang", "bin", "n_docs", "n_chars_total", "shard_text")
  }

  val exportShardsDocsSql: String =
    """WITH p AS (
      | SELECT doc_id, lang, text,
      |  CAST(COALESCE(SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
      | FROM documents)
      |SELECT lang, CAST(FLOOR("offset" / 2000.0) AS BIGINT) AS bin,
      | CAST(count(*) AS BIGINT) AS n_docs,
      | CAST(sum(length(text)) AS BIGINT) AS n_chars_total,
      | string_agg(text, '<|eos|>' ORDER BY "offset", text) AS shard_text
      |FROM p
      |GROUP BY lang, CAST(FLOOR("offset" / 2000.0) AS BIGINT)""".stripMargin

  /** Shard FILE materialization ([[graft.llm.Packing.writeShards]]):
    * the same (lang, bin) shards as [[exportShardsDocs]], but written
    * to disk one file per shard and returned as the manifest. The
    * in-query gate reads every produced file back DISTRIBUTED
    * (binaryFile source, joined to the manifest on the deterministic
    * name) and requires md5(file bytes) == md5(UTF-8(shard_text)) —
    * so a missing, truncated, or wrongly-named file hard-fails here,
    * while the DuckDB oracle independently recomputes names and byte
    * counts from the raw documents. */
  def exportShardFiles(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.Packing
    // 20k-char shards: the file count is corpus_chars / budget, and a
    // budget sized like a real training shard keeps the write from
    // degenerating into thousands of tiny files at larger SFs
    val packed = Packing.packSequences(pq(spark, dir, "documents"),
      Seq("lang"), Seq("doc_id"), "n_chars", budget = 20000L)
    val outDir = tmp("shard_files")
    val manifest = Packing.writeShards(packed, outDir, Seq("lang"))
    val files = spark.read.format("binaryFile").load(s"$outDir/shard-*.txt")
      .select(element_at(split(col("path"), "/"), -1).as("shard_file"),
        col("content"))
    val joined = manifest.join(files, Seq("shard_file")).localCheckpoint()
    val n = manifest.count()
    require(joined.count() == n,
      "export_shard_files: manifest and on-disk shard files diverge")
    val bad = joined
      .filter(md5(col("content")) =!= md5(encode(col("shard_text"), "UTF-8")))
      .count()
    require(bad == 0,
      s"export_shard_files: $bad shard files are not byte-identical to " +
        "their shard_text")
    manifest.select(col("lang"), col("bin"), col("n_docs"),
      col("shard_file"), col("shard_bytes"))
  }

  val exportShardFilesSql: String =
    """WITH p AS (
      | SELECT doc_id, lang, text,
      |  CAST(COALESCE(SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
      | FROM documents),
      |s AS (
      | SELECT lang, CAST(FLOOR("offset" / 20000.0) AS BIGINT) AS bin,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  string_agg(text, '<|eos|>' ORDER BY "offset", text) AS shard_text
      | FROM p GROUP BY 1, 2)
      |SELECT lang, bin, n_docs,
      | 'shard-' || lang || '-' || CAST(bin AS VARCHAR) || '.txt' AS shard_file,
      | CAST(strlen(shard_text) AS BIGINT) AS shard_bytes
      |FROM s""".stripMargin

  /** Overlapping token-window chunking (40-token windows, 10-token
    * overlap): both engines recompute every chunk string token-for-token
    * from the same whitespace split and integer boundary arithmetic. */
  def chunkDocs(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.TextOps
    TextOps.chunk(pq(spark, dir, "documents"), chunkTokens = 40, overlap = 10)
  }

  val chunkDocsSql: String =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |           FROM documents WHERE length(trim(text)) > 0),
      |k AS (SELECT doc_id, toks,
      |       GREATEST(0, CAST(ceil((len(toks) - 40) / 30.0) AS INT)) AS last_k FROM t),
      |c AS (SELECT doc_id, toks, UNNEST(range(0, last_k + 1)) AS chunk_id FROM k)
      |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
      | array_to_string(list_slice(toks, chunk_id * 30 + 1, chunk_id * 30 + 40), ' ')
      |  AS chunk_text,
      | CAST(len(list_slice(toks, chunk_id * 30 + 1, chunk_id * 30 + 40)) AS INT)
      |  AS n_chunk_tokens
      |FROM c""".stripMargin

  /** Incremental (daily-ingest) near-dup: the 10% "new batch" checked
    * against the 90% standing corpus — corpus×corpus pairs never form.
    * DuckDB recomputes exact Jaccard over every cross-side pair; LSH
    * recall on this corpus is total (asserted in DedupSpec), so a
    * recall loss in the band join hash-mismatches. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.Dedup
    val docs = pq(spark, dir, "documents")
    Dedup.incrementalNearDupPairs(
      newDocs = docs.filter(col("doc_id") % 10 === 0),
      corpus = docs.filter(col("doc_id") % 10 =!= 0),
      threshold = 0.8)
  }

  val dedupIncrementalSql: String =
    """WITH d AS (SELECT doc_id,
      |  list_distinct([g[i] || ' ' || g[i+1] || ' ' || g[i+2]
      |                 for i in range(1, len(g)-1)]) AS sh
      | FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS g
      |       FROM documents)),
      |p AS (SELECT n.doc_id AS new_id, o.doc_id AS old_id,
      |  len(list_intersect(n.sh, o.sh))::DOUBLE /
      |  len(list_distinct(list_concat(n.sh, o.sh))) AS jaccard
      | FROM d n JOIN d o ON n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0
      | WHERE len(n.sh) > 0 AND len(o.sh) > 0)
      |SELECT new_id, old_id, jaccard FROM p WHERE jaccard >= 0.8""".stripMargin

  /** The daily-ingest dedup ACTION under the oracle gate: the new batch
    * (doc_id % 10 == 0) minus near-dups of the standing corpus (checked
    * through its persisted index) minus batch-internal near-dups —
    * exactly the rows safe to append. The oracle recomputes both checks
    * with exact Jaccard. */
  def dedupBatchAction(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.Dedup
    val docs = pq(spark, dir, "documents")
    val idx = Dedup.buildNearDupIndex(docs.filter(col("doc_id") % 10 =!= 0))
    Dedup.dedupNewBatch(docs.filter(col("doc_id") % 10 === 0), idx,
      threshold = 0.8)
      .select("doc_id", "lang")
  }

  val dedupBatchActionSql: String =
    """WITH d AS (SELECT doc_id,
      |  list_distinct([g[i] || ' ' || g[i+1] || ' ' || g[i+2]
      |                 for i in range(1, len(g)-1)]) AS sh
      | FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS g
      |       FROM documents)),
      |n AS (SELECT * FROM d WHERE doc_id % 10 = 0 AND len(sh) > 0),
      |o AS (SELECT * FROM d WHERE doc_id % 10 <> 0 AND len(sh) > 0),
      |xdup AS (SELECT DISTINCT n.doc_id FROM n JOIN o
      | ON len(list_intersect(n.sh, o.sh))::DOUBLE /
      |    len(list_distinct(list_concat(n.sh, o.sh))) >= 0.8),
      |idup AS (SELECT DISTINCT b.doc_id FROM n a JOIN n b
      | ON a.doc_id < b.doc_id
      | AND len(list_intersect(a.sh, b.sh))::DOUBLE /
      |     len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8)
      |SELECT doc_id, lang FROM documents
      |WHERE doc_id % 10 = 0
      |  AND doc_id NOT IN (SELECT doc_id FROM xdup)
      |  AND doc_id NOT IN (SELECT doc_id FROM idup)""".stripMargin

  /** Exact duplicated-span detection ([[graft.llm.Dedup.duplicatedSpans]],
    * the Lee et al. 2021 exact-substring dedup shape): every doc pair
    * sharing a run of ≥ 12 consecutive tokens, with the longest shared
    * run and the count of maximal runs. Exact both sides — the oracle
    * recomputes grams, diagonals and islands from scratch, so a
    * single off-by-one in run merging hash-mismatches. */
  def dedupSpans(spark: SparkSession, dir: String): DataFrame =
    graft.llm.Dedup.duplicatedSpans(pq(spark, dir, "documents"),
      k = 8, minSpanTokens = 12)

  val dedupSpansSql: String =
    """WITH toks AS (
      | SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      | FROM documents),
      |g AS (
      | SELECT doc_id, pos, array_to_string(t[pos:pos+7], ' ') AS gram
      | FROM (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS pos FROM toks)),
      |m AS (
      | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a,
      |        a.pos - b.pos AS diag
      | FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
      |runs AS (
      | SELECT doc_a, doc_b, diag, pos_a,
      |  pos_a - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag
      |                             ORDER BY pos_a) AS grp
      | FROM m),
      |spans AS (
      | SELECT doc_a, doc_b, CAST(COUNT(*) + 7 AS BIGINT) AS span_tokens
      | FROM runs GROUP BY doc_a, doc_b, diag, grp
      | HAVING COUNT(*) + 7 >= 12)
      |SELECT doc_a, doc_b, MAX(span_tokens) AS max_span_tokens,
      | COUNT(*) AS n_spans
      |FROM spans GROUP BY doc_a, doc_b""".stripMargin

  /** The span-removal ACTION ([[graft.llm.Dedup.removeDuplicatedSpans]]):
    * first occurrence (smallest doc id) keeps each duplicated ≥12-token
    * run, every later doc has it cut; output is the full corpus as
    * normalized token streams. The oracle recomputes cut intervals AND
    * the token-level rebuild — an off-by-one at either span edge
    * changes the rebuilt text and hash-mismatches. */
  def dedupSpansAction(spark: SparkSession, dir: String): DataFrame =
    graft.llm.Dedup.removeDuplicatedSpans(pq(spark, dir, "documents"),
      k = 8, minSpanTokens = 12)

  val dedupSpansActionSql: String =
    """WITH toks AS (
      | SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      | FROM documents),
      |g AS (
      | SELECT doc_id, pos, array_to_string(t[pos:pos+7], ' ') AS gram
      | FROM (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS pos FROM toks)),
      |m AS (
      | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a,
      |        a.pos - b.pos AS diag
      | FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
      |runs AS (
      | SELECT doc_a, doc_b, diag, pos_a,
      |  pos_a - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag
      |                             ORDER BY pos_a) AS grp
      | FROM m),
      |cuts AS (
      | SELECT doc_b AS doc_id, MIN(pos_a) - diag AS lo,
      |        MIN(pos_a) - diag + COUNT(*) + 7 - 1 AS hi
      | FROM runs GROUP BY doc_a, doc_b, diag, grp
      | HAVING COUNT(*) + 7 >= 12),
      |tk AS (
      | SELECT doc_id, pos, t[pos] AS tok
      | FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS pos FROM toks)),
      |kept AS (
      | SELECT k.doc_id, k.pos, k.tok FROM tk k
      | WHERE NOT EXISTS (SELECT 1 FROM cuts c
      |                   WHERE c.doc_id = k.doc_id
      |                     AND k.pos BETWEEN c.lo AND c.hi))
      |SELECT d.doc_id,
      | coalesce(string_agg(k.tok, ' ' ORDER BY k.pos), '') AS text
      |FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
      |GROUP BY d.doc_id""".stripMargin

  /** INCREMENTAL span dedup ([[graft.llm.Dedup.removeDuplicatedSpansAgainst]]):
    * the corpus (doc_id % 10 ≠ 0) builds its positioned-gram index ONCE,
    * persisted as parquet and reloaded; a "daily" batch (doc_id % 10 = 0)
    * is PLANTED with cross-epoch copies — each batch doc appends the
    * first 20 tokens of corpus doc (doc_id + 1) — and only the batch is
    * gram-exploded at scoring time. Every planted ≥12-token run must be
    * cut from the batch side; the oracle reconstructs the identical
    * plant and recomputes grams, diagonals, islands and the token-level
    * rebuild from scratch, so an off-by-one at either span edge
    * hash-mismatches. In-query gate: the plants actually shrank. */
  def dedupSpansIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.Dedup
    val docs = pq(spark, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val plant = corpus.select((col("doc_id") - 1).as("doc_id"),
      array_join(slice(regexp_extract_all(lower(col("text")),
        lit("[a-z0-9]+"), lit(0)), 1, 20), " ").as("__plant__"))
    val batch = docs.filter(col("doc_id") % 10 === 0)
      .join(plant, Seq("doc_id"), "left")
      .select(col("doc_id"),
        concat_ws(" ", col("text"), coalesce(col("__plant__"), lit("")))
          .as("text"))
    val idxPath = tmp("spanidx")
    Staging.timed {
      Dedup.spanGramIndex(corpus).write.mode("overwrite").parquet(idxPath)
    }
    val cleaned = Dedup.removeDuplicatedSpansAgainst(
      batch, spark.read.parquet(idxPath), k = 8, minSpanTokens = 12)
      .localCheckpoint() // read once: the gate below is a second action
    val planted = batch.select(col("doc_id"),
      size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
        .as("n_in"))
    val shrunk = cleaned
      .select(col("doc_id"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
          .as("n_out"))
      .join(planted, "doc_id")
      .filter(col("n_out") <= col("n_in") - 12).count()
    require(shrunk >= 25,
      s"dedup_spans_incremental: only $shrunk batch docs lost a planted " +
        "span — cross-epoch detection is not firing")
    cleaned
  }

  val dedupSpansIncrementalSql: String =
    """WITH corpus AS (
      | SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
      |plant AS (
      | SELECT doc_id - 1 AS doc_id,
      |  array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+')[1:20], ' ') AS p
      | FROM corpus),
      |batch AS (
      | SELECT d.doc_id, concat_ws(' ', d.text, COALESCE(p.p, '')) AS text
      | FROM documents d LEFT JOIN plant p USING (doc_id)
      | WHERE d.doc_id % 10 = 0),
      |ctoks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |          FROM corpus),
      |btoks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |          FROM batch),
      |cg AS (SELECT doc_id, pos, array_to_string(t[pos:pos+7], ' ') AS gram
      | FROM (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS pos FROM ctoks)),
      |bg AS (SELECT doc_id, pos, array_to_string(t[pos:pos+7], ' ') AS gram
      | FROM (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS pos FROM btoks)),
      |m AS (
      | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a,
      |        a.pos - b.pos AS diag
      | FROM cg a JOIN bg b ON a.gram = b.gram),
      |runs AS (
      | SELECT doc_a, doc_b, diag, pos_a,
      |  pos_a - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag
      |                             ORDER BY pos_a) AS grp
      | FROM m),
      |cuts AS (
      | SELECT doc_b AS doc_id, MIN(pos_a) - diag AS lo,
      |        MIN(pos_a) - diag + COUNT(*) + 7 - 1 AS hi
      | FROM runs GROUP BY doc_a, doc_b, diag, grp
      | HAVING COUNT(*) + 7 >= 12),
      |tk AS (
      | SELECT doc_id, pos, t[pos] AS tok
      | FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS pos FROM btoks)),
      |kept AS (
      | SELECT k.doc_id, k.pos, k.tok FROM tk k
      | WHERE NOT EXISTS (SELECT 1 FROM cuts c
      |                   WHERE c.doc_id = k.doc_id
      |                     AND k.pos BETWEEN c.lo AND c.hi))
      |SELECT b.doc_id,
      | coalesce(string_agg(k.tok, ' ' ORDER BY k.pos), '') AS text
      |FROM batch b LEFT JOIN kept k ON b.doc_id = k.doc_id
      |GROUP BY b.doc_id""".stripMargin

  /** Decontamination as an ACTION (not just the report): the train split
    * minus every doc sharing >= 3 shingles with any test doc — what a
    * pipeline actually ships to training. Same bucketed shape as the
    * contamination sweep plus one anti-join. */
  def decontaminateTrain(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.Dedup
    import graft.operators.Sampling
    val split = Sampling.hashSplit(pq(spark, dir, "documents"),
      Seq("doc_id"), testFraction = 0.2)
    Dedup.decontaminate(
      train = split.filter(col("split") === "train").drop("split"),
      test = split.filter(col("split") === "test").drop("split"),
      minShared = 3)
      .select("doc_id", "lang")
  }

  val decontaminateTrainSql: String =
    """WITH s AS (SELECT doc_id, lang,
      |  CASE WHEN substr(md5(concat_ws('|', '', CAST(doc_id AS VARCHAR))), 1, 8)
      |            < '33333333'
      |       THEN 'test' ELSE 'train' END AS split, text
      | FROM documents),
      |d AS (SELECT doc_id, split,
      |  list_distinct([g[i] || ' ' || g[i+1] || ' ' || g[i+2]
      |                 for i in range(1, len(g)-1)]) AS sh
      | FROM (SELECT doc_id, split,
      |        regexp_extract_all(lower(text), '[a-z0-9]+') AS g FROM s)),
      |bad AS (SELECT DISTINCT r.doc_id
      | FROM d t JOIN d r ON t.split = 'test' AND r.split = 'train'
      | WHERE len(list_intersect(t.sh, r.sh)) >= 3)
      |SELECT doc_id, lang FROM s
      |WHERE split = 'train' AND doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin

  /** Trainable BPE tokenizer ([[graft.llm.Bpe]]): learn 24 merges from
    * the corpus's word-frequency table (one corpus scan; training runs
    * in-JVM on the collected Zipf-bounded word table), then encode
    * every document under the learned ranks (broadcast merges,
    * per-partition word memo, zero shuffles). Rank-greedy merging is a
    * data-dependent fixpoint with no DuckDB expression, so this is a
    * rows-only driver check — but NOT gate-free: the in-query
    * [[graft.llm.Bpe.requireEncodes]] encodes planted texts with
    * analytically-derived token sequences through the distributed
    * encode path and throws on any divergence (rank precedence,
    * non-overlapping remerge, fixpoint termination all pinned).
    * Exactness of TRAINING is pinned by BpeSpec against an independent
    * reference implementation, 512-merge run included. */
  def bpeTokenCount(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.Bpe
    // gate merges: (a,a)=0, (aa,aa)=1, (b,c)=2, (a,b)=3 — "aaaaaaaaa"
    // must collapse via two rank tiers, and "abcabc" must pick rank-2
    // (b,c) over the textually-earlier rank-3 (a,b)
    Bpe.requireEncodes(spark,
      Seq(("a", "a"), ("aa", "aa"), ("b", "c"), ("a", "b")),
      Seq(
        "aaaaaaaaa" -> Seq("aaaa", "aaaa", "a"),
        "abcabc abc ab" -> Seq("a", "bc", "a", "bc", "a", "bc", "ab"),
        "xyz" -> Seq("x", "y", "z")))
    val docs = pq(spark, dir, "documents")
    val merges = Staging.timed { Bpe.learn(docs, numMerges = 24) }
    Bpe.encode(docs, merges)
      .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"))
  }

  /** Trainable unigram-LM tokenizer ([[graft.llm.UnigramLm]], Kudo
    * 2018 — SentencePiece's default, completing the tokenizer family
    * next to bpe_token_count): seed-and-prune vocabulary under
    * hard-EM on the collected word-frequency table (one corpus scan,
    * training in-JVM like BPE's), Viterbi encode under broadcast
    * piece log-probs (per-partition word memo, zero shuffles).
    * Viterbi is a data-dependent DP with no DuckDB expression, so
    * this is a rows-only driver row — but gate-ful, twice over: the
    * in-query [[graft.llm.UnigramLm.requireEncodes]] pushes plants
    * with analytically-derived optimal segmentations through the real
    * distributed encode path (optimality, unk fallback), and a
    * distributed concatenation-identity require proves every emitted
    * segmentation reassembles its document's exact word stream.
    * Optimality against a brute-force all-segmentations enumerator
    * and training determinism are UnigramLmSpec's pins. */
  def unigramTokenCount(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.UnigramLm
    // gate vocab: "abab" must take ab+ab (-2) over a+b+a+b (-8);
    // "aabc" must take a+ab+c (-6) over a+a+b+c (-9); unknown chars
    // fall back to single-char unk pieces
    UnigramLm.requireEncodes(spark,
      Seq("a" -> -2.0, "b" -> -2.0, "ab" -> -1.0, "c" -> -3.0),
      Seq("abab" -> Seq("ab", "ab"),
        "aabc" -> Seq("a", "ab", "c"),
        "xyz" -> Seq("x", "y", "z")))
    val docs = pq(spark, dir, "documents")
    val vocab = Staging.timed {
      UnigramLm.learn(docs, vocabSize = 64, maxPieceLen = 8, emRounds = 3)
    }
    val out = UnigramLm.encode(docs, vocab).localCheckpoint()
    // distributed identity gate: every segmentation must concatenate
    // back to its document's exact word stream
    val broken = out.join(docs.select(col("doc_id"),
        concat_ws("", regexp_extract_all(lower(col("text")),
          lit("[a-z0-9]+"), lit(0))).as("__flat__")), Seq("doc_id"))
      .filter(concat_ws("", col("ulm_tokens")) =!= col("__flat__"))
      .count()
    require(broken == 0L,
      s"unigram_token_count: $broken documents failed concatenation identity")
    out.select(col("doc_id"), col("n_words"), col("n_ulm_tokens"))
  }

  /** Trainable WordPiece tokenizer ([[graft.llm.WordPiece]], Schuster
    * & Nakajima 2012 / the BERT tokenizer — the third member of the
    * tokenizer family): likelihood-scored merges trained in-JVM on
    * the collected word-frequency table (one corpus scan, exact-
    * rational score comparisons), greedy longest-match-first encoding
    * under a broadcast vocabulary with `##` continuation pieces (per-
    * partition word memo, zero shuffles). Longest-match is a data-
    * dependent loop with no DuckDB expression, so this is rows-only —
    * gated twice: the in-query [[graft.llm.WordPiece.requireEncodes]]
    * pushes plants with hand-derivable piece sequences through the
    * real distributed encode path, and a distributed concatenation-
    * identity require proves every non-UNK segmentation reassembles
    * its document's word stream. Reference-trainer parity (512
    * merges), BPE-vs-likelihood divergence, and the corrupted-vocab
    * gate trip are WordPieceSpec's pins. */
  def wordpieceTokenCount(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.WordPiece
    // gate vocab: longest-match must take un+##aff+##able over any
    // shorter split; afford -> aff+##ord; a word with an uncovered
    // char collapses WHOLE to [UNK]
    WordPiece.requireEncodes(spark,
      Seq("un", "##aff", "##able", "aff", "##ord", "a", "##f", "##o",
        "##r", "##d", "u", "##n", "##a", "##b", "##l", "##e"),
      Seq(
        "unaffable" -> Seq("un", "##aff", "##able"),
        "afford" -> Seq("aff", "##ord"),
        "affxord" -> Seq(WordPiece.Unk)))
    val docs = pq(spark, dir, "documents")
    val vocab = Staging.timed { WordPiece.learn(docs, numMerges = 24) }
    val out = WordPiece.encode(docs, vocab).localCheckpoint()
    // distributed identity gate (UNK-free corpus: base units always
    // cover the training corpus's own words, so every segmentation
    // must concatenate back exactly). One carve-out: encodeWord turns
    // any word past maxInputChars = 200 into [UNK] BY DESIGN, so a doc
    // containing a 200+ char alphanumeric run is excluded from the
    // identity check — it legitimately cannot reassemble.
    val broken = out.join(docs
        .select(col("doc_id"),
          regexp_extract_all(lower(col("text")),
            lit("[a-z0-9]+"), lit(0)).as("__words__"))
        .filter(!exists(col("__words__"), w => length(w) > 200))
        .select(col("doc_id"),
          concat_ws("", col("__words__")).as("__flat__")), Seq("doc_id"))
      .filter(concat_ws("", transform(col("wp_tokens"),
        t => regexp_replace(t, "^##", ""))) =!= col("__flat__"))
      .count()
    require(broken == 0L,
      s"wordpiece_token_count: $broken documents failed concatenation identity")
    out.select(col("doc_id"), col("n_words"), col("n_wp_tokens"))
  }

  /** BM25 top-k retrieval ([[graft.llm.Retrieval]], Robertson & Walker
    * 1994) in exact integer-scaled mode: three fixed keyword queries
    * rank the documents corpus. Every per-term score is one integer
    * division of DECIMAL(38,0) products (the DuckDB oracle mirrors it
    * in HUGEINT), the per-doc score is a sum of BIGINTs, and ties
    * break (score desc, doc_id asc) — ranks, scores, and tie order are
    * engine-exact end to end. The plan is the production shape: the
    * broadcast query-term set prunes the postings before the one
    * `(query_id, doc_id)` shuffle. */
  def bm25TopKDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.llm.Retrieval
    val queries = Seq(
      (1L, "spark table merge"),
      (2L, "customer query order"),
      (3L, "vector hash window stream")).toDF("query_id", "query_text")
    Retrieval.bm25TopK(pq(spark, dir, "documents"), queries, k = 5,
      exact = true)
  }

  /** DuckDB mirror of [[bm25TopKDocs]] — HUGEINT where Spark uses
    * DECIMAL(38,0), `//` where Spark uses `div`, same fixed queries. */
  val bm25TopKSql: String =
    """WITH q(query_id, query_text) AS (VALUES
      |  (1, 'spark table merge'),
      |  (2, 'customer query order'),
      |  (3, 'vector hash window stream')),
      |tok AS (SELECT doc_id,
      |  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      | FROM documents),
      |dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |       FROM tok GROUP BY doc_id, tok),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      |       FROM dt GROUP BY doc_id),
      |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
      |          FROM dt GROUP BY tok),
      |scal AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |                CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
      |qt AS (SELECT DISTINCT query_id, tok FROM
      |  (SELECT query_id,
      |     unnest(regexp_extract_all(lower(query_text), '[a-z0-9]+')) AS tok
      |   FROM q)),
      |m AS (SELECT qt.query_id, dt.doc_id,
      |  CAST((CAST(2*s.n_docs - 2*f.df + 1 AS HUGEINT)
      |        * ((CAST(44 AS HUGEINT) * dt.tf * s.total_len * 1000000)
      |           // (CAST(20 AS HUGEINT)*dt.tf*s.total_len
      |              + CAST(6 AS HUGEINT)*s.total_len
      |              + CAST(18 AS HUGEINT)*l.dl*s.n_docs)))
      |    // CAST(2*f.df + 1 AS HUGEINT) AS BIGINT) AS s_int
      | FROM dt JOIN qt USING (tok) JOIN dl l USING (doc_id)
      |      JOIN dfreq f USING (tok) CROSS JOIN scal s),
      |agg AS (SELECT query_id, doc_id,
      |         CAST(sum(s_int) AS BIGINT) AS score_scaled,
      |         CAST(count(*) AS BIGINT) AS n_terms_matched
      |        FROM m GROUP BY query_id, doc_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY score_scaled DESC, doc_id) AS "rank" FROM agg)
      |SELECT CAST(query_id AS BIGINT) AS query_id, "rank", doc_id,
      |       score_scaled, n_terms_matched
      |FROM r WHERE "rank" <= 5""".stripMargin

  /** Collocation mining ([[graft.llm.TextOps.collocations]], Mikolov
    * 2013 phrase score): global top-20 adjacent pairs by
    * `(c_xy − δ)·N / (c_x·c_y)` at δ = 5. Products in DECIMAL(38,0)
    * (HUGEINT in the oracle), one cast-to-double and one IEEE division
    * each — bit-identical scores, total (score, w1, w2) order, so the
    * LIMIT cut selects the same set in both engines. */
  def collocationsDocs(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.TextOps
    TextOps.collocations(pq(spark, dir, "documents"), minCount = 5, k = 20)
  }

  /** DuckDB mirror of [[collocationsDocs]]. */
  val collocationsSql: String =
    """WITH toks AS (SELECT doc_id,
      |  regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
      |bg AS (SELECT ts[i] AS w1, ts[i+1] AS w2
      |       FROM toks, unnest(generate_series(1, len(ts)-1)) AS t(i)),
      |bgc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_cnt
      |        FROM bg GROUP BY w1, w2),
      |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM
      |  (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      |   FROM documents) GROUP BY tok),
      |n AS (SELECT CAST(sum(freq) AS BIGINT) AS n_tokens FROM uni)
      |SELECT b.w1, b.w2, b.pair_cnt,
      |  u1.freq AS w1_cnt, u2.freq AS w2_cnt,
      |  CAST(CAST(b.pair_cnt - 5 AS HUGEINT) * n.n_tokens AS DOUBLE)
      |   / CAST(CAST(u1.freq AS HUGEINT) * u2.freq AS DOUBLE) AS score
      |FROM bgc b JOIN uni u1 ON b.w1 = u1.tok
      |     JOIN uni u2 ON b.w2 = u2.tok CROSS JOIN n
      |WHERE b.pair_cnt > 5
      |ORDER BY score DESC, b.w1, b.w2 LIMIT 20""".stripMargin

  /** Cohort retention ([[graft.operators.EventAnalytics.cohortRetention]]):
    * weekly cohorts by first activity, all periods pure integer
    * `ts_us div week` indices (no calendar/week-start semantics to
    * disagree on), counts exact, `retention_rate` one int-to-double
    * division. */
  def cohortRetentionEvents(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.EventAnalytics
    val ev0 = pq(spark, dir, "events")
    EventAnalytics.cohortRetention(ev0.withColumn("ts_us", eventMicros(ev0)))
  }

  /** DuckDB mirror of [[cohortRetentionEvents]]. */
  val cohortRetentionSql: String =
    """WITH up AS (SELECT DISTINCT user_id AS u,
      |  epoch_us(ts) // 604800000000 AS p FROM events),
      |c AS (SELECT u, MIN(p) AS cohort_period FROM up GROUP BY u),
      |sizes AS (SELECT cohort_period,
      |  CAST(count(*) AS BIGINT) AS n_cohort_users FROM c GROUP BY 1),
      |cells AS (SELECT c.cohort_period, up.p - c.cohort_period AS period_offset,
      |  CAST(count(*) AS BIGINT) AS n_active_users
      | FROM up JOIN c USING (u) GROUP BY 1, 2)
      |SELECT cells.cohort_period, cells.period_offset, cells.n_active_users,
      |  sizes.n_cohort_users,
      |  CAST(cells.n_active_users AS DOUBLE) / sizes.n_cohort_users
      |    AS retention_rate
      |FROM cells JOIN sizes USING (cohort_period)""".stripMargin

  /** LOCF resampling ([[graft.operators.EventAnalytics.resampleLocf]]):
    * per-event-type daily bins, last observation per bin under a total
    * (ts, event_id) order, dense integer spine, carried values are
    * untouched input doubles — engine-exact end to end. */
  def resampleEvents(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.EventAnalytics
    val ev0 = pq(spark, dir, "events")
    EventAnalytics.resampleLocf(ev0.withColumn("ts_us", eventMicros(ev0)),
      keyCol = "event_type", tsUsCol = "ts_us", valueCol = "value",
      tieCol = "event_id")
  }

  /** DuckDB mirror of [[resampleEvents]]. */
  val resampleSql: String =
    """WITH e AS (SELECT event_type AS key, epoch_us(ts) // 86400000000 AS bin,
      |  epoch_us(ts) AS ts_us, event_id, value FROM events),
      |rn AS (SELECT *, row_number() OVER (PARTITION BY key, bin
      |         ORDER BY ts_us DESC, event_id DESC) AS rn FROM e),
      |pb AS (SELECT key, bin, max(CASE WHEN rn = 1 THEN value END) AS lv,
      |        CAST(count(*) AS BIGINT) AS n_events FROM rn GROUP BY key, bin),
      |bounds AS (SELECT key, min(bin) AS b0, max(bin) AS b1
      |           FROM pb GROUP BY key),
      |spine AS (SELECT key, unnest(generate_series(b0, b1)) AS bin
      |          FROM bounds),
      |j AS (SELECT s.key, s.bin, pb.lv, pb.n_events
      |      FROM spine s LEFT JOIN pb USING (key, bin))
      |SELECT key, bin,
      |  last_value(lv IGNORE NULLS) OVER (PARTITION BY key ORDER BY bin
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
      |  CASE WHEN lv IS NOT NULL THEN 1 ELSE 0 END AS filled,
      |  coalesce(n_events, 0) AS n_events
      |FROM j""".stripMargin

  /** Incremental BM25 index maintenance
    * ([[graft.llm.Retrieval.bm25IndexMerge]]): epoch 1 (docs with
    * `doc_id % 3 != 0`) builds and PERSISTS the standing index; the
    * "daily" epoch-2 batch folds in without re-tokenizing the corpus —
    * a narrow broadcast df-bump over the persisted index plus the
    * batch's own postings. The oracle is the full-corpus BM25 SQL, so
    * a green row PROVES merged ≡ rebuilt-from-scratch, exact to the
    * scaled-integer score. */
  def bm25IncrementalDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.llm.Retrieval
    val docs = pq(spark, dir, "documents")
    val idxPath = tmp("bm25idx")
    Staging.timed {
      val idx = Retrieval.bm25Index(docs.filter(col("doc_id") % 3 =!= 0))
        .localCheckpoint()
      idx.write.mode("overwrite").parquet(s"$idxPath/postings")
      // the doc-id bloom persists NEXT TO the index (one distinct at
      // build time) so every daily merge's append-only gate is O(batch)
      Retrieval.bm25IndexBloom(idx, expectedItems = 100000)
        .write.mode("overwrite").parquet(s"$idxPath/bloom")
    }
    val (bloomBytes, _, _) = Retrieval.bm25BloomFrom(
      spark.read.parquet(s"$idxPath/bloom"))
    val merged = Retrieval.bm25IndexMerge(
      spark.read.parquet(s"$idxPath/postings"),
      docs.filter(col("doc_id") % 3 === 0),
      docIdBloom = Some(bloomBytes))
    val queries = Seq(
      (1L, "spark join data"),
      (2L, "order group row"),
      (3L, "big small slow fast")).toDF("query_id", "query_text")
    Retrieval.bm25SearchWith(queries, merged, k = 7, exact = true)
  }

  /** DuckDB mirror of [[bm25IncrementalDocs]] — the FULL-corpus BM25
    * ranking (the oracle never sees the epochs; equality is the
    * merged-index correctness proof). */
  val bm25IncrementalSql: String =
    """WITH q(query_id, query_text) AS (VALUES
      |  (1, 'spark join data'),
      |  (2, 'order group row'),
      |  (3, 'big small slow fast')),
      |tok AS (SELECT doc_id,
      |  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      | FROM documents),
      |dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |       FROM tok GROUP BY doc_id, tok),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      |       FROM dt GROUP BY doc_id),
      |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
      |          FROM dt GROUP BY tok),
      |scal AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |                CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
      |qt AS (SELECT DISTINCT query_id, tok FROM
      |  (SELECT query_id,
      |     unnest(regexp_extract_all(lower(query_text), '[a-z0-9]+')) AS tok
      |   FROM q)),
      |m AS (SELECT qt.query_id, dt.doc_id,
      |  CAST((CAST(2*s.n_docs - 2*f.df + 1 AS HUGEINT)
      |        * ((CAST(44 AS HUGEINT) * dt.tf * s.total_len * 1000000)
      |           // (CAST(20 AS HUGEINT)*dt.tf*s.total_len
      |              + CAST(6 AS HUGEINT)*s.total_len
      |              + CAST(18 AS HUGEINT)*l.dl*s.n_docs)))
      |    // CAST(2*f.df + 1 AS HUGEINT) AS BIGINT) AS s_int
      | FROM dt JOIN qt USING (tok) JOIN dl l USING (doc_id)
      |      JOIN dfreq f USING (tok) CROSS JOIN scal s),
      |agg AS (SELECT query_id, doc_id,
      |         CAST(sum(s_int) AS BIGINT) AS score_scaled,
      |         CAST(count(*) AS BIGINT) AS n_terms_matched
      |        FROM m GROUP BY query_id, doc_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY score_scaled DESC, doc_id) AS "rank" FROM agg)
      |SELECT CAST(query_id AS BIGINT) AS query_id, "rank", doc_id,
      |       score_scaled, n_terms_matched
      |FROM r WHERE "rank" <= 7""".stripMargin

  /** Hybrid lexical+vector retrieval
    * ([[graft.llm.Retrieval.hybridTopK]], RRF fusion per Cormack 2009):
    * three query-by-example probes (doc ids 10/20/30) run exact-mode
    * BM25 on their fixed query strings AND brute-force cosine on their
    * own embeddings; the fused score is the integer-exact
    * `Σ SCALE div (60 + rank)`. Everything the oracle hashes is
    * integer: ranks from both rankers are engine-stable (the BM25 side
    * is integer-exact; the cosine side is the same deterministic
    * double ordering knn_bruteforce already gates), and fusion
    * arithmetic is BIGINT end to end. */
  def hybridSearchDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.llm.Retrieval
    val docs = pq(spark, dir, "documents")
    val emb = pq(spark, dir, "embeddings")
    val qText = Seq(
      (10L, "spark table merge"),
      (20L, "customer query order"),
      (30L, "vector hash stream")).toDF("query_id", "query_text")
    val qVec = emb.filter(col("vec_id").isin(10, 20, 30))
    Retrieval.hybridTopK(docs, emb, qText, qVec, k = 10)
  }

  /** DuckDB mirror of [[hybridSearchDocs]]. */
  val hybridSearchSql: String =
    """WITH q(query_id, query_text) AS (VALUES
      |  (10, 'spark table merge'),
      |  (20, 'customer query order'),
      |  (30, 'vector hash stream')),
      |tok AS (SELECT doc_id,
      |  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      | FROM documents),
      |dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |       FROM tok GROUP BY doc_id, tok),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      |       FROM dt GROUP BY doc_id),
      |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
      |          FROM dt GROUP BY tok),
      |scal AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |                CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
      |qt AS (SELECT DISTINCT query_id, tok FROM
      |  (SELECT query_id,
      |     unnest(regexp_extract_all(lower(query_text), '[a-z0-9]+')) AS tok
      |   FROM q)),
      |m AS (SELECT qt.query_id, dt.doc_id,
      |  CAST((CAST(2*s.n_docs - 2*f.df + 1 AS HUGEINT)
      |        * ((CAST(44 AS HUGEINT) * dt.tf * s.total_len * 1000000)
      |           // (CAST(20 AS HUGEINT)*dt.tf*s.total_len
      |              + CAST(6 AS HUGEINT)*s.total_len
      |              + CAST(18 AS HUGEINT)*l.dl*s.n_docs)))
      |    // CAST(2*f.df + 1 AS HUGEINT) AS BIGINT) AS s_int
      | FROM dt JOIN qt USING (tok) JOIN dl l USING (doc_id)
      |      JOIN dfreq f USING (tok) CROSS JOIN scal s),
      |bm AS (SELECT query_id, doc_id,
      |        CAST(sum(s_int) AS BIGINT) AS score_scaled
      |       FROM m GROUP BY query_id, doc_id),
      |lex AS (SELECT query_id, doc_id, r FROM
      |  (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score_scaled DESC, doc_id) AS r FROM bm)
      |  WHERE r <= 20),
      |vec AS (SELECT query_id, doc_id, r FROM
      |  (SELECT qv.vec_id AS query_id, c.vec_id AS doc_id,
      |    row_number() OVER (PARTITION BY qv.vec_id
      |      ORDER BY list_cosine_similarity(qv.embedding::DOUBLE[],
      |                 c.embedding::DOUBLE[]) DESC, c.vec_id) AS r
      |   FROM embeddings qv JOIN embeddings c ON qv.vec_id != c.vec_id
      |   WHERE qv.vec_id IN (10, 20, 30))
      |  WHERE r <= 20),
      |u AS (SELECT * FROM lex UNION ALL SELECT * FROM vec),
      |f AS (SELECT query_id, doc_id,
      |       CAST(sum(1000000000 // (60 + r)) AS BIGINT) AS rrf_scaled,
      |       CAST(count(*) AS BIGINT) AS n_sources
      |      FROM u GROUP BY query_id, doc_id),
      |rr AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |         ORDER BY rrf_scaled DESC, doc_id) AS "rank" FROM f)
      |SELECT query_id, "rank", doc_id, rrf_scaled, n_sources
      |FROM rr WHERE "rank" <= 10""".stripMargin

  /** Exact phrase search ([[graft.llm.Retrieval.phraseSearchWith]]) —
    * the positional-index retrieval operation bag-of-words BM25 cannot
    * express. The positional index persists as parquet (staging);
    * three planted docs carry nonce phrases engineering the edges the
    * diagonal-anchor math must get right: doc A holds the two-word
    * phrase twice (and a three-word OVERLAPPING phrase twice — anchors
    * 0 and 2 share the middle token), doc B holds both tokens in the
    * WRONG ORDER (an AND-search would match; phrase search must not),
    * doc C matches a REPEATED-token phrase at two overlapping anchors.
    * In-query requires pin those counts; the oracle recomputes from
    * documents ∪ the planted VALUES with 1-based positions (anchor
    * values cancel, counts are offset-invariant). */
  def phraseSearchDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.llm.Retrieval
    val planted = Seq(
      (910001L, "qphraseax qphrasebx qphraseax qphrasebx qphraseax"),
      (910002L, "qphrasebx qphraseax"),
      (910003L, "qphrasecx qphrasecx qphrasecx")).toDF("doc_id", "text")
    val corpus = pq(spark, dir, "documents").select("doc_id", "text")
      .unionByName(planted)
    val idxPath = tmp("posidx")
    Staging.timed {
      Retrieval.positionalIndex(corpus).write.mode("overwrite").parquet(idxPath)
    }
    val phrases = Seq(
      (1L, "qphraseax qphrasebx"),
      (2L, "qphraseax qphrasebx qphraseax"),
      (3L, "qphrasecx qphrasecx"),
      (4L, "table hash")).toDF("query_id", "query_text") // natural phrase
    val got = Retrieval.phraseSearchWith(phrases,
      spark.read.parquet(idxPath), k = 10).localCheckpoint()
    val want = Map(1L -> (910001L, 2L), 2L -> (910001L, 2L), 3L -> (910003L, 2L))
    val planted3 = got.filter(col("query_id") <= 3).collect()
    require(planted3.length == 3 && planted3.forall { r =>
      want(r.getLong(0)) == ((r.getLong(2), r.getLong(3))) && r.getInt(1) == 1
    }, s"phrase_search: planted occurrence counts wrong: " +
      s"${planted3.mkString(", ")} — wrong-order or partial diagonals " +
      "leaked into the counts")
    got
  }

  /** DuckDB mirror of [[phraseSearchDocs]] — same diagonal-anchor
    * aggregation with 1-based `unnest` positions. */
  val phraseSearchSql: String =
    """WITH pd(doc_id, text) AS (VALUES
      |  (910001, 'qphraseax qphrasebx qphraseax qphrasebx qphraseax'),
      |  (910002, 'qphrasebx qphraseax'),
      |  (910003, 'qphrasecx qphrasecx qphrasecx')),
      |ad AS (SELECT doc_id, text FROM documents
      |       UNION ALL SELECT doc_id, text FROM pd),
      |q(query_id, query_text) AS (VALUES
      |  (1, 'qphraseax qphrasebx'),
      |  (2, 'qphraseax qphrasebx qphraseax'),
      |  (3, 'qphrasecx qphrasecx'),
      |  (4, 'table hash')),
      |toks AS (SELECT doc_id,
      |  regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM ad),
      |tok AS (SELECT doc_id, ts[i] AS tok, i AS pos
      |        FROM toks, unnest(generate_series(1, len(ts))) AS t(i)),
      |qtoks AS (SELECT query_id,
      |  regexp_extract_all(lower(query_text), '[a-z0-9]+') AS ts FROM q),
      |qtok AS (SELECT query_id, ts[i] AS tok, i AS qpos
      |         FROM qtoks, unnest(generate_series(1, len(ts))) AS t(i)),
      |qlen AS (SELECT query_id, CAST(count(*) AS BIGINT) AS qlen
      |         FROM qtok GROUP BY query_id),
      |diag AS (SELECT qtok.query_id, tok.doc_id,
      |          tok.pos - qtok.qpos AS anchor,
      |          CAST(count(*) AS BIGINT) AS n
      |         FROM tok JOIN qtok USING (tok)
      |         GROUP BY 1, 2, 3),
      |occ AS (SELECT d.query_id, d.doc_id FROM diag d JOIN qlen USING (query_id)
      |        WHERE d.n = qlen.qlen),
      |cnt AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_matches
      |        FROM occ GROUP BY query_id, doc_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY n_matches DESC, doc_id) AS "rank" FROM cnt)
      |SELECT CAST(query_id AS BIGINT) AS query_id, "rank", doc_id, n_matches
      |FROM r WHERE "rank" <= 10""".stripMargin

  /** BM25 index as a CDF-maintained standing view
    * ([[graft.table.Bm25IndexView]]): the corpus is a managed table,
    * epoch 1 initializes the normalized `(tok, doc_id, tf, dl)`
    * postings state (+ doc-id bloom), and two "daily" appends each
    * drive one [[graft.table.Bm25IndexView#refresh]] — the view reads
    * ONLY the unprocessed change-feed range and APPENDs only the
    * batch's own posting rows (pinned in-query on the commit shape:
    * O(batch) on the WRITE side, the standing index is never
    * rewritten), with the corpus scalars moved by signed sums on the
    * commit metadata. The second refresh runs through a FRESH view
    * instance (restart: watermark recovered from the commit log) and a
    * third refresh must be a zero-commit no-op. The oracle is the
    * full-corpus BM25 ranking (df derived at query time over the
    * matched posting lists), so a green row proves twice-appended ≡
    * rebuilt-from-scratch. */
  def bm25ViewRefresh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.table.{Bm25IndexView, ManagedTable}
    val docs = pq(spark, dir, "documents").select("doc_id", "text")
    val srcPath = tmp("bm25view_src")
    val stPath = tmp("bm25view_state")
    val t = ManagedTable(spark, srcPath)
    Staging.timed {
      t.write(docs.filter(col("doc_id") % 3 =!= 0), "APPEND", "append")
      new Bm25IndexView(spark, srcPath, stPath, expectedDocs = 100000)
        .initialize()
    }
    val view = new Bm25IndexView(spark, srcPath, stPath)
    val initDirs = ManagedTable(spark, stPath).lastCommit.get.dirs
    t.write(docs.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 0),
      "APPEND", "append")
    require(view.refresh() == 1L, "bm25_view_refresh: first fold must land on v1")
    val afterAppend = ManagedTable(spark, stPath).lastCommit.get
    require(afterAppend.operation == "BM25_REFRESH" &&
      initDirs.forall(afterAppend.dirs.contains) &&
      afterAppend.dirs.size == initDirs.size + 1,
      "bm25_view_refresh: a pure-insert slice must APPEND one dir of the " +
        "batch's own postings — the standing index was rewritten")
    t.write(docs.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 =!= 0),
      "APPEND", "append")
    val restarted = new Bm25IndexView(spark, srcPath, stPath)
    require(restarted.refresh() == 2L,
      "bm25_view_refresh: restarted view must resume from the recorded watermark")
    val vBefore = ManagedTable(spark, stPath).latestVersion
    require(restarted.refresh() == 2L &&
      ManagedTable(spark, stPath).latestVersion == vBefore,
      "bm25_view_refresh: an already-current refresh must commit nothing")
    val queries = Seq(
      (1L, "merge stream table"),
      (2L, "fast query data"),
      (3L, "row group window hash")).toDF("query_id", "query_text")
    restarted.search(queries, k = 7, exact = true)
  }

  /** DuckDB mirror of [[bm25ViewRefresh]] — the FULL-corpus ranking
    * (the oracle never sees the epochs). */
  val bm25ViewRefreshSql: String =
    """WITH q(query_id, query_text) AS (VALUES
      |  (1, 'merge stream table'),
      |  (2, 'fast query data'),
      |  (3, 'row group window hash')),
      |tok AS (SELECT doc_id,
      |  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      | FROM documents),
      |dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |       FROM tok GROUP BY doc_id, tok),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      |       FROM dt GROUP BY doc_id),
      |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
      |          FROM dt GROUP BY tok),
      |scal AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |                CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
      |qt AS (SELECT DISTINCT query_id, tok FROM
      |  (SELECT query_id,
      |     unnest(regexp_extract_all(lower(query_text), '[a-z0-9]+')) AS tok
      |   FROM q)),
      |m AS (SELECT qt.query_id, dt.doc_id,
      |  CAST((CAST(2*s.n_docs - 2*f.df + 1 AS HUGEINT)
      |        * ((CAST(44 AS HUGEINT) * dt.tf * s.total_len * 1000000)
      |           // (CAST(20 AS HUGEINT)*dt.tf*s.total_len
      |              + CAST(6 AS HUGEINT)*s.total_len
      |              + CAST(18 AS HUGEINT)*l.dl*s.n_docs)))
      |    // CAST(2*f.df + 1 AS HUGEINT) AS BIGINT) AS s_int
      | FROM dt JOIN qt USING (tok) JOIN dl l USING (doc_id)
      |      JOIN dfreq f USING (tok) CROSS JOIN scal s),
      |agg AS (SELECT query_id, doc_id,
      |         CAST(sum(s_int) AS BIGINT) AS score_scaled,
      |         CAST(count(*) AS BIGINT) AS n_terms_matched
      |        FROM m GROUP BY query_id, doc_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY score_scaled DESC, doc_id) AS "rank" FROM agg)
      |SELECT CAST(query_id AS BIGINT) AS query_id, "rank", doc_id,
      |       score_scaled, n_terms_matched
      |FROM r WHERE "rank" <= 7""".stripMargin

  /** ONE-PASS maintenance of the standing-view family
    * ([[graft.table.StandingViews.refreshAll]], driven through `CALL
    * graft.refresh_views`): the flagship pipeline keeps BM25 +
    * positional + near-dup + corpus-LM views AND an aggregate mart of
    * one corpus (the LM shares the text views' netting SIGNATURE; the
    * mart consumes the SAME slice raw through the SignedSliceView
    * contract), plus views over a SECOND source table in the same CALL
    * — and refreshing them individually re-reads the same change-feed
    * slice once per view: at 100 TB the daily slice is TB-scale, so N
    * scans of it is the refresh loop's dominant IO. This query drives
    * a day's churn (appends + a curation delete on both sources)
    * through ONE CALL and pins IN-QUERY that each source's slice was
    * read exactly ONCE (`ManagedTable.changeFeedReads` == number of
    * sources, however many views), that every view's watermark
    * advanced to its source's head, and that each folded state equals
    * its from-scratch rebuild (the same canonical gate an individual
    * refresh carries — so one-pass ≡ per-view refreshes). Oracle: the
    * full BM25 ranking over the FINAL corpus. */
  def multiViewRefresh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.llm.Retrieval
    import graft.table.{Bm25IndexView, IncrementalAggView, ManagedTable,
      NearDupIndexView, PositionalIndexView}
    val docs = pq(spark, dir, "documents")
      .select(col("doc_id"), col("text"), (col("doc_id") % 7).as("bucket"),
        length(col("text")).cast("long").as("score"))
    val srcPath = tmp("mview_src")
    val st1 = tmp("mview_bm25")
    val st2 = tmp("mview_phrase")
    val st3 = tmp("mview_nd")
    val st4 = tmp("mview_lm")
    val st5 = tmp("mview_agg")
    val src2 = tmp("mview_src2")
    val st6 = tmp("mview_agg2")
    val t = ManagedTable(spark, srcPath)
    val t2 = ManagedTable(spark, src2)
    val orders = pq(spark, dir, "orders")
      .select(col("o_orderstatus"), col("o_totalprice"))
    Staging.timed {
      t.write(docs.filter(col("doc_id") % 3 =!= 0), "APPEND", "append")
      new Bm25IndexView(spark, srcPath, st1, expectedDocs = 100000)
        .initialize()
      new PositionalIndexView(spark, srcPath, st2, expectedDocs = 100000)
        .initialize()
      new NearDupIndexView(spark, srcPath, st3, expectedDocs = 100000)
        .initialize()
      new graft.table.CorpusLmView(spark, srcPath, st4).initialize()
      new IncrementalAggView(spark, srcPath, st5, Seq("bucket"),
        Seq("score")).initialize()
      t2.write(orders.filter(col("o_orderstatus") =!= "F"), "APPEND",
        "append")
      new IncrementalAggView(spark, src2, st6, Seq("o_orderstatus"),
        Seq("o_totalprice")).initialize()
    }
    // one day's churn on EACH source, read ONCE per source for the
    // whole family — index views net it, the marts fold it raw
    t.write(docs.filter(col("doc_id") % 3 === 0), "APPEND", "append")
    t.delete(col("doc_id") % 13 === 0)
    t2.write(orders.filter(col("o_orderstatus") === "F"), "APPEND",
      "append")
    // baseline-delta, never a reset: the bench harness reports per-query
    // counter deltas, and an in-query set(0) would turn them negative
    val cfr0 = ManagedTable.changeFeedReads.get
    val rows = spark.sql(s"CALL graft.refresh_views('$srcPath', " +
      s"'bm25:$st1,phrase:$st2,neardup:$st3,lm:$st4," +
      s"agg(bucket;score):$st5," +
      s"$src2>agg(o_orderstatus;o_totalprice):$st6')").collect()
    require(ManagedTable.changeFeedReads.get - cfr0 == 2L,
      "multi_view_refresh: two sources must fold from ONE change-feed " +
        s"read EACH, got ${ManagedTable.changeFeedReads.get - cfr0}")
    require(rows.length == 6,
      s"multi_view_refresh: six views expected, got ${rows.length}")
    require(rows.take(5).forall(_.getLong(2) == 2L),
      "multi_view_refresh: every corpus view must advance to version 2")
    require(rows.last.getLong(2) == 1L,
      "multi_view_refresh: the second source's view must advance to ITS " +
        "source's head")
    // the marts folded the same slices: state ≡ recompute, exactly-once
    val agg1 = new IncrementalAggView(spark, srcPath, st5, Seq("bucket"),
      Seq("score"))
    val wantAgg = t.read.groupBy("bucket")
      .agg(sum(lit(1L)).as("cnt"),
        sum(col("score").cast("decimal(28,6)")).cast("decimal(28,6)")
          .as("sum_score"))
    require(sameRows(agg1.read, wantAgg),
      "multi_view_refresh: the one-pass agg mart drifted from the recompute")
    val agg2 = new IncrementalAggView(spark, src2, st6,
      Seq("o_orderstatus"), Seq("o_totalprice"))
    val wantAgg2 = t2.read.groupBy("o_orderstatus")
      .agg(sum(lit(1L)).as("cnt"),
        sum(col("o_totalprice").cast("decimal(28,6)"))
          .cast("decimal(28,6)").as("sum_o_totalprice"))
    require(sameRows(agg2.read, wantAgg2),
      "multi_view_refresh: the second source's mart drifted")
    val bm = new Bm25IndexView(spark, srcPath, st1)
    val rebuilt = Retrieval.bm25Postings(t.read, "text", "doc_id")
    require(sameRows(bm.read, rebuilt),
      "multi_view_refresh: one-pass BM25 fold drifted from the rebuild")
    val ph = new PositionalIndexView(spark, srcPath, st2)
    val rebuiltP = Retrieval.positionalIndex(t.read, "text", "doc_id")
    require(sameRows(ph.read, rebuiltP),
      "multi_view_refresh: one-pass positional fold drifted from the rebuild")
    val nd = new NearDupIndexView(spark, srcPath, st3)
    val rebuiltN = graft.llm.Dedup.buildNearDupIndex(t.read, "text",
      "doc_id", 64, 3)
    require(sameRows(nd.read, rebuiltN),
      "multi_view_refresh: one-pass near-dup fold drifted from the rebuild")
    val lm = new graft.table.CorpusLmView(spark, srcPath, st4)
    val rebuiltL = graft.llm.TextOps.unigramModel(t.read, "text", "doc_id")
    require(sameRows(lm.read, rebuiltL),
      "multi_view_refresh: one-pass LM fold drifted from the retrain")
    val queries = Seq(
      (1L, "merge stream table"),
      (2L, "fast query data"),
      (3L, "row group window hash")).toDF("query_id", "query_text")
    bm.search(queries, k = 7, exact = true)
  }

  /** DuckDB mirror of [[multiViewRefresh]] — the full-corpus ranking
    * with the curation delete applied (the oracle never sees the
    * epochs or the orchestration). */
  val multiViewRefreshSql: String =
    """WITH q(query_id, query_text) AS (VALUES
      |  (1, 'merge stream table'),
      |  (2, 'fast query data'),
      |  (3, 'row group window hash')),
      |docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 0),
      |tok AS (SELECT doc_id,
      |  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      | FROM docs),
      |dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |       FROM tok GROUP BY doc_id, tok),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      |       FROM dt GROUP BY doc_id),
      |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
      |          FROM dt GROUP BY tok),
      |scal AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |                CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
      |qt AS (SELECT DISTINCT query_id, tok FROM
      |  (SELECT query_id,
      |     unnest(regexp_extract_all(lower(query_text), '[a-z0-9]+')) AS tok
      |   FROM q)),
      |m AS (SELECT qt.query_id, dt.doc_id,
      |  CAST((CAST(2*s.n_docs - 2*f.df + 1 AS HUGEINT)
      |        * ((CAST(44 AS HUGEINT) * dt.tf * s.total_len * 1000000)
      |           // (CAST(20 AS HUGEINT)*dt.tf*s.total_len
      |              + CAST(6 AS HUGEINT)*s.total_len
      |              + CAST(18 AS HUGEINT)*l.dl*s.n_docs)))
      |    // CAST(2*f.df + 1 AS HUGEINT) AS BIGINT) AS s_int
      | FROM dt JOIN qt USING (tok) JOIN dl l USING (doc_id)
      |      JOIN dfreq f USING (tok) CROSS JOIN scal s),
      |agg AS (SELECT query_id, doc_id,
      |         CAST(sum(s_int) AS BIGINT) AS score_scaled,
      |         CAST(count(*) AS BIGINT) AS n_terms_matched
      |        FROM m GROUP BY query_id, doc_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY score_scaled DESC, doc_id) AS "rank" FROM agg)
      |SELECT CAST(query_id AS BIGINT) AS query_id, "rank", doc_id,
      |       score_scaled, n_terms_matched
      |FROM r WHERE "rank" <= 7""".stripMargin

  /** The BM25 view surviving the pipeline's OWN curation output: the
    * corpus table takes an exact-dedup DELETE and a text UPDATE — the
    * non-insert slices every curation action writes — and the view
    * folds them as merge-on-read DELETION VECTORS plus an append of
    * the entering rows (pinned in-query: the delete slice must land a
    * DELETE VECTORS commit that rewrites NO postings dir — O(deleted
    * rows) on the write side). Epochs: init on 2/3 of docs plus
    * planted exact copies; a pure append; an exact-dedup gate proves
    * every planted copy's keeper is its original, then the copies
    * DELETE through the table (coarse dir-rewrite feed — the survivor
    * rows must net away); a dir-rewrite UPDATE re-texts `doc_id % 97 ==
    * 5`; one refresh on a FRESH instance folds delete+update together.
    * In-query gates: merged ≡ rebuilt postings (exact frame equality),
    * maintained scalars ≡ recomputed scalars, and a zero-commit no-op
    * refresh. Oracle: the full BM25 ranking over the FINAL corpus
    * (original docs with the update applied — the oracle never sees
    * the epochs), with a query term only the updated docs contain. */
  def bm25ViewDelete(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.llm.{Retrieval, TextOps}
    import graft.table.{Bm25IndexView, ManagedTable}
    val docs = pq(spark, dir, "documents").select("doc_id", "text")
    require(docs.agg(max("doc_id")).head().getLong(0) < 950000L,
      "planted-copy offset 950000 collides with natural doc ids")
    val planted = docs.filter(col("doc_id") < 40)
      .select((col("doc_id") + 950000L).as("doc_id"), col("text"))
    val srcPath = tmp("bm25vd_src")
    val stPath = tmp("bm25vd_state")
    val t = ManagedTable(spark, srcPath)
    Staging.timed {
      t.write(docs.filter(col("doc_id") % 3 =!= 0).unionByName(planted),
        "APPEND", "append")
      new Bm25IndexView(spark, srcPath, stPath, expectedDocs = 100000)
        .initialize()
    }
    val view = new Bm25IndexView(spark, srcPath, stPath)
    // epoch 1: plain append — the proven insert path still works
    t.write(docs.filter(col("doc_id") % 3 === 0), "APPEND", "append")
    require(view.refresh() == 1L, "bm25_view_delete: append fold must land on v1")
    // CURATION: exact dedup identifies each planted copy's original as
    // the keeper — proven in-query before the copies delete through the
    // table (the loser set is exactly the planted rows)
    val stats = TextOps.exactDedupStats(t.read)
    val keeperOk = t.read.filter(col("doc_id") >= 950000L)
      .withColumn("text_hash", md5(col("text")))
      .join(stats, "text_hash")
      .filter(col("keep_id") === col("doc_id") - 950000L)
      .count()
    require(keeperOk == 40L,
      s"bm25_view_delete: exact dedup must keep every planted copy's " +
        s"original (got $keeperOk of 40)")
    t.delete(col("doc_id") >= 950000L)
    // and a dir-rewrite UPDATE: (−pre, +post) through the coarse feed
    t.update(Map("text" ->
        concat(col("text"), lit(" zzgraftrevised zzgraftrevised"))),
      col("doc_id") % 97 === 5)
    val restarted = new Bm25IndexView(spark, srcPath, stPath)
    val dirsBefore = ManagedTable(spark, stPath).lastCommit.get.dirs
    require(restarted.refresh() == 3L,
      "bm25_view_delete: one refresh must fold the delete and update slices")
    val st = ManagedTable(spark, stPath)
    val (dvCommit, appendCommit) =
      (st.commitAt(st.latestVersion.get - 1L), st.lastCommit.get)
    require(dvCommit.operation == "DELETE VECTORS" &&
      dvCommit.dirs == dirsBefore,
      s"bm25_view_delete: the curation slice must tombstone via a DELETE " +
        s"VECTORS commit rewriting NO postings dir, got ${dvCommit.operation}")
    require(appendCommit.operation == "BM25_REFRESH" &&
      dirsBefore.forall(appendCommit.dirs.contains),
      "bm25_view_delete: the slice's entering rows must APPEND")
    val vBefore = ManagedTable(spark, stPath).latestVersion
    require(restarted.refresh() == 3L &&
      ManagedTable(spark, stPath).latestVersion == vBefore,
      "bm25_view_delete: an already-current refresh must commit nothing")
    val merged = restarted.read
    val rebuilt = Retrieval.bm25Postings(t.read, "text", "doc_id")
    require(sameRows(merged, rebuilt),
      "bm25_view_delete: maintained postings drifted from the " +
        "from-scratch rebuild")
    val scal = rebuilt.groupBy("doc_id").agg(first("dl").as("__dl__"))
      .agg(count(lit(1)), sum("__dl__")).head()
    require(restarted.scalars == ((scal.getLong(0), scal.getLong(1))),
      "bm25_view_delete: maintained corpus scalars drifted from the recompute")
    val queries = Seq(
      (1L, "zzgraftrevised"),
      (2L, "merge stream table"),
      (3L, "row group window hash")).toDF("query_id", "query_text")
    restarted.search(queries, k = 7, exact = true)
  }

  /** DuckDB mirror of [[bm25ViewDelete]] — the FULL-corpus ranking over
    * the final state (updates applied, planted copies gone). */
  val bm25ViewDeleteSql: String =
    """WITH q(query_id, query_text) AS (VALUES
      |  (1, 'zzgraftrevised'),
      |  (2, 'merge stream table'),
      |  (3, 'row group window hash')),
      |docs AS (SELECT doc_id,
      |  CASE WHEN doc_id % 97 = 5
      |       THEN text || ' zzgraftrevised zzgraftrevised'
      |       ELSE text END AS text
      | FROM documents),
      |tok AS (SELECT doc_id,
      |  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      | FROM docs),
      |dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |       FROM tok GROUP BY doc_id, tok),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      |       FROM dt GROUP BY doc_id),
      |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
      |          FROM dt GROUP BY tok),
      |scal AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |                CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
      |qt AS (SELECT DISTINCT query_id, tok FROM
      |  (SELECT query_id,
      |     unnest(regexp_extract_all(lower(query_text), '[a-z0-9]+')) AS tok
      |   FROM q)),
      |m AS (SELECT qt.query_id, dt.doc_id,
      |  CAST((CAST(2*s.n_docs - 2*f.df + 1 AS HUGEINT)
      |        * ((CAST(44 AS HUGEINT) * dt.tf * s.total_len * 1000000)
      |           // (CAST(20 AS HUGEINT)*dt.tf*s.total_len
      |              + CAST(6 AS HUGEINT)*s.total_len
      |              + CAST(18 AS HUGEINT)*l.dl*s.n_docs)))
      |    // CAST(2*f.df + 1 AS HUGEINT) AS BIGINT) AS s_int
      | FROM dt JOIN qt USING (tok) JOIN dl l USING (doc_id)
      |      JOIN dfreq f USING (tok) CROSS JOIN scal s),
      |agg AS (SELECT query_id, doc_id,
      |         CAST(sum(s_int) AS BIGINT) AS score_scaled,
      |         CAST(count(*) AS BIGINT) AS n_terms_matched
      |        FROM m GROUP BY query_id, doc_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY score_scaled DESC, doc_id) AS "rank" FROM agg)
      |SELECT CAST(query_id AS BIGINT) AS query_id, "rank", doc_id,
      |       score_scaled, n_terms_matched
      |FROM r WHERE "rank" <= 7""".stripMargin

  /** BULK corpus-fraction deletes through the BM25 view — the
    * write-amplification probe for all THREE delete tiers: a curation
    * pass deletes 20 % of the corpus and the view folds it as
    * merge-on-read DELETION VECTORS (O(deleted rows) — pinned in-query:
    * the DV commit must rewrite NO postings dir); a second ~25 % delete
    * runs through a view instance whose broadcast gate is forced shut —
    * the plan a past-65536-id delete takes — and must STILL land as a
    * DV commit, now FRAME-KEYED ([[graft.table.ManagedTable
    * .deleteVectorsMatching]]: tombstones computed per-dir on
    * executors, the id set never driver or broadcast state); only the
    * third delete, ~50 % of the surviving state (above the
    * 30 %-of-state-rows fraction threshold, where accumulated
    * tombstones would read-amplify every search), folds as the single
    * SHUFFLED anti-join rewrite (pinned: one replace commit). This
    * query rides the bench scale probe, so all delete paths' per-sf
    * slopes are tracked round-over-round. Oracle: the full BM25 ranking
    * over the surviving corpus. */
  def bm25ViewBulkDelete(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.llm.Retrieval
    import graft.table.{Bm25IndexView, ManagedTable}
    val docs = pq(spark, dir, "documents").select("doc_id", "text")
    val srcPath = tmp("bm25vb_src")
    val stPath = tmp("bm25vb_state")
    val t = ManagedTable(spark, srcPath)
    Staging.timed {
      t.write(docs, "APPEND", "append")
      new Bm25IndexView(spark, srcPath, stPath, expectedDocs = 100000)
        .initialize()
    }
    // curation pass 1: 20 % of the corpus leaves; the gated path
    // tombstones — the postings table is not rewritten
    t.delete(col("doc_id") % 5 === 0)
    val view = new Bm25IndexView(spark, srcPath, stPath)
    val dirsBefore = ManagedTable(spark, stPath).lastCommit.get.dirs
    require(view.refresh() == 1L,
      "bm25_view_bulk_delete: the first bulk delete must fold on v1")
    val dvCommit = ManagedTable(spark, stPath).lastCommit.get
    require(dvCommit.operation == "DELETE VECTORS" &&
      dvCommit.dirs == dirsBefore,
      s"bm25_view_bulk_delete: a gated bulk delete must tombstone, got " +
        s"${dvCommit.operation}")
    // curation pass 2: another ~25 % of the state, through a
    // FORCED-SHUT gate — the exact plan a past-65536-id delete takes.
    // Under the 30 % fraction threshold this must STILL be an
    // O(deleted rows) DV commit (frame-keyed, computed distributed),
    // not a rewrite
    t.delete(col("doc_id") % 5 === 1)
    val gated = new Bm25IndexView(spark, srcPath, stPath,
      deleteBroadcastCap = 1)
    val tierScans0 = graft.table.RowLocalIndexView.tierCountScans.get
    require(gated.refresh() == 2L,
      "bm25_view_bulk_delete: the second bulk delete must fold on v2")
    require(graft.table.RowLocalIndexView.tierCountScans.get == tierScans0,
      "bm25_view_bulk_delete: the replace-vs-DV fraction decision must " +
        "read live rows off the commit log, never a full state scan")
    val fkCommit = ManagedTable(spark, stPath).lastCommit.get
    require(fkCommit.operation == "DELETE VECTORS" &&
      fkCommit.dirs == dirsBefore,
      s"bm25_view_bulk_delete: a past-gate delete under the fraction " +
        s"threshold must land frame-keyed DVs, got ${fkCommit.operation}")
    require(fkCommit.changeDir.isEmpty,
      "bm25_view_bulk_delete: the state tombstone commit must not pay " +
        "full-width change capture — nothing consumes the state's feed")
    // curation pass 3: ~half the surviving corpus — ABOVE the fraction
    // threshold, where tombstones would read-amplify every search: the
    // honest plan is the one shuffled anti-join rewrite
    t.delete(col("doc_id") % 2 === 0)
    require(gated.refresh() == 3L,
      "bm25_view_bulk_delete: the third bulk delete must fold on v3")
    val rwCommit = ManagedTable(spark, stPath).lastCommit.get
    require(rwCommit.operation == "BM25_REFRESH" &&
      rwCommit.dvDirs.isEmpty,
      s"bm25_view_bulk_delete: above the fraction threshold the slice " +
        s"must fold as one shuffled-rewrite commit, got ${rwCommit.operation}")
    val merged = gated.read
    val rebuilt = Retrieval.bm25Postings(t.read, "text", "doc_id")
    require(sameRows(merged, rebuilt),
      "bm25_view_bulk_delete: bulk-deleted postings drifted from the rebuild")
    val queries = Seq(
      (1L, "merge stream table"),
      (2L, "fast query data"),
      (3L, "row group window hash")).toDF("query_id", "query_text")
    gated.search(queries, k = 7, exact = true)
  }

  /** DuckDB mirror of [[bm25ViewBulkDelete]] — the ranking over the
    * corpus surviving all three delete tiers. */
  val bm25ViewBulkDeleteSql: String =
    """WITH q(query_id, query_text) AS (VALUES
      |  (1, 'merge stream table'),
      |  (2, 'fast query data'),
      |  (3, 'row group window hash')),
      |docs AS (SELECT doc_id, text FROM documents
      |         WHERE doc_id % 5 >= 2 AND doc_id % 2 = 1),
      |tok AS (SELECT doc_id,
      |  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      | FROM docs),
      |dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |       FROM tok GROUP BY doc_id, tok),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      |       FROM dt GROUP BY doc_id),
      |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
      |          FROM dt GROUP BY tok),
      |scal AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |                CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
      |qt AS (SELECT DISTINCT query_id, tok FROM
      |  (SELECT query_id,
      |     unnest(regexp_extract_all(lower(query_text), '[a-z0-9]+')) AS tok
      |   FROM q)),
      |m AS (SELECT qt.query_id, dt.doc_id,
      |  CAST((CAST(2*s.n_docs - 2*f.df + 1 AS HUGEINT)
      |        * ((CAST(44 AS HUGEINT) * dt.tf * s.total_len * 1000000)
      |           // (CAST(20 AS HUGEINT)*dt.tf*s.total_len
      |              + CAST(6 AS HUGEINT)*s.total_len
      |              + CAST(18 AS HUGEINT)*l.dl*s.n_docs)))
      |    // CAST(2*f.df + 1 AS HUGEINT) AS BIGINT) AS s_int
      | FROM dt JOIN qt USING (tok) JOIN dl l USING (doc_id)
      |      JOIN dfreq f USING (tok) CROSS JOIN scal s),
      |agg AS (SELECT query_id, doc_id,
      |         CAST(sum(s_int) AS BIGINT) AS score_scaled,
      |         CAST(count(*) AS BIGINT) AS n_terms_matched
      |        FROM m GROUP BY query_id, doc_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY score_scaled DESC, doc_id) AS "rank" FROM agg)
      |SELECT CAST(query_id AS BIGINT) AS query_id, "rank", doc_id,
      |       score_scaled, n_terms_matched
      |FROM r WHERE "rank" <= 7""".stripMargin

  /** STREAMING maintenance of the BM25 view
    * ([[graft.table.StandingViews.refreshStreamAll]]): the corpus
    * table's CDF STREAM drives the index instead of batch CALLs — a
    * streaming curation pipeline's index stays current through the
    * same netting, gates, and write choreography (appends APPEND,
    * small deletes tombstone as deletion vectors, scalars move on the
    * commit metadata), exactly-once via the (checkpoint, epoch)
    * transaction high-water riding each fold's final commit. Epochs:
    * init on 2/3 of docs + planted exact copies; then three source
    * commits — a pure append, a curation DELETE of the copies, and a
    * dir-rewrite UPDATE — drained by ONE AvailableNow stream pass.
    * In-query gates: the watermark advances to the last source commit,
    * a DELETE VECTORS commit landed in the state history (the delete
    * slice tombstoned instead of rewriting), maintained ≡ rebuilt
    * postings, and a second pass on the SAME checkpoint after one more
    * append commits exactly that batch (resume without double-fold).
    * Oracle: the full BM25 ranking over the FINAL corpus. */
  def streamBm25View(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.llm.Retrieval
    import graft.table.{Bm25IndexView, ManagedTable}
    val docs = pq(spark, dir, "documents").select("doc_id", "text")
    require(docs.agg(max("doc_id")).head().getLong(0) < 940000L,
      "planted-copy offset 940000 collides with natural doc ids")
    val planted = docs.filter(col("doc_id") < 30)
      .select((col("doc_id") + 940000L).as("doc_id"), col("text"))
    val srcPath = tmp("bm25vs_src")
    val stPath = tmp("bm25vs_state")
    val ck = tmp("bm25vs_ck")
    val t = ManagedTable(spark, srcPath)
    Staging.timed {
      t.write(docs.filter(col("doc_id") % 3 =!= 0).unionByName(planted),
        "APPEND", "append")
      new Bm25IndexView(spark, srcPath, stPath, expectedDocs = 100000)
        .initialize()
    }
    val view = new Bm25IndexView(spark, srcPath, stPath)
    t.write(docs.filter(col("doc_id") % 3 === 0), "APPEND", "append")
    t.delete(col("doc_id") >= 940000L)
    t.update(Map("text" ->
        concat(col("text"), lit(" zzgraftstreamed zzgraftstreamed"))),
      col("doc_id") % 89 === 7)
    val q1 = view.refreshStream(ck)
    require(q1.awaitTermination(300000),
      "stream_bm25_view: the view stream did not drain")
    require(view.sourceVersion == 3L,
      "stream_bm25_view: the stream must advance the watermark to the " +
        s"last source commit, got ${view.sourceVersion}")
    val st = ManagedTable(spark, stPath)
    require(st.history.exists(_.operation == "DELETE VECTORS"),
      "stream_bm25_view: the curation delete slice must tombstone via " +
        "DELETE VECTORS instead of rewriting the postings")
    val rebuilt = Retrieval.bm25Postings(t.read, "text", "doc_id")
    require(sameRows(view.read, rebuilt),
      "stream_bm25_view: stream-maintained postings drifted from the rebuild")
    // resume the SAME checkpoint after one more append: exactly that
    // batch folds, nothing double-applies
    t.write(docs.limit(0).unionByName( // inherit the table's nullability
      Seq((940001L, "zzgraftstreamed merge stream")).toDF("doc_id", "text")),
      "APPEND", "append")
    val q2 = view.refreshStream(ck)
    require(q2.awaitTermination(300000),
      "stream_bm25_view: the resumed view stream did not drain")
    val rebuilt2 = Retrieval.bm25Postings(t.read, "text", "doc_id")
    require(sameRows(view.read, rebuilt2),
      "stream_bm25_view: the resumed checkpoint double-folded or dropped " +
        "the new batch")
    val queries = Seq(
      (1L, "zzgraftstreamed"),
      (2L, "merge stream table"),
      (3L, "row group window hash")).toDF("query_id", "query_text")
    view.search(queries, k = 7, exact = true)
  }

  /** DuckDB mirror of [[streamBm25View]] — the FULL-corpus ranking over
    * the final state (updates applied, planted copies gone, the
    * post-resume doc present). */
  val streamBm25ViewSql: String =
    """WITH q(query_id, query_text) AS (VALUES
      |  (1, 'zzgraftstreamed'),
      |  (2, 'merge stream table'),
      |  (3, 'row group window hash')),
      |docs AS (SELECT doc_id,
      |  CASE WHEN doc_id % 89 = 7
      |       THEN text || ' zzgraftstreamed zzgraftstreamed'
      |       ELSE text END AS text
      | FROM documents
      | UNION ALL
      | SELECT 940001, 'zzgraftstreamed merge stream'),
      |tok AS (SELECT doc_id,
      |  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      | FROM docs),
      |dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |       FROM tok GROUP BY doc_id, tok),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      |       FROM dt GROUP BY doc_id),
      |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
      |          FROM dt GROUP BY tok),
      |scal AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |                CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
      |qt AS (SELECT DISTINCT query_id, tok FROM
      |  (SELECT query_id,
      |     unnest(regexp_extract_all(lower(query_text), '[a-z0-9]+')) AS tok
      |   FROM q)),
      |m AS (SELECT qt.query_id, dt.doc_id,
      |  CAST((CAST(2*s.n_docs - 2*f.df + 1 AS HUGEINT)
      |        * ((CAST(44 AS HUGEINT) * dt.tf * s.total_len * 1000000)
      |           // (CAST(20 AS HUGEINT)*dt.tf*s.total_len
      |              + CAST(6 AS HUGEINT)*s.total_len
      |              + CAST(18 AS HUGEINT)*l.dl*s.n_docs)))
      |    // CAST(2*f.df + 1 AS HUGEINT) AS BIGINT) AS s_int
      | FROM dt JOIN qt USING (tok) JOIN dl l USING (doc_id)
      |      JOIN dfreq f USING (tok) CROSS JOIN scal s),
      |agg AS (SELECT query_id, doc_id,
      |         CAST(sum(s_int) AS BIGINT) AS score_scaled,
      |         CAST(count(*) AS BIGINT) AS n_terms_matched
      |        FROM m GROUP BY query_id, doc_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY score_scaled DESC, doc_id) AS "rank" FROM agg)
      |SELECT CAST(query_id AS BIGINT) AS query_id, "rank", doc_id,
      |       score_scaled, n_terms_matched
      |FROM r WHERE "rank" <= 7""".stripMargin

  /** Layout MAINTENANCE for the standing-view family, proven invisible
    * to everything but the file layout: the O(batch) refresh design
    * appends one dir per slice spanning the whole token range, so
    * per-dir stats overlap completely and skipping reads degrade as
    * appends accumulate. `recluster` (heavy, periodic — a full rewrite
    * into range buckets with a persisted grid) restores disjoint
    * per-dir stats; `maintain` (cheap, routine — DV purge +
    * clusterAppend of exactly the unbucketed tail) keeps them that way
    * at O(tombstones + tail) cost. Epochs: init on 2/3 of docs; a pure
    * append; RECLUSTER (pinned: only bucket dirs remain, the commit
    * carries no watermark, the walk still reads the old watermark and
    * scalars, search rows are bit-identical); another append (pinned:
    * the refresh STILL lands an O(batch) unbucketed tail dir — the
    * grid must not make refreshes table-sized); a curation DELETE
    * folded as deletion vectors; MAINTAIN (pinned: tombstones
    * materialized, the tail folded onto the SAME grid, only bucket
    * dirs remain, watermark intact); then the serving gates — a
    * skipping read on the query tokens scans STRICTLY fewer files than
    * the full postings scan, and the dir-pruned driver-regime search
    * equals the gate-shut full-scan search frame-for-frame. Oracle:
    * the full BM25 ranking over the final corpus (the oracle never
    * sees epochs or maintenance). */
  def viewMaintenance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.llm.Retrieval
    import graft.table.{Bm25IndexView, ManagedTable}
    val docs = pq(spark, dir, "documents").select("doc_id", "text")
    val srcPath = tmp("vmaint_src")
    val stPath = tmp("vmaint_state")
    val t = ManagedTable(spark, srcPath)
    Staging.timed {
      t.write(docs.filter(col("doc_id") % 3 =!= 0), "APPEND", "append")
      new Bm25IndexView(spark, srcPath, stPath, expectedDocs = 100000)
        .initialize()
    }
    val view = new Bm25IndexView(spark, srcPath, stPath)
    t.write(docs.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 0),
      "APPEND", "append")
    require(view.refresh() == 1L, "view_maintenance: append fold on v1")
    val queries = Seq(
      (1L, "merge stream table"),
      (2L, "fast query data"),
      (3L, "row group window hash")).toDF("query_id", "query_text")
    val before = view.search(queries, k = 7, exact = true).localCheckpoint()
    val (w0, s0) = (view.sourceVersion, view.scalars)
    view.recluster("tok", 16)
    val clusterCol = ManagedTable.CLUSTER_COL
    val afterCluster = ManagedTable(spark, stPath).lastCommit.get
    require(afterCluster.dirs.forall(_.contains(s"/$clusterCol=")) &&
      afterCluster.userMetadata.isEmpty,
      "view_maintenance: recluster must land only bucket dirs in a " +
        "watermark-less commit")
    require(view.sourceVersion == w0 && view.scalars == s0,
      "view_maintenance: recluster must be transparent to the watermark walk")
    val afterRecluster = view.search(queries, k = 7, exact = true)
    require(sameRows(afterRecluster, before),
      "view_maintenance: recluster changed search rows")
    t.write(docs.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 =!= 0),
      "APPEND", "append")
    require(view.refresh() == 2L, "view_maintenance: append fold on v2")
    val withTail = ManagedTable(spark, stPath).lastCommit.get
    require(withTail.operation == "BM25_REFRESH" &&
      withTail.dirs.exists(!_.contains(s"/$clusterCol=")),
      "view_maintenance: a refresh over the grid must STILL append an " +
        "O(batch) tail dir, not rewrite into buckets")
    t.delete(col("doc_id") % 101 === 7)
    require(view.refresh() == 3L, "view_maintenance: delete fold on v3")
    require(ManagedTable(spark, stPath).lastCommit.get.dvDirs.nonEmpty,
      "view_maintenance: the curation delete must tombstone as DVs")
    view.maintain()
    val afterMaintain = ManagedTable(spark, stPath).lastCommit.get
    require(afterMaintain.dirs.forall(_.contains(s"/$clusterCol=")) &&
      afterMaintain.dvDirs.isEmpty,
      "view_maintenance: maintain must purge tombstones and fold the " +
        "tail onto the persisted grid")
    require(view.sourceVersion == 3L,
      "view_maintenance: maintain must be transparent to the watermark walk")
    val fullFiles = view.read.inputFiles.length
    val prunedFiles = view
      .readWhere(col("tok").isin(Retrieval.queryToks(queries)
        .collect().map(_.getString(0)).toIndexedSeq: _*))
      .inputFiles.length
    require(prunedFiles < fullFiles,
      s"view_maintenance: the maintained grid must dir-prune the query " +
        s"tokens' skipping read ($prunedFiles vs $fullFiles files)")
    val pruned = view.search(queries, k = 7, exact = true)
    val gateShut = view.search(queries, k = 7, exact = true,
      maxPrunedToks = 0)
    require(sameRows(pruned, gateShut),
      "view_maintenance: dir-pruned search drifted from the full scan")
    pruned
  }

  /** DuckDB mirror of [[viewMaintenance]] — the FULL-corpus ranking
    * minus the curation-deleted docs (the oracle never sees epochs or
    * maintenance commits). */
  val viewMaintenanceSql: String =
    """WITH q(query_id, query_text) AS (VALUES
      |  (1, 'merge stream table'),
      |  (2, 'fast query data'),
      |  (3, 'row group window hash')),
      |fin AS (SELECT doc_id, text FROM documents WHERE doc_id % 101 <> 7),
      |tok AS (SELECT doc_id,
      |  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      | FROM fin),
      |dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |       FROM tok GROUP BY doc_id, tok),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      |       FROM dt GROUP BY doc_id),
      |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
      |          FROM dt GROUP BY tok),
      |scal AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |                CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
      |qt AS (SELECT DISTINCT query_id, tok FROM
      |  (SELECT query_id,
      |     unnest(regexp_extract_all(lower(query_text), '[a-z0-9]+')) AS tok
      |   FROM q)),
      |m AS (SELECT qt.query_id, dt.doc_id,
      |  CAST((CAST(2*s.n_docs - 2*f.df + 1 AS HUGEINT)
      |        * ((CAST(44 AS HUGEINT) * dt.tf * s.total_len * 1000000)
      |           // (CAST(20 AS HUGEINT)*dt.tf*s.total_len
      |              + CAST(6 AS HUGEINT)*s.total_len
      |              + CAST(18 AS HUGEINT)*l.dl*s.n_docs)))
      |    // CAST(2*f.df + 1 AS HUGEINT) AS BIGINT) AS s_int
      | FROM dt JOIN qt USING (tok) JOIN dl l USING (doc_id)
      |      JOIN dfreq f USING (tok) CROSS JOIN scal s),
      |agg AS (SELECT query_id, doc_id,
      |         CAST(sum(s_int) AS BIGINT) AS score_scaled,
      |         CAST(count(*) AS BIGINT) AS n_terms_matched
      |        FROM m GROUP BY query_id, doc_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY score_scaled DESC, doc_id) AS "rank" FROM agg)
      |SELECT CAST(query_id AS BIGINT) AS query_id, "rank", doc_id,
      |       score_scaled, n_terms_matched
      |FROM r WHERE "rank" <= 7""".stripMargin

  /** AS-OF serving from a standing view — reproducible retrieval for
    * training-data lineage: `searchAt(v)` serves the EXACT ranking the
    * index at state version `v` produced, long after later refreshes,
    * curation deletes, and layout maintenance moved the head. The
    * watermark contract makes this checkable two independent ways,
    * both gated in-query: the pinned walk names the matching SOURCE
    * version (`sourceVersionAt(vInit) == 0`), and the as-of ranking
    * equals a fresh ONE-SHOT ranking over `source.readAt(0)` — time
    * travel on the view and on the corpus name the same world. Epochs
    * after the pin: an append fold, a curation delete fold (deletion
    * vectors), recluster + maintain (full maintenance pass). Oracle:
    * DuckDB ranks the INITIAL corpus subset (the epochs and
    * maintenance are invisible to it by construction). */
  def viewTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.llm.Retrieval
    import graft.table.{Bm25IndexView, ManagedTable}
    val docs = pq(spark, dir, "documents").select("doc_id", "text")
    val srcPath = tmp("vtt_src")
    val stPath = tmp("vtt_state")
    val t = ManagedTable(spark, srcPath)
    Staging.timed {
      t.write(docs.filter(col("doc_id") % 3 =!= 0), "APPEND", "append")
      new Bm25IndexView(spark, srcPath, stPath, expectedDocs = 100000)
        .initialize()
    }
    val view = new Bm25IndexView(spark, srcPath, stPath)
    val vInit = ManagedTable(spark, stPath).latestVersion.get
    t.write(docs.filter(col("doc_id") % 3 === 0), "APPEND", "append")
    require(view.refresh() == 1L, "view_time_travel: append fold on v1")
    t.delete(col("doc_id") % 11 === 4)
    require(view.refresh() == 2L, "view_time_travel: delete fold on v2")
    view.recluster("tok", 16)
    view.maintain()
    require(view.sourceVersionAt(vInit) == 0L,
      "view_time_travel: the pinned walk must name the matching source " +
        s"version, got ${view.sourceVersionAt(vInit)}")
    val queries = Seq(
      (1L, "merge stream table"),
      (2L, "fast query data"),
      (3L, "row group window hash")).toDF("query_id", "query_text")
    val asOf = view.searchAt(vInit, queries, k = 7, exact = true)
    val oneShot = Retrieval.bm25TopK(t.readAt(0L), queries, k = 7,
      exact = true)
    require(sameRows(asOf, oneShot),
      "view_time_travel: the as-of ranking drifted from the one-shot " +
        "ranking over the matching source snapshot")
    val head = view.search(queries, k = 7, exact = true)
    val headShot = Retrieval.bm25TopK(t.read, queries, k = 7, exact = true)
    require(sameRows(head, headShot),
      "view_time_travel: the head must keep serving the current world")
    asOf
  }

  /** DuckDB mirror of [[viewTimeTravel]] — the ranking over the INITIAL
    * corpus subset (`doc_id % 3 <> 0`); the later epochs and the
    * maintenance commits are invisible to the pinned read. */
  val viewTimeTravelSql: String =
    """WITH q(query_id, query_text) AS (VALUES
      |  (1, 'merge stream table'),
      |  (2, 'fast query data'),
      |  (3, 'row group window hash')),
      |fin AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
      |tok AS (SELECT doc_id,
      |  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      | FROM fin),
      |dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |       FROM tok GROUP BY doc_id, tok),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      |       FROM dt GROUP BY doc_id),
      |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
      |          FROM dt GROUP BY tok),
      |scal AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |                CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
      |qt AS (SELECT DISTINCT query_id, tok FROM
      |  (SELECT query_id,
      |     unnest(regexp_extract_all(lower(query_text), '[a-z0-9]+')) AS tok
      |   FROM q)),
      |m AS (SELECT qt.query_id, dt.doc_id,
      |  CAST((CAST(2*s.n_docs - 2*f.df + 1 AS HUGEINT)
      |        * ((CAST(44 AS HUGEINT) * dt.tf * s.total_len * 1000000)
      |           // (CAST(20 AS HUGEINT)*dt.tf*s.total_len
      |              + CAST(6 AS HUGEINT)*s.total_len
      |              + CAST(18 AS HUGEINT)*l.dl*s.n_docs)))
      |    // CAST(2*f.df + 1 AS HUGEINT) AS BIGINT) AS s_int
      | FROM dt JOIN qt USING (tok) JOIN dl l USING (doc_id)
      |      JOIN dfreq f USING (tok) CROSS JOIN scal s),
      |agg AS (SELECT query_id, doc_id,
      |         CAST(sum(s_int) AS BIGINT) AS score_scaled,
      |         CAST(count(*) AS BIGINT) AS n_terms_matched
      |        FROM m GROUP BY query_id, doc_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY score_scaled DESC, doc_id) AS "rank" FROM agg)
      |SELECT CAST(query_id AS BIGINT) AS query_id, "rank", doc_id,
      |       score_scaled, n_terms_matched
      |FROM r WHERE "rank" <= 7""".stripMargin

  /** The corpus LM view under STREAMING maintenance
    * ([[graft.table.StandingViews.refreshStreamAll]]): the corpus table's
    * CDF stream folds into the standing model per micro-batch,
    * exactly-once via the (checkpoint, epoch) txn high-water — a
    * streaming curation pipeline's ingest-gate model stays current
    * without a batch CALL. Epochs: init on 2/3 of docs; append the
    * rest, a dir-rewrite DELETE, and a marker UPDATE, all drained
    * through ONE checkpoint; gates: maintained ≡ recomputed
    * `unigramModel` (exact frame equality) after the drain AND again
    * after a RESUMED checkpoint folds one more append (nothing
    * double-applies — token counts would double visibly), then a batch
    * refresh interleaves as a zero-commit no-op. Result: rare-token
    * scoring against the maintained model, hash-matched to DuckDB over
    * the final corpus. */
  def streamLmView(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.llm.TextOps
    import graft.table.{CorpusLmView, ManagedTable}
    val docs = pq(spark, dir, "documents").select("doc_id", "text")
    require(docs.agg(max("doc_id")).head().getLong(0) < 930000L,
      "synthetic doc offset 930000 collides with natural doc ids")
    val srcPath = tmp("lmvs_src")
    val stPath = tmp("lmvs_state")
    val ck = tmp("lmvs_ck")
    val t = ManagedTable(spark, srcPath)
    Staging.timed {
      t.write(docs.filter(col("doc_id") % 3 =!= 0), "APPEND", "append")
      new CorpusLmView(spark, srcPath, stPath).initialize()
    }
    val view = new CorpusLmView(spark, srcPath, stPath)
    t.write(docs.filter(col("doc_id") % 3 === 0), "APPEND", "append")
    t.delete(col("doc_id") % 5 === 1)
    t.update(Map("text" ->
        concat(col("text"), lit(" zqlmstream zqlmstream"))),
      col("doc_id") % 97 === 2)
    require(view.refreshStream(ck).awaitTermination(300000),
      "stream_lm_view: the view stream did not drain")
    require(view.sourceVersion == 3L,
      s"stream_lm_view: watermark must reach the last source commit, " +
        s"got ${view.sourceVersion}")
    val rebuilt = TextOps.unigramModel(t.read)
    require(sameRows(view.read, rebuilt),
      "stream_lm_view: stream-maintained model drifted from the recompute")
    // resume the SAME checkpoint after one more append: exactly that
    // batch folds — a double-fold would double its token counts
    t.write(docs.limit(0).unionByName(
      Seq((930001L, "zqlmstream merge stream")).toDF("doc_id", "text")),
      "APPEND", "append")
    require(view.refreshStream(ck).awaitTermination(300000),
      "stream_lm_view: the resumed view stream did not drain")
    require(view.sourceVersion == 4L,
      "stream_lm_view: the resumed checkpoint must fold the new slice")
    val rebuilt2 = TextOps.unigramModel(t.read)
    require(sameRows(view.read, rebuilt2),
      "stream_lm_view: the resumed checkpoint double-folded or dropped " +
        "the new batch")
    val vBefore = ManagedTable(spark, stPath).latestVersion
    require(view.refresh() == 4L &&
      ManagedTable(spark, stPath).latestVersion == vBefore,
      "stream_lm_view: a batch refresh after the stream must be a " +
        "zero-commit no-op")
    TextOps.rareTokenScoreWith(t.read.filter(col("doc_id") % 10 === 0),
      view.read)
  }

  /** DuckDB mirror of [[streamLmView]] — rare-token scoring against the
    * final-corpus LM (deletes out, updates applied, the post-resume
    * synthetic doc in; the oracle never sees the stream). */
  val streamLmViewSql: String =
    """WITH fin AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 97 = 2 THEN text || ' zqlmstream zqlmstream'
      |         ELSE text END AS text
      |  FROM documents WHERE doc_id % 5 <> 1
      |  UNION ALL SELECT 930001, 'zqlmstream merge stream'),
      |tokc AS (SELECT doc_id,
      |  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      | FROM fin),
      |lm AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq
      |       FROM tokc GROUP BY tok),
      |dtb AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |        FROM tokc WHERE doc_id % 10 = 0 GROUP BY doc_id, tok),
      |agg AS (SELECT dtb.doc_id,
      |         CAST(sum(dtb.tf) AS BIGINT) AS n_tokens,
      |         CAST(count(*) AS BIGINT) AS n_distinct_tokens,
      |         CAST(sum(CASE WHEN coalesce(lm.freq, 0) < 3
      |                       THEN dtb.tf ELSE 0 END) AS BIGINT)
      |           AS n_rare_tokens
      |        FROM dtb LEFT JOIN lm USING (tok) GROUP BY dtb.doc_id)
      |SELECT d.doc_id,
      | coalesce(a.n_tokens, 0) AS n_tokens,
      | coalesce(a.n_distinct_tokens, 0) AS n_distinct_tokens,
      | coalesce(a.n_rare_tokens, 0) AS n_rare_tokens,
      | CASE WHEN coalesce(a.n_tokens, 0) > 0
      |       AND coalesce(a.n_rare_tokens, 0) * 5 <= coalesce(a.n_tokens, 0)
      |      THEN 1 ELSE 0 END AS passes_rarity
      |FROM (SELECT doc_id FROM fin WHERE doc_id % 10 = 0) d
      |LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin

  /** The positional phrase index as a CDF-maintained standing view
    * ([[graft.table.PositionalIndexView]]): positions are row-local, so
    * a pure-insert slice must land as an APPEND commit (the standing
    * index is never read — pinned in-query on the commit shape), while
    * deletes tombstone as merge-on-read deletion vectors (also pinned:
    * the DV commit rewrites no occurrence dir). Epochs: init
    * on 2/3 of docs + three planted phrase docs; append the rest
    * (append-commit pin); delete one planted doc and re-text another
    * (coarse dir-rewrite feeds); one refresh on a FRESH instance folds
    * both. Gates: merged ≡ rebuilt posexplode (exact frame equality),
    * zero-commit no-op. Oracle: the diagonal-anchor phrase ranking over
    * the FINAL corpus. */
  def phraseViewRefresh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.llm.Retrieval
    import graft.table.{ManagedTable, PositionalIndexView}
    val docs = pq(spark, dir, "documents").select("doc_id", "text")
    require(docs.agg(max("doc_id")).head().getLong(0) < 910001L,
      "planted ids collide with natural doc ids")
    val planted = Seq(
      (910001L, "qphraseax qphrasebx qphraseax qphrasebx qphraseax"),
      (910002L, "qphrasebx qphraseax"),
      (910003L, "qphrasecx qphrasecx qphrasecx")).toDF("doc_id", "text")
    val srcPath = tmp("phrasev_src")
    val stPath = tmp("phrasev_state")
    val t = ManagedTable(spark, srcPath)
    Staging.timed {
      t.write(docs.filter(col("doc_id") % 3 =!= 0).unionByName(planted),
        "APPEND", "append")
      new PositionalIndexView(spark, srcPath, stPath, expectedDocs = 100000)
        .initialize()
    }
    val view = new PositionalIndexView(spark, srcPath, stPath)
    t.write(docs.filter(col("doc_id") % 3 === 0), "APPEND", "append")
    require(view.refresh() == 1L,
      "phrase_view_refresh: append fold must land on v1")
    val afterAppend = ManagedTable(spark, stPath).lastCommit.get
    require(afterAppend.operation == "PHRASE_REFRESH" &&
      afterAppend.dirs.size == 2,
      "phrase_view_refresh: a pure-insert slice must APPEND a dir — the " +
        "standing index was rewritten")
    t.delete(col("doc_id") === 910003L)
    t.update(Map("text" -> lit("qphraseax qphrasebx qphraseax")),
      col("doc_id") === 910002L)
    val restarted = new PositionalIndexView(spark, srcPath, stPath)
    require(restarted.refresh() == 3L,
      "phrase_view_refresh: one refresh must fold the delete and update")
    val stT = ManagedTable(spark, stPath)
    val dvc = stT.commitAt(stT.latestVersion.get - 1L)
    require(dvc.operation == "DELETE VECTORS" &&
      dvc.dirs == afterAppend.dirs,
      s"phrase_view_refresh: the delete slice must tombstone via DELETE " +
        s"VECTORS rewriting NO occurrence dir, got ${dvc.operation}")
    val vBefore = ManagedTable(spark, stPath).latestVersion
    require(restarted.refresh() == 3L &&
      ManagedTable(spark, stPath).latestVersion == vBefore,
      "phrase_view_refresh: an already-current refresh must commit nothing")
    val rebuilt = Retrieval.positionalIndex(t.read, "text", "doc_id")
    require(sameRows(restarted.read, rebuilt),
      "phrase_view_refresh: maintained occurrences drifted from the rebuild")
    val phrases = Seq(
      (1L, "qphraseax qphrasebx"),
      (2L, "qphraseax qphrasebx qphraseax"),
      (3L, "qphrasecx qphrasecx"),
      (4L, "table hash")).toDF("query_id", "query_text")
    Retrieval.phraseSearchWith(phrases, restarted.read, k = 10)
  }

  /** DuckDB mirror of [[phraseViewRefresh]] — the diagonal-anchor
    * ranking over the FINAL corpus (910003 deleted, 910002 re-texted;
    * phrase 3 has no occurrences left). */
  val phraseViewRefreshSql: String =
    """WITH pd(doc_id, text) AS (VALUES
      |  (910001, 'qphraseax qphrasebx qphraseax qphrasebx qphraseax'),
      |  (910002, 'qphraseax qphrasebx qphraseax')),
      |ad AS (SELECT doc_id, text FROM documents
      |       UNION ALL SELECT doc_id, text FROM pd),
      |q(query_id, query_text) AS (VALUES
      |  (1, 'qphraseax qphrasebx'),
      |  (2, 'qphraseax qphrasebx qphraseax'),
      |  (3, 'qphrasecx qphrasecx'),
      |  (4, 'table hash')),
      |toks AS (SELECT doc_id,
      |  regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM ad),
      |tok AS (SELECT doc_id, ts[i] AS tok, i AS pos
      |        FROM toks, unnest(generate_series(1, len(ts))) AS t(i)),
      |qtoks AS (SELECT query_id,
      |  regexp_extract_all(lower(query_text), '[a-z0-9]+') AS ts FROM q),
      |qtok AS (SELECT query_id, ts[i] AS tok, i AS qpos
      |         FROM qtoks, unnest(generate_series(1, len(ts))) AS t(i)),
      |qlen AS (SELECT query_id, CAST(count(*) AS BIGINT) AS qlen
      |         FROM qtok GROUP BY query_id),
      |diag AS (SELECT qtok.query_id, tok.doc_id,
      |          tok.pos - qtok.qpos AS anchor,
      |          CAST(count(*) AS BIGINT) AS n
      |         FROM tok JOIN qtok USING (tok)
      |         GROUP BY 1, 2, 3),
      |occ AS (SELECT d.query_id, d.doc_id FROM diag d JOIN qlen USING (query_id)
      |        WHERE d.n = qlen.qlen),
      |cnt AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_matches
      |        FROM occ GROUP BY query_id, doc_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY n_matches DESC, doc_id) AS "rank" FROM cnt)
      |SELECT CAST(query_id AS BIGINT) AS query_id, "rank", doc_id, n_matches
      |FROM r WHERE "rank" <= 10""".stripMargin

  /** The retention-hold lifecycle end to end
    * ([[graft.table.ManagedTable.setRetentionHold]] + the view family):
    * a standing view PINS its watermark on its source, so routine
    * source vacuum CLAMPS instead of stranding the view; each fold
    * slides the pin forward, releasing folded history; decommissioning
    * is the explicit `CALL graft.release_hold`, after which a vacuum
    * really prunes and the next refresh refuses LOUDLY with the
    * re-initialize remediation (never a silent wrong fold). In-query
    * gates pin every step; the oracle recomputes token stats of the
    * final corpus (which the re-initialized index must equal). */
  def viewRetention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.table.{ManagedTable, PositionalIndexView}
    val docs = pq(spark, dir, "documents").select("doc_id", "text")
    require(docs.agg(max("doc_id")).head().getLong(0) < 940000L,
      "planted ids collide with natural doc ids")
    val srcPath = tmp("vret_src")
    val stPath = tmp("vret_state")
    val t = ManagedTable(spark, srcPath)
    Staging.timed {
      t.write(docs.filter(col("doc_id") % 3 =!= 0), "APPEND", "append")
      new PositionalIndexView(spark, srcPath, stPath, expectedDocs = 100000)
        .initialize()
    }
    val view = new PositionalIndexView(spark, srcPath, stPath)
    require(t.retentionHolds.get(stPath).contains(0L),
      "view_retention: initialize must register the watermark hold")
    // 12 source epochs march the log past a full-snapshot boundary
    (0 until 12).foreach { i =>
      t.write(docs.filter(col("doc_id") % 3 === 0 &&
        pmod((col("doc_id") / 3).cast("long"), lit(12L)) === i),
        "APPEND", "append")
    }
    // routine vacuum CLAMPS to the view's pin — nothing strands
    t.vacuum(keepLast = 2)
    require(t.earliestVersion.contains(0L),
      "view_retention: the hold must clamp vacuum to the watermark")
    require(view.refresh() == 12L,
      "view_retention: the clamped history must still fold")
    require(t.retentionHolds.get(stPath).contains(12L),
      "view_retention: the fold must slide the pin forward")
    // NOW the pre-fold history ages out, and the view keeps working
    t.vacuum(keepLast = 2)
    require(t.earliestVersion.exists(_ > 0L),
      "view_retention: history behind the slid pin must age out")
    t.write(docs.limit(0).unionByName(
      Seq((940001L, "zzreten probe alpha")).toDF("doc_id", "text")),
      "APPEND", "append")
    require(view.refresh() == 13L,
      "view_retention: refresh past the pruned history must fold")
    // decommission: release the pin, let retention prune PAST the
    // watermark, and the next refresh must refuse with remediation
    require(spark.sql(s"CALL graft.release_hold('$srcPath', '$stPath')")
      .isEmpty, "view_retention: release must drop the only hold")
    (0 until 12).foreach { i =>
      t.write(docs.limit(0).unionByName(
        Seq((940002L + i, s"zzreten probe doc$i alpha"))
          .toDF("doc_id", "text")), "APPEND", "append")
    }
    t.vacuum(keepLast = 2)
    require(t.earliestVersion.exists(_ > 14L),
      "view_retention: the released history must age out past the watermark")
    val refused =
      try { view.refresh(); false }
      catch { case e: IllegalArgumentException =>
        e.getMessage.contains("re-initialize") }
    require(refused,
      "view_retention: a refresh past pruned history must refuse with " +
        "the re-initialize remediation")
    // the remediation: re-initialize rebuilds and re-registers the pin
    view.initialize()
    require(t.retentionHolds.get(stPath).contains(t.latestVersion.get),
      "view_retention: re-initialize must re-register the hold")
    view.read.filter(col("tok").isin("zzreten", "alpha", "probe"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"))
  }

  /** DuckDB mirror of [[viewRetention]] — token stats of the FINAL
    * corpus (all documents + the 13 planted probes; the re-initialized
    * index must equal its from-scratch tokenization). */
  val viewRetentionSql: String =
    """WITH planted(doc_id, text) AS (
      |  SELECT 940001, 'zzreten probe alpha'
      |  UNION ALL
      |  SELECT 940002 + i, 'zzreten probe doc' || CAST(i AS VARCHAR) ||
      |    ' alpha'
      |  FROM unnest(generate_series(0, 11)) AS t(i)),
      |fin AS (SELECT doc_id, text FROM documents
      |        UNION ALL SELECT doc_id, text FROM planted),
      |tok AS (SELECT doc_id,
      |  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      | FROM fin)
      |SELECT tok, CAST(count(*) AS BIGINT) AS n_occ,
      | CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      |FROM tok WHERE tok IN ('zzreten', 'alpha', 'probe')
      |GROUP BY tok""".stripMargin

  /** The IVF-PQ ANN index as a CDF-maintained standing view
    * ([[graft.table.AnnIndexView]]): the quantizer trains once at init
    * (add-vs-train split), appends append-encode against it as APPEND
    * commits (pinned in-query on the commit shape), deletes drop code
    * rows. Epochs: init trains on the vector corpus; planted exact
    * copies append (vec_id + 10000); a range of non-planted originals
    * deletes; a FRESH instance folds the delete. Gates: maintained
    * codes ≡ a re-encode of the final corpus against the same frozen
    * quantizer (exact frame equality — the argmins are deterministic),
    * every planted copy ranks its original first, recall@10 vs brute
    * force over the final corpus holds the floor, zero-commit no-op.
    * Oracle: the deterministic planted pairs. */
  def annViewRefresh(spark: SparkSession, dir: String,
                     recallFloor: Double = 0.30): DataFrame = {
    import graft.llm.Similarity
    import graft.table.{AnnIndexView, ManagedTable}
    val emb = pq(spark, dir, "embeddings").select("vec_id", "embedding")
    assertPlantedIdHeadroom(emb, offset = 10000)
    val srcPath = tmp("annv_src")
    val stPath = tmp("annv_state")
    val t = ManagedTable(spark, srcPath)
    Staging.timed {
      t.write(emb, "APPEND", "append")
      new AnnIndexView(spark, srcPath, stPath, nlist = 16, m = 8, ksub = 16,
        expectedVecs = 100000).initialize()
    }
    t.write(emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding")),
      "APPEND", "append")
    val view = new AnnIndexView(spark, srcPath, stPath, nlist = 16, m = 8,
      ksub = 16)
    require(view.refresh() == 1L,
      "ann_view_refresh: append fold must land on v1")
    val afterAppend = ManagedTable(spark, stPath).lastCommit.get
    require(afterAppend.operation == "ANN_REFRESH" &&
      afterAppend.dirs.size == 2,
      "ann_view_refresh: a pure-insert slice must APPEND a dir — the " +
        "standing codes were rewritten")
    t.delete(col("vec_id") >= 30 && col("vec_id") < 40)
    val restarted = new AnnIndexView(spark, srcPath, stPath, nlist = 16,
      m = 8, ksub = 16)
    require(restarted.refresh() == 2L,
      "ann_view_refresh: the delete slice must fold on a restarted instance")
    val dvc = ManagedTable(spark, stPath).lastCommit.get
    require(dvc.operation == "DELETE VECTORS" &&
      dvc.dirs == afterAppend.dirs,
      s"ann_view_refresh: a delete-only slice must tombstone via DELETE " +
        s"VECTORS rewriting NO codes dir, got ${dvc.operation}")
    val vBefore = ManagedTable(spark, stPath).latestVersion
    require(restarted.refresh() == 2L &&
      ManagedTable(spark, stPath).latestVersion == vBefore,
      "ann_view_refresh: an already-current refresh must commit nothing")
    val reencoded = Similarity.ivfPqAppend(restarted.centroids,
      restarted.codebooks, t.read)
    require(sameRows(restarted.read, reencoded),
      "ann_view_refresh: maintained codes drifted from a re-encode of the " +
        "final corpus against the frozen quantizer")
    val queries = t.read.filter(col("vec_id") >= 10000).localCheckpoint()
    val got = restarted.search(queries, k = 10, nProbe = 4).localCheckpoint()
    val top1 = got.filter(col("rank") === 1)
    val misses = top1.filter(col("neighbor_id") =!= col("query_id") - 10000)
      .count()
    require(misses == 0,
      s"ann_view_refresh: $misses planted copies did not rank their " +
        "original first")
    val bf = Similarity.bruteForceTopK(t.read, queries, 10)
    val hits = got.select("query_id", "neighbor_id")
      .intersect(bf.select("query_id", "neighbor_id")).count()
    val recall = hits.toDouble / bf.count()
    require(recall >= recallFloor,
      f"ann_view_refresh recall@10 $recall%.3f below $recallFloor%.2f")
    top1.select("query_id", "neighbor_id")
  }

  val annViewRefreshSql: String = annTopKSql

  /** The RE-INITIALIZE lifecycle of the ANN view — the drift policy:
    * the quantizer retrains on the CURRENT corpus and the codes rebuild,
    * while AS-OF serving stays reproducible because every init commit
    * NAMES the quantizer versions that encoded its codes (the quantizer
    * lives in versioned ManagedTables — a re-train lands a new version,
    * it never overwrites the one historical codes decode under).
    * In-query gates: (1) a pre-re-init ranking re-served via `searchAt`
    * is row-identical after the re-init; (2) the quantizer table's
    * version ADVANCES; (3) an ORPHAN quantizer version — a re-initialize
    * that crashed between the quantizer write and the init commit —
    * changes nothing, because the state metadata pins the governing
    * version. Oracle: the deterministic planted pairs on the final
    * (re-initialized) index. */
  def annViewReinit(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.Similarity
    import graft.table.{AnnIndexView, ManagedTable}
    val emb = pq(spark, dir, "embeddings").select("vec_id", "embedding")
    assertPlantedIdHeadroom(emb, offset = 10000)
    val srcPath = tmp("annri_src")
    val stPath = tmp("annri_state")
    val t = ManagedTable(spark, srcPath)
    Staging.timed {
      t.write(emb, "APPEND", "append")
      new AnnIndexView(spark, srcPath, stPath, nlist = 16, m = 8, ksub = 16,
        expectedVecs = 100000).initialize()
    }
    val view = new AnnIndexView(spark, srcPath, stPath, nlist = 16, m = 8,
      ksub = 16)
    val stateV1 = ManagedTable(spark, stPath).latestVersion.get
    val queries0 = emb.filter(col("vec_id") < 5).localCheckpoint()
    // materialized NOW — a lazy frame would silently re-plan against the
    // post-re-init state and the gate would prove nothing
    val before = view.searchAt(stateV1, queries0, k = 5, nProbe = 4)
      .localCheckpoint()
    // the corpus evolves (planted exact copies append; the view folds
    // them O(batch)), then the drift policy fires: RE-INITIALIZE
    t.write(emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding")),
      "APPEND", "append")
    require(view.refresh() == 1L,
      "ann_view_reinit: append fold must land on v1")
    // the re-initialize fires through the DRIFT POLICY, not a manual
    // call: refreshWithDriftPolicy folds (a no-op here), measures the
    // corpus's PQ reconstruction MSE under the governing codebooks, and
    // re-trains because the threshold sits below any real error —
    // exactly ONE new quantizer version lands
    val centsT = ManagedTable(spark, stPath.stripSuffix("/") + "_centroids")
    val quantBefore = centsT.latestVersion.get
    Staging.timed {
      val (_, reinit) = view.refreshWithDriftPolicy(maxDrift = 1e-12)
      require(reinit,
        "ann_view_reinit: drift past max_drift must trigger a re-initialize")
    }
    require(centsT.latestVersion.contains(quantBefore + 1),
      "ann_view_reinit: the policy must land exactly one NEW quantizer " +
        "version, not overwrite the one historical codes were encoded under")
    // a generous threshold is stable: fold only, no retrain
    val (_, reinit2) = view.refreshWithDriftPolicy(maxDrift = 1e18)
    require(!reinit2 && centsT.latestVersion.contains(quantBefore + 1),
      "ann_view_reinit: a policy call under the threshold must not retrain")
    val after = view.searchAt(stateV1, queries0, k = 5, nProbe = 4)
    require(sameRows(after, before),
      "ann_view_reinit: searchAt across the re-initialize must reproduce " +
        "the historical ranking — codes decoded under a retrained quantizer")
    val queries = t.read.filter(col("vec_id") >= 10000).localCheckpoint()
    val served = view.search(queries, k = 10, nProbe = 4).localCheckpoint()
    // crash window: a re-initialize that wrote its quantizer but died
    // before the init commit — fresh instance, nothing staged, the state
    // still names the governing version
    centsT.write(Similarity.centroidsTable(spark,
      view.centroids.map(_.map(_ + 100.0))), "ANN_QUANTIZER", "replace")
    val fresh = new AnnIndexView(spark, srcPath, stPath, nlist = 16, m = 8,
      ksub = 16)
    val served2 = fresh.search(queries, k = 10, nProbe = 4).localCheckpoint()
    require(sameRows(served2, served),
      "ann_view_reinit: a crashed re-initialize's orphan quantizer version " +
        "leaked into serving — the state metadata must pin the governing " +
        "version")
    val top1 = served2.filter(col("rank") === 1)
    val misses = top1.filter(col("neighbor_id") =!= col("query_id") - 10000)
      .count()
    require(misses == 0,
      s"ann_view_reinit: $misses planted copies did not rank their " +
        "original first on the re-initialized index")
    top1.select("query_id", "neighbor_id")
  }

  val annViewReinitSql: String = annTopKSql

  /** The near-dup index as a CDF-maintained standing view
    * ([[graft.table.NearDupIndexView]]): the dedup family's own
    * curation asymmetry — a stale index rejects re-submitted documents
    * as duplicates of GHOSTS (docs the corpus no longer contains).
    * Five planted nonce docs join the corpus, then DELETE; the
    * in-query gates prove the STALE index rejects exact re-submissions
    * of all five (ghost behavior) while the REFRESHED index admits
    * them, still rejects copies of live docs, and equals the
    * from-scratch rebuild exactly. The pure-insert epoch pins the
    * APPEND commit shape (row-local index — never rewritten for
    * appends). Oracle: the deterministic survivor set of the final
    * batch dedup. */
  def neardupViewRefresh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.llm.Dedup
    import graft.table.{ManagedTable, NearDupIndexView}
    val docs = pq(spark, dir, "documents").select("doc_id", "text")
    require(docs.agg(max("doc_id")).head().getLong(0) < 970000L,
      "planted ids collide with natural doc ids")
    def nonceDoc(i: Int, tag: String): (Long, String) =
      (970000L + i, (1 to 12).map(k => s"zz${tag}tok$i$k").mkString(" "))
    val ghosts = (1 to 5).map(nonceDoc(_, "ghost")).toDF("doc_id", "text")
    val srcPath = tmp("ndv_src")
    val stPath = tmp("ndv_state")
    val t = ManagedTable(spark, srcPath)
    Staging.timed {
      t.write(docs.filter(col("doc_id") % 3 =!= 0).unionByName(ghosts),
        "APPEND", "append")
      new NearDupIndexView(spark, srcPath, stPath, expectedDocs = 100000)
        .initialize()
    }
    val view = new NearDupIndexView(spark, srcPath, stPath)
    t.write(docs.filter(col("doc_id") % 3 === 0), "APPEND", "append")
    require(view.refresh() == 1L,
      "neardup_view_refresh: append fold must land on v1")
    val afterAppend = ManagedTable(spark, stPath).lastCommit.get
    require(afterAppend.operation == "NEARDUP_REFRESH" &&
      afterAppend.dirs.size == 2,
      "neardup_view_refresh: a pure-insert slice must APPEND a dir")
    // the curation event: the planted docs DELETE from the corpus
    t.delete(col("doc_id") >= 970000L)
    // GHOST GATE — against the STALE index, exact re-submissions of the
    // deleted docs are all rejected as duplicates of ghosts
    val resubmit = ghosts.select((col("doc_id") + 20000L).as("doc_id"),
      col("text"))
    require(Dedup.dedupNewBatch(resubmit, view.read).isEmpty,
      "neardup_view_refresh: the stale index must reject every ghost " +
        "re-submission — otherwise this scenario proves nothing")
    val restarted = new NearDupIndexView(spark, srcPath, stPath)
    require(restarted.refresh() == 2L,
      "neardup_view_refresh: the delete slice must fold on a restarted instance")
    val vBefore = ManagedTable(spark, stPath).latestVersion
    require(restarted.refresh() == 2L &&
      ManagedTable(spark, stPath).latestVersion == vBefore,
      "neardup_view_refresh: an already-current refresh must commit nothing")
    val rebuilt = Dedup.buildNearDupIndex(t.read)
    require(sameRows(restarted.read, rebuilt),
      "neardup_view_refresh: maintained signatures drifted from the rebuild")
    // the final batch: ghost re-submissions (now admissible), copies of
    // LIVE docs (still duplicates), and fresh nonce docs (admissible)
    val liveCopies = docs.filter(col("doc_id") < 5)
      .select((col("doc_id") + 980000L).as("doc_id"), col("text"))
    require(liveCopies.count() == 5L, "need 5 live docs to copy")
    val fresh = (1 to 3).map(nonceDoc(_, "fresh")).toDF("doc_id", "text")
      .select((col("doc_id") + 25000L).as("doc_id"), col("text"))
    val batch = resubmit.unionByName(liveCopies).unionByName(fresh)
    restarted.dedupBatch(batch).select("doc_id")
  }

  /** DuckDB mirror of [[neardupViewRefresh]] — the survivor set is
    * fully determined by construction: ghost re-submissions (their
    * nonce originals left the corpus) and fresh nonce docs survive;
    * copies of live docs are rejected. */
  val neardupViewRefreshSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id FROM (VALUES
      |  (990001), (990002), (990003), (990004), (990005),
      |  (995001), (995002), (995003)) v(doc_id)""".stripMargin

  /** The decontamination benchmark index as a CDF-maintained standing
    * view ([[graft.table.BenchmarkIndexView]]): benchmarks change too
    * — suites gain members and RETIRE them — and a stale index keeps a
    * retired benchmark's shingles, so clean training docs are held
    * back as contaminated against eval items that no longer exist
    * (ghost contamination). Three planted nonce benchmarks join the
    * suite; two retire; the STALE index must flag copies of all three
    * (ghosts), the REFRESHED one flags only the survivor's copy,
    * admits the retirees' copies, passes clean docs, and equals the
    * rebuild exactly. The pure-insert epoch pins the APPEND commit
    * shape. Oracle: the deterministic decontamination survivor set. */
  def benchmarkViewRefresh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.llm.Dedup
    import graft.table.{BenchmarkIndexView, ManagedTable}
    val docs = pq(spark, dir, "documents").select("doc_id", "text")
    require(docs.agg(max("doc_id")).head().getLong(0) < 970000L,
      "planted ids collide with natural doc ids")
    def nonceDoc(i: Int, tag: String): (Long, String) =
      (970000L + i, (1 to 12).map(k => s"zz${tag}bench$i$k").mkString(" "))
    val planted = (1 to 3).map(nonceDoc(_, "eval")).toDF("doc_id", "text")
    val srcPath = tmp("bchv_src")
    val stPath = tmp("bchv_state")
    val t = ManagedTable(spark, srcPath)
    Staging.timed {
      t.write(docs.filter(col("doc_id") < 50).unionByName(planted),
        "APPEND", "append")
      new BenchmarkIndexView(spark, srcPath, stPath, expectedDocs = 100000)
        .initialize()
    }
    val view = new BenchmarkIndexView(spark, srcPath, stPath)
    t.write(docs.filter(col("doc_id") >= 50 && col("doc_id") < 100),
      "APPEND", "append")
    require(view.refresh() == 1L,
      "benchmark_view_refresh: append fold must land on v1")
    val afterAppend = ManagedTable(spark, stPath).lastCommit.get
    require(afterAppend.operation == "BENCH_REFRESH" &&
      afterAppend.dirs.size == 2,
      "benchmark_view_refresh: a pure-insert slice must APPEND a dir")
    // the suite RETIRES two of the planted benchmarks
    t.delete(col("doc_id").isin(970002L, 970003L))
    val copies = planted.select((col("doc_id") + 20000L).as("doc_id"),
      col("text")) // 990001..3 — verbatim copies of the planted evals
    val clean = (1 to 2).map(nonceDoc(_, "clean")).toDF("doc_id", "text")
      .select((col("doc_id") + 25000L).as("doc_id"), col("text")) // 995001..2
    val batch = copies.unionByName(clean)
    // GHOST GATE: the stale index still flags the retirees' copies
    require(view.decontaminate(batch).count() == 2L,
      "benchmark_view_refresh: the stale index must hold back copies of " +
        "ALL planted benchmarks — only the clean docs may pass")
    val restarted = new BenchmarkIndexView(spark, srcPath, stPath)
    require(restarted.refresh() == 2L,
      "benchmark_view_refresh: the retire slice must fold on a restarted instance")
    val vBefore = ManagedTable(spark, stPath).latestVersion
    require(restarted.refresh() == 2L &&
      ManagedTable(spark, stPath).latestVersion == vBefore,
      "benchmark_view_refresh: an already-current refresh must commit nothing")
    val rebuilt = Dedup.benchmarkIndex(t.read)
    require(sameRows(restarted.read, rebuilt),
      "benchmark_view_refresh: maintained grams drifted from the rebuild")
    restarted.decontaminate(batch).select("doc_id")
  }

  /** DuckDB mirror of [[benchmarkViewRefresh]] — deterministic by
    * construction: the retirees' copies (990002, 990003) and the clean
    * docs pass; the surviving benchmark's copy (990001) is held. */
  val benchmarkViewRefreshSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id FROM (VALUES
      |  (990002), (990003), (995001), (995002)) v(doc_id)""".stripMargin

  /** The semantic-dedup index as a CDF-maintained standing view
    * ([[graft.table.SemanticIndexView]]) — the embedding-space ghost
    * scenario mirroring `neardup_view_refresh`: five NEGATED corpus
    * vectors (pairwise |cos| vs everything natural ≤ ~0.6, verified
    * range; cos 1 only to their own exact copies) join the corpus,
    * then DELETE. The STALE index must semantically reject their exact
    * re-submissions at the 0.99 threshold (ghosts); the refreshed
    * index admits them, still rejects copies of live vectors, and
    * equals re-indexing the final corpus under the frozen quantizer.
    * Pure-insert epoch pins the APPEND commit shape. Oracle: the
    * deterministic survivor set (all singleton groups). */
  def semanticViewRefresh(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.Similarity
    import graft.table.{ManagedTable, SemanticIndexView}
    val emb = pq(spark, dir, "embeddings").select("vec_id", "embedding")
    assertPlantedIdHeadroom(emb, offset = 970000)
    def negated(ids: Column => Column, base: Long) = emb.filter(ids(col("vec_id")))
      .select((col("vec_id") + base).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    val ghosts = negated(id => id >= 100 && id < 105, 969901L) // 970001..5
    val srcPath = tmp("semv_src")
    val stPath = tmp("semv_state")
    val t = ManagedTable(spark, srcPath)
    Staging.timed {
      t.write(emb.filter(col("vec_id") % 2 === 0).unionByName(ghosts),
        "APPEND", "append")
      new SemanticIndexView(spark, srcPath, stPath, expectedVecs = 100000)
        .initialize()
    }
    val view = new SemanticIndexView(spark, srcPath, stPath)
    t.write(emb.filter(col("vec_id") % 2 =!= 0), "APPEND", "append")
    require(view.refresh() == 1L,
      "semantic_view_refresh: append fold must land on v1")
    val afterAppend = ManagedTable(spark, stPath).lastCommit.get
    require(afterAppend.operation == "SEMANTIC_REFRESH" &&
      afterAppend.dirs.size == 2,
      "semantic_view_refresh: a pure-insert slice must APPEND a dir")
    t.delete(col("vec_id") >= 970000L)
    // GHOST GATE: against the stale index, exact re-submissions of the
    // deleted vectors are all semantic duplicates of ghosts
    val resubmit = ghosts.select((col("vec_id") + 20000L).as("vec_id"),
      col("embedding")) // 990001..5
    require(Similarity.semanticDedupBatch(view.centroids, resubmit,
        view.read, threshold = 0.99).isEmpty,
      "semantic_view_refresh: the stale index must reject every ghost " +
        "re-submission")
    val restarted = new SemanticIndexView(spark, srcPath, stPath)
    require(restarted.refresh() == 2L,
      "semantic_view_refresh: the delete slice must fold on a restarted instance")
    val vBefore = ManagedTable(spark, stPath).latestVersion
    require(restarted.refresh() == 2L &&
      ManagedTable(spark, stPath).latestVersion == vBefore,
      "semantic_view_refresh: an already-current refresh must commit nothing")
    val rebuilt = Similarity.buildSemanticIndex(restarted.centroids, t.read)
    require(sameRows(restarted.read, rebuilt),
      "semantic_view_refresh: maintained index drifted from re-indexing " +
        "the final corpus under the frozen quantizer")
    val liveCopies = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 980000L).as("vec_id"), col("embedding"))
    val fresh = negated(id => id >= 200 && id < 203, 994801L) // 995001..3
    val batch = resubmit.unionByName(liveCopies).unionByName(fresh)
    restarted.dedupBatch(batch, threshold = 0.99)
  }

  /** DuckDB mirror of [[semanticViewRefresh]] — deterministic by
    * construction: ghost re-submissions and fresh negated vectors
    * survive as singleton groups, live copies are rejected. */
  val semanticViewRefreshSql: String =
    """SELECT CAST(vec_id AS BIGINT) AS vec_id,
      |       CAST(1 AS BIGINT) AS group_size FROM (VALUES
      |  (990001), (990002), (990003), (990004), (990005),
      |  (995001), (995002), (995003)) v(vec_id)""".stripMargin

  /** The corpus unigram LM as a CDF-maintained standing view
    * ([[graft.table.CorpusLmView]]): token counts are additive, so the
    * model folds EXACTLY under appends, deletes, and updates — the
    * property that keeps ingest-gate scoring honest after curation
    * deletes corpus rows. Epochs: init on 2/3 of docs; append the
    * rest; a dir-rewrite DELETE (`doc_id % 5 == 1`) and UPDATE
    * (`% 97 == 2` gains a marker token) fold in ONE refresh on a fresh
    * instance. Gates: merged ≡ `unigramModel` recomputed on the final
    * corpus (exact frame equality) and a zero-commit no-op. Result:
    * [[graft.llm.TextOps.rareTokenScoreWith]] scoring a batch against
    * the maintained model, hash-matched to DuckDB over the final
    * corpus. */
  def lmViewRefresh(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.TextOps
    import graft.table.{CorpusLmView, ManagedTable}
    val docs = pq(spark, dir, "documents").select("doc_id", "text")
    val srcPath = tmp("lmv_src")
    val stPath = tmp("lmv_state")
    val t = ManagedTable(spark, srcPath)
    Staging.timed {
      t.write(docs.filter(col("doc_id") % 3 =!= 0), "APPEND", "append")
      new CorpusLmView(spark, srcPath, stPath).initialize()
    }
    val view = new CorpusLmView(spark, srcPath, stPath)
    t.write(docs.filter(col("doc_id") % 3 === 0), "APPEND", "append")
    require(view.refresh() == 1L, "lm_view_refresh: append fold must land on v1")
    t.delete(col("doc_id") % 5 === 1)
    t.update(Map("text" ->
        concat(col("text"), lit(" zqlmfresh zqlmfresh"))),
      col("doc_id") % 97 === 2)
    val restarted = new CorpusLmView(spark, srcPath, stPath)
    require(restarted.refresh() == 3L,
      "lm_view_refresh: one refresh must fold the delete and update slices")
    val vBefore = ManagedTable(spark, stPath).latestVersion
    require(restarted.refresh() == 3L &&
      ManagedTable(spark, stPath).latestVersion == vBefore,
      "lm_view_refresh: an already-current refresh must commit nothing")
    val rebuilt = TextOps.unigramModel(t.read)
    require(sameRows(restarted.read, rebuilt),
      "lm_view_refresh: maintained model drifted from the recompute — " +
        "signed token counts are wrong")
    TextOps.rareTokenScoreWith(t.read.filter(col("doc_id") % 10 === 0),
      restarted.read)
  }

  /** DuckDB mirror of [[lmViewRefresh]] — rare-token scoring of the
    * batch against the FULL final-corpus LM (the oracle never sees the
    * epochs). */
  val lmViewRefreshSql: String =
    """WITH fin AS (SELECT doc_id,
      |  CASE WHEN doc_id % 97 = 2 THEN text || ' zqlmfresh zqlmfresh'
      |       ELSE text END AS text
      | FROM documents WHERE doc_id % 5 <> 1),
      |tokc AS (SELECT doc_id,
      |  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      | FROM fin),
      |lm AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq
      |       FROM tokc GROUP BY tok),
      |dtb AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |        FROM tokc WHERE doc_id % 10 = 0 GROUP BY doc_id, tok),
      |agg AS (SELECT dtb.doc_id,
      |         CAST(sum(dtb.tf) AS BIGINT) AS n_tokens,
      |         CAST(count(*) AS BIGINT) AS n_distinct_tokens,
      |         CAST(sum(CASE WHEN coalesce(lm.freq, 0) < 3
      |                       THEN dtb.tf ELSE 0 END) AS BIGINT)
      |           AS n_rare_tokens
      |        FROM dtb LEFT JOIN lm USING (tok) GROUP BY dtb.doc_id)
      |SELECT d.doc_id,
      | coalesce(a.n_tokens, 0) AS n_tokens,
      | coalesce(a.n_distinct_tokens, 0) AS n_distinct_tokens,
      | coalesce(a.n_rare_tokens, 0) AS n_rare_tokens,
      | CASE WHEN coalesce(a.n_tokens, 0) > 0
      |       AND coalesce(a.n_rare_tokens, 0) * 5 <= coalesce(a.n_tokens, 0)
      |      THEN 1 ELSE 0 END AS passes_rarity
      |FROM (SELECT doc_id FROM fin WHERE doc_id % 10 = 0) d
      |LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin

  /** Hybrid retrieval over STANDING indexes
    * ([[graft.llm.Retrieval.hybridTopKWith]]): both rankers serve from
    * persisted artifacts — the BM25 inverted index and the IVF-PQ
    * triple (centroids, codebooks, coded corpus) — built once
    * (staging) and reloaded from parquet. Three planted consensus
    * probes: each pairs a unique-nonce query text (only its planted
    * doc contains the nonces, so the lexical candidate set IS the
    * planted doc) with the planted doc's exact embedding (a
    * +0.5-shifted copy of a natural vector — the shift changes
    * direction, so cosine is 1.0 against the planted vector and < 1
    * against everything natural). The planted doc must fuse at rank 1
    * with both sources; in-query gates require that AND that the
    * indexed fusion's rank-1 rows EQUAL brute-force fusion's
    * ([[graft.llm.Retrieval.hybridTopK]]) — score and all — so the
    * oracle's from-scratch DuckDB fusion proves the persisted-index
    * path end to end (a lost planted vector in the ADC cut, a broken
    * index round-trip, or a fusion drift all throw or hash-mismatch). */
  def hybridSearchIndexed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.llm.{Retrieval, Similarity}
    val docs = pq(spark, dir, "documents")
    val emb = pq(spark, dir, "embeddings")
    val plantedDocs = Seq(
      (900010L, "zqxveca zqxvecb zqxvecc"),
      (900020L, "zqxvecd zqxvece zqxvecf"),
      (900030L, "zqxvecg zqxvech zqxveci")).toDF("doc_id", "text")
    val plantedVecs = emb.filter(col("vec_id").isin(10L, 20L, 30L))
      .select((col("vec_id") + 900000L).as("vec_id"),
        transform(col("embedding").cast("array<double>"),
          x => x + lit(0.5)).as("embedding"))
    val corpusDocs = docs.select("doc_id", "text").unionByName(plantedDocs)
    val corpusVecs = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .unionByName(plantedVecs).localCheckpoint()
    val qText = Seq(
      (950010L, "zqxveca zqxvecb"),
      (950020L, "zqxvecd zqxvece"),
      (950030L, "zqxvecg zqxvech")).toDF("query_id", "query_text")
    val qVec = plantedVecs.select((col("vec_id") + 50000L).as("vec_id"),
      col("embedding"))
    val idxDir = tmp("hybrid_idx")
    Staging.timed {
      Retrieval.bm25Index(corpusDocs)
        .write.mode("overwrite").parquet(s"$idxDir/bm25")
      val (c, b, cd) = Similarity.ivfPqIndex(corpusVecs, nlist = 16, m = 8,
        ksub = 16)
      Similarity.centroidsTable(spark, c)
        .write.mode("overwrite").parquet(s"$idxDir/centroids")
      Similarity.pqBooksTable(spark, b)
        .write.mode("overwrite").parquet(s"$idxDir/books")
      cd.write.mode("overwrite").parquet(s"$idxDir/codes")
    }
    val cents = Similarity.centroidsFrom(spark.read.parquet(s"$idxDir/centroids"))
    val books = Similarity.pqBooksFrom(spark.read.parquet(s"$idxDir/books"))
    val fusedIdx = Retrieval.hybridTopKWith(qText, qVec,
      spark.read.parquet(s"$idxDir/bm25"), cents, books,
      spark.read.parquet(s"$idxDir/codes"), corpusVecs,
      k = 10, kPerRanker = 10).localCheckpoint()
    val top = fusedIdx.filter(col("rank") === 1)
    val badTop = top.filter(col("doc_id") =!= col("query_id") - 50000L ||
      col("n_sources") =!= 2).count()
    require(badTop == 0L, s"hybrid_search_indexed: $badTop probes did not " +
      "fuse their planted doc first from both sources")
    // brute gate varies only the VECTOR ranker (exact cosine instead of
    // the IVF-PQ index) against the SAME persisted lexical index — the
    // lexical side is independently recomputed from scratch by the
    // DuckDB oracle, so re-tokenizing the corpus here would only pay a
    // second full scan for a check the hash gate already performs
    val bruteTop = Retrieval.rrfFuse(Seq(
        Retrieval.bm25SearchWith(qText, spark.read.parquet(s"$idxDir/bm25"),
          k = 10, exact = true).select("query_id", "doc_id", "rank"),
        graft.llm.Similarity.bruteForceTopK(corpusVecs, qVec, 10)
          .select(col("query_id"), col("neighbor_id").as("doc_id"),
            col("rank"))), k = 10)
      .filter(col("rank") === 1)
    val distinctUnion = top.unionByName(bruteTop).distinct().count()
    require(distinctUnion == 3L, "hybrid_search_indexed: indexed fusion " +
      "diverged from brute-force fusion on the planted consensus rows")
    top
  }

  /** DuckDB mirror of [[hybridSearchIndexed]] — the from-scratch
    * brute-force fusion over the SAME planted construction (docs ∪
    * nonce plants, embeddings ∪ shifted copies), rank-1 rows only. */
  val hybridSearchIndexedSql: String =
    """WITH pd(doc_id, text) AS (VALUES
      |  (900010, 'zqxveca zqxvecb zqxvecc'),
      |  (900020, 'zqxvecd zqxvece zqxvecf'),
      |  (900030, 'zqxvecg zqxvech zqxveci')),
      |ad AS (SELECT doc_id, text FROM documents
      |       UNION ALL SELECT doc_id, text FROM pd),
      |pv AS (SELECT vec_id + 900000 AS vec_id,
      |         list_transform(embedding::DOUBLE[], x -> x + 0.5) AS e
      |       FROM embeddings WHERE vec_id IN (10, 20, 30)),
      |av AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      |       UNION ALL SELECT vec_id, e FROM pv),
      |q(query_id, query_text) AS (VALUES
      |  (950010, 'zqxveca zqxvecb'),
      |  (950020, 'zqxvecd zqxvece'),
      |  (950030, 'zqxvecg zqxvech')),
      |qv AS (SELECT vec_id + 50000 AS vec_id, e FROM pv),
      |tok AS (SELECT doc_id,
      |  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      | FROM ad),
      |dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |       FROM tok GROUP BY doc_id, tok),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      |       FROM dt GROUP BY doc_id),
      |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
      |          FROM dt GROUP BY tok),
      |scal AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |                CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
      |qt AS (SELECT DISTINCT query_id, tok FROM
      |  (SELECT query_id,
      |     unnest(regexp_extract_all(lower(query_text), '[a-z0-9]+')) AS tok
      |   FROM q)),
      |m AS (SELECT qt.query_id, dt.doc_id,
      |  CAST((CAST(2*s.n_docs - 2*f.df + 1 AS HUGEINT)
      |        * ((CAST(44 AS HUGEINT) * dt.tf * s.total_len * 1000000)
      |           // (CAST(20 AS HUGEINT)*dt.tf*s.total_len
      |              + CAST(6 AS HUGEINT)*s.total_len
      |              + CAST(18 AS HUGEINT)*l.dl*s.n_docs)))
      |    // CAST(2*f.df + 1 AS HUGEINT) AS BIGINT) AS s_int
      | FROM dt JOIN qt USING (tok) JOIN dl l USING (doc_id)
      |      JOIN dfreq f USING (tok) CROSS JOIN scal s),
      |bm AS (SELECT query_id, doc_id,
      |        CAST(sum(s_int) AS BIGINT) AS score_scaled
      |       FROM m GROUP BY query_id, doc_id),
      |lex AS (SELECT query_id, doc_id, r FROM
      |  (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score_scaled DESC, doc_id) AS r FROM bm)
      |  WHERE r <= 10),
      |vec AS (SELECT query_id, doc_id, r FROM
      |  (SELECT qv.vec_id AS query_id, c.vec_id AS doc_id,
      |    row_number() OVER (PARTITION BY qv.vec_id
      |      ORDER BY list_cosine_similarity(qv.e, c.e) DESC, c.vec_id) AS r
      |   FROM qv JOIN av c ON qv.vec_id != c.vec_id)
      |  WHERE r <= 10),
      |u AS (SELECT * FROM lex UNION ALL SELECT * FROM vec),
      |f AS (SELECT query_id, doc_id,
      |       CAST(sum(1000000000 // (60 + r)) AS BIGINT) AS rrf_scaled,
      |       CAST(count(*) AS BIGINT) AS n_sources
      |      FROM u GROUP BY query_id, doc_id),
      |rr AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |         ORDER BY rrf_scaled DESC, doc_id) AS "rank" FROM f)
      |SELECT query_id, "rank", doc_id, rrf_scaled, n_sources
      |FROM rr WHERE "rank" = 1""".stripMargin

  /** Hybrid retrieval served ENTIRELY from CDF-MAINTAINED views
    * ([[graft.table.IndexServing.hybridTopK]]): where
    * hybrid_search_indexed serves from artifacts persisted ONCE, this
    * serves from a [[graft.table.Bm25IndexView]] and an
    * [[graft.table.AnnIndexView]] kept current by the corpus tables'
    * own lifecycle — init on the natural corpus, an APPEND epoch lands
    * the planted docs/vectors through both views' O(batch) append
    * paths, and a curation DELETE epoch (doc 11 and its vector) folds
    * through both views' deletion-vector paths — THEN the hybrid query
    * runs. In-query gates: every probe fuses its planted doc at rank 1
    * from both sources, and the view-served fusion agrees with a
    * from-scratch brute-force fusion on those consensus rows. Oracle:
    * the brute-force fusion over the final (post-delete) corpus,
    * rank-1 rows only. */
  def hybridViewSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.llm.{Retrieval, Similarity}
    import graft.table.{AnnIndexView, Bm25IndexView, IndexServing, ManagedTable}
    val docs = pq(spark, dir, "documents")
    val emb = pq(spark, dir, "embeddings")
    val plantedDocs = Seq(
      (900010L, "zqxveca zqxvecb zqxvecc"),
      (900020L, "zqxvecd zqxvece zqxvecf"),
      (900030L, "zqxvecg zqxvech zqxveci")).toDF("doc_id", "text")
    val plantedVecs = emb.filter(col("vec_id").isin(10L, 20L, 30L))
      .select((col("vec_id") + 900000L).as("vec_id"),
        transform(col("embedding").cast("array<double>"),
          x => x + lit(0.5)).as("embedding"))
    val srcDocs = tmp("hvw_docs"); val stBm25 = tmp("hvw_bm25")
    val srcVecs = tmp("hvw_vecs"); val stAnn = tmp("hvw_ann")
    val tDocs = ManagedTable(spark, srcDocs)
    val tVecs = ManagedTable(spark, srcVecs)
    val (bm25View, annView) = Staging.timed {
      tDocs.write(docs.select("doc_id", "text"), "APPEND", "append")
      tVecs.write(emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding")),
        "APPEND", "append")
      val b = new Bm25IndexView(spark, srcDocs, stBm25, expectedDocs = 100000)
      val a = new AnnIndexView(spark, srcVecs, stAnn, nlist = 16, m = 8,
        ksub = 16)
      b.initialize(); a.initialize()
      (b, a)
    }
    // epoch 1: the planted rows APPEND through both views' fast paths
    // (limit(0) unions inherit the tables' nullability). Maintenance
    // routes through the one-pass orchestrator: the two sources' fold
    // chains run concurrently (each view's commit choreography is its
    // own refresh()'s, verbatim), and the watermark requires below pin
    // that both folds landed.
    tDocs.write(tDocs.read.limit(0).unionByName(plantedDocs),
      "APPEND", "append")
    tVecs.write(tVecs.read.limit(0).unionByName(plantedVecs),
      "APPEND", "append")
    graft.table.StandingViews.refreshAll(spark, Seq(bm25View, annView))
    require(bm25View.sourceVersion == 1L && annView.sourceVersion == 1L,
      "hybrid_view_search: the planted epoch must fold into both views")
    // epoch 2: a curation delete folds through both DV paths
    tDocs.delete(col("doc_id") === 11L)
    tVecs.delete(col("vec_id") === 11L)
    graft.table.StandingViews.refreshAll(spark, Seq(bm25View, annView))
    require(bm25View.sourceVersion == 2L && annView.sourceVersion == 2L,
      "hybrid_view_search: the delete epoch must fold into both views")
    val qText = Seq(
      (950010L, "zqxveca zqxvecb"),
      (950020L, "zqxvecd zqxvece"),
      (950030L, "zqxvecg zqxvech")).toDF("query_id", "query_text")
    val qVec = plantedVecs.select((col("vec_id") + 50000L).as("vec_id"),
      col("embedding"))
    val fused = IndexServing.hybridTopK(bm25View, annView, qText, qVec,
      k = 10, kPerRanker = 10).localCheckpoint()
    val top = fused.filter(col("rank") === 1)
    val badTop = top.filter(col("doc_id") =!= col("query_id") - 50000L ||
      col("n_sources") =!= 2).count()
    require(badTop == 0L, s"hybrid_view_search: $badTop probes did not " +
      "fuse their planted doc first from both sources")
    // brute gate: both rankers recomputed from the corpus TABLES'
    // current snapshots — the maintained views must agree on the
    // planted consensus rows
    val bruteTop = Retrieval.rrfFuse(Seq(
        Retrieval.bm25TopK(tDocs.read, qText, k = 10, exact = true)
          .select("query_id", "doc_id", "rank"),
        Similarity.bruteForceTopK(tVecs.read, qVec, 10)
          .select(col("query_id"), col("neighbor_id").as("doc_id"),
            col("rank"))), k = 10)
      .filter(col("rank") === 1)
    val distinctUnion = top.unionByName(bruteTop).distinct().count()
    require(distinctUnion == 3L, "hybrid_view_search: view-served fusion " +
      "diverged from brute-force fusion on the planted consensus rows")
    top
  }

  /** DuckDB mirror of [[hybridViewSearch]] — brute-force fusion over
    * the FINAL corpus (planted rows in, doc/vec 11 deleted), rank-1
    * rows only. */
  val hybridViewSearchSql: String =
    """WITH pd(doc_id, text) AS (VALUES
      |  (900010, 'zqxveca zqxvecb zqxvecc'),
      |  (900020, 'zqxvecd zqxvece zqxvecf'),
      |  (900030, 'zqxvecg zqxvech zqxveci')),
      |ad AS (SELECT doc_id, text FROM documents WHERE doc_id != 11
      |       UNION ALL SELECT doc_id, text FROM pd),
      |pv AS (SELECT vec_id + 900000 AS vec_id,
      |         list_transform(embedding::DOUBLE[], x -> x + 0.5) AS e
      |       FROM embeddings WHERE vec_id IN (10, 20, 30)),
      |av AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      |       WHERE vec_id != 11
      |       UNION ALL SELECT vec_id, e FROM pv),
      |q(query_id, query_text) AS (VALUES
      |  (950010, 'zqxveca zqxvecb'),
      |  (950020, 'zqxvecd zqxvece'),
      |  (950030, 'zqxvecg zqxvech')),
      |qv AS (SELECT vec_id + 50000 AS vec_id, e FROM pv),
      |tok AS (SELECT doc_id,
      |  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      | FROM ad),
      |dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |       FROM tok GROUP BY doc_id, tok),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      |       FROM dt GROUP BY doc_id),
      |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
      |          FROM dt GROUP BY tok),
      |scal AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |                CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
      |qt AS (SELECT DISTINCT query_id, tok FROM
      |  (SELECT query_id,
      |     unnest(regexp_extract_all(lower(query_text), '[a-z0-9]+')) AS tok
      |   FROM q)),
      |m AS (SELECT qt.query_id, dt.doc_id,
      |  CAST((CAST(2*s.n_docs - 2*f.df + 1 AS HUGEINT)
      |        * ((CAST(44 AS HUGEINT) * dt.tf * s.total_len * 1000000)
      |           // (CAST(20 AS HUGEINT)*dt.tf*s.total_len
      |              + CAST(6 AS HUGEINT)*s.total_len
      |              + CAST(18 AS HUGEINT)*l.dl*s.n_docs)))
      |    // CAST(2*f.df + 1 AS HUGEINT) AS BIGINT) AS s_int
      | FROM dt JOIN qt USING (tok) JOIN dl l USING (doc_id)
      |      JOIN dfreq f USING (tok) CROSS JOIN scal s),
      |bm AS (SELECT query_id, doc_id,
      |        CAST(sum(s_int) AS BIGINT) AS score_scaled
      |       FROM m GROUP BY query_id, doc_id),
      |lex AS (SELECT query_id, doc_id, r FROM
      |  (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score_scaled DESC, doc_id) AS r FROM bm)
      |  WHERE r <= 10),
      |vec AS (SELECT query_id, doc_id, r FROM
      |  (SELECT qv.vec_id AS query_id, c.vec_id AS doc_id,
      |    row_number() OVER (PARTITION BY qv.vec_id
      |      ORDER BY list_cosine_similarity(qv.e, c.e) DESC, c.vec_id) AS r
      |   FROM qv JOIN av c ON qv.vec_id != c.vec_id)
      |  WHERE r <= 10),
      |u AS (SELECT * FROM lex UNION ALL SELECT * FROM vec),
      |f AS (SELECT query_id, doc_id,
      |       CAST(sum(1000000000 // (60 + r)) AS BIGINT) AS rrf_scaled,
      |       CAST(count(*) AS BIGINT) AS n_sources
      |      FROM u GROUP BY query_id, doc_id),
      |rr AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |         ORDER BY rrf_scaled DESC, doc_id) AS "rank" FROM f)
      |SELECT query_id, "rank", doc_id, rrf_scaled, n_sources
      |FROM rr WHERE "rank" = 1""".stripMargin

  /** Two-stage cascade retrieval
    * ([[graft.llm.Retrieval.cascadeRerank]]): exact-mode BM25 recalls
    * each query's top-40 documents, exact cosine against the
    * embeddings re-ranks just those candidates — retrieve-then-rerank,
    * the default neural-search architecture (vs. hybrid_search's
    * fusion of peer rankers). Probes are query-by-example (query
    * vector = embedding of doc 10/20/30), so the hash gate covers the
    * integer BM25 cut, the candidate-bounded re-rank join, and the
    * deterministic cosine ordering in one row set. */
  def cascadeRerankDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.llm.Retrieval
    val docs = pq(spark, dir, "documents")
    val emb = pq(spark, dir, "embeddings")
    val qText = Seq(
      (10L, "table hash join"),
      (20L, "merge stream window"),
      (30L, "customer order data")).toDF("query_id", "query_text")
    val qVec = emb.filter(col("vec_id").isin(10L, 20L, 30L))
    Retrieval.cascadeRerank(qText, qVec, Retrieval.bm25Index(docs), emb,
      recallN = 40, k = 10)
  }

  /** DuckDB mirror of [[cascadeRerankDocs]]. */
  val cascadeRerankSql: String =
    """WITH q(query_id, query_text) AS (VALUES
      |  (10, 'table hash join'),
      |  (20, 'merge stream window'),
      |  (30, 'customer order data')),
      |tok AS (SELECT doc_id,
      |  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      | FROM documents),
      |dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |       FROM tok GROUP BY doc_id, tok),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      |       FROM dt GROUP BY doc_id),
      |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
      |          FROM dt GROUP BY tok),
      |scal AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |                CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
      |qt AS (SELECT DISTINCT query_id, tok FROM
      |  (SELECT query_id,
      |     unnest(regexp_extract_all(lower(query_text), '[a-z0-9]+')) AS tok
      |   FROM q)),
      |m AS (SELECT qt.query_id, dt.doc_id,
      |  CAST((CAST(2*s.n_docs - 2*f.df + 1 AS HUGEINT)
      |        * ((CAST(44 AS HUGEINT) * dt.tf * s.total_len * 1000000)
      |           // (CAST(20 AS HUGEINT)*dt.tf*s.total_len
      |              + CAST(6 AS HUGEINT)*s.total_len
      |              + CAST(18 AS HUGEINT)*l.dl*s.n_docs)))
      |    // CAST(2*f.df + 1 AS HUGEINT) AS BIGINT) AS s_int
      | FROM dt JOIN qt USING (tok) JOIN dl l USING (doc_id)
      |      JOIN dfreq f USING (tok) CROSS JOIN scal s),
      |agg AS (SELECT query_id, doc_id,
      |         CAST(sum(s_int) AS BIGINT) AS score_scaled
      |        FROM m GROUP BY query_id, doc_id),
      |cand AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, r
      |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |          ORDER BY score_scaled DESC, doc_id) AS r FROM agg)
      |  WHERE r <= 40),
      |qv AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      |       WHERE vec_id IN (10, 20, 30)),
      |rr AS (SELECT c.query_id, c.doc_id, c.r AS bm25_rank,
      |        row_number() OVER (PARTITION BY c.query_id
      |          ORDER BY list_cosine_similarity(qv.e, ce.embedding::DOUBLE[])
      |            DESC, c.doc_id) AS "rank"
      |       FROM cand c JOIN embeddings ce ON c.doc_id = ce.vec_id
      |            JOIN qv ON qv.vec_id = c.query_id)
      |SELECT query_id, "rank", doc_id, CAST(bm25_rank AS INTEGER) AS bm25_rank
      |FROM rr WHERE "rank" <= 10""".stripMargin

  /** Windowed co-occurrence PMI ([[graft.llm.TextOps.cooccurrencePmi]],
    * window 3): every unordered token pair within 3 positions counts
    * once per occurrence via the offset-exploded equi-join (linear in
    * corpus tokens — no per-doc self join), scored by the discounted
    * normalized ratio (PMI sans log — same top-k, exact DECIMAL
    * products, one IEEE division). */
  def cooccurrenceDocs(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.TextOps
    TextOps.cooccurrencePmi(pq(spark, dir, "documents"), window = 3,
      minCount = 5, k = 20)
  }

  /** DuckDB mirror of [[cooccurrenceDocs]]. */
  val cooccurrenceSql: String =
    """WITH toks AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
      |              FROM documents),
      |pr AS (SELECT least(ts[i], ts[i+d]) AS w1, greatest(ts[i], ts[i+d]) AS w2
      |       FROM toks,
      |            unnest(generate_series(1, len(ts))) AS t(i),
      |            unnest(generate_series(1, 3)) AS u(d)
      |       WHERE i + d <= len(ts)),
      |pc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_cnt
      |       FROM pr GROUP BY w1, w2),
      |np AS (SELECT CAST(sum(pair_cnt) AS BIGINT) AS n_pairs FROM pc),
      |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM
      |  (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      |   FROM documents) GROUP BY tok)
      |SELECT pc.w1, pc.w2, pc.pair_cnt,
      |  u1.freq AS w1_cnt, u2.freq AS w2_cnt,
      |  CAST(CAST(pc.pair_cnt - 5 AS HUGEINT) * np.n_pairs AS DOUBLE)
      |   / CAST(CAST(u1.freq AS HUGEINT) * u2.freq AS DOUBLE) AS score
      |FROM pc JOIN uni u1 ON pc.w1 = u1.tok
      |     JOIN uni u2 ON pc.w2 = u2.tok CROSS JOIN np
      |WHERE pc.pair_cnt > 5
      |ORDER BY score DESC, pc.w1, pc.w2 LIMIT 20""".stripMargin

  /** Incremental decontamination ([[graft.llm.Dedup.decontaminateWith]]):
    * the eval set's shingle index is built ONCE, persisted as parquet,
    * and a "daily" train batch (every third train doc) is checked
    * against the reloaded index — only the batch is shingled at scoring
    * time. The oracle recomputes the same verdicts from scratch; the
    * persisted index must therefore be lossless. */
  def decontaminateIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.Dedup
    import graft.operators.Sampling
    val split = Sampling.hashSplit(pq(spark, dir, "documents"),
      Seq("doc_id"), testFraction = 0.2)
    val idxPath = tmp("benchidx")
    Dedup.benchmarkIndex(split.filter(col("split") === "test").drop("split"))
      .write.mode("overwrite").parquet(idxPath)
    val batch = split.filter(col("split") === "train" && col("doc_id") % 3 === 0)
      .drop("split")
    Dedup.decontaminateWith(batch, spark.read.parquet(idxPath), minShared = 3)
      .select("doc_id", "lang")
  }

  val decontaminateIncrementalSql: String =
    """WITH s AS (SELECT doc_id, lang,
      |  CASE WHEN substr(md5(concat_ws('|', '', CAST(doc_id AS VARCHAR))), 1, 8)
      |            < '33333333'
      |       THEN 'test' ELSE 'train' END AS split, text
      | FROM documents),
      |d AS (SELECT doc_id, split,
      |  list_distinct([g[i] || ' ' || g[i+1] || ' ' || g[i+2]
      |                 for i in range(1, len(g)-1)]) AS sh
      | FROM (SELECT doc_id, split,
      |        regexp_extract_all(lower(text), '[a-z0-9]+') AS g FROM s)),
      |bad AS (SELECT DISTINCT r.doc_id
      | FROM d t JOIN d r ON t.split = 'test' AND r.split = 'train'
      | WHERE r.doc_id % 3 = 0 AND len(list_intersect(t.sh, r.sh)) >= 3)
      |SELECT doc_id, lang FROM s
      |WHERE split = 'train' AND doc_id % 3 = 0
      |  AND doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin

  /** STREAMING decontamination ([[graft.llm.Dedup.decontaminateWith]]
    * inside foreachBatch): train documents stream out of a managed
    * table (snapshot backfill + a tail commit) and every micro-batch
    * is checked against the FROZEN persisted benchmark shingle index —
    * the stream-static form of `decontaminate_incremental`, completing
    * the streaming curation family (exact dedup, near-dup, semantic,
    * quality gates) with the eval-leakage gate. The verdict is
    * per-document against a frozen index, so batch boundaries cannot
    * change the answer: the streamed survivors equal the batch
    * recompute the oracle runs over the whole train corpus. Survivors
    * append under the (appId, epoch) txn stamp — exactly-once across
    * crash replays. */
  def streamDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.Dedup
    import graft.operators.Sampling
    import org.apache.spark.sql.streaming.Trigger
    val bronze = tmp("sdecon_bronze")
    val silver = tmp("sdecon_silver")
    val ckpt = tmp("sdecon_ck")
    val idxPath = tmp("sdecon_idx")
    val appId = "stream_decontaminate"
    val split = Sampling.hashSplit(pq(spark, dir, "documents"),
      Seq("doc_id"), testFraction = 0.2)
    val idx = Staging.timed {
      Dedup.benchmarkIndex(split.filter(col("split") === "test").drop("split"))
        .write.mode("overwrite").parquet(idxPath)
      val train = split.filter(col("split") === "train").drop("split")
        .select("doc_id", "lang", "text")
      ManagedTable(spark, bronze)
        .write(train.filter(col("doc_id") % 2 === 0), "APPEND", "replace")
      ManagedTable(spark, bronze)
        .write(train.filter(col("doc_id") % 2 =!= 0), "APPEND", "append")
      // the standing index: persisted once per benchmark release,
      // loaded + pinned for every micro-batch
      spark.read.parquet(idxPath).localCheckpoint()
    }
    val q = graft.streaming.StreamOps.streamTable(spark, bronze)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val replayed = ManagedTable(spark, silver)
          .lastTxnVersion(appId).exists(_ >= epoch)
        if (!replayed) {
          val keep = Dedup.decontaminateWith(batch, idx, minShared = 3)
            .select("doc_id", "lang")
          graft.write.Writers.append(spark, silver, keep,
            txn = Some((appId, epoch)))
          ()
        }
      }
      .start()
    drainOrFail(q, "stream_decontaminate")
    ManagedTable(spark, silver).read.select("doc_id", "lang")
  }

  val streamDecontaminateSql: String =
    """WITH s AS (SELECT doc_id, lang,
      |  CASE WHEN substr(md5(concat_ws('|', '', CAST(doc_id AS VARCHAR))), 1, 8)
      |            < '33333333'
      |       THEN 'test' ELSE 'train' END AS split, text
      | FROM documents),
      |d AS (SELECT doc_id, split,
      |  list_distinct([g[i] || ' ' || g[i+1] || ' ' || g[i+2]
      |                 for i in range(1, len(g)-1)]) AS sh
      | FROM (SELECT doc_id, split,
      |        regexp_extract_all(lower(text), '[a-z0-9]+') AS g FROM s)),
      |bad AS (SELECT DISTINCT r.doc_id
      | FROM d t JOIN d r ON t.split = 'test' AND r.split = 'train'
      | WHERE len(list_intersect(t.sh, r.sh)) >= 3)
      |SELECT doc_id, lang FROM s
      |WHERE split = 'train' AND doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin

  /** Token-budget quota per language (capTokensPerGroup): admit docs in
    * key-hash order while the tokens admitted before each doc stay under
    * the budget — the training-mixture "at most N chars of each lang"
    * operator, deterministic and engine-recomputable. */
  def capTokensPerLang(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    Sampling.capTokensPerGroup(pq(spark, dir, "documents"), Seq("lang"),
      sizeCol = "n_chars", budget = 20000L, keys = Seq("doc_id"))
      .select("doc_id", "lang", "n_chars")
  }

  val capTokensPerLangSql: String =
    """WITH c AS (SELECT doc_id, lang, n_chars,
      |  COALESCE(SUM(n_chars) OVER (PARTITION BY lang
      |    ORDER BY substr(md5(concat_ws('|', '', CAST(doc_id AS VARCHAR))), 1, 8),
      |             doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      | FROM documents)
      |SELECT doc_id, lang, n_chars FROM c WHERE cum < 20000""".stripMargin

  /** PII redaction with a hard oracle: the synthetic corpus carries no
    * natural PII, so the scenario PLANTS a deterministic email, phone,
    * and IP derived from doc_id (both engines construct the identical
    * string), then both redact with the same RE2-safe patterns and hash
    * the result — a divergent regex semantics or a missed occurrence
    * mismatches immediately. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.TextOps
    // mixed-case email: the redaction must be case-insensitive (a capital
    // letter is not an anonymity shield), so the plant exercises that.
    val planted = pq(spark, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        lit(" reach User"), col("doc_id"), lit("@Mail.Example.COM"),
        lit(" or 555-867-5309 from 10.1.2."), col("doc_id") % 250).as("text"))
    TextOps.redact(planted)
      .select(col("doc_id"), md5(col("text")).as("clean_md5"),
        (length(col("text")) - length(regexp_replace(col("text"), "<EMAIL>|<PHONE>|<IP>", "")))
          .as("redacted_chars"))
  }

  val piiRedactSql: String =
    """WITH planted AS (
      | SELECT doc_id,
      |  text || ' reach User' || CAST(doc_id AS VARCHAR) || '@Mail.Example.COM'
      |       || ' or 555-867-5309 from 10.1.2.' || CAST(doc_id % 250 AS VARCHAR) AS text
      | FROM documents),
      |clean AS (
      | SELECT doc_id,
      |  regexp_replace(
      |   regexp_replace(
      |    regexp_replace(text, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
      |    '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g'),
      |   '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS text
      | FROM planted)
      |SELECT doc_id, md5(text) AS clean_md5,
      | CAST(length(text) - length(regexp_replace(text, '<EMAIL>|<PHONE>|<IP>', '', 'g')) AS INT)
      |  AS redacted_chars
      |FROM clean""".stripMargin

  /** Point-in-time dimension lookup against the SCD2 customer history:
    * every customer probed at two instants — between the loads (sees
    * version 1) and after load 2 (sees version 2 where the key changed).
    * Keys born in load 2 probed before their first version keep NULLs:
    * the lookup can never leak a future attribute into a past fact. */
  def temporalJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.AsOfJoin
    val path = tmp("tmprl")
    Writers.scd2(spark, path, load0(spark, dir), Seq("c_custkey"),
      WriteOptions(now = Some(T0)))
    Writers.scd2(spark, path, load1(spark, dir, changeNames = false),
      Seq("c_custkey"), WriteOptions(now = Some(T1)))
    val dim = ManagedTable(spark, path).read
      .select(col("c_custkey"), col("c_mktsegment"),
        col(Meta.ValidFromTs).as("valid_from"), col(Meta.ValidToTs).as("valid_to"))
    val probes = cust(spark, dir).select(col("c_custkey"))
      .withColumn("probe", explode(array(
        lit("2026-01-15 00:00:00"), lit("2026-02-15 00:00:00"))))
      .withColumn("probe_ts", to_timestamp(col("probe")))
    AsOfJoin.temporalLookup(probes, dim, "probe_ts", "valid_from", "valid_to",
        by = Seq("c_custkey"))
      .select(col("c_custkey"), col("probe"), col("c_mktsegment"))
  }

  val temporalJoinSql: String =
    s"""WITH rows_out AS (
       | SELECT c_custkey, c_mktsegment AS seg, '$T0' AS valid_from,
       |  CASE WHEN c_custkey > 500 AND c_custkey % 2 = 0
       |       THEN '$T1' ELSE '$HighTs' END AS valid_to
       | FROM customer WHERE c_custkey <= 1000
       | UNION ALL
       | SELECT c_custkey, c_mktsegment || '_X' AS seg, '$T1', '$HighTs'
       | FROM customer
       | WHERE c_custkey > 500 AND c_custkey <= 1000 AND c_custkey % 2 = 0
       | UNION ALL
       | SELECT c_custkey,
       |  CASE WHEN c_custkey % 2 = 0 THEN c_mktsegment || '_X'
       |       ELSE c_mktsegment END AS seg, '$T1', '$HighTs'
       | FROM customer WHERE c_custkey > 1000),
       |probes AS (
       | SELECT c_custkey, probe FROM customer
       | CROSS JOIN (VALUES ('2026-01-15 00:00:00'), ('2026-02-15 00:00:00')) t(probe))
       |SELECT p.c_custkey, p.probe, r.seg AS c_mktsegment
       |FROM probes p LEFT JOIN rows_out r
       |  ON r.c_custkey = p.c_custkey
       | AND r.valid_from <= p.probe AND p.probe < r.valid_to""".stripMargin

  /** Eval-contamination sweep composed from the split + shingle ops:
    * which test docs share ≥3 word trigrams with which train docs? The
    * split is content-keyed (hashSplit) so DuckDB reproduces the exact
    * membership, then recomputes every shingle intersection all-pairs. */
  def contaminationCheck(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.Dedup
    import graft.operators.Sampling
    val split = Sampling.hashSplit(pq(spark, dir, "documents"),
      Seq("doc_id"), testFraction = 0.2)
    Dedup.contaminationPairs(
      train = split.filter(col("split") === "train"),
      test = split.filter(col("split") === "test"),
      minShared = 3)
  }

  val contaminationCheckSql: String =
    """WITH s AS (SELECT doc_id,
      |  CASE WHEN substr(md5(concat_ws('|', '', CAST(doc_id AS VARCHAR))), 1, 8)
      |            < '33333333'
      |       THEN 'test' ELSE 'train' END AS split, text
      | FROM documents),
      |d AS (SELECT doc_id, split,
      |  list_distinct([g[i] || ' ' || g[i+1] || ' ' || g[i+2]
      |                 for i in range(1, len(g)-1)]) AS sh
      | FROM (SELECT doc_id, split,
      |        regexp_extract_all(lower(text), '[a-z0-9]+') AS g FROM s)),
      |pairs AS (SELECT t.doc_id AS test_id, r.doc_id AS train_id,
      |  len(list_intersect(t.sh, r.sh)) AS n_shared
      | FROM d t JOIN d r ON t.split = 'test' AND r.split = 'train')
      |SELECT test_id, train_id, CAST(n_shared AS BIGINT) AS n_shared
      |FROM pairs WHERE n_shared >= 3""".stripMargin

  val packDocsSql: String =
    """WITH p AS (
      | SELECT doc_id, lang,
      |  CAST(COALESCE(SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
      | FROM documents)
      |SELECT doc_id, lang, "offset",
      | CAST(FLOOR("offset" / 2000.0) AS BIGINT) AS bin
      |FROM p""".stripMargin
}
