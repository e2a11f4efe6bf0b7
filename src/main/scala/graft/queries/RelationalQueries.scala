package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.schema._
import graft.operators._
import graft.pipeline._
import graft.functions._
import Shared._

/** Relational and Tube-parity queries: the Tube pipelines (`tube_`, `dict_`),
  * the operator probes (`p`, `j`, `a`, `w`, `er_`, `dim_`), TPC-H (`q1`–`q22`),
  * `orders_`, `layout_`, `skew_`, `schema_` and the table profiles. */
object RelationalQueries {

  private val zorderBits = 16                     // layout_zorder
  private val zorderPrefix = 16
  private val hilbertBits = 16                    // layout_hilbert
  private val hilbertPrefix = 16
  private val skewTopK = 10                       // skew_report
  private val skewMaxSalts = 256L
  private val saltedDimLits =                     // j7_salted_join
    Seq(("click", 1L), ("view", 2L), ("purchase", 10L), ("signup", 5L))
  private val saltedJoinSalts = 8
  /** schema_fk_discovery candidates: (child table, child col, parent
    * table, parent col) — 7 real TPC-H FKs + one negative control. The
    * SAME list generates the engine unions and the oracle legs. */
  private val fkCandidates = Seq(
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    // negative control: orderkeys range far past the customer key space,
    // so inclusion lands well under 10^6 and looks_fk stays 0
    ("orders", "o_orderkey", "customer", "c_custkey"))
  private val zoneFiles = 16                      // layout_zonemap_prune
  // epoch DAYS, not µs: the day domain is ~2²² narrower, so the bisect
  // cut search converges in ~3 conditional-count rounds instead of ~12
  private val zoneLoD = 9862L                     // 1997-01-01
  private val zoneHiD = 10043L                    // 1997-07-01
  private val q3Segment = "BUILDING"              // q3_shipping
  private val q3Date = "1995-03-15"
  private val joinForecastK = 10                  // skew_join_forecast
  private val tripleMinSupport = 2L               // orders_basket_triples
  private val tripleTopK = 20
  private val upsertMod = 10L                     // dim_upsert

  /** Mirror of `Layout.zBucketSpans(l_partkey, l_suppkey, bits = 16,
    * prefixBits = 16)`: the same 32-term Morton interleave, fully
    * parenthesized (DuckDB `&` binds below `=`). */
  private def zorderOracleSql: String = {
    val z = (for {
      (c, i) <- Seq("l_partkey", "l_suppkey").zipWithIndex
      j <- 0 until zorderBits
    } yield s"((($c >> $j) & 1) << ${j * 2 + i})").mkString(" + ")
    s"SELECT (($z) >> ${2 * zorderBits - zorderPrefix}) AS bucket, count(*) AS n_rows, " +
      "min(l_partkey) AS min_a, max(l_partkey) AS max_a, " +
      "min(l_suppkey) AS min_b, max(l_suppkey) AS max_b " +
      "FROM lineitem GROUP BY 1"
  }

  /** Mirror of `Layout.hilbertBucketSpans(bits = hilbertBits)`: the DFA
    * fold unrolled as one CTE per bit (MSB first), reading the SAME
    * transition table constant (`Layout.hilbertTable`) — per-round
    * expressions reference named CTE columns, so nothing re-expands. */
  private def hilbertOracleSql: String = {
    val tblSql = Layout.hilbertTable.mkString("[", ", ", "]")
    val rounds = (0 until hilbertBits).map { k =>
      val i = hilbertBits - 1 - k
      s"h${k + 1} AS (SELECT a, b, (((((acc >> 2) << 2) | (p >> 2)) << 2) | (p & 3)) AS acc FROM " +
        s"(SELECT a, b, acc, ($tblSql)[CAST((((acc & 3) * 4) + (((a >> $i) & 1) * 2) + ((b >> $i) & 1)) + 1 AS INT)] AS p FROM h$k))"
    }.mkString(", ")
    s"WITH h0 AS (SELECT l_partkey AS a, l_suppkey AS b, CAST(0 AS BIGINT) AS acc FROM lineitem), " +
      rounds +
      s" SELECT ((acc >> 2) >> ${2 * hilbertBits - hilbertPrefix}) AS bucket, " +
      "count(*) AS n_rows, min(a) AS min_a, max(a) AS max_a, " +
      s"min(b) AS min_b, max(b) AS max_b FROM h$hilbertBits GROUP BY 1"
  }

  // sums aggregate as exact DECIMAL (order-independent), then cast to
  // DOUBLE in the final projection so both engines hash identically —
  // the same SQL text runs on Spark and DuckDB
  private val PricingSql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
      |  count(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate < TIMESTAMP '1999-01-01'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q5/Q10/Q14/Q18 shapes, ONE SQL text for both engines (the
    * PricingSql discipline): revenue floors per-row to µ integers before
    * the order-free DECIMAL sum; `CAST(1 AS DOUBLE)` instead of a bare
    * `1.0` (DECIMAL in DuckDB, the known literal-typing gotcha);
    * timestamp columns compare through CAST(... AS DATE); every top-k
    * carries a total tie-break order. Date windows sit inside the
    * generator's 1995–2001 range. */
  private val LocalVolumeSql =
    """SELECT n_name,
      |  CAST(sum(CAST(floor(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) * 1000000)
      |           AS DECIMAL(38,0))) AS BIGINT) AS revenue_us
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      |  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
      |GROUP BY n_name""".stripMargin

  private val NationVolumeSql =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(sum(rev_us) AS BIGINT) AS revenue_us
      |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS l_year,
      |    CAST(floor(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) * 1000000)
      |         AS DECIMAL(38,0)) AS rev_us
      |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
      |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
      |    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
      |    AND c_nationkey = n2.n_nationkey
      |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))) shipping
      |GROUP BY supp_nation, cust_nation, l_year""".stripMargin

  private val ReturnedItemsSql =
    """SELECT c_custkey, c_name, n_name,
      |  CAST(sum(CAST(floor(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) * 1000000)
      |           AS DECIMAL(38,0))) AS BIGINT) AS revenue_us
      |FROM customer, orders, lineitem, nation
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      |  AND CAST(o_orderdate AS DATE) < DATE '1996-04-01'
      |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue_us DESC, c_custkey
      |LIMIT 20""".stripMargin

  private val PromoRevenueSql =
    """SELECT
      |  CAST(sum(CASE WHEN p_type = 'PROMO'
      |    THEN CAST(floor(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) * 1000000) AS DECIMAL(38,0))
      |    ELSE CAST(0 AS DECIMAL(38,0)) END) AS BIGINT) AS promo_rev_us,
      |  CAST(sum(CAST(floor(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) * 1000000)
      |           AS DECIMAL(38,0))) AS BIGINT) AS total_rev_us
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey
      |  AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      |  AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'""".stripMargin

  private val DiscountedRevenueSql =
    """SELECT count(*) AS n_rows,
      |  CAST(sum(CAST(floor(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) * 1000000)
      |           AS DECIMAL(38,0))) AS BIGINT) AS revenue_us
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey
      |  AND ((p_brand = 'Brand#1' AND p_size <= 15
      |        AND l_quantity >= 1 AND l_quantity <= 15)
      |    OR (p_brand = 'Brand#2' AND p_size <= 25
      |        AND l_quantity >= 10 AND l_quantity <= 25)
      |    OR (p_brand = 'Brand#3' AND p_size <= 40
      |        AND l_quantity >= 20 AND l_quantity <= 35))""".stripMargin

  private val LargeOrdersSql =
    """SELECT c_custkey, o_orderkey,
      |  CAST(CAST(o_orderdate AS DATE) AS STRING) AS o_date,
      |  CAST(floor(o_totalprice * 1000000) AS BIGINT) AS totalprice_us,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM customer, orders, lineitem
      |WHERE o_orderkey IN (
      |    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      |    HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250)
      |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
      |GROUP BY c_custkey, o_orderkey, CAST(CAST(o_orderdate AS DATE) AS STRING),
      |  CAST(floor(o_totalprice * 1000000) AS BIGINT)
      |ORDER BY totalprice_us DESC, o_orderkey
      |LIMIT 20""".stripMargin

  /** TPC-H Q6 shape; the discount band uses ::DOUBLE on the DuckDB side
    * (bare 0.05 is DECIMAL there) so both engines compare the same IEEE
    * doubles; the three-way product is left-associated identically. */
  private val ForecastRevenueSql =
    """SELECT count(*) AS n_rows,
      |  CAST(coalesce(sum(CAST(floor(l_extendedprice * l_discount * 1000000) AS DECIMAL(38,0))), 0) AS BIGINT) AS revenue_us
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount >= CAST(0.05 AS DOUBLE)
      |  AND l_discount <= CAST(0.07 AS DOUBLE)
      |  AND l_quantity < 24""".stripMargin

  /** TPC-H Q13 shape — the LEFT OUTER + count-distribution probe: the
    * exclusion filter lives in the JOIN's ON clause (a WHERE would turn
    * the outer join inner and lose the zero-order customers), then two
    * stacked aggregations. The synthetic orders table has no o_comment,
    * so the exclusion is the priority class — same plan shape. */
  private val OrderDistSql =
    """SELECT c_count, count(*) AS custdist
      |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      |      FROM customer LEFT OUTER JOIN orders
      |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |      GROUP BY c_custkey) c_orders
      |GROUP BY c_count""".stripMargin

  /** TPC-H Q17 shape — the correlated scalar subquery (per-part average
    * quantity) the optimizer must decorrelate into an aggregate + join
    * rather than re-running per row. `5 * l_quantity < avg` spells
    * `l_quantity < 0.2·avg` without a 0.2 literal (DECIMAL in DuckDB,
    * DOUBLE in Spark); quantities are integral doubles so every sum —
    * hence the avg — is order-independent and bit-identical. */
  private val SmallQtySql =
    """SELECT CAST(sum(CAST(floor(l_extendedprice * 1000000) AS DECIMAL(38,0))) AS BIGINT) AS revenue_us,
      |  count(*) AS n_lines
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey AND p_brand = 'Brand#23' AND p_size <= 10
      |  AND 5 * l_quantity < (SELECT avg(l_quantity) FROM lineitem l2
      |                        WHERE l2.l_partkey = p_partkey)""".stripMargin

  /** TPC-H Q21 shape — EXISTS + NOT EXISTS against the SAME fact (the
    * classic multi-self-semi/anti-join planning trap). The synthetic
    * lineitem has no receipt/commit dates, so "kept the order waiting"
    * becomes "sole returned line in a multi-supplier finished order" —
    * identical correlation structure, non-degenerate at every SF. */
  private val SoleReturnSql =
    """SELECT s_name, count(*) AS numwait
      |FROM supplier, lineitem l1, orders, nation
      |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_returnflag = 'R')
      |  AND s_nationkey = n_nationkey AND n_regionkey = 0
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 20""".stripMargin

  /** TPC-H Q22 shape — anti-join gated by a scalar-average subquery. The
    * synthetic customers all have at least one order (and no c_phone),
    * so "never ordered" becomes "no order since 2000" and the country
    * code is the nation key — the anti-join + avg-gate plan is what's
    * under test. The average gate is spelled DIVISION-FREE over exact
    * µ-floored integers (`bal·n > Σbal` ≡ `bal > avg`): a raw
    * `avg(double)` is accumulation-order-dependent and a customer on
    * the boundary could flip between engines — or between Spark runs. */
  private val DormantCustomersSql =
    """SELECT cntrycode, count(*) AS numcust,
      |  CAST(sum(bal_us) AS BIGINT) AS totacctbal_us
      |FROM (SELECT CAST(c_nationkey AS BIGINT) AS cntrycode,
      |        CAST(floor(c_acctbal * 1000000) AS DECIMAL(38,0)) AS bal_us
      |      FROM customer
      |      WHERE c_nationkey IN (1, 5, 9, 13, 17, 21)
      |        AND CAST(floor(c_acctbal * 1000000) AS DECIMAL(38,0)) *
      |            (SELECT count(*) FROM customer
      |             WHERE c_acctbal > CAST(0 AS DOUBLE)
      |               AND c_nationkey IN (1, 5, 9, 13, 17, 21)) >
      |            (SELECT sum(CAST(floor(c_acctbal * 1000000) AS DECIMAL(38,0)))
      |             FROM customer
      |             WHERE c_acctbal > CAST(0 AS DOUBLE)
      |               AND c_nationkey IN (1, 5, 9, 13, 17, 21))
      |        AND NOT EXISTS (SELECT 1 FROM orders
      |                        WHERE o_custkey = c_custkey
      |                          AND CAST(o_orderdate AS DATE) >= DATE '2000-01-01')) custsale
      |GROUP BY cntrycode""".stripMargin

  /** TPC-H Q2 shape — the correlated "min over the same derived table"
    * pick: the cheapest supplier(s) per part must come from a scalar
    * subquery over the SAME aggregate the outer query reads (the
    * synthetic schema has no partsupp, so per-(part, supplier) unit cost
    * derives from lineitem). The optimizer must decorrelate into a
    * per-part min + join, and reuse — not recompute — the CTE. Unit
    * costs floor to µ integers (identical IEEE arithmetic both
    * engines); the top-20 order carries a full tie-break. */
  private val MinCostSupplierSql =
    """WITH ps AS (SELECT l_partkey, l_suppkey,
      |    CAST(min(floor(l_extendedprice * 1000000 / l_quantity)) AS BIGINT) AS cost_us
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT s_name, p_partkey, cost_us
      |FROM ps JOIN part ON p_partkey = l_partkey
      |        JOIN supplier ON s_suppkey = l_suppkey
      |WHERE p_size <= 5
      |  AND cost_us = (SELECT min(ps2.cost_us) FROM ps ps2
      |                 WHERE ps2.l_partkey = ps.l_partkey)
      |ORDER BY cost_us, p_partkey, s_name
      |LIMIT 20""".stripMargin

  /** TPC-H Q20 shape — the nested semi-join chain: supplier IN (fact
    * grouped+HAVING) where the fact filters by part IN (dim filter).
    * Both INs must plan as hash semi-joins feeding each other, with the
    * HAVING aggregate BELOW the outer semi-join. Quantity threshold
    * sums as exact DECIMAL. */
  private val ExcessStockSql =
    """SELECT s_name, s_suppkey
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE n_regionkey = 1
      |  AND s_suppkey IN (
      |    SELECT l_suppkey FROM lineitem
      |    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
      |      AND CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
      |    GROUP BY l_suppkey, l_partkey
      |    HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 50)
      |ORDER BY s_name""".stripMargin

  /** TPC-H Q8 shape — national market share: one conditional share
    * inside a grouped aggregate over a 6-way snowflake (share emitted as
    * exact µ sums + floor-ppm — no decimal division). */
  private val MarketShareSql =
    """WITH vol AS (
      |  SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
      |    CAST(floor(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) * 1000000)
      |        AS DECIMAL(38,0)) AS rev_us,
      |    s_nationkey AS supp_nation
      |  FROM lineitem, orders, customer, supplier, nation n1, region
      |  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
      |    AND l_suppkey = s_suppkey AND c_nationkey = n1.n_nationkey
      |    AND n1.n_regionkey = r_regionkey AND r_name = 'ASIA')
      |SELECT o_year,
      |  CAST(sum(CASE WHEN supp_nation = 3 THEN rev_us ELSE 0 END) AS BIGINT) AS nation_rev_us,
      |  CAST(sum(rev_us) AS BIGINT) AS total_rev_us
      |FROM vol GROUP BY o_year""".stripMargin

  /** TPC-H Q9 shape — product-type profit by supplier nation and order
    * year: the widest join in the suite (fact + orders + part + supplier
    * + nation) with a two-term profit expression. The synthetic schema
    * has no partsupp, so unit cost derives from p_retailprice (µ·0.4) —
    * the SHAPE (5-way join, derived measure, nation×year rollup) is
    * what's under test. All-integer amount arithmetic. */
  private val ProfitSql =
    """WITH profit AS (
      |  SELECT n_name AS nation,
      |    CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
      |    CAST(floor(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) * 1000000)
      |        AS DECIMAL(38,0))
      |      - CAST(floor(p_retailprice * 400000) AS DECIMAL(38,0))
      |        * CAST(l_quantity AS DECIMAL(18,0)) AS amount_us
      |  FROM lineitem, orders, part, supplier, nation
      |  WHERE l_orderkey = o_orderkey AND l_partkey = p_partkey
      |    AND l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |    AND p_type = 'PROMO')
      |SELECT nation, o_year, CAST(sum(amount_us) AS BIGINT) AS profit_us
      |FROM profit GROUP BY 1, 2
      |ORDER BY nation, o_year DESC
      |LIMIT 30""".stripMargin

  /** TPC-H Q12 shape — two-way conditional counts over a date-window
    * join (late-shipped lines by priority class; the synthetic lineitem
    * has no shipmode/receiptdate, so the class is the order priority and
    * lateness is ship−order ≥ 60 days). */
  private val LateLinesSql =
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |       THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |       THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders, lineitem
      |WHERE o_orderkey = l_orderkey
      |  AND CAST(l_shipdate AS DATE) >= CAST(o_orderdate AS DATE) + INTERVAL 60 DAY
      |  AND CAST(l_shipdate AS DATE) < DATE '1999-01-01'
      |GROUP BY l_returnflag""".stripMargin

  /** TPC-H Q16 shape — NOT IN over a subquery, the NULL-AWARE anti-join
    * planning case (semantically distinct from NOT EXISTS: one NULL in
    * the subquery empties the result, so the planner needs the
    * null-aware variant — Spark only supports it broadcast-side), plus
    * a count-distinct over the surviving join. The exclusion list is
    * broadcast-sized by construction (negative-balance suppliers). */
  private val SupplierCountSql =
    """SELECT p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM part JOIN lineitem ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#3' AND p_size <= 10
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_type, p_size
      |ORDER BY supplier_cnt DESC, p_type, p_size
      |LIMIT 20""".stripMargin

  /** TPC-H Q11 shape — group rows filtered by a GLOBAL aggregate over
    * the same derived table (the share-of-total trap: the optimizer
    * must compute the total once, not per group). The gate is spelled
    * division-free (`value·1000 > total` ≡ `value > total/1000`) so no
    * decimal-division scale rules can diverge between engines. */
  private val ImportantPartsSql =
    """WITH pv AS (SELECT l_partkey,
      |    sum(CAST(floor(l_extendedprice * 1000000) AS DECIMAL(38,0))) AS value_us
      |  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      |  WHERE s_nationkey < 5 GROUP BY 1)
      |SELECT l_partkey, CAST(value_us AS BIGINT) AS value_us
      |FROM pv
      |WHERE value_us * 1000 > (SELECT sum(value_us) FROM pv)
      |ORDER BY value_us DESC, l_partkey
      |LIMIT 25""".stripMargin

  /** TPC-H Q15 shape — the top-revenue row(s) selected by EQUALITY with
    * the max over the same aggregated view (ties all surface — no
    * arbitrary top-1); exact µ-integer revenue makes the equality
    * engine-stable. */
  private val TopSupplierSql =
    """WITH rev AS (SELECT l_suppkey,
      |    sum(CAST(floor(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) * 1000000)
      |        AS DECIMAL(38,0))) AS total_us
      |  FROM lineitem
      |  WHERE CAST(l_shipdate AS DATE) >= DATE '1998-01-01'
      |    AND CAST(l_shipdate AS DATE) < DATE '1998-04-01'
      |  GROUP BY 1)
      |SELECT s_suppkey, s_name, CAST(total_us AS BIGINT) AS total_us
      |FROM supplier JOIN rev ON s_suppkey = l_suppkey
      |WHERE total_us = (SELECT max(total_us) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  val all: Seq[QuerySpec] = Seq(
    // ---- tube-parity: full pipelines ------------------------------------
    QuerySpec("tube_customer_doc",
      (s, dir) => driverSafe(TpchGraph.customerDocs(s, dir)),
      """SELECT c_custkey AS _customer_id, c_name, c_acctbal,
        |  CASE WHEN c_mktsegment = 'BUILDING' THEN 'B'
        |       WHEN c_mktsegment = 'AUTOMOBILE' THEN 'A'
        |       ELSE c_mktsegment END AS segment,
        |  n_name AS nation_name, r_name AS region_name,
        |  ls.latest_status AS latest_status,
        |  coalesce(oc.orders_count, 0) AS orders_count,
        |  CAST(coalesce(oc.total_spent, 0) AS DOUBLE) AS total_spent,
        |  coalesce(lc.lineitem_count, 0) AS lineitem_count
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |LEFT JOIN (SELECT o_custkey, count(DISTINCT o_orderkey) AS orders_count,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total_spent
        |  FROM orders GROUP BY o_custkey) oc ON c_custkey = oc.o_custkey
        |LEFT JOIN (SELECT o_custkey,
        |    count(DISTINCT l_orderkey * 10 + l_linenumber) AS lineitem_count
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY o_custkey) lc ON c_custkey = lc.o_custkey
        |LEFT JOIN (SELECT o_custkey, o_orderstatus AS latest_status FROM (
        |    SELECT o_custkey, o_orderstatus, row_number() OVER (
        |      PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
        |    FROM orders) WHERE rn = 1) ls ON c_custkey = ls.o_custkey""".stripMargin),
    QuerySpec("tube_collector_doc",
      (s, dir) => driverSafe(TpchGraph.accountDocs(s, dir)),
      """SELECT c_custkey AS _account_id, c_name AS name, c_acctbal AS acctbal,
        |  'customer' AS source_node, n_name AS nation_set
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |UNION ALL
        |SELECT s_suppkey, s_name, s_acctbal, 'supplier', n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey""".stripMargin),

    // config-driven entry: Gen3-style dictionary JSON + link-name etlMapping
    // YAML → DictionaryLoader → Translator (the reference deployment's
    // on-ramp, DictDemo)
    QuerySpec("dict_customer_doc", (s, dir) => driverSafe(DictDemo.docs(s, dir)),
      """SELECT c_custkey AS _customer_id, c_name, c_acctbal,
        |  n_name, r_name,
        |  coalesce(a.orders_count, 0) AS orders_count, a.max_price
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |LEFT JOIN (SELECT o_custkey,
        |    count(DISTINCT o_orderkey) AS orders_count,
        |    max(o_totalprice) AS max_price
        |  FROM orders GROUP BY o_custkey) a ON c_custkey = a.o_custkey""".stripMargin),

    // full multi-index lifecycle: phase 0 per index, then joining_props in
    // topological order (producer nation_doc finishes first, consumer joins
    // its finished documents on the shared key) — reference
    // interpreter.py:34-62
    QuerySpec("tube_runall_join", (s, dir) => {
      val producer = IndexMapping(
        name = "nation_doc", docType = "nation", root = "nation",
        props = Seq(PropDef("nation_name", "n_name")),
        parentProps = Seq(ParentChainDef(Seq(
          PathStep("region", Seq(PropDef("region_name", "r_name")))),
          relation = "1-1")))
      val consumer = IndexMapping(
        name = "customer_join", docType = "customer", root = "customer",
        props = Seq(PropDef("c_name", "c_name")),
        parentProps = Seq(ParentChainDef(Seq(
          PathStep("nation", Seq(PropDef("nation_name", "n_name")))),
          relation = "1-1")),
        joiningProps = Seq(JoiningDef("nation_doc", Seq("nation_name"),
          Seq(PropDef("region_name", "region_name")))))
      Translator.runAll(TpchGraph.schema, TpchGraph.source(s, dir),
          EtlMapping(Seq(consumer, producer)))("customer_join")
        .select(col("_customer_id"), col("c_name"), col("nation_name"),
          col("region_name"))
    },
      """SELECT c_custkey AS _customer_id, c_name, n_name AS nation_name,
        |  r_name AS region_name
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey""".stripMargin),

    // ---- P1/P2: projection + rename + enum recode -----------------------
    QuerySpec("p1_project_recode", (s, dir) =>
      Project.props(t(s, dir, "customer"), Seq(col("c_custkey")), Seq(
        PropDef("name", "c_name"),
        PropDef("segment", "c_mktsegment",
          valueMappings = Map("BUILDING" -> "B", "AUTOMOBILE" -> "A")))),
      """SELECT c_custkey, c_name AS name,
        |  CASE WHEN c_mktsegment = 'BUILDING' THEN 'B'
        |       WHEN c_mktsegment = 'AUTOMOBILE' THEN 'A'
        |       ELSE c_mktsegment END AS segment
        |FROM customer""".stripMargin),

    // ---- P5: filter DSL compiled to a Catalyst Column -------------------
    QuerySpec("p5_filter_dsl", (s, dir) =>
      t(s, dir, "orders").filter(FilterDsl.compile(FilterAnd(Seq(
          FilterLeaf(">", "o_totalprice", 100000),
          FilterOr(Seq(
            FilterLeaf("=", "o_orderstatus", "F"),
            FilterLeaf("in", "o_orderpriority", Seq("1-URGENT", "2-HIGH"))))))))
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"), col("o_orderpriority")),
      """SELECT o_orderkey, o_totalprice, o_orderstatus, o_orderpriority
        |FROM orders
        |WHERE o_totalprice > 100000 AND (o_orderstatus = 'F'
        |  OR o_orderpriority IN ('1-URGENT', '2-HIGH'))""".stripMargin),

    // ---- P6/P7: project_id synthesis + auth_resource_path (with a
    // user.yaml-style per-project override, reference post_process.py:7-44)
    QuerySpec("p6_auth_path", (s, dir) =>
      t(s, dir, "nation")
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("_nation_id"),
          Project.projectId(col("r_name"), col("n_name")).as("project_id"))
        .withColumn("auth_resource_path",
          Project.authResourcePath(col("project_id"),
            overrides = Map("CHINA" -> "/custom/china"))),
      """SELECT n_nationkey AS _nation_id,
        |  r_name || '-' || n_name AS project_id,
        |  CASE WHEN n_name = 'CHINA' THEN '/custom/china'
        |       ELSE '/programs/' || r_name || '/projects/' || n_name
        |  END AS auth_resource_path
        |FROM nation JOIN region ON n_regionkey = r_regionkey""".stripMargin),

    // ---- J2: graph hops -------------------------------------------------
    QuerySpec("j2_hop_join", (s, dir) => {
      val src = TpchGraph.source(s, dir)
      val c = src.nodeDf("customer").select(col("_customer_id"))
      val withNation = GraphOps.hop(c, src.edgeDf("customer", "nation"),
          "_customer_id")
        .join(src.nodeDf("nation")
          .select(col("_nation_id"), col("n_name").as("nation_name"),
            col("n_regionkey").as("_region_id")), Seq("_nation_id"))
      withNation
        .join(broadcast(src.nodeDf("region")
          .select(col("_region_id"), col("r_name").as("region_name"))),
          Seq("_region_id"))
        .select(col("_customer_id"), col("nation_name"), col("region_name"))
    },
      """SELECT c_custkey AS _customer_id, n_name AS nation_name,
        |  r_name AS region_name
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey""".stripMargin),

    // ---- J3 set-relation parent chain over a genuinely fan-out edge:
    // orders' parts (via lineitem as the many_to_many edge table) collect
    // into a sorted set per order — exercises the edge-side set walk
    // (Translator "1-n" branch) under real multi-parent fan-out -----------
    QuerySpec("j3_set_chain", (s, dir) => driverSafe {
      val schema = GraphSchema(
        nodes = Seq(
          NodeDef("orders", "orders", Map("o_orderstatus" -> StringType), "txn"),
          NodeDef("part", "part", Map("p_brand" -> StringType), "catalog")),
        links = Seq(LinkDef("orders", "part", "edge_orders_part",
          "many_to_many", "orders", "parts")))
      val nodeDf: String => DataFrame = {
        case "orders" => t(s, dir, "orders")
          .withColumn("_orders_id", col("o_orderkey"))
        case "part" => t(s, dir, "part")
          .withColumn("_part_id", col("p_partkey"))
        case other => throw new NoSuchElementException(other)
      }
      val edgeDf: (String, String) => DataFrame = {
        case ("orders", "part") => t(s, dir, "lineitem")
          .select(col("l_orderkey").as("_orders_id"),
            col("l_partkey").as("_part_id"))
        case (c, p) => throw new NoSuchElementException(s"$c->$p")
      }
      new Translator(schema, new GraphSource(nodeDf, edgeDf))
        .translate(IndexMapping(
          name = "orders_parts", docType = "orders", root = "orders",
          props = Seq(PropDef("o_orderstatus", "o_orderstatus")),
          parentProps = Seq(ParentChainDef(Seq(
            PathStep("part", Seq(PropDef("part_brands", "p_brand")))),
            relation = "1-n"))))
    },
      // COALESCE: a child-less root's set prop is the EMPTY set (engine
      // zero semantics, AggExpr.zeroFill), not NULL — DuckDB's filtered
      // list() over zero rows aggregates to NULL instead
      """SELECT o_orderkey AS _orders_id, o_orderstatus,
        |  COALESCE(array_to_string(list_sort(list(DISTINCT p_brand)
        |    FILTER (WHERE p_brand IS NOT NULL)), '|'), '') AS part_brands
        |FROM orders
        |LEFT JOIN lineitem ON l_orderkey = o_orderkey
        |LEFT JOIN part ON p_partkey = l_partkey
        |GROUP BY o_orderkey, o_orderstatus""".stripMargin),

    // ---- A1: agg-function factory ---------------------------------------
    QuerySpec("a1_agg_basic", (s, dir) => driverSafe(
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          AggExpr.agg("count", col("l_quantity")).as("n_items"),
          AggExpr.agg("sum",
            col("l_quantity").cast(DecimalType(18, 2))).as("sum_qty"),
          AggExpr.agg("min", col("l_extendedprice")).as("min_price"),
          AggExpr.agg("max", col("l_extendedprice")).as("max_price"),
          AggExpr.agg("countd", col("l_partkey")).as("n_parts"))),
      """SELECT l_returnflag, l_linestatus,
        |  count(l_quantity) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  min(l_extendedprice) AS min_price,
        |  max(l_extendedprice) AS max_price,
        |  count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),

    QuerySpec("a1_set_list", (s, dir) => driverSafe(
      t(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(
          AggExpr.agg("set", col("c_mktsegment")).as("segments"),
          AggExpr.agg("countd", col("c_name")).as("n_names"))),
      """SELECT c_nationkey,
        |  array_to_string(list_sort(list(DISTINCT c_mktsegment)), '|') AS segments,
        |  count(DISTINCT c_name) AS n_names
        |FROM customer GROUP BY c_nationkey""".stripMargin),

    // ---- A1 under skew: salted two-stage aggregation must be transparent
    // (same oracle shape as a1_agg_basic — proves the salt/merge algebra) --
    QuerySpec("a1_salted_agg", (s, dir) => driverSafe(
      Skew.saltedAgg(t(s, dir, "lineitem"),
        Seq("l_returnflag", "l_linestatus"), spread = col("l_orderkey"),
        salts = 16,
        Seq(("n_items", "count", col("l_quantity")),
          ("sum_qty", "sum", col("l_quantity").cast(DecimalType(18, 2))),
          ("mx_price", "max", col("l_extendedprice"))))),
      """SELECT l_returnflag, l_linestatus,
        |  count(l_quantity) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  max(l_extendedprice) AS mx_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),

    // ---- A2: multi-hop aggregation path as one plan ---------------------
    QuerySpec("a2_agg_tree", (s, dir) => driverSafe {
      val src = TpchGraph.source(s, dir)
      // leaf rides on the LAST HOP key (_orders_id), not a leaf-id
      // self-join: lineitem's composite key is non-unique in this corpus,
      // and an id-join over duplicate ids would multiply rows (graph node
      // ids must be unique for id-joins — see GraphOps.aggPath note)
      GraphOps.aggPath(
        src.nodeDf("customer").select(col("_customer_id")), "_customer_id",
        Seq((src.edgeDf("orders", "customer"), "_customer_id")),
        Some((src.nodeDf("lineitem").select(
          col("l_orderkey").as("_orders_id"), col("_lineitem_id"),
          col("l_quantity").cast(DecimalType(18, 2)).as("l_qty_dec")),
          "_orders_id")),
        Seq(("n_li", "countd", col("_lineitem_id")),
          ("sum_qty", "sum", col("l_qty_dec"))))
    },
      """SELECT c_custkey AS _customer_id,
        |  coalesce(agg.n_li, 0) AS n_li,
        |  CAST(coalesce(agg.sum_qty, 0) AS DOUBLE) AS sum_qty
        |FROM customer LEFT JOIN (
        |  SELECT o_custkey,
        |    count(DISTINCT l_orderkey * 10 + l_linenumber) AS n_li,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY o_custkey) agg ON c_custkey = agg.o_custkey""".stripMargin),

    // ---- A5: nested array-of-struct documents, hash-checked via CANONICAL
    // serialization: each two-level doc (nation → customers → orders)
    // collapses to a deterministic string — orders as sorted
    // "price:id" CSV, customers as sorted "name@acctbal@[orders]@id"
    // '|'-joins, numbers decimal-cast so both engines print identically.
    // The oracle rebuilds the same string from plain joins, so the nested
    // CONSTRUCTION (grouping, filters, null semantics) is exactly checked,
    // not just row counts ------------------------------------------------
    QuerySpec("a5_nested_docs", (s, dir) => {
      val src = TpchGraph.source(s, dir)
      val t = new Translator(TpchGraph.schema, src)
      val docs = t.translate(IndexMapping(
        name = "nation_nested", docType = "nation", root = "nation",
        props = Seq(PropDef("n_name", "n_name")),
        nestedProps = Seq(NestedDef(
          name = "customers", path = Seq("customer"),
          props = Seq(PropDef("c_name", "c_name"), PropDef("c_acctbal", "c_acctbal")),
          children = Seq(NestedDef(
            name = "orders", path = Seq("orders"),
            props = Seq(PropDef("o_totalprice", "o_totalprice")),
            filter = Some(FilterLeaf(">", "o_totalprice", 0))))))))
      val orderS = (o: Column) => concat(
        o.getField("o_totalprice").cast(DecimalType(18, 2)).cast("string"),
        lit(":"), o.getField("_orders_id").cast("string"))
      val custS = (c: Column) => concat(
        c.getField("c_name"), lit("@"),
        c.getField("c_acctbal").cast(DecimalType(18, 2)).cast("string"),
        lit("@["),
        // orders is null for a customer with no qualifying orders —
        // coalesce AFTER the join so concat can't null the whole row
        coalesce(array_join(array_sort(transform(
          c.getField("orders"), orderS)), ","), lit("")),
        lit("]@"), c.getField("_customer_id").cast("string"))
      docs.select(col("_nation_id"), col("n_name"),
        coalesce(array_join(array_sort(transform(col("customers"), custS)), "|"),
          lit("")).as("customers_canon"))
    },
      // canonical rebuild of the two-level nested doc from plain joins:
      // same decimal-cast number formatting, same string sort orders, same
      // left-join null semantics ('' markers for empty levels)
      ("WITH os AS (SELECT o_custkey, " +
        "list_sort(list(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) " +
        "|| ':' || CAST(o_orderkey AS VARCHAR))) AS lst " +
        "FROM orders WHERE o_totalprice > 0 GROUP BY o_custkey), " +
        "cs AS (SELECT c_nationkey, c_name || '@' || " +
        "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) || '@[' || " +
        "COALESCE(array_to_string(os.lst, ','), '') || ']@' || " +
        "CAST(c_custkey AS VARCHAR) AS s " +
        "FROM customer LEFT JOIN os ON os.o_custkey = c_custkey) " +
        "SELECT n.n_nationkey AS _nation_id, n.n_name, " +
        "COALESCE(array_to_string(list_sort(list(cs.s) " +
        "FILTER (WHERE cs.s IS NOT NULL)), '|'), '') AS customers_canon " +
        "FROM nation n LEFT JOIN cs ON cs.c_nationkey = n.n_nationkey " +
        "GROUP BY n.n_nationkey, n.n_name")),

    // nested-doc content IS oracle-checkable once exploded back to rows:
    // build the array-of-struct column, then flatten it — pins the
    // collect_list(struct) construction against a plain-join oracle
    QuerySpec("a5_nested_roundtrip", (s, dir) => {
      val src = TpchGraph.source(s, dir)
      val docs = new Translator(TpchGraph.schema, src).translate(IndexMapping(
        name = "nation_nested_rt", docType = "nation", root = "nation",
        props = Seq(PropDef("n_name", "n_name")),
        nestedProps = Seq(NestedDef("customers", Seq("customer"),
          Seq(PropDef("c_name", "c_name"), PropDef("c_acctbal", "c_acctbal"))))))
      docs.select(col("_nation_id"), col("n_name"),
          explode(col("customers")).as("c"))
        .select(col("_nation_id"), col("n_name"),
          col("c.c_name").as("c_name"), col("c.c_acctbal").as("c_acctbal"),
          col("c._customer_id").as("_customer_id"))
    },
      """SELECT n_nationkey AS _nation_id, n_name, c_name, c_acctbal,
        |  c_custkey AS _customer_id
        |FROM nation JOIN customer ON c_nationkey = n_nationkey""".stripMargin),

    // ---- A4: top-1-per-group via max_by(struct) -------------------------
    QuerySpec("a4_sorted_first", (s, dir) =>
      GraphOps.sortedFirst(t(s, dir, "lineitem"), "l_orderkey",
        struct(col("l_extendedprice"), col("l_linenumber")), descending = true,
        Seq(col("l_partkey").as("top_partkey"),
          col("l_quantity").as("top_qty"))),
      """SELECT l_orderkey, l_partkey AS top_partkey, l_quantity AS top_qty
        |FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey
        |    ORDER BY l_extendedprice DESC, l_linenumber DESC) AS rn
        |  FROM lineitem) WHERE rn = 1""".stripMargin),

    // ---- J4: index-to-index join with per-key aggregation ---------------
    QuerySpec("j4_index_join", (s, dir) => driverSafe(
      GraphOps.indexJoin(
        t(s, dir, "customer").select(col("c_custkey"), col("c_name")),
        t(s, dir, "orders").withColumnRenamed("o_custkey", "c_custkey"),
        Seq("c_custkey"),
        Seq((PropDef("priorities", "o_orderpriority"), Some("set")),
          (PropDef("n_orders", "o_orderkey"), Some("count"))))),
      """SELECT c_custkey, c_name, agg.priorities, agg.n_orders
        |FROM customer LEFT JOIN (
        |  SELECT o_custkey AS c_custkey,
        |    array_to_string(list_sort(list(DISTINCT o_orderpriority)), '|') AS priorities,
        |    count(o_orderkey) AS n_orders
        |  FROM orders GROUP BY o_custkey) agg USING (c_custkey)""".stripMargin),

    // ---- J6 (beyond-parity): as-of + bounded interval joins -------------
    // each event gains the issuing day's order state (count + exact-decimal
    // total) of the LATEST order day at or before the event — the
    // union-and-sort as-of join: one shuffle, no join node, nothing
    // quadratic for the planner to mis-plan
    QuerySpec("j6_asof_join", (s, dir) => {
      val ev = events(s, dir).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"))
      val ordersByDay = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("user_id"),
          // orders dates are µs-parquet NTZ; session is UTC, cast is exact
          unix_micros(col("o_orderdate").cast(TimestampType)).as("order_us"))
        .agg(count(lit(1)).as("day_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).as("day_total"))
      driverSafe(
        TemporalJoin.asofJoin(ev, ordersByDay, "user_id", "ts_us", "order_us"))
    },
      // as-of recomputed the portable way: left-join every prior order day,
      // keep the latest per event (row_number over order_us DESC); unmatched
      // events survive the LEFT JOIN with one all-null candidate
      """WITH o AS (
        |  SELECT o_custkey AS user_id, epoch_us(o_orderdate) AS order_us,
        |    count(*) AS day_orders,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS day_total
        |  FROM orders GROUP BY 1, 2),
        |c AS (
        |  SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
        |    o.order_us, o.day_orders, o.day_total,
        |    row_number() OVER (PARTITION BY e.event_id
        |                       ORDER BY o.order_us DESC) AS rn
        |  FROM events e LEFT JOIN o
        |    ON o.user_id = e.user_id AND o.order_us <= epoch_us(e.ts))
        |SELECT event_id, user_id, ts_us, order_us AS asof_order_us,
        |  day_orders, CAST(day_total AS DOUBLE) AS day_total
        |FROM c WHERE rn = 1""".stripMargin),

    // click → purchases of the same user within 45 min, as a batch
    // bucketed-equi-join (the streaming twin is events_stream_attrib):
    // the range predicate never reaches the planner as a theta join
    QuerySpec("j6_interval_join", (s, dir) => {
      val ev = events(s, dir)
      TemporalJoin.intervalJoin(
        ev.filter(col("event_type") === "click")
          .select(col("event_id").as("from_id"), col("user_id"),
            unix_micros(col("ts")).as("from_us")),
        ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("to_id"), col("user_id"),
            unix_micros(col("ts")).as("to_us")),
        "user_id", "from_us", "to_us",
        lowerUs = 0L, upperUs = 45L * 60 * 1000000)
    },
      """SELECT c.event_id AS from_id, c.user_id, epoch_us(c.ts) AS from_us,
        |  p.event_id AS to_id, epoch_us(p.ts) AS to_us
        |FROM events c JOIN events p ON c.user_id = p.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 45 MINUTE""".stripMargin),

    // ---- entity resolution: token-blocked fuzzy matching ----------------
    // candidate pairs only from shared-token blocks (capped postings),
    // Levenshtein verify on candidates alone — never all-pairs
    QuerySpec("er_fuzzy_match", (s, dir) => {
      val entities = t(s, dir, "part")
        .groupBy(col("p_name").as("name"))
        .agg(count(lit(1)).as("n_rows"))
      Linkage.blockedFuzzyPairs(entities, "name", "n_rows",
          maxDist = 3, tokenCap = 40)
        .withColumn("dist", col("dist").cast("long"))
    },
      """WITH n AS (SELECT p_name AS name, count(*) AS n_rows
        |           FROM part GROUP BY 1),
        |t AS (SELECT name, n_rows,
        |        unnest(string_split_regex(name, '\s+')) AS tok FROM n),
        |tf AS (SELECT * FROM t WHERE len(tok) > 0),
        |ok AS (SELECT tok FROM tf GROUP BY tok HAVING count(*) <= 40),
        |cand AS (SELECT DISTINCT a.name AS name_a, b.name AS name_b,
        |           a.n_rows AS n_a, b.n_rows AS n_b
        |         FROM tf a JOIN tf b ON b.tok = a.tok
        |         WHERE a.tok IN (SELECT tok FROM ok) AND a.name < b.name)
        |SELECT name_a, name_b,
        |  CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist, n_a, n_b
        |FROM cand WHERE levenshtein(name_a, name_b) <= 3""".stripMargin),

    // ER survivorship: fuzzy pairs → connected components → one golden
    // record per cluster (canonical = min member name, the same
    // deterministic canonicalization as dedup groups; support sums)
    QuerySpec("er_golden", (s, dir) => {
      val entities = t(s, dir, "part")
        .groupBy(col("p_name").as("name"))
        .agg(count(lit(1)).as("n_rows"))
      val pairs = Linkage.blockedFuzzyPairs(entities, "name", "n_rows",
          maxDist = 3, tokenCap = 40)
        .select(col("name_a").as("id_a"), col("name_b").as("id_b"))
      val comps = Dedup.componentsFromPairs(pairs, iters = 10)
      entities
        .join(comps.withColumnRenamed("id", "name"), Seq("name"), "left")
        .withColumn("cluster", coalesce(col("comp"), col("name")))
        .groupBy("cluster")
        .agg(sum(col("n_rows")).as("total_rows"),
          count(lit(1)).as("n_variants"))
    },
      // er_fuzzy_match's candidate CTEs + the recursive-CC pattern from
      // dedup_groups, then one aggregation per cluster
      """WITH RECURSIVE n AS (SELECT p_name AS name, count(*) AS n_rows
        |           FROM part GROUP BY 1),
        |t AS (SELECT name, unnest(string_split_regex(name, '\s+')) AS tok
        |      FROM n),
        |tf AS (SELECT * FROM t WHERE len(tok) > 0),
        |ok AS (SELECT tok FROM tf GROUP BY tok HAVING count(*) <= 40),
        |cand AS (SELECT DISTINCT a.name AS name_a, b.name AS name_b
        |         FROM tf a JOIN tf b ON b.tok = a.tok
        |         WHERE a.tok IN (SELECT tok FROM ok) AND a.name < b.name),
        |p AS (SELECT name_a, name_b FROM cand
        |      WHERE levenshtein(name_a, name_b) <= 3),
        |e AS (SELECT name_a AS a, name_b AS b FROM p
        |      UNION SELECT name_b, name_a FROM p),
        |reach AS (SELECT a, b FROM e
        |          UNION SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
        |comp AS (SELECT a AS id, least(a, min(b)) AS comp FROM reach
        |         GROUP BY a),
        |g AS (SELECT n.name, n.n_rows, COALESCE(c.comp, n.name) AS cluster
        |      FROM n LEFT JOIN comp c ON c.id = n.name)
        |SELECT cluster, CAST(sum(n_rows) AS BIGINT) AS total_rows,
        |       count(*) AS n_variants
        |FROM g GROUP BY 1""".stripMargin),

    // ---- SCD2 dimension history (gaps & islands) ------------------------
    // per-customer priority history from order observations: repeated
    // states collapse, validity ranges chain half-open, current row open
    QuerySpec("dim_scd2", (s, dir) => {
      val obs = t(s, dir, "orders")
        .groupBy(col("o_custkey"),
          unix_micros(col("o_orderdate").cast(TimestampType)).as("order_us"))
        .agg(min(col("o_orderpriority")).as("priority"))
      Scd.history(obs, "o_custkey", "order_us", Seq("priority"))
    },
      """WITH obs AS (SELECT o_custkey, epoch_us(o_orderdate) AS order_us,
        |               min(o_orderpriority) AS priority
        |             FROM orders GROUP BY 1, 2),
        |m AS (SELECT *, lag(priority) OVER
        |        (PARTITION BY o_custkey ORDER BY order_us) AS prev FROM obs),
        |c AS (SELECT o_custkey, order_us, priority FROM m
        |      WHERE prev IS NULL OR prev <> priority),
        |f AS (SELECT o_custkey, priority, order_us AS valid_from_us,
        |        lead(order_us) OVER
        |          (PARTITION BY o_custkey ORDER BY order_us) AS valid_to_us
        |      FROM c)
        |SELECT o_custkey, priority, valid_from_us, valid_to_us,
        |  CAST(valid_to_us IS NULL AS BIGINT) AS is_current FROM f""".stripMargin),

    // foreign-key DISCOVERY (schema profiling, Rostin et al. 2009 class):
    // for each candidate column pair, distinct counts, inclusion
    // coefficient and parent-uniqueness — the real FKs score
    // inclusion = 10^6 with a unique parent, the planted negative
    // control does not. ONE unioned plan for all candidates (a
    // candidate tag rides every row), not a job per candidate: the
    // contended-hour bench showed sequential small jobs absorb
    // scheduler stalls multiplicatively, and the union shapes are
    // identical so Spark runs the whole profile as one job set
    QuerySpec("schema_fk_discovery", (s, dir) => {
      // NULL keys are excluded like SQL count(DISTINCT): a null child
      // value is not a reference. Keys cast to long to unify the union
      // schema (all TPC-H keys are integral).
      val children = fkCandidates.map { case (ct, cc, pt, pc) =>
        t(s, dir, ct).select(lit(s"$ct.$cc->$pt.$pc").as("candidate"),
          col(cc).cast("long").as("k")).filter(col("k").isNotNull)
      }.reduce(_ unionByName _).distinct()
      val parents = fkCandidates.map { case (ct, cc, pt, pc) =>
        t(s, dir, pt).select(lit(s"$ct.$cc->$pt.$pc").as("candidate"),
          col(pc).cast("long").as("k"))
      }.reduce(_ unionByName _)
      // per-candidate parent profile: total rows (nulls included) and
      // distinct non-null keys — 8 groups, one aggregation
      val parentStats = parents.groupBy(col("candidate"))
        .agg(count(lit(1)).as("parent_rows"),
          count_distinct(col("k")).as("n_parent_distinct"))
      val parentDistinct = parents.filter(col("k").isNotNull).distinct()
      val childStats = children
        .join(parentDistinct.withColumn("_hit", lit(1)),
          Seq("candidate", "k"), "left")
        .groupBy(col("candidate"))
        .agg(count(lit(1)).as("n_child_distinct"),
          count(col("_hit")).as("n_matched"))
      // candidate scaffold: an empty (or all-NULL-key) leg must still
      // report a zero-count row — the oracle's scalar-subquery legs
      // always emit one row per candidate, and a profiler that silently
      // drops a candidate reads as "not checked", not "empty"
      import s.implicits._
      val scaffold = fkCandidates
        .map { case (ct, cc, pt, pc) => s"$ct.$cc->$pt.$pc" }
        .toDF("candidate")
      scaffold
        .join(broadcast(childStats), Seq("candidate"), "left")
        .join(broadcast(parentStats), Seq("candidate"), "left")
        .select(col("candidate"),
          coalesce(col("n_child_distinct"), lit(0L)).as("n_child_distinct"),
          coalesce(col("n_parent_distinct"), lit(0L)).as("n_parent_distinct"),
          coalesce(col("parent_rows"), lit(0L)).as("parent_rows"),
          coalesce(col("n_matched"), lit(0L)).as("n_matched"))
        .select(col("candidate"),
          col("n_child_distinct"), col("n_parent_distinct"),
          col("parent_rows"), col("n_matched"),
          Sampling.intDivExact(col("n_matched") * lit(1000000L),
            greatest(col("n_child_distinct"), lit(1L)))
            .as("inclusion_ppm"),
          when(col("n_matched") === col("n_child_distinct") &&
            col("n_parent_distinct") === col("parent_rows"), 1L)
            .otherwise(0L).as("looks_fk"))
    },
      // fk discovery: legs generated from the SAME candidate list
      {
      val legs = fkCandidates.map { case (ct, cc, pt, pc) =>
        s"SELECT '$ct.$cc->$pt.$pc' AS candidate, " +
          s"(SELECT count(DISTINCT $cc) FROM $ct) AS n_child_distinct, " +
          s"(SELECT count(DISTINCT $pc) FROM $pt) AS n_parent_distinct, " +
          s"(SELECT count(*) FROM $pt) AS parent_rows, " +
          s"(SELECT count(*) FROM (SELECT DISTINCT $cc AS k FROM $ct) c " +
          s"JOIN (SELECT DISTINCT $pc AS k FROM $pt) p USING (k)) AS n_matched"
      }
      "SELECT candidate, n_child_distinct, n_parent_distinct, parent_rows, " +
        "n_matched, CAST((n_matched * 1000000) // greatest(n_child_distinct, 1) " +
        "AS BIGINT) AS inclusion_ppm, " +
        "CAST(CASE WHEN n_matched = n_child_distinct AND " +
        "n_parent_distinct = parent_rows THEN 1 ELSE 0 END AS BIGINT) AS looks_fk " +
        s"FROM (${legs.mkString(" UNION ALL ")})"
    }),

    // generic column profiler (the first thing a warehouse runs on an
    // unknown table): per column — rows, nulls, exact distinct, and
    // integral min/max (money µ-floored, dates as epoch days; string
    // columns carry NULL bounds rather than engine-formatted text).
    // ONE scan: all five distincts ride one multi-distinct aggregate
    // (Spark's Expand plan — 5× the scan rows map-side, the standard
    // trade for single-pass profiling), then a stack() unpivot of the
    // 1-row result
    QuerySpec("schema_column_profile", (s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("c1"),
        col("o_custkey").cast("long").as("c2"),
        floor(col("o_totalprice") * lit(1000000d)).cast("long").as("c3"),
        Sampling.intDivExact(
          unix_micros(col("o_orderdate").cast("timestamp")), lit(dayUs))
          .as("c4"),
        col("o_orderstatus").as("c5"))
      val a = o.agg(
        count(lit(1)).as("n"),
        count(col("c1")).as("nn1"), count_distinct(col("c1")).as("nd1"),
        min(col("c1")).as("mi1"), max(col("c1")).as("ma1"),
        count(col("c2")).as("nn2"), count_distinct(col("c2")).as("nd2"),
        min(col("c2")).as("mi2"), max(col("c2")).as("ma2"),
        count(col("c3")).as("nn3"), count_distinct(col("c3")).as("nd3"),
        min(col("c3")).as("mi3"), max(col("c3")).as("ma3"),
        count(col("c4")).as("nn4"), count_distinct(col("c4")).as("nd4"),
        min(col("c4")).as("mi4"), max(col("c4")).as("ma4"),
        count(col("c5")).as("nn5"), count_distinct(col("c5")).as("nd5"))
      a.selectExpr(
        "stack(5, " +
          "'o_orderkey', n, n - nn1, nd1, mi1, ma1, " +
          "'o_custkey', n, n - nn2, nd2, mi2, ma2, " +
          "'o_totalprice_us', n, n - nn3, nd3, mi3, ma3, " +
          "'o_orderdate_day', n, n - nn4, nd4, mi4, ma4, " +
          "'o_orderstatus', n, n - nn5, nd5, CAST(NULL AS BIGINT), " +
          "CAST(NULL AS BIGINT)) " +
          "AS (col_name, n_rows, n_null, n_distinct, min_v, max_v)")
    },
      // column profiler: one scalar leg per column, same µ-floor / epoch-
      // day domains; string column bounds are NULL on both sides
      ("SELECT 'o_orderkey' AS col_name, count(*) AS n_rows, count(*) - count(o_orderkey) AS n_null, " +
        "count(DISTINCT o_orderkey) AS n_distinct, CAST(min(o_orderkey) AS BIGINT) AS min_v, CAST(max(o_orderkey) AS BIGINT) AS max_v FROM orders " +
        "UNION ALL SELECT 'o_custkey', count(*), count(*) - count(o_custkey), count(DISTINCT o_custkey), CAST(min(o_custkey) AS BIGINT), CAST(max(o_custkey) AS BIGINT) FROM orders " +
        "UNION ALL SELECT 'o_totalprice_us', count(*), count(*) - count(o_totalprice), count(DISTINCT CAST(floor(o_totalprice * 1000000) AS BIGINT)), CAST(min(CAST(floor(o_totalprice * 1000000) AS BIGINT)) AS BIGINT), CAST(max(CAST(floor(o_totalprice * 1000000) AS BIGINT)) AS BIGINT) FROM orders " +
        "UNION ALL SELECT 'o_orderdate_day', count(*), count(*) - count(o_orderdate), count(DISTINCT epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000), CAST(min(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000) AS BIGINT), CAST(max(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000) AS BIGINT) FROM orders " +
        "UNION ALL SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus), count(DISTINCT o_orderstatus), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM orders")),

    // repeat-purchase profile: per customer exact order count + mean
    // inter-order gap in µ-days (span // (n−1)), rolled up by order-count
    // bucket — the TPC-H-side loyalty/cadence analysis
    QuerySpec("orders_repeat_rate", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"),
        Sampling.intDivExact(
          unix_micros(col("o_orderdate").cast("timestamp")), lit(dayUs))
          .as("d"))
      val per = o.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          (max(col("d")) - min(col("d"))).as("_span"))
        .select(col("n_orders"),
          when(col("n_orders") > 1,
            Sampling.intDivExact(col("_span") * lit(1000000L),
              col("n_orders") - 1)).otherwise(lit(0L)).as("gap_us"))
      per.groupBy(col("n_orders"))
        .agg(count(lit(1)).as("n_customers"),
          Sampling.intDivExact(sum(col("gap_us").cast(DecimalType(38, 0))),
            count(lit(1))).as("mean_gap_days_us"),
          min(col("gap_us")).as("min_gap_days_us"),
          max(col("gap_us")).as("max_gap_days_us"))
    },
      // repeat rate: day floors, span // (n−1), exact floor-means
      ("WITH o AS (SELECT o_custkey, epoch_us(o_orderdate) // 86400000000 AS d " +
        "FROM orders), " +
        "per AS (SELECT o_custkey, count(*) AS n_orders, " +
        "max(d) - min(d) AS span FROM o GROUP BY 1), " +
        "g AS (SELECT n_orders, CASE WHEN n_orders > 1 THEN " +
        "(span * 1000000) // (n_orders - 1) ELSE 0 END AS gap FROM per) " +
        "SELECT n_orders, count(*) AS n_customers, " +
        "CAST(CAST(sum(gap) AS HUGEINT) // count(*) AS BIGINT) AS mean_gap_days_us, " +
        "CAST(min(gap) AS BIGINT) AS min_gap_days_us, " +
        "CAST(max(gap) AS BIGINT) AS max_gap_days_us " +
        "FROM g GROUP BY n_orders")),

    // ---- W3/W4: union-by-name + distinct with null-fill ------------------
    QuerySpec("w3_union_distinct", (s, dir) =>
      GraphOps.unionLeaves(Seq(
        t(s, dir, "customer").select(col("c_custkey").as("entity_id"),
          col("c_name").as("name"), col("c_nationkey").as("nationkey"),
          col("c_mktsegment").as("segment")),
        t(s, dir, "supplier").select(col("s_suppkey").as("entity_id"),
          col("s_name").as("name"), col("s_nationkey").as("nationkey")))),
      """SELECT c_custkey AS entity_id, c_name AS name,
        |  c_nationkey AS nationkey, c_mktsegment AS segment FROM customer
        |UNION
        |SELECT s_suppkey, s_name, s_nationkey, NULL FROM supplier""".stripMargin),

    // W5 beyond-parity: INTERSECT / EXCEPT set semantics — customers with
    // urgent orders vs BUILDING-segment membership, tagged in one frame
    QuerySpec("w5_set_ops", (s, dir) => {
      val building = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k"))
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("k"))
      building.intersect(urgent).withColumn("tag", lit("both"))
        .union(building.except(urgent).withColumn("tag", lit("building_only")))
        .select(col("tag"), col("k"))
    },
      """WITH b AS (SELECT c_custkey AS k FROM customer
        |           WHERE c_mktsegment = 'BUILDING'),
        |u AS (SELECT o_custkey AS k FROM orders
        |      WHERE o_orderpriority = '1-URGENT')
        |SELECT 'both' AS tag, k FROM (SELECT k FROM b INTERSECT SELECT k FROM u)
        |UNION ALL
        |SELECT 'building_only', k FROM (SELECT k FROM b EXCEPT SELECT k FROM u)""".stripMargin),

    // Z-order layout (beyond-parity): one Morton curve over two scan
    // columns, bucketed by curve prefix — the per-bucket span report shows
    // BOTH columns' min/max tighten, i.e. both predicates prune after a
    // single repartitionByRange(z) write (SCALE.md)
    // skew-proof layout: quartile-rank each column FIRST, interleave the
    // 2-bit ranks — every z cell holds between-quantile mass, so files
    // balance regardless of value skew (the documented 100 TB z-order
    // prep). Quartiles via the sort-free lock-step bisection
    // (Profile.exactQuantileValues) — no percentile aggregate in the plan
    QuerySpec("layout_rank_zorder", (s, dir) =>
      Layout.rankZorderSpans(t(s, dir, "lineitem"), "l_extendedprice",
        "l_quantity"),
      // quartile thresholds are type-1 order statistics of the µ-floored
      // columns (k = ⌈q·n⌉, materialized by rank — the engine bisects to the
      // same value); bit ops fully parenthesized (DuckDB's & and >> bind
      // below =)
      ("WITH t AS (SELECT l_extendedprice AS a, l_quantity AS b, " +
        "CAST(floor(l_extendedprice * 1000000) AS BIGINT) AS ua, " +
        "CAST(floor(l_quantity * 1000000) AS BIGINT) AS ub FROM lineitem), " +
        "nn AS (SELECT count(*) AS n FROM t), " +
        "q(q_ppm) AS (VALUES (250000), (500000), (750000)), " +
        "kk AS (SELECT q_ppm, greatest(1, (q_ppm * n + 999999) // 1000000) AS k FROM q, nn), " +
        "rnka AS (SELECT ua AS v, row_number() OVER (ORDER BY ua) AS rn FROM t), " +
        "rnkb AS (SELECT ub AS v, row_number() OVER (ORDER BY ub) AS rn FROM t), " +
        "th AS (SELECT " +
        "max(CASE WHEN q_ppm = 250000 THEN rnka.v END) AS a1, " +
        "max(CASE WHEN q_ppm = 500000 THEN rnka.v END) AS a2, " +
        "max(CASE WHEN q_ppm = 750000 THEN rnka.v END) AS a3, " +
        "max(CASE WHEN q_ppm = 250000 THEN rnkb.v END) AS b1, " +
        "max(CASE WHEN q_ppm = 500000 THEN rnkb.v END) AS b2, " +
        "max(CASE WHEN q_ppm = 750000 THEN rnkb.v END) AS b3 " +
        "FROM kk JOIN rnka ON rnka.rn = kk.k JOIN rnkb ON rnkb.rn = kk.k), " +
        "r AS (SELECT a, b, " +
        "CASE WHEN ua <= a1 THEN 0 WHEN ua <= a2 THEN 1 " +
        "WHEN ua <= a3 THEN 2 ELSE 3 END AS ra, " +
        "CASE WHEN ub <= b1 THEN 0 WHEN ub <= b2 THEN 1 " +
        "WHEN ub <= b3 THEN 2 ELSE 3 END AS rb FROM t, th) " +
        "SELECT CAST((((ra >> 1) << 3) | ((rb >> 1) << 2) | ((ra & 1) << 1) | (rb & 1)) AS BIGINT) AS bucket, " +
        "count(*) AS n_rows, min(a) AS min_a, max(a) AS max_a, " +
        "min(b) AS min_b, max(b) AS max_b FROM r GROUP BY 1")),

    QuerySpec("layout_zorder", (s, dir) =>
      Layout.zBucketSpans(t(s, dir, "lineitem"), "l_partkey", "l_suppkey",
        bits = zorderBits, prefixBits = zorderPrefix),
      zorderOracleSql),

    // Hilbert-curve layout twin of layout_zorder: same bucket-span report,
    // tighter (≈ square) per-file regions because every curve step is
    // 4-adjacent; the curve is a DFA fold (aggregate HOF), not an
    // unrolled coordinate rewrite
    QuerySpec("layout_hilbert", (s, dir) =>
      Layout.hilbertBucketSpans(t(s, dir, "lineitem"), "l_partkey",
        "l_suppkey", bits = hilbertBits, prefixBits = hilbertPrefix),
      hilbertOracleSql),

    // zone-map pruning report — WHY you sort/z-order before writing: the
    // same orders under (a) natural key-range files and (b) date-sorted
    // files (boundaries = exact bisect quantile cuts, driver literals, no
    // global sort window), per-file min/max zone maps, and the fraction
    // of files a half-year predicate can skip in each layout
    QuerySpec("layout_zonemap_prune", (s, dir) => {
      val o = t(s, dir, "orders")
        .select(Sampling.intDivExact(
            unix_micros(col("o_orderdate").cast("timestamp")), lit(dayUs))
          .as("k_d"), col("o_orderkey"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val mm = o.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
      val (minK, maxK) = (mm.getLong(0), mm.getLong(1))
      val span = (maxK - minK) / zoneFiles + 1
      val cutQs = (1 until zoneFiles).map(i => 1000000L * i / zoneFiles)
      val cuts = Profile.exactQuantileValues(o, Seq("k_d"), cutQs)
      val sortedFile = cutQs.map(q =>
        when(col("k_d") > cuts(("k_d", q)), 1L).otherwise(0L))
        .reduce(_ + _)
      def report(fileId: Column, tag: String): DataFrame = {
        val zones = o.groupBy(fileId.as("f"))
          .agg(min(col("k_d")).as("mn"), max(col("k_d")).as("mx"),
            count(lit(1)).as("nr"))
          .withColumn("cand",
            col("mx") >= zoneLoD && col("mn") < zoneHiD)
        zones.agg(count(lit(1)).as("n_files"),
          sum(when(col("cand"), 1L).otherwise(0L)).as("n_candidate_files"),
          sum(when(col("cand"), col("nr")).otherwise(0L)).as("rows_scanned"),
          sum(col("nr")).as("rows_total"))
          .select(lit(tag).as("layout"), col("n_files"),
            col("n_candidate_files"), col("rows_scanned"), col("rows_total"),
            Sampling.intDivExact(
              (col("n_files") - col("n_candidate_files")) * lit(1000000L),
              col("n_files")).as("prune_ppm"))
      }
      val out = report(Sampling.intDivExact(col("o_orderkey") - minK,
          lit(span)), "natural")
        .unionByName(report(sortedFile, "sorted"))
        .transform(Frames.truncate)
      o.unpersist(false)
      out
    },
      // zone maps: natural files = key ranges over the min/max key span,
      // sorted files = count-of-cuts-below (cuts ≡ the engine's bisect
      // literals via the rank-k form), same candidate predicate
      {
      val sumry = (z: String) =>
        s"(SELECT count(*) AS nf, " +
          s"CAST(sum(CASE WHEN mx >= $zoneLoD AND mn < $zoneHiD THEN 1 ELSE 0 END) AS BIGINT) AS nc, " +
          s"CAST(sum(CASE WHEN mx >= $zoneLoD AND mn < $zoneHiD THEN nr ELSE 0 END) AS BIGINT) AS rs, " +
          s"CAST(sum(nr) AS BIGINT) AS rt FROM $z)"
      s"WITH o AS (SELECT epoch_us(o_orderdate) // 86400000000 AS k, o_orderkey FROM orders), " +
        "mm AS (SELECT min(o_orderkey) AS mn, max(o_orderkey) AS mx FROM o), " +
        s"nat AS (SELECT (o.o_orderkey - mm.mn) // ((mm.mx - mm.mn) // $zoneFiles + 1) AS f, o.k " +
        "FROM o CROSS JOIN mm), " +
        "nz AS (SELECT f, min(k) AS mn, max(k) AS mx, count(*) AS nr FROM nat GROUP BY f), " +
        "nn AS (SELECT count(*) AS n FROM o), " +
        s"kk AS (SELECT CAST(i.range AS BIGINT) AS i, " +
        s"greatest(1, ((1000000 * i.range // $zoneFiles) * n + 999999) // 1000000) AS kr " +
        s"FROM range(1, $zoneFiles) i CROSS JOIN nn), " +
        "r AS (SELECT k, row_number() OVER (ORDER BY k) AS rn FROM o), " +
        "cts AS (SELECT list(r.k ORDER BY r.k) AS cl FROM kk JOIN r ON r.rn = kk.kr), " +
        "srt AS (SELECT len(list_filter(cts.cl, c -> c < o.k)) AS f, o.k " +
        "FROM o CROSS JOIN cts), " +
        "sz AS (SELECT f, min(k) AS mn, max(k) AS mx, count(*) AS nr FROM srt GROUP BY f) " +
        s"SELECT 'natural' AS layout, CAST(nf AS BIGINT) AS n_files, nc AS n_candidate_files, " +
        "rs AS rows_scanned, rt AS rows_total, " +
        s"CAST(((nf - nc) * 1000000) // nf AS BIGINT) AS prune_ppm FROM ${sumry("nz")} " +
        "UNION ALL " +
        s"SELECT 'sorted', CAST(nf AS BIGINT), nc, rs, rt, " +
        s"CAST(((nf - nc) * 1000000) // nf AS BIGINT) FROM ${sumry("sz")}"
    }),

    // salted skew join: the build side replicates per salt, the probe's
    // hub keys spread over 8 reducers; semantics are EXACTLY the plain
    // inner join (missing dim type drops), which the oracle checks
    QuerySpec("j7_salted_join", (s, dir) => {
      import s.implicits._
      val dim = saltedDimLits.toDF("event_type", "weight")
      Skew.saltedJoin(
          events(s, dir).select(col("event_type"), col("event_id"),
            col("user_id")),
          dim, "event_type", col("event_id"), salts = saltedJoinSalts)
        .groupBy(col("event_type"), col("weight"))
        .agg(count(lit(1)).as("n"),
          count_distinct(col("user_id")).as("n_users"))
    },
      // the salted join IS the plain inner join — the oracle proves it
      (s"WITH d(event_type, weight) AS (VALUES ${saltedDimLits.map { case (t, w) => s"('$t', $w)" }.mkString(", ")}) " +
        "SELECT event_type, weight, count(*) AS n, " +
        "count(DISTINCT user_id) AS n_users " +
        "FROM events JOIN d USING (event_type) GROUP BY event_type, weight")),

    // key-skew profile: the pre-shuffle diagnostic — exact per-key counts,
    // integer-ppm row share, skew factor vs the mean key, suggested salt
    // fan-out for Skew.saltedAgg; top-k via TakeOrderedAndProject
    QuerySpec("skew_report", (s, dir) =>
      Skew.skewReport(events(s, dir), col("event_type"), topK = skewTopK,
        maxSalts = skewMaxSalts),
      s"""WITH c AS (SELECT CAST(event_type AS VARCHAR) AS key,
        |           count(*) AS n_rows FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total_rows,
        |      count(*) AS n_keys FROM c),
        |top AS (SELECT * FROM c, t ORDER BY n_rows DESC, key LIMIT $skewTopK)
        |SELECT CAST(row_number() OVER (ORDER BY n_rows DESC, key) AS INTEGER) AS rank,
        |  key, n_rows,
        |  (1000000 * n_rows) // total_rows AS share_ppm,
        |  n_rows // greatest(total_rows // n_keys, 1) AS skew_x,
        |  least(greatest(n_rows // greatest(total_rows // n_keys, 1), 1), $skewMaxSalts) AS suggested_salts
        |FROM top""".stripMargin),

    // ---- SQL surface (spark.sql), filter pushdown to the scan -----------
    QuerySpec("q1_pricing", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(PricingSql)
    },
      PricingSql.replace("\n", " ")),

    // TPC-H Q5 shape — the classic snowflake probe: lineitem fact against
    // five dims, region filter pruning through nation; every dim side is
    // broadcast-sized, the only data shuffle is the final n_name agg
    QuerySpec("q5_local_volume", (s, dir) => {
      Seq("customer", "orders", "lineitem", "supplier", "nation", "region")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(LocalVolumeSql)
    },
      LocalVolumeSql.replace("\n", " ")),

    // TPC-H Q7 shape — cross-nation shipping volume by year: the
    // disjunctive nation-pair predicate + two aliased joins against the
    // same dim (both broadcast)
    QuerySpec("q7_nation_volume", (s, dir) => {
      Seq("supplier", "lineitem", "orders", "customer", "nation")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(NationVolumeSql)
    },
      NationVolumeSql.replace("\n", " ")),

    // TPC-H Q10 shape — returned-item revenue per customer, top-20 with a
    // total tie-break order (TakeOrdered, no global sort)
    QuerySpec("q10_returned", (s, dir) => {
      Seq("customer", "orders", "lineitem", "nation")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(ReturnedItemsSql)
    },
      ReturnedItemsSql.replace("\n", " ")),

    // TPC-H Q14 shape — promo revenue split: fact⋈part with conditional
    // aggregation (the ratio is left in exact µ sums — cross-engine
    // integer division spellings differ)
    QuerySpec("q14_promo", (s, dir) => {
      Seq("lineitem", "part")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(PromoRevenueSql)
    },
      PromoRevenueSql.replace("\n", " ")),

    // TPC-H Q19 shape — the disjunction-of-conjunctions predicate probe:
    // three (brand, size, quantity-band) clauses OR'd across the
    // fact⋈part join; the join-independent parts must still push to the
    // scans while the cross-table disjunction evaluates post-join
    QuerySpec("q19_discounted", (s, dir) => {
      Seq("lineitem", "part")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(DiscountedRevenueSql)
    },
      DiscountedRevenueSql.replace("\n", " ")),

    // TPC-H Q18 shape — large-order skim: the HAVING subquery becomes a
    // semi-join on the aggregated quantity before the 3-way join
    QuerySpec("q18_large_orders", (s, dir) => {
      Seq("customer", "orders", "lineitem")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(LargeOrdersSql)
    },
      LargeOrdersSql.replace("\n", " ")),

    // TPC-H Q6 shape — the canonical pushdown probe: every predicate
    // reaches the parquet scan (date range, discount band, quantity cap),
    // then one scalar aggregate; revenue floors per-row to µ BEFORE the
    // order-free decimal sum (the q3 discipline)
    QuerySpec("q6_forecast_revenue", (s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(ForecastRevenueSql)
    },
      // the SAME SQL text runs on both engines (the q1 pattern)
      ForecastRevenueSql.replace("\n", " ")),

    // TPC-H Q13 shape — outer-join count distribution (filter in ON)
    QuerySpec("q13_order_dist", (s, dir) => {
      Seq("customer", "orders")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(OrderDistSql)
    },
      OrderDistSql.replace("\n", " ")),

    // TPC-H Q17 shape — correlated per-part average decorrelation
    QuerySpec("q17_small_qty", (s, dir) => {
      Seq("lineitem", "part")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(SmallQtySql)
    },
      SmallQtySql.replace("\n", " ")),

    // TPC-H Q21 shape — self semi-join + self anti-join on the fact
    QuerySpec("q21_sole_return", (s, dir) => {
      Seq("supplier", "lineitem", "orders", "nation")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(SoleReturnSql)
    },
      SoleReturnSql.replace("\n", " ")),

    // TPC-H Q22 shape — scalar-avg gate + anti-join on restricted orders
    QuerySpec("q22_dormant_customers", (s, dir) => {
      Seq("customer", "orders")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(DormantCustomersSql)
    },
      DormantCustomersSql.replace("\n", " ")),

    // TPC-H Q2 shape — correlated min over the shared derived table
    QuerySpec("q2_min_cost_supplier", (s, dir) => {
      Seq("lineitem", "part", "supplier")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(MinCostSupplierSql)
    },
      MinCostSupplierSql.replace("\n", " ")),

    // TPC-H Q20 shape — nested semi-join chain with a HAVING gate
    QuerySpec("q20_excess_stock", (s, dir) => {
      Seq("supplier", "nation", "lineitem", "part")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(ExcessStockSql)
    },
      ExcessStockSql.replace("\n", " ")),

    // TPC-H Q11 shape — groups gated by a global aggregate of themselves
    QuerySpec("q11_important_parts", (s, dir) => {
      Seq("lineitem", "supplier")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(ImportantPartsSql)
    },
      ImportantPartsSql.replace("\n", " ")),

    // TPC-H Q15 shape — equality with the max over the aggregated view
    QuerySpec("q15_top_supplier", (s, dir) => {
      Seq("lineitem", "supplier")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(TopSupplierSql)
    },
      TopSupplierSql.replace("\n", " ")),

    // TPC-H Q16 shape — NOT IN ⇒ null-aware anti join + count distinct
    QuerySpec("q16_supplier_count", (s, dir) => {
      Seq("lineitem", "supplier", "part")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(SupplierCountSql)
    },
      SupplierCountSql.replace("\n", " ")),

    // TPC-H Q8 shape — conditional market share inside the snowflake
    QuerySpec("q8_market_share", (s, dir) => {
      Seq("lineitem", "orders", "customer", "supplier", "nation", "region")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(MarketShareSql)
    },
      MarketShareSql.replace("\n", " ")),

    // TPC-H Q9 shape — 5-way join, derived profit, nation×year rollup
    QuerySpec("q9_product_profit", (s, dir) => {
      Seq("lineitem", "orders", "part", "supplier", "nation")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(ProfitSql)
    },
      ProfitSql.replace("\n", " ")),

    // TPC-H Q12 shape — two-way conditional counts on a lateness window
    QuerySpec("q12_late_lines", (s, dir) => {
      Seq("orders", "lineitem")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(LateLinesSql)
    },
      LateLinesSql.replace("\n", " ")),

    // Pareto concentration: the top decile of customers (by exact integer
    // order value) and their revenue share — the p90 cut is an exact
    // type-1 quantile from the sort-free lock-step bisection
    // (Profile.exactQuantileValues) folded in as a LITERAL, so the plan
    // carries no percentile aggregate (no single-buffer sort) — the
    // rfm/rank_zorder precedent
    QuerySpec("orders_pareto", (s, dir) => {
      val perCust = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * lit(1000000d))
          .cast("decimal(38,0)")).as("_v"))
        .select(col("o_custkey"), col("_v"), col("_v").cast("long").as("_vl"))
      val thr = Profile.exactQuantileValues(perCust, Seq("_vl"),
        Seq(900000L))(("_vl", 900000L))
      perCust.agg(
        count(lit(1)).as("n_customers"),
        count(when(col("_vl") >= lit(thr), 1)).as("n_top"),
        min(lit(thr)).as("threshold_us"),
        Sampling.intDivExact(
          sum(when(col("_vl") >= lit(thr), col("_v"))
            .otherwise(lit(0).cast("decimal(38,0)"))) * lit(1000000L),
          sum(col("_v"))).as("top_share_ppm"))
    },
      // per-customer value as exact integer µ, decile cut as the type-1
      // order statistic at k = max(1, ⌈0.9·n⌉) — the rfm oracle pattern
      ("WITH pc AS (SELECT o_custkey, " +
        "sum(CAST(floor(o_totalprice * 1000000) AS HUGEINT)) AS v FROM orders GROUP BY 1), " +
        "nn AS (SELECT count(*) AS n FROM pc), " +
        "kk AS (SELECT greatest(1, (900000 * n + 999999) // 1000000) AS k FROM nn), " +
        "rr AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM pc), " +
        "th AS (SELECT CAST(rr.v AS BIGINT) AS thr FROM rr JOIN kk ON rr.rn = kk.k) " +
        "SELECT count(*) AS n_customers, " +
        "count(CASE WHEN v >= thr THEN 1 END) AS n_top, " +
        "CAST(min(thr) AS BIGINT) AS threshold_us, " +
        "CAST((sum(CASE WHEN v >= thr THEN v ELSE 0 END) * 1000000) // sum(v) AS BIGINT) AS top_share_ppm " +
        "FROM pc, th")),

    // level-2 A-Priori basket mining over order line items: top pairs by
    // support with DECIMAL-exact ppm lift (the wide-integer rule — see
    // Basket's scaladoc)
    QuerySpec("orders_basket_pairs", (s, dir) =>
      Basket.pairStats(t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        minSupport = 2, topK = 100),
      """WITH b AS (SELECT DISTINCT l_orderkey AS bid, l_partkey AS item
        |           FROM lineitem),
        |n AS (SELECT count(DISTINCT bid) AS nb FROM b),
        |ci AS (SELECT item, count(*) AS c FROM b GROUP BY item),
        |b2 AS (SELECT b.* FROM b JOIN (SELECT bid FROM b GROUP BY bid
        |       HAVING count(*) <= 1000) ok USING (bid)),
        |p AS (SELECT a.item AS item_a, c.item AS item_b, count(*) AS support
        |      FROM b2 a JOIN b2 c ON a.bid = c.bid AND a.item < c.item
        |      GROUP BY item_a, item_b HAVING count(*) >= 2)
        |SELECT item_a, item_b, support,
        |  CAST((1000000::HUGEINT * nb * support) // (ca.c::HUGEINT * cb.c)
        |       AS BIGINT) AS lift_ppm
        |FROM p JOIN ci ca ON p.item_a = ca.item
        |       JOIN ci cb ON p.item_b = cb.item CROSS JOIN n
        |ORDER BY support DESC, item_a, item_b LIMIT 100""".stripMargin),

    // level-3 A-Priori: item triples with cohesion vs the weakest pair —
    // nested posexplode emission, basket cap bounds the m³ blowup
    QuerySpec("orders_basket_triples", (s, dir) =>
      Basket.tripleStats(t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        minSupport = tripleMinSupport, topK = tripleTopK),
      // triple emission as a 3-way ordered self-join over capped baskets;
      // cohesion via HUGEINT // against the least pair support
      ("WITH bi AS (SELECT DISTINCT l_orderkey AS bid, l_partkey AS item FROM lineitem), " +
        "sz AS (SELECT bid FROM bi GROUP BY bid HAVING count(*) <= 1000), " +
        "b2 AS (SELECT bi.* FROM bi JOIN sz USING (bid)), " +
        "p AS (SELECT x.item AS a, y.item AS b, count(*) AS ps FROM b2 x " +
        "JOIN b2 y ON x.bid = y.bid AND x.item < y.item GROUP BY 1, 2), " +
        "t AS (SELECT x.item AS a, y.item AS b, z.item AS c, count(*) AS support " +
        "FROM b2 x JOIN b2 y ON x.bid = y.bid AND x.item < y.item " +
        "JOIN b2 z ON y.bid = z.bid AND y.item < z.item GROUP BY 1, 2, 3 " +
        s"HAVING count(*) >= $tripleMinSupport), " +
        "j AS (SELECT t.*, pab.ps AS pab, pac.ps AS pac, pbc.ps AS pbc FROM t " +
        "JOIN p pab ON t.a = pab.a AND t.b = pab.b " +
        "JOIN p pac ON t.a = pac.a AND t.c = pac.b " +
        "JOIN p pbc ON t.b = pbc.a AND t.c = pbc.b) " +
        "SELECT a AS item_a, b AS item_b, c AS item_c, support, " +
        "least(pab, pac, pbc) AS min_pair_support, " +
        "CAST((CAST(support AS HUGEINT) * 1000000) // least(pab, pac, pbc) AS BIGINT) AS cohesion_ppm " +
        s"FROM j ORDER BY support DESC, a, b, c LIMIT $tripleTopK")),

    // per-source monitoring: docs/tokens/mean-quality/language-spread by
    // origin — the dashboard aggregation behind mixture decisions (mean
    // over DECIMAL so the double sum order cannot flap the hash)
    // referential-integrity audit over the TPC-H graph: per FK edge one
    // row-preserving left join + conditional count; NULL FKs are orphans
    QuerySpec("integrity_report", (s, dir) => {
      def tb(n: String) = t(s, dir, n)
      Checks.fkIntegrity(Seq(
        ("lineitem.l_orderkey", tb("lineitem"), "l_orderkey",
          tb("orders"), "o_orderkey"),
        ("lineitem.l_partkey", tb("lineitem"), "l_partkey",
          tb("part"), "p_partkey"),
        ("lineitem.l_suppkey", tb("lineitem"), "l_suppkey",
          tb("supplier"), "s_suppkey"),
        ("orders.o_custkey", tb("orders"), "o_custkey",
          tb("customer"), "c_custkey"),
        ("customer.c_nationkey", tb("customer"), "c_nationkey",
          tb("nation"), "n_nationkey"),
        ("supplier.s_nationkey", tb("supplier"), "s_nationkey",
          tb("nation"), "n_nationkey"),
        ("nation.n_regionkey", tb("nation"), "n_regionkey",
          tb("region"), "r_regionkey")))
    },
      // one LEFT JOIN + conditional count per FK edge (parents are PKs, so
      // the join is row-preserving); NULL FKs count as orphans
      {
      def arm(name: String, child: String, fk: String, parent: String,
              pk: String) =
        s"SELECT '$name' AS fk_name, count(*) AS n_rows, " +
          s"count(CASE WHEN p.$pk IS NULL THEN 1 END) AS n_orphans, " +
          s"CASE WHEN count(*) > 0 THEN (count(CASE WHEN p.$pk IS NULL THEN 1 END) * 1000000) // count(*) " +
          s"ELSE 0 END AS orphan_ppm " +
          s"FROM $child c LEFT JOIN $parent p ON c.$fk = p.$pk"
      Seq(
        arm("lineitem.l_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        arm("lineitem.l_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
        arm("lineitem.l_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        arm("orders.o_custkey", "orders", "o_custkey", "customer", "c_custkey"),
        arm("customer.c_nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
        arm("supplier.s_nationkey", "supplier", "s_nationkey", "nation", "n_nationkey"),
        arm("nation.n_regionkey", "nation", "n_regionkey", "region", "r_regionkey"))
        .mkString(" UNION ALL ")
    }),

    // relational DIVISION (the ALL-quantifier): orders where EVERY
    // lineitem shipped by the cutoff, rolled up per priority in exact
    // floor-ppm — one per-order conditional agg, no anti-join cascade
    QuerySpec("q4_fill_rate", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("_n"),
          count(when(col("l_shipdate").cast("date") <=
            lit(q3Date).cast("date"), 1)).as("_ok"))
        .select(col("l_orderkey"),
          (col("_n") === col("_ok")).cast("long").as("_full"))
      t(s, dir, "orders")
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("_full")).as("n_fully_shipped"),
          Sampling.intDivExact(
            sum(col("_full")).cast("decimal(38,0)") * lit(1000000L),
            count(lit(1))).as("fill_ppm"))
    },
      // the ALL-quantifier as a per-order conditional count equality
      (s"WITH li AS (SELECT l_orderkey, count(*) AS n, " +
        s"count(CASE WHEN CAST(l_shipdate AS DATE) <= DATE '$q3Date' THEN 1 END) AS ok " +
        "FROM lineitem GROUP BY 1), " +
        "f AS (SELECT o_orderpriority, CASE WHEN n = ok THEN 1 ELSE 0 END AS fl " +
        "FROM orders JOIN li ON o_orderkey = l_orderkey) " +
        "SELECT o_orderpriority, count(*) AS n_orders, " +
        "CAST(sum(fl) AS BIGINT) AS n_fully_shipped, " +
        "CAST((sum(CAST(fl AS HUGEINT)) * 1000000) // count(*) AS BIGINT) AS fill_ppm " +
        "FROM f GROUP BY 1")),

    // shipping-priority revenue (the classic 3-way join + top-k): per-row
    // revenue floors to exact integer µ BEFORE the decimal sum, so the
    // aggregation is order-free; AQE picks the filtered-dim broadcast
    QuerySpec("q3_shipping", (s, dir) => {
      val cust = t(s, dir, "customer")
        .filter(col("c_mktsegment") === q3Segment)
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") < lit(q3Date).cast("date"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") > lit(q3Date).cast("date"))
      val revUs = floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * lit(1000000d)).cast("decimal(38,0)")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          col("o_orderdate").cast("date").cast("string").as("o_date"),
          col("o_orderpriority"))
        .agg(sum(revUs).cast("long").as("revenue_us"))
        .orderBy(col("revenue_us").desc, col("l_orderkey"))
        .limit(10)
    },
      // per-row floor to integer µ BEFORE the sum (the one multiply chain is
      // bit-identical IEEE in both engines); total-order top-10
      ("SELECT l_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_date, " +
        "o_orderpriority, " +
        "CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 1000000) AS HUGEINT)) AS BIGINT) AS revenue_us " +
        "FROM customer, orders, lineitem " +
        s"WHERE c_mktsegment = '$q3Segment' AND c_custkey = o_custkey " +
        "AND l_orderkey = o_orderkey " +
        s"AND CAST(o_orderdate AS DATE) < DATE '$q3Date' " +
        s"AND CAST(l_shipdate AS DATE) > DATE '$q3Date' " +
        "GROUP BY 1, 2, 3 ORDER BY revenue_us DESC, l_orderkey LIMIT 10")),

    // generic ingest profiler: per column null/distinct counts + native-
    // typed min/max, ONE aggregation over one scan, fan-out to rows after
    // (exact distincts = oracle mode; approx=true is the 100 TB default)
    QuerySpec("table_profile", (s, dir) =>
      Profile.columnProfile(t(s, dir, "documents"),
        Seq("doc_id", "text", "lang", "source", "n_chars")),
      // per-column profile as UNION ALL arms over one logical table — the
      // engine does it in one scan, the oracle's clarity matters more than
      // its plan; min/max aggregate on the native type then render to text
      {
      def arm(c: String) =
        s"SELECT '$c' AS col_name, count(*) AS n_rows, " +
          s"count(*) - count($c) AS n_nulls, " +
          s"count(DISTINCT $c) AS n_distinct, " +
          s"CAST(min($c) AS VARCHAR) AS min_value, " +
          s"CAST(max($c) AS VARCHAR) AS max_value FROM documents"
      Seq("doc_id", "text", "lang", "source", "n_chars")
        .map(arm).mkString(" UNION ALL ")
    }),

    // EXACT order-statistic quantiles with NO sort anywhere: driver-side
    // bisection on the value domain, one conditional-count scan per
    // round, all open quantiles counted in the same scan — the 100 TB
    // path for contractual percentiles where approx_percentile won't do
    QuerySpec("orders_price_quantiles_exact", (s, dir) =>
      Profile.exactQuantilesBisect(
        t(s, dir, "orders").select(
          floor(col("o_totalprice") * lit(1000000d)).cast("long")
            .as("price_us")),
        "price_us", Seq(500000L, 900000L, 990000L)),
      // type-1 (lower) quantile = k-th order statistic, k = max(1, ⌈q·n⌉):
      // the oracle materializes it by rank; the engine bisects — same value
      ("WITH t AS (SELECT CAST(floor(o_totalprice * 1000000) AS BIGINT) AS v FROM orders), " +
        "nn AS (SELECT count(*) AS n FROM t), " +
        "q(q_ppm) AS (VALUES (500000), (900000), (990000)), " +
        "kk AS (SELECT CAST(q_ppm AS BIGINT) AS q_ppm, " +
        "greatest(1, (q_ppm * n + 999999) // 1000000) AS k FROM q, nn), " +
        "r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM t) " +
        "SELECT kk.q_ppm, CAST(kk.k AS BIGINT) AS k, r.v AS value " +
        "FROM kk JOIN r ON r.rn = kk.k ORDER BY q_ppm")),

    // join-skew forecast: keys ranked by expected output fanout BEFORE
    // the join runs — the straggler-reducer early warning
    QuerySpec("skew_join_forecast", (s, dir) => {
      val ev = events(s, dir)
      Skew.joinForecast(
        ev.filter(col("event_type") === "click"), col("user_id"),
        ev.filter(col("event_type") === "purchase"), col("user_id"),
        topK = joinForecastK)
    },
      ("WITH l AS (SELECT user_id AS key, count(*) AS left_rows FROM events " +
        "WHERE event_type = 'click' GROUP BY 1), " +
        "r AS (SELECT user_id AS key, count(*) AS right_rows FROM events " +
        "WHERE event_type = 'purchase' GROUP BY 1) " +
        "SELECT key, left_rows, right_rows, " +
        "CAST(CAST(left_rows AS HUGEINT) * right_rows AS BIGINT) AS out_rows " +
        s"FROM l JOIN r USING (key) ORDER BY out_rows DESC, key LIMIT $joinForecastK")),

    // latest-wins upsert (the MERGE INTO shape): one max(struct) hash
    // aggregate per key, no per-key sort window
    QuerySpec("dim_upsert", (s, dir) => {
      val base = t(s, dir, "orders").select(col("o_orderkey"),
        floor(col("o_totalprice") * lit(1000000d)).as("price_us"),
        lit(0).as("version"))
      val updates = base
        .filter(pmod(col("o_orderkey"), lit(upsertMod)) === 0)
        .select(col("o_orderkey"), (col("price_us") * 2).as("price_us"),
          lit(1).as("version"))
      Scd.upsertLatest(base, updates, Seq("o_orderkey"), "version")
    },
      ("WITH b AS (SELECT o_orderkey, CAST(floor(o_totalprice * 1000000) AS BIGINT) AS price_us, " +
        "0 AS version FROM orders), " +
        s"u AS (SELECT o_orderkey, price_us * 2 AS price_us, 1 AS version FROM b WHERE o_orderkey % $upsertMod = 0), " +
        "al AS (SELECT * FROM b UNION ALL SELECT * FROM u) " +
        "SELECT o_orderkey, price_us, version FROM " +
        // payload (price_us) joins the ORDER BY so the oracle pins the same
        // max(struct(version, payload)) total order Scd.upsertLatest uses —
        // without it a version tie would make the oracle nondeterministic
        "(SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC, price_us DESC) AS rn FROM al) " +
        "WHERE rn = 1")),

    // classic running-total window: cumulative customer value in
    // (date, orderkey) total order; per-row µ floor keeps prefix sums
    // exact integers
    QuerySpec("w8_running_total", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          floor(col("o_totalprice") * lit(1000000d)).cast("decimal(38,0)")
            .as("_p"))
        .withColumn("cum_value_us", sum(col("_p")).over(w).cast("long"))
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").cast("string").as("o_date"),
          col("cum_value_us"))
    },
      ("SELECT o_custkey, o_orderkey, " +
        "CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_date, " +
        "CAST(sum(CAST(floor(o_totalprice * 1000000) AS HUGEINT)) OVER " +
        "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_value_us " +
        "FROM orders")),

    // MERGE INTO / SCD-1 upsert as a snapshot rewrite: the 2001 order
    // activity updates each customer's balance and stamps a last_status
    // (null-in-update = no change); synthetic onboarding rows exercise
    // the insert leg; untouched customers carry forward. One full-outer
    // join — the MERGE shape that scales without a table format
    QuerySpec("j8_merge_upsert", (s, dir) => {
      val target = t(s, dir, "customer").select(col("c_custkey"),
        col("c_name"),
        floor(col("c_acctbal") * lit(1000000d)).cast("long").as("acctbal_us"),
        col("c_mktsegment"))
      val changed = t(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") >=
          lit("2001-01-01").cast("date"))
        .groupBy(col("o_custkey"))
        .agg(max_by(col("o_orderstatus"), col("o_orderkey")).as("last_status"),
          sum(floor(col("o_totalprice") * lit(1000000d))
            .cast("decimal(38,0)")).cast("long").as("acctbal_us"))
      // insert-leg keys live in the NEGATIVE key space: custkeys are
      // positive at every SF, so -o_custkey can never collide with a
      // real key or duplicate across the union (an additive offset
      // would collide once custkeys exceed it — scale-safety rule)
      val updates = changed.select(col("o_custkey").as("c_custkey"),
          col("last_status"), col("acctbal_us"))
        .unionByName(changed.select(
          (-col("o_custkey")).as("c_custkey"),
          col("last_status"), lit(0L).as("acctbal_us")))
      Merge.upsert(target, updates, "c_custkey")
    },
      // same full-outer shape, same arg_max version stamp
      ("WITH tgt AS (SELECT c_custkey, c_name, " +
        "CAST(floor(c_acctbal * 1000000) AS BIGINT) AS acctbal_us, c_mktsegment FROM customer), " +
        "up0 AS (SELECT o_custkey AS c_custkey, " +
        "arg_max(o_orderstatus, o_orderkey) AS last_status, " +
        "CAST(sum(CAST(floor(o_totalprice * 1000000) AS HUGEINT)) AS BIGINT) AS acctbal_us " +
        "FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '2001-01-01' GROUP BY 1), " +
        "up AS (SELECT * FROM up0 UNION ALL " +
        "SELECT -c_custkey, last_status, 0 FROM up0) " +
        "SELECT COALESCE(t.c_custkey, u.c_custkey) AS c_custkey, " +
        "t.c_name, COALESCE(u.acctbal_us, t.acctbal_us) AS acctbal_us, " +
        "t.c_mktsegment, u.last_status " +
        "FROM tgt t FULL OUTER JOIN up u ON t.c_custkey = u.c_custkey")),

    // SCD type-2 from a change feed: collapse each user's event stream
    // into validity intervals per run of equal event_type (island
    // detection via lag + running change count), valid_to = the next
    // run's start (NULL = current). Both windows ride ONE user-keyed
    // shuffle; (ts, event_id) order makes equal-timestamp runs
    // deterministic. The warehouse dimension-versioning pattern.
    QuerySpec("w9_scd2_intervals", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val wRow = W.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val wGrp = W.partitionBy(col("user_id")).orderBy(col("_grp"))
      events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"))
        .withColumn("_chg",
          when(lag(col("event_type"), 1).over(wRow).isNull ||
            lag(col("event_type"), 1).over(wRow) =!= col("event_type"), 1)
            .otherwise(0))
        .withColumn("_grp", sum(col("_chg")).over(wRow))
        .groupBy(col("user_id"), col("_grp"), col("event_type"))
        .agg(min(col("ts_us")).as("valid_from_us"),
          count(lit(1)).as("n_events"))
        .withColumn("valid_to_us",
          lead(col("valid_from_us"), 1).over(wGrp))
        .select(col("user_id"), col("event_type"), col("valid_from_us"),
          col("valid_to_us"), col("n_events"))
    },
      // same island detection, same (ts, event_id) tie-break
      ("WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM events), " +
        "c AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL " +
        "OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)), " +
        "g AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS grp FROM c), " +
        "runs AS (SELECT user_id, grp, event_type, " +
        "CAST(min(ts_us) AS BIGINT) AS valid_from_us, count(*) AS n_events " +
        "FROM g GROUP BY 1, 2, 3) " +
        "SELECT user_id, event_type, valid_from_us, " +
        "lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY grp) AS valid_to_us, " +
        "CAST(n_events AS BIGINT) AS n_events FROM runs")),

    // supplier-concentration per part: the SAME Simpson operator as
    // corpus_diversity pointed at the supply chain — single-supplier
    // parts are the takedown-risk analogue
    QuerySpec("parts_supplier_diversity", (s, dir) =>
      Sampling.sourceConcentration(t(s, dir, "lineitem"),
        col("l_partkey"), col("l_suppkey"))
        .orderBy(col("simpson_ppm").desc, col("stratum")).limit(50),
      // the corpus_diversity Simpson oracle over the supply chain; the
      // filter keeps fully-single-sourced parts
      ("WITH p AS (SELECT l_partkey AS stratum, l_suppkey AS source, count(*) AS c " +
        "FROM lineitem GROUP BY 1, 2), " +
        "a AS (SELECT stratum, sum(c) AS n_docs, count(*) AS n_sources, " +
        "sum(CAST(c AS HUGEINT) * c) AS sq, max(c) AS cmax FROM p GROUP BY 1), " +
        "r AS (SELECT stratum, CAST(n_docs AS BIGINT) AS n_docs, n_sources, " +
        "CAST((sq * 1000000) // (CAST(n_docs AS HUGEINT) * n_docs) AS BIGINT) AS simpson_ppm, " +
        "CAST((CAST(cmax AS HUGEINT) * 1000000) // CAST(n_docs AS HUGEINT) AS BIGINT) AS top_share_ppm FROM a) " +
        "SELECT * FROM r ORDER BY simpson_ppm DESC, stratum LIMIT 50")),

    // full-outer reconciliation: CRM active accounts vs the order ledger
    // (both-only populations are real on this data) — one outer hash
    // join + one conditional-count aggregate
    QuerySpec("j8_outer_join", (s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_acctbal") >= 0)
        .select(col("c_custkey"))
      val o = t(s, dir, "orders").select(col("o_custkey")).distinct()
      c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
        .agg(
          count(when(col("c_custkey").isNotNull &&
            col("o_custkey").isNotNull, 1)).as("n_matched"),
          count(when(col("o_custkey").isNull, 1)).as("n_customer_only"),
          count(when(col("c_custkey").isNull, 1)).as("n_order_only"))
    },
      ("WITH c AS (SELECT c_custkey FROM customer WHERE c_acctbal >= 0), " +
        "o AS (SELECT DISTINCT o_custkey FROM orders) " +
        "SELECT count(CASE WHEN c_custkey IS NOT NULL AND o_custkey IS NOT NULL THEN 1 END) AS n_matched, " +
        "count(CASE WHEN o_custkey IS NULL THEN 1 END) AS n_customer_only, " +
        "count(CASE WHEN c_custkey IS NULL THEN 1 END) AS n_order_only " +
        "FROM c FULL OUTER JOIN o ON c_custkey = o_custkey")),

    // A9 beyond-parity: ROLLUP with grouping markers — subtotal frames
    // in ONE aggregation pass (Expand + partial agg), not one query per
    // level; exact decimal sum for order-independence
    QuerySpec("a9_rollup", (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).as("sum_qty"),
          grouping_id(col("l_returnflag"), col("l_linestatus")).as("gid"))
        .select(col("l_returnflag"), col("l_linestatus"), col("n_rows"),
          col("sum_qty").cast("double").as("sum_qty"), col("gid")),
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus)
        |       AS BIGINT) AS gid
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin))
}
