package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Join / window / set-op / multi-dim aggregation surface over the star
  * schema. The reference itself has no joins (SURVEY.md §2.3) — this is the
  * extension surface its gold table would need the moment a second entity
  * appears, built scale-first:
  *
  *  - dimension joins are explicit `broadcast()` (region/nation/supplier/
  *    customer are tiny relative to fact tables at any SF; at 100 TB the fact
  *    side streams through without a shuffle),
  *  - fact-fact joins (lineitem ⋈ orders) are left to Catalyst/AQE, which
  *    picks sort-merge with both sides hash-partitioned on the join key —
  *    the right call at scale,
  *  - window top-k uses `row_number` + filter, which Spark executes with a
  *    per-partition sort after hash-partitioning by the window key; no
  *    global sort.
  */
object RelationalBattery {
  import QueryDef._

  /** DERIVED partsupp: the driver testdata carries no partsupp table, so the
    * TPC-H Q2/Q11/Q16 shapes derive one deterministically from `part` ×
    * `supplier` — 4 supplier rows per part via modular arithmetic, availqty
    * and supplycost as pure integer functions of (partkey, suppkey). The
    * oracle SQL below computes the SAME rows with the SAME arithmetic, so
    * the queries stay fully hash-oracled (supplycost is an integer-VALUED
    * double: products and sums stay exact, immune to cross-engine float
    * summation order). Scale shape: |partsupp| = 4·|part| — a projection +
    * 4-row explode off the part scan, one broadcast of the 1-row supplier
    * count; never a supplier-table product. */
  private def partsuppDf(s: org.apache.spark.sql.SparkSession, d: String) = {
    import s.implicits._
    val scnt = Tables.supplier(s, d).agg(count(lit(1)).as("s_cnt"))
    Tables.part(s, d).select($"p_partkey")
      .crossJoin(broadcast(scnt))
      .select($"p_partkey", explode(sequence(lit(0), lit(3))).as("i"), $"s_cnt")
      .select($"p_partkey".as("ps_partkey"),
        (($"p_partkey" * 13 + $"i" * 7) % $"s_cnt" + 1).as("ps_suppkey"))
      .distinct()
      .select($"ps_partkey", $"ps_suppkey",
        (($"ps_partkey" * 7 + $"ps_suppkey" * 3) % 9999 + 1).cast("long")
          .as("ps_availqty"),
        (($"ps_partkey" * 31 + $"ps_suppkey" * 17) % 1000 + 1).cast("double")
          .as("ps_supplycost"))
  }

  /** The oracle-side twin of [[partsuppDf]], as a WITH-clause body. */
  private val partsuppSql =
    """ps AS (
      |  SELECT ps_partkey, ps_suppkey,
      |    CAST((ps_partkey * 7 + ps_suppkey * 3) % 9999 + 1 AS BIGINT) AS ps_availqty,
      |    CAST((ps_partkey * 31 + ps_suppkey * 17) % 1000 + 1 AS DOUBLE) AS ps_supplycost
      |  FROM (
      |    SELECT DISTINCT p_partkey AS ps_partkey,
      |      (p_partkey * 13 + i * 7) % s_cnt + 1 AS ps_suppkey
      |    FROM part
      |    CROSS JOIN (SELECT count(*) AS s_cnt FROM supplier),
      |    unnest(generate_series(0, 3)) AS u(i)))""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // Broadcast hash join: fact ⋈ small dim, no shuffle on the fact side.
    sql("q_join_broadcast",
      """SELECT c_mktsegment, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(round(sum($"o_totalprice"), 2).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy($"c_mktsegment")
    },

    // Multiway: fact-fact sort-merge (lineitem ⋈ orders) + broadcast dim chain
    // (supplier → nation → region), with a pushed-down date range filter.
    sql("q_join_multiway",
      """SELECT r_name, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.lineitem(s, d)
        .join(
          Tables.orders(s, d)
            .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
                    $"o_orderdate" < lit("1998-01-01").cast("timestamp")),
          $"l_orderkey" === $"o_orderkey")
        .join(broadcast(Tables.supplier(s, d)), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(Tables.nation(s, d)), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(s, d)), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(
          round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy($"r_name", $"n_name")
    },

    // TPC-H Q3 shape: selective filters on both join sides pushed to the
    // scans, fact-fact join, grouped revenue, top-10 by revenue — planned as
    // TakeOrderedAndProject (per-partition heaps, no global sort shuffle).
    sql("q_shipping_priority",
      """SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.customer(s, d).filter($"c_mktsegment" === "BUILDING")
        .join(Tables.orders(s, d)
          .filter($"o_orderdate" < lit("1995-03-15").cast("timestamp")),
          $"c_custkey" === $"o_custkey")
        .join(Tables.lineitem(s, d)
          .filter($"l_shipdate" > lit("1995-03-15").cast("timestamp")),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
        .agg(round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("revenue"))
        .select($"l_orderkey", $"revenue", $"o_orderdate", $"o_orderpriority")
        .orderBy($"revenue".desc, $"l_orderkey")
        .limit(10)
    },

    // TPC-H Q5 shape: six-table star join (two broadcast dim chains + the
    // local-supplier co-nation condition), year filter, revenue rollup.
    // The nation/region chain broadcasts; customer↔supplier nation equality
    // rides the lineitem-orders sort-merge join as a residual.
    sql("q_local_supplier_volume",
      """SELECT n_name, CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
        |    * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin) { (s, d) =>
      import s.implicits._
      // decimal accumulation: per-nation groups sum a year of lineitems —
      // the widest-exposure case of the round(,2) cent-boundary flake
      val rev = $"l_extendedprice".cast("decimal(18,4)") *
        (lit(1) - $"l_discount".cast("decimal(18,4)"))
      Tables.customer(s, d)
        .join(Tables.orders(s, d)
          .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
            $"o_orderdate" < lit("1997-01-01").cast("timestamp")),
          $"c_custkey" === $"o_custkey")
        .join(Tables.lineitem(s, d), $"l_orderkey" === $"o_orderkey")
        .join(Tables.supplier(s, d),
          $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
        .join(broadcast(Tables.nation(s, d)), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(s, d).filter($"r_name" === "ASIA")),
          $"n_regionkey" === $"r_regionkey")
        .groupBy($"n_name")
        .agg(round(sum(rev), 2).cast("double").as("revenue"))
        .orderBy($"revenue".desc, $"n_name")
    },

    // TPC-H Q7 shape: bilateral volume shipping — revenue flowing between
    // two nations by ship year. The OR'd nation-pair predicate rides the
    // fact joins as a residual after both nation dims (filtered to the two
    // names, broadcast) prune supplier/customer rows.
    sql("q_volume_shipping",
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
        |    * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(year(l_shipdate) AS INT) AS l_year, l_extendedprice, l_discount
        |  FROM supplier
        |  JOIN lineitem ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |    AND l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01') t
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) { (s, d) =>
      import s.implicits._
      val rev = $"l_extendedprice".cast("decimal(18,4)") *
        (lit(1) - $"l_discount".cast("decimal(18,4)"))
      val nations = Tables.nation(s, d).filter($"n_name".isin("NATION_1", "NATION_2"))
      val n1 = nations.select($"n_nationkey".as("s_nk"), $"n_name".as("supp_nation"))
      val n2 = nations.select($"n_nationkey".as("c_nk"), $"n_name".as("cust_nation"))
      Tables.supplier(s, d)
        .join(broadcast(n1), $"s_nationkey" === $"s_nk")
        .join(Tables.lineitem(s, d)
          .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
            $"l_shipdate" < lit("1998-01-01").cast("timestamp")),
          $"s_suppkey" === $"l_suppkey")
        .join(Tables.orders(s, d), $"o_orderkey" === $"l_orderkey")
        .join(Tables.customer(s, d), $"c_custkey" === $"o_custkey")
        .join(broadcast(n2), $"c_nationkey" === $"c_nk")
        .filter(($"supp_nation" === "NATION_1" && $"cust_nation" === "NATION_2") ||
          ($"supp_nation" === "NATION_2" && $"cust_nation" === "NATION_1"))
        .groupBy($"supp_nation", $"cust_nation",
          year($"l_shipdate").cast("int").as("l_year"))
        .agg(round(sum(rev), 2).cast("double").as("revenue"))
        .orderBy($"supp_nation", $"cust_nation", $"l_year")
    },

    // TPC-H Q8 shape: national market share — one nation's slice of a
    // region's PROMO-part revenue by order year. Two nation roles (customer
    // nation bounds the region; supplier nation labels the share), part and
    // region dims broadcast.
    sql("q_market_share",
      """SELECT o_year,
        |  round(CAST(sum(CASE WHEN nation = 'NATION_1' THEN volume ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
        |FROM (
        |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |    CAST(l_extendedprice AS DECIMAL(18,4))
        |      * (1 - CAST(l_discount AS DECIMAL(18,4))) AS volume,
        |    n2.n_name AS nation
        |  FROM part
        |  JOIN lineitem ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'ASIA' AND p_type = 'PROMO') t
        |GROUP BY o_year ORDER BY o_year""".stripMargin) { (s, d) =>
      import s.implicits._
      val volume = $"l_extendedprice".cast("decimal(18,4)") *
        (lit(1) - $"l_discount".cast("decimal(18,4)"))
      val custNation = Tables.nation(s, d)
        .select($"n_nationkey".as("c_nk"), $"n_regionkey".as("c_rk"))
      val suppNation = Tables.nation(s, d)
        .select($"n_nationkey".as("s_nk"), $"n_name".as("nation"))
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).filter($"p_type" === "PROMO")),
          $"p_partkey" === $"l_partkey")
        .join(Tables.supplier(s, d), $"s_suppkey" === $"l_suppkey")
        .join(Tables.orders(s, d), $"o_orderkey" === $"l_orderkey")
        .join(Tables.customer(s, d), $"c_custkey" === $"o_custkey")
        .join(broadcast(custNation), $"c_nationkey" === $"c_nk")
        .join(broadcast(Tables.region(s, d).filter($"r_name" === "ASIA")),
          $"c_rk" === $"r_regionkey")
        .join(broadcast(suppNation), $"s_nationkey" === $"s_nk")
        .select(year($"o_orderdate").cast("int").as("o_year"),
          volume.as("volume"), $"nation")
        .groupBy($"o_year")
        .agg(round(
          sum(when($"nation" === "NATION_1", $"volume").otherwise(0)).cast("double") /
          sum($"volume").cast("double"), 6).as("mkt_share"))
        .orderBy($"o_year")
    },

    // TPC-H Q14 shape: promo revenue share — conditional aggregation over a
    // month-windowed fact joined to a broadcastable dimension.
    sql("q_promo_revenue",
      """SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,4))
        |      * (1 - CAST(l_discount AS DECIMAL(18,4))) ELSE 0 END) AS DOUBLE)
        |  / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
        |      * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 4) AS promo_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-09-01'
        |  AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin) { (s, d) =>
      import s.implicits._
      // both sums accumulate in DECIMAL (order-free, exact); only the final
      // ratio is floating — same bits on both engines
      val rev = $"l_extendedprice".cast("decimal(18,4)") *
        (lit(1) - $"l_discount".cast("decimal(18,4)"))
      Tables.lineitem(s, d)
        .filter($"l_shipdate" >= lit("1996-09-01").cast("timestamp") &&
          $"l_shipdate" < lit("1996-10-01").cast("timestamp"))
        .join(broadcast(Tables.part(s, d)), $"l_partkey" === $"p_partkey")
        .agg(round(lit(100.0) *
          sum(when($"p_type" === "PROMO", rev).otherwise(lit(0).cast("decimal(18,4)")))
            .cast("double") /
          sum(rev).cast("double"), 4).as("promo_pct"))
    },

    // TPC-H Q10 shape: returned-item revenue per customer in a quarter —
    // fact-fact join + broadcast dims, grouped top-20.
    sql("q_returned_items",
      """SELECT c_custkey, c_name, n_name,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
        |    * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin) { (s, d) =>
      import s.implicits._
      // revenue summed in DECIMAL: double sums are partition-order-dependent
      // in the last bits, which flips round(,2) at cent boundaries between
      // engines — decimal accumulation is exact and order-free
      val rev = $"l_extendedprice".cast("decimal(18,4)") *
        (lit(1) - $"l_discount".cast("decimal(18,4)"))
      Tables.customer(s, d)
        .join(Tables.orders(s, d)
          .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
            $"o_orderdate" < lit("1996-04-01").cast("timestamp")),
          $"c_custkey" === $"o_custkey")
        .join(Tables.lineitem(s, d).filter($"l_returnflag" === "R"),
          $"l_orderkey" === $"o_orderkey")
        .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
        .groupBy($"c_custkey", $"c_name", $"n_name")
        .agg(round(sum(rev), 2).cast("double").as("revenue"))
        .orderBy($"revenue".desc, $"c_custkey")
        .limit(20)
    },

    // TPC-H Q4 shape: order-priority checking — correlated EXISTS against
    // lineitem (planned as a left-semi join; the l_shipdate > o_orderdate
    // condition rides the join as a residual), then priority counts. The
    // testdata has no commit/receipt dates, so "late" = shipped more than
    // 60 days after the order date.
    sql("q_order_priority_check",
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.orders(s, d)
        .filter($"o_orderdate" >= lit("1996-07-01").cast("timestamp") &&
          $"o_orderdate" < lit("1996-10-01").cast("timestamp"))
        .join(Tables.lineitem(s, d).select($"l_orderkey", $"l_shipdate"),
          $"l_orderkey" === $"o_orderkey" &&
            $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy($"o_orderpriority")
    },

    // TPC-H Q9 shape: product-type profit by supplier nation × order year.
    // (No partsupp table in the testdata, so profit = revenue without the
    // supplycost term.) Part filter pushed into a broadcast dim; supplier →
    // nation chain broadcast; lineitem ⋈ orders is the one fact shuffle.
    sql("q_product_profit",
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
        |    * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey AND p_name LIKE '%red%'
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |JOIN orders ON o_orderkey = l_orderkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      import s.implicits._
      val rev = $"l_extendedprice".cast("decimal(18,4)") *
        (lit(1) - $"l_discount".cast("decimal(18,4)"))
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).filter($"p_name".contains("red"))),
          $"p_partkey" === $"l_partkey")
        .join(broadcast(Tables.supplier(s, d)), $"s_suppkey" === $"l_suppkey")
        .join(broadcast(Tables.nation(s, d)), $"n_nationkey" === $"s_nationkey")
        .join(Tables.orders(s, d), $"o_orderkey" === $"l_orderkey")
        .groupBy($"n_name".as("nation"), year($"o_orderdate").cast("int").as("o_year"))
        .agg(round(sum(rev), 2).cast("double").as("profit"))
        .orderBy($"nation", $"o_year")
    },

    // TPC-H Q13 shape: customer order-count distribution — LEFT OUTER join
    // (so zero-order customers count with c_count = 0) with an extra join
    // predicate that cannot be pushed below the outer join, two stacked
    // aggregations.
    sql("q_cust_order_dist",
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) t
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.customer(s, d).select($"c_custkey")
        .join(Tables.orders(s, d).filter($"o_orderpriority" =!= "1-URGENT")
            .select($"o_custkey", $"o_orderkey"),
          $"c_custkey" === $"o_custkey", "left_outer")
        .groupBy($"c_custkey")
        .agg(count($"o_orderkey").as("c_count"))
        .groupBy($"c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy($"custdist".desc, $"c_count".desc)
    },

    // TPC-H Q18 shape: large-volume customers — IN over a GROUP BY/HAVING
    // subquery (planned as a left-semi join against the pre-aggregated
    // lineitem), then the full three-table join re-aggregates quantity.
    // sum(l_quantity) is exact in double (integral values), so the >
    // threshold never flips between engines.
    sql("q_large_volume_cust",
      """SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
        |  CAST(sum(l_quantity) AS DOUBLE) AS total_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
        |GROUP BY 1, 2, 3, 4, 5
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin) { (s, d) =>
      import s.implicits._
      val bigOrders = Tables.lineitem(s, d)
        .groupBy($"l_orderkey".as("big_ok"))
        .agg(sum($"l_quantity").as("qty"))
        .filter($"qty" > 250)
        .select($"big_ok")
      Tables.orders(s, d)
        .join(bigOrders, $"o_orderkey" === $"big_ok", "left_semi")
        .join(broadcast(Tables.customer(s, d)), $"c_custkey" === $"o_custkey")
        .join(Tables.lineitem(s, d), $"o_orderkey" === $"l_orderkey")
        .groupBy($"c_custkey", $"c_name", $"o_orderkey", $"o_orderdate", $"o_totalprice")
        .agg(sum($"l_quantity").cast("double").as("total_qty"))
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .limit(100)
    },

    // TPC-H Q21 shape: correlated EXISTS + NOT EXISTS self-joins on the fact
    // table — suppliers who were the sole supplier on multi-line orders.
    // EXISTS(other line, same order) plans as a left-semi self-join;
    // NOT EXISTS(other supplier, same order) as a left-anti; both shuffle on
    // the same l_orderkey key so AQE can reuse the exchange.
    sql("q_sole_supplier",
      """SELECT s_suppkey, s_name, count(DISTINCT l1.l_orderkey) AS n_solo_orders
        |FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_linenumber <> l1.l_linenumber)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY 1, 2 ORDER BY n_solo_orders DESC, s_suppkey""".stripMargin) { (s, d) =>
      import s.implicits._
      val l1 = Tables.lineitem(s, d)
        .select($"l_orderkey", $"l_suppkey", $"l_linenumber")
      val l2 = l1.toDF("ok2", "sk2", "ln2")
      val l3 = l1.toDF("ok3", "sk3", "ln3")
      l1
        .join(l2, $"ok2" === $"l_orderkey" && $"ln2" =!= $"l_linenumber", "left_semi")
        .join(l3, $"ok3" === $"l_orderkey" && $"sk3" =!= $"l_suppkey", "left_anti")
        .join(broadcast(Tables.supplier(s, d)), $"s_suppkey" === $"l_suppkey")
        .groupBy($"s_suppkey", $"s_name")
        .agg(countDistinct($"l_orderkey").as("n_solo_orders"))
        .orderBy($"n_solo_orders".desc, $"s_suppkey")
    },

    // TPC-H Q22 shape: above-average-balance customers gone inactive —
    // scalar aggregate subquery (broadcast single row) + anti join against
    // recent orders. The threshold compares c_acctbal · n against an exact
    // DECIMAL sum, so no float-boundary row can flip between engines.
    sql("q_inactive_rich_cust",
      """WITH stats AS (SELECT count(*) AS n_pos,
        |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_pos
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT CAST(c_custkey % 5 AS INT) AS seg, count(*) AS n_cust,
        |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_bal
        |FROM customer, stats
        |WHERE c_acctbal * n_pos > total_pos
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-06-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import s.implicits._
      val cust = Tables.customer(s, d)
      val stats = cust.filter($"c_acctbal" > 0)
        .agg(count(lit(1)).as("n_pos"),
          sum($"c_acctbal".cast("decimal(18,4)")).cast("double").as("total_pos"))
      cust
        .crossJoin(broadcast(stats))
        .filter($"c_acctbal" * $"n_pos" > $"total_pos")
        .join(Tables.orders(s, d)
            .filter($"o_orderdate" >= lit("2000-06-01").cast("timestamp"))
            .select($"o_custkey"),
          $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy(($"c_custkey" % 5).cast("int").as("seg"))
        .agg(count(lit(1)).as("n_cust"),
          round(sum($"c_acctbal".cast("decimal(18,4)")), 2).cast("double").as("total_bal"))
        .orderBy($"seg")
    },

    // TPC-H Q6 shape: the forecasting-revenue-change scan — one table, three
    // pushed-down predicates, one DECIMAL product sum. The whole query is a
    // single codegen'd scan stage; at 100 TB it is bandwidth-bound with
    // zero shuffle beyond the final partial-sum merge.
    sql("q_forecast_revenue",
      """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
        |    * CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.lineitem(s, d)
        .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1997-01-01").cast("timestamp") &&
          $"l_discount".between(0.05, 0.07) && $"l_quantity" < 24)
        .agg(round(sum($"l_extendedprice".cast("decimal(18,4)") *
            $"l_discount".cast("decimal(18,4)")), 2)
          .cast("double").as("revenue"))
    },

    // TPC-H Q15 shape: top supplier — aggregate once, then equality against
    // a scalar MAX subquery over the same aggregate. The revenue is an
    // exact DECIMAL sum rounded once, so the double equality never flips
    // between engines.
    sql("q_top_supplier",
      """WITH rev AS (SELECT l_suppkey AS suppkey,
        |    CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
        |      * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_rev
        |FROM supplier JOIN rev ON s_suppkey = suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      import s.implicits._
      val rev = Tables.lineitem(s, d)
        .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
        .groupBy($"l_suppkey".as("suppkey"))
        .agg(round(sum($"l_extendedprice".cast("decimal(18,4)") *
            (lit(1) - $"l_discount".cast("decimal(18,4)"))), 2)
          .cast("double").as("total_rev"))
      val best = rev.agg(max($"total_rev").as("best_rev"))
      rev.crossJoin(broadcast(best))
        .filter($"total_rev" === $"best_rev")
        .join(broadcast(Tables.supplier(s, d)), $"s_suppkey" === $"suppkey")
        .select($"s_suppkey", $"s_name", $"total_rev")
        .orderBy($"s_suppkey")
    },

    // TPC-H Q17 shape: small-quantity-order revenue — per-part average
    // quantity as a correlated threshold (planned as an aggregate + rejoin
    // on partkey). avg(l_quantity) divides an exact integral-double sum by
    // an exact count, so the 0.2·avg threshold is bit-identical on both
    // engines and no boundary row flips.
    sql("q_small_qty_revenue",
      """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))) / 7.0, 2)
        |    AS DOUBLE) AS avg_yearly
        |FROM lineitem,
        |  (SELECT l_partkey AS pk, 0.2 * avg(l_quantity) AS lim
        |   FROM lineitem GROUP BY 1) t
        |WHERE l_partkey = pk AND l_quantity < lim""".stripMargin) { (s, d) =>
      import s.implicits._
      val lims = Tables.lineitem(s, d)
        .groupBy($"l_partkey".as("pk"))
        .agg((lit(0.2) * avg($"l_quantity")).as("lim"))
      Tables.lineitem(s, d)
        .join(lims, $"l_partkey" === $"pk")
        .filter($"l_quantity" < $"lim")
        .agg(round(sum($"l_extendedprice".cast("decimal(18,4)")).cast("double")
          / 7.0, 2).as("avg_yearly"))
    },

    // TPC-H Q19 shape: discounted revenue under a DISJUNCTION of conjunctive
    // branches spanning both join sides. Catalyst extracts the common
    // p_partkey equi-key, pushes the part-only disjunct slices into the
    // broadcast dim scan, and leaves the cross-side residual on the join —
    // the disjunctive-pushdown stress test. (No container/shipinstruct
    // columns in the testdata; brand × size × quantity stands in.)
    sql("q_discounted_revenue",
      """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
        |    * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin) { (s, d) =>
      import s.implicits._
      val rev = $"l_extendedprice".cast("decimal(18,4)") *
        (lit(1) - $"l_discount".cast("decimal(18,4)"))
      val branch1 = $"p_brand" === "Brand#1" && $"p_size".between(1, 15) &&
        $"l_quantity".between(1, 11)
      val branch2 = $"p_brand" === "Brand#2" && $"p_size".between(1, 25) &&
        $"l_quantity".between(10, 20)
      val branch3 = $"p_brand" === "Brand#3" && $"p_size".between(1, 35) &&
        $"l_quantity".between(20, 30)
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)), $"p_partkey" === $"l_partkey")
        .filter(branch1 || branch2 || branch3)
        .agg(round(sum(rev), 2).cast("double").as("revenue"))
    },

    // TPC-H Q20 shape: potential-excess suppliers — a nested semi-join
    // chain (supplier ⋉ (lineitem ⋈ part aggregated with HAVING)). The part
    // filter broadcasts into the fact scan; the quantity threshold applies
    // on the pre-aggregated supplier totals; the outer IN plans as a
    // left-semi join. (No partsupp availqty in the testdata — the absolute
    // shipped-quantity threshold stands in.)
    sql("q_excess_suppliers",
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_name LIKE '%red%'
        |    AND l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY l_suppkey HAVING sum(l_quantity) > 400)
        |ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      import s.implicits._
      val heavy = Tables.lineitem(s, d)
        .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1997-01-01").cast("timestamp"))
        .join(broadcast(Tables.part(s, d).filter($"p_name".contains("red"))),
          $"p_partkey" === $"l_partkey")
        .groupBy($"l_suppkey")
        .agg(sum($"l_quantity").as("qty"))
        .filter($"qty" > 400)
        .select($"l_suppkey")
      Tables.supplier(s, d)
        .join(heavy, $"s_suppkey" === $"l_suppkey", "left_semi")
        .select($"s_suppkey", $"s_name")
        .orderBy($"s_suppkey")
    },

    // Bucketed CO-LOCATED fact-fact join: both facts written once as
    // bucketBy(16, join-key) sorted snapshot tables (sinks/Bucketed), so
    // the join needs NO Exchange on either side — the one-time write
    // amortizes the shuffle every per-query join would pay at 100 TB.
    // Build is catalog-probed idempotent (serve path pays zero build);
    // BucketedSpec pins the zero-ShuffleExchange plan. The oracle is the
    // plain join — bucketing must never change results.
    sql("q_bucketed_join",
      """SELECT o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import s.implicits._
      import graft.sinks.Bucketed
      import graft.ext.IndexStore.dataFingerprint
      val ot = Bucketed.tableName("orders", d, 16, "o_orderkey",
        dataFingerprint(s"$d/orders.parquet"))
      val lt = Bucketed.tableName("lineitem", d, 16, "l_orderkey",
        dataFingerprint(s"$d/lineitem.parquet"))
      Bucketed.writeBucketed(Tables.orders(s, d), ot, 16, "o_orderkey")
      Bucketed.writeBucketed(Tables.lineitem(s, d), lt, 16, "l_orderkey")
      s.table(ot).join(s.table(lt), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(
          round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy($"o_orderpriority")
    },

    // TPC-H Q2 shape: minimum-cost supplier per part in a region — the
    // correlated-MIN-subquery pattern, planned as an aggregate + re-join
    // (no per-row subquery execution). Dimensions broadcast; the derived
    // partsupp (see partsuppDf) keeps the shape fully hash-oracled.
    sql("q_min_cost_supplier",
      s"""WITH $partsuppSql,
         |costs AS (
         |  SELECT ps_partkey, ps_supplycost, s_acctbal, s_name, n_name
         |  FROM ps
         |  JOIN supplier ON s_suppkey = ps_suppkey
         |  JOIN nation ON n_nationkey = s_nationkey
         |  JOIN region ON r_regionkey = n_regionkey
         |  WHERE r_name = 'EUROPE'),
         |minc AS (
         |  SELECT ps_partkey AS mk, min(ps_supplycost) AS min_cost
         |  FROM costs GROUP BY 1)
         |SELECT round(c.s_acctbal, 2) AS s_acctbal, c.s_name, c.n_name,
         |  p.p_partkey, p.p_type, round(c.ps_supplycost, 2) AS cost
         |FROM costs c
         |JOIN minc ON mk = c.ps_partkey AND c.ps_supplycost = min_cost
         |JOIN part p ON p.p_partkey = c.ps_partkey
         |WHERE p.p_size <= 15 AND p.p_type = 'LARGE'
         |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin) { (s, d) =>
      import s.implicits._
      // materialized once: the costs ⋈ min-costs self-join reads this
      // subtree twice, and Spark shares no common subplans — without the
      // checkpoint the derived partsupp + three dim joins run twice
      val costs = partsuppDf(s, d)
        .join(broadcast(Tables.supplier(s, d)), $"s_suppkey" === $"ps_suppkey")
        .join(broadcast(Tables.nation(s, d)), $"n_nationkey" === $"s_nationkey")
        .join(broadcast(Tables.region(s, d).filter($"r_name" === "EUROPE")),
          $"r_regionkey" === $"n_regionkey")
        .select($"ps_partkey", $"ps_supplycost", $"s_acctbal", $"s_name", $"n_name")
        .localCheckpoint()
      val minc = costs.groupBy($"ps_partkey".as("mk"))
        .agg(min($"ps_supplycost").as("min_cost"))
      costs
        .join(minc, $"mk" === $"ps_partkey" && $"ps_supplycost" === $"min_cost")
        .join(broadcast(Tables.part(s, d)
            .filter($"p_size" <= 15 && $"p_type" === "LARGE")),
          $"p_partkey" === $"ps_partkey")
        .select(round($"s_acctbal", 2).as("s_acctbal"), $"s_name", $"n_name",
          $"p_partkey", $"p_type", round($"ps_supplycost", 2).as("cost"))
        .orderBy($"s_acctbal".desc, $"n_name", $"s_name", $"p_partkey")
        .limit(100)
    },

    // TPC-H Q11 shape: important stock — per-part inventory value in one
    // nation, kept when above a fraction of the nation's total. The global
    // total is a 1-row aggregate broadcast into the HAVING filter (a scalar
    // subquery in SQL); supplycost·availqty is integer-valued, so both
    // sums are exact and the threshold compare cannot flip cross-engine.
    sql("q_important_stock",
      s"""WITH $partsuppSql,
         |nps AS (
         |  SELECT ps_partkey, ps_supplycost * ps_availqty AS val
         |  FROM ps
         |  JOIN supplier ON s_suppkey = ps_suppkey
         |  JOIN nation ON n_nationkey = s_nationkey
         |  WHERE n_name = 'NATION_3')
         |SELECT ps_partkey, round(sum(val), 2) AS value
         |FROM nps
         |GROUP BY ps_partkey
         |HAVING sum(val) > (SELECT sum(val) * 0.001 FROM nps)
         |ORDER BY value DESC, ps_partkey""".stripMargin) { (s, d) =>
      import s.implicits._
      // materialized once — read twice (global total + per-part sums)
      val nps = partsuppDf(s, d)
        .join(broadcast(Tables.supplier(s, d)), $"s_suppkey" === $"ps_suppkey")
        .join(broadcast(Tables.nation(s, d).filter($"n_name" === "NATION_3")),
          $"n_nationkey" === $"s_nationkey")
        .select($"ps_partkey", ($"ps_supplycost" * $"ps_availqty").as("val"))
        .localCheckpoint()
      val tot = nps.agg(sum($"val").as("total"))
      nps.groupBy($"ps_partkey").agg(sum($"val").as("v"))
        .crossJoin(broadcast(tot))
        .filter($"v" > $"total" * 0.001)
        .select($"ps_partkey", round($"v", 2).as("value"))
        .orderBy($"value".desc, $"ps_partkey")
    },

    // TPC-H Q12 shape: shipmode priority counts. The testdata lineitem has
    // no shipmode/commitdate/receiptdate — all three derive deterministically
    // from (l_orderkey, l_linenumber, l_shipdate) with the same arithmetic
    // in both engines, so the shape stays hash-oracled. Fact-fact join
    // (orders ⋈ filtered lineitem) is left to Catalyst/AQE.
    sql("q_shipmode_priority",
      """WITH li AS (
        |  SELECT l_orderkey,
        |    ['REG AIR','AIR','RAIL','SHIP','TRUCK','MAIL','FOB']
        |      [CAST((l_orderkey * 3 + l_linenumber) % 7 AS INT) + 1] AS l_shipmode,
        |    CAST(l_shipdate AS DATE)
        |      + CAST((l_orderkey * 2 + l_linenumber) % 45 - 10 AS INT) AS l_commitdate,
        |    CAST(l_shipdate AS DATE)
        |      + CAST((l_orderkey + l_linenumber) % 30 + 1 AS INT) AS l_receiptdate,
        |    CAST(l_shipdate AS DATE) AS l_sdate
        |  FROM lineitem)
        |SELECT l_shipmode,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN li ON o_orderkey = l_orderkey
        |WHERE l_commitdate < l_receiptdate AND l_sdate < l_commitdate
        |  AND l_shipmode IN ('MAIL', 'SHIP')
        |  AND l_receiptdate >= DATE '1996-01-01'
        |  AND l_receiptdate < DATE '1997-01-01'
        |GROUP BY l_shipmode ORDER BY l_shipmode""".stripMargin) { (s, d) =>
      import s.implicits._
      val modes = array(Seq("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")
        .map(lit): _*)
      val li = Tables.lineitem(s, d).select($"l_orderkey",
        element_at(modes,
          (($"l_orderkey" * 3 + $"l_linenumber") % 7).cast("int") + 1)
          .as("l_shipmode"),
        date_add($"l_shipdate".cast("date"),
          (($"l_orderkey" * 2 + $"l_linenumber") % 45 - 10).cast("int"))
          .as("l_commitdate"),
        date_add($"l_shipdate".cast("date"),
          (($"l_orderkey" + $"l_linenumber") % 30 + 1).cast("int"))
          .as("l_receiptdate"),
        $"l_shipdate".cast("date").as("l_sdate"))
      li.filter($"l_commitdate" < $"l_receiptdate" && $"l_sdate" < $"l_commitdate" &&
          $"l_shipmode".isin("MAIL", "SHIP") &&
          $"l_receiptdate" >= lit("1996-01-01").cast("date") &&
          $"l_receiptdate" < lit("1997-01-01").cast("date"))
        .join(Tables.orders(s, d), $"o_orderkey" === $"l_orderkey")
        .groupBy($"l_shipmode")
        .agg(
          sum(when($"o_orderpriority".isin("1-URGENT", "2-HIGH"), 1).otherwise(0))
            .as("high_line_count"),
          sum(when(!$"o_orderpriority".isin("1-URGENT", "2-HIGH"), 1).otherwise(0))
            .as("low_line_count"))
        .orderBy($"l_shipmode")
    },

    // TPC-H Q16 shape: supplier count per (brand, type, size) excluding a
    // "complaints" supplier set (NOT IN → left-anti; the testdata supplier
    // has no comment column, so membership derives from the key). The
    // count(DISTINCT) partial-aggregates per group map-side.
    sql("q_parts_supplier_count",
      s"""WITH $partsuppSql
         |SELECT p_brand, p_type, p_size,
         |  CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
         |FROM ps JOIN part ON p_partkey = ps_partkey
         |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
         |  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
         |  AND ps_suppkey NOT IN (
         |    SELECT s_suppkey FROM supplier WHERE s_suppkey % 13 = 0)
         |GROUP BY 1, 2, 3
         |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin) { (s, d) =>
      import s.implicits._
      val complaints = Tables.supplier(s, d)
        .filter($"s_suppkey" % 13 === 0).select($"s_suppkey")
      partsuppDf(s, d)
        .join(broadcast(complaints), $"s_suppkey" === $"ps_suppkey", "left_anti")
        .join(broadcast(Tables.part(s, d)
            .filter($"p_brand" =!= "Brand#5" && $"p_type" =!= "PROMO" &&
              $"p_size".isin(1, 9, 14, 19, 23, 36, 45, 49))),
          $"p_partkey" === $"ps_partkey")
        .groupBy($"p_brand", $"p_type", $"p_size")
        .agg(countDistinct($"ps_suppkey").as("supplier_cnt"))
        .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")
    },

    // Left-semi join (EXISTS).
    sql("q_semi_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey LIMIT 50""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.customer(s, d)
        .join(
          Tables.orders(s, d).filter($"o_orderstatus" === "P"),
          $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
        .limit(50)
    },

    // Left-anti join (NOT EXISTS).
    sql("q_anti_join",
      """SELECT count(*) AS n_customers_without_orders FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.customer(s, d)
        .join(Tables.orders(s, d), $"c_custkey" === $"o_custkey", "left_anti")
        .agg(count(lit(1)).as("n_customers_without_orders"))
    },

    // AS-OF join (custom tier-(c) operator, graft.plans.AsOfJoin): for each
    // click, the user's most recent purchase at or before it. DuckDB's
    // native ASOF LEFT JOIN is the oracle. Right side deduped on
    // (user, ts) so the as-of winner is unique on both engines.
    sql("q_asof_join",
      """WITH clicks AS (
        |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
        |purch AS (
        |  SELECT p_user, p_ts, p_event FROM (
        |    SELECT user_id AS p_user, ts AS p_ts, event_id AS p_event,
        |      row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
        |    FROM events WHERE event_type = 'purchase') WHERE rn = 1)
        |SELECT c.user_id, c.event_id, c.ts, p.p_event, p.p_ts
        |FROM clicks c ASOF LEFT JOIN purch p
        |  ON c.user_id = p.p_user AND c.ts >= p.p_ts
        |ORDER BY c.event_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val ev = Tables.events(s, d)
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id", $"ts", $"event_id")
      val purchases = graft.ops.Dedup.keepFirst(
        ev.filter($"event_type" === "purchase")
          .select($"user_id".as("p_user"), $"ts".as("p_ts"), $"event_id".as("p_event")),
        Seq("p_user", "p_ts"), Seq($"p_event"))
      graft.plans.AsOf.join(clicks, purchases,
          leftOn = "ts", rightOn = "p_ts",
          leftBy = Seq("user_id"), rightBy = Seq("p_user"))
        .select($"user_id", $"event_id", $"ts", $"p_event", $"p_ts")
        .orderBy($"event_id")
    },

    // As-of join with a TOLERANCE (pandas merge_asof semantics): a match
    // older than 1 hour is as good as no match — payload columns null out.
    // Same custom exec; the tolerance is a post-join projection, compared
    // in microseconds (events ts is sub-second).
    sql("q_asof_tolerance",
      """WITH clicks AS (
        |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
        |purch AS (
        |  SELECT p_user, p_ts, p_event FROM (
        |    SELECT user_id AS p_user, ts AS p_ts, event_id AS p_event,
        |      row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
        |    FROM events WHERE event_type = 'purchase') WHERE rn = 1)
        |SELECT c.user_id, c.event_id, c.ts,
        |  CASE WHEN epoch_us(c.ts) - epoch_us(p.p_ts) <= 3600000000
        |       THEN p.p_event END AS p_event,
        |  CASE WHEN epoch_us(c.ts) - epoch_us(p.p_ts) <= 3600000000
        |       THEN p.p_ts END AS p_ts
        |FROM clicks c ASOF LEFT JOIN purch p
        |  ON c.user_id = p.p_user AND c.ts >= p.p_ts
        |ORDER BY c.event_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val ev = Tables.events(s, d)
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id", $"ts", $"event_id")
      val purchases = graft.ops.Dedup.keepFirst(
        ev.filter($"event_type" === "purchase")
          .select($"user_id".as("p_user"), $"ts".as("p_ts"), $"event_id".as("p_event")),
        Seq("p_user", "p_ts"), Seq($"p_event"))
      val within = unix_micros($"ts") - unix_micros($"p_ts") <= 3600000000L
      graft.plans.AsOf.join(clicks, purchases,
          leftOn = "ts", rightOn = "p_ts",
          leftBy = Seq("user_id"), rightBy = Seq("p_user"))
        .select($"user_id", $"event_id", $"ts",
          when(within, $"p_event").as("p_event"),
          when(within, $"p_ts").as("p_ts"))
        .orderBy($"event_id")
    },

    // The filtered as-of join: the WHERE lands ABOVE AsOf.join, and the
    // engine's AsOfJoinFilterPushdown rule pushes it into the left child
    // and mirrors the by-key predicate to the right — the pruned-scan path
    // a 100 TB as-of join needs (AsOfJoinSpec pins the plan shape).
    sql("q_asof_join_filtered",
      """WITH clicks AS (
        |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
        |purch AS (
        |  SELECT p_user, p_ts, p_event FROM (
        |    SELECT user_id AS p_user, ts AS p_ts, event_id AS p_event,
        |      row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
        |    FROM events WHERE event_type = 'purchase') WHERE rn = 1)
        |SELECT c.user_id, c.event_id, p.p_event
        |FROM clicks c ASOF LEFT JOIN purch p
        |  ON c.user_id = p.p_user AND c.ts >= p.p_ts
        |WHERE c.user_id < 20
        |ORDER BY c.event_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val ev = Tables.events(s, d)
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id", $"ts", $"event_id")
      val purchases = graft.ops.Dedup.keepFirst(
        ev.filter($"event_type" === "purchase")
          .select($"user_id".as("p_user"), $"ts".as("p_ts"), $"event_id".as("p_event")),
        Seq("p_user", "p_ts"), Seq($"p_event"))
      graft.plans.AsOf.join(clicks, purchases,
          leftOn = "ts", rightOn = "p_ts",
          leftBy = Seq("user_id"), rightBy = Seq("p_user"))
        .filter($"user_id" < 20) // pushed through the join by the rule
        .select($"user_id", $"event_id", $"p_event")
        .orderBy($"event_id")
    },

    // Binned range join (point-in-interval): equi-join on bucket + residual
    // filter instead of the BroadcastNestedLoopJoin a theta join would plan.
    // The oracle IS the plain theta join — result sets must be identical.
    sql("q_range_join",
      """SELECT n_nationkey, count(*) AS n_parts,
        |  CAST(sum(p_size) AS BIGINT) AS sum_size
        |FROM part, nation
        |WHERE n_nationkey * 2 <= p_size AND p_size < n_nationkey * 2 + 5
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import s.implicits._
      val points = Tables.part(s, d).select($"p_partkey", $"p_size".cast("long").as("p_size"))
      val intervals = Tables.nation(s, d).select(
        $"n_nationkey",
        ($"n_nationkey" * 2).cast("long").as("lo"),
        ($"n_nationkey" * 2 + 5).cast("long").as("hi"))
      graft.ops.RangeJoin.pointInInterval(points, "p_size", intervals, "lo", "hi", binWidth = 8)
        .groupBy($"n_nationkey")
        .agg(count(lit(1)).as("n_parts"), sum($"p_size").as("sum_size"))
        .orderBy($"n_nationkey")
    },

    // Interval-overlap join (interval × interval, the range-join big
    // sibling): binned equi-join with emit-once-at-overlap-start dedupe —
    // no nested loop, no distinct. Self-join: overlapping shipment windows
    // [shipdate, receiptdate] per supplier. Oracle IS the theta join.
    sql("q_interval_overlap",
      """WITH t AS (SELECT l_suppkey AS sk, l_orderkey AS ok, l_linenumber AS ln,
        |    datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS lo,
        |    datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
        |      + l_linenumber * 2 + 3 AS hi
        |  FROM lineitem WHERE l_suppkey <= 5)
        |SELECT a.sk AS suppkey, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(least(a.hi, b.hi) - greatest(a.lo, b.lo) + 1) AS BIGINT) AS overlap_days
        |FROM t a JOIN t b ON a.sk = b.sk AND a.lo <= b.hi AND b.lo <= a.hi
        |  AND (a.ok < b.ok OR (a.ok = b.ok AND a.ln < b.ln))
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import s.implicits._
      // shipment window = [shipdate, shipdate + 2·linenumber + 3 days]
      // (receipt date synthesized — the testdata lineitem carries only
      // l_shipdate)
      val base = Tables.lineitem(s, d).filter($"l_suppkey" <= 5).select(
        $"l_suppkey".as("sk"), $"l_orderkey", $"l_linenumber",
        datediff($"l_shipdate".cast("date"), lit("1970-01-01")).cast("long").as("lo"),
        (datediff($"l_shipdate".cast("date"), lit("1970-01-01"))
          + $"l_linenumber" * 2 + 3).cast("long").as("hi"))
      val a = base.toDF("sk", "ok_a", "ln_a", "lo_a", "hi_a")
      val b = base.toDF("sk", "ok_b", "ln_b", "lo_b", "hi_b")
      graft.ops.RangeJoin.intervalOverlap(
          a, "lo_a", "hi_a", b, "lo_b", "hi_b",
          binWidth = 16, equiKeys = Seq("sk"))
        .filter($"ok_a" < $"ok_b" || ($"ok_a" === $"ok_b" && $"ln_a" < $"ln_b"))
        .groupBy($"sk")
        .agg(count(lit(1)).as("n_pairs"),
          sum(least($"hi_a", $"hi_b") - greatest($"lo_a", $"lo_b") + 1).as("overlap_days"))
        .select($"sk".as("suppkey"), $"n_pairs", $"overlap_days")
        .orderBy($"suppkey")
    },

    // Window top-k per group: row_number over (partition, order) + filter.
    sql("q_window_topk",
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin) { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rn")
        .orderBy($"o_custkey", $"rn")
    },

    // Running (cumulative) aggregate with explicit ROWS frame.
    sql("q_window_running",
      """SELECT o_custkey, o_orderkey,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        |FROM orders WHERE o_custkey < 100
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .filter($"o_custkey" < 100)
        .select($"o_custkey", $"o_orderkey",
          round(sum($"o_totalprice").over(w), 2).as("running_total"))
        .orderBy($"o_custkey", $"o_orderkey")
    },

    // lag(): inter-order gap per customer in days.
    sql("q_window_lag",
      """SELECT o_custkey, o_orderkey,
        |  CAST(date_diff('day',
        |    lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |    o_orderdate) AS INT) AS days_since_prev
        |FROM orders WHERE o_custkey < 100
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      Tables.orders(s, d)
        .filter($"o_custkey" < 100)
        .select($"o_custkey", $"o_orderkey",
          datediff($"o_orderdate", lag($"o_orderdate", 1).over(w)).as("days_since_prev"))
        .orderBy($"o_custkey", $"o_orderkey")
    },

    // rank / dense_rank with ties.
    sql("q_window_rank",
      """SELECT p_brand, p_partkey,
        |  rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS rnk,
        |  dense_rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS drnk
        |FROM part
        |ORDER BY p_brand, rnk, p_partkey LIMIT 200""".stripMargin) { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"p_brand").orderBy($"p_retailprice".desc)
      Tables.part(s, d)
        .select($"p_brand", $"p_partkey",
          rank().over(w).as("rnk"), dense_rank().over(w).as("drnk"))
        .orderBy($"p_brand", $"rnk", $"p_partkey")
        .limit(200)
    },

    // Explicit GROUPING SETS + grouping() marker columns.
    sql("q_grouping_sets",
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
        |  count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.orders(s, d).createOrReplaceTempView("orders_gs")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority,
          |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
          |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
          |  count(*) AS n
          |FROM orders_gs
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
    },

    // lead / first_value / last_value with an explicit running frame.
    sql("q_window_frames",
      """SELECT o_custkey, o_orderkey,
        |  lead(o_orderkey) OVER w AS next_order,
        |  first_value(o_orderkey) OVER w AS first_order,
        |  last_value(o_orderkey) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS latest_so_far
        |FROM orders WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .filter($"o_custkey" < 100)
        .select($"o_custkey", $"o_orderkey",
          lead($"o_orderkey", 1).over(w).as("next_order"),
          first($"o_orderkey").over(w).as("first_order"),
          last($"o_orderkey").over(running).as("latest_so_far"))
        .orderBy($"o_custkey", $"o_orderkey")
    },

    // PIVOT: event counts per user across fixed event types (wide form);
    // oracle = conditional aggregation with matching column names.
    sql("q_pivot",
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
        |FROM events WHERE user_id < 50
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .filter($"user_id" < 50)
        .groupBy($"user_id")
        .pivot("event_type", Seq("click", "purchase", "error"))
        .agg(coalesce(count(lit(1)), lit(0L)))
        .na.fill(0L, Seq("click", "purchase", "error"))
        .orderBy($"user_id")
    },

    // UNION ALL + re-aggregate.
    sql("q_union_all",
      """SELECT event_type, count(*) AS n FROM (
        |  SELECT event_type FROM events WHERE value > 150
        |  UNION ALL
        |  SELECT event_type FROM events WHERE user_id < 10
        |) u GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import s.implicits._
      val ev = Tables.events(s, d)
      ev.filter($"value" > 150).select($"event_type")
        .unionAll(ev.filter($"user_id" < 10).select($"event_type"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy($"event_type")
    },

    // INTERSECT (distinct semantics both engines).
    sql("q_intersect",
      """SELECT user_id FROM events WHERE event_type = 'purchase'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'error'
        |ORDER BY user_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val ev = Tables.events(s, d)
      ev.filter($"event_type" === "purchase").select($"user_id")
        .intersect(ev.filter($"event_type" === "error").select($"user_id"))
        .orderBy($"user_id")
    },

    // EXCEPT (distinct semantics both engines).
    sql("q_except",
      """SELECT user_id FROM events WHERE event_type = 'purchase'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'error' AND value > 198
        |ORDER BY user_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val ev = Tables.events(s, d)
      ev.filter($"event_type" === "purchase").select($"user_id")
        .except(ev.filter($"event_type" === "error" && $"value" > 198).select($"user_id"))
        .orderBy($"user_id")
    },

    // MULTISET set ops: EXCEPT ALL / INTERSECT ALL keep duplicate
    // cardinalities (count-based semantics, not membership) — aggregated
    // to per-user multiplicities so the oracle compare is order-free.
    sql("q_except_all",
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT user_id FROM events WHERE event_type = 'click'
        |  EXCEPT ALL
        |  SELECT user_id FROM events WHERE event_type = 'purchase')
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import s.implicits._
      val ev = Tables.events(s, d)
      ev.filter($"event_type" === "click").select($"user_id")
        .exceptAll(ev.filter($"event_type" === "purchase").select($"user_id"))
        .groupBy($"user_id").agg(count(lit(1)).as("n"))
        .orderBy($"user_id")
    },

    // Explicit null placement in sort order (NULLS FIRST / NULLS LAST) —
    // engines default differently (Spark: nulls first ASC; DuckDB: nulls
    // last), so the query pins both directions explicitly.
    sql("q_null_ordering",
      """SELECT event_id, nullif(value, 0.0) AS v
        |FROM events WHERE user_id = 1
        |ORDER BY nullif(value, 0.0) DESC NULLS LAST, event_id""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .filter($"user_id" === 1)
        .select($"event_id", nullif($"value", lit(0.0)).as("v"))
        .orderBy($"v".desc_nulls_last, $"event_id")
    },

    // Bounded top-k sketch aggregate (TypedImperativeAggregate): map-side
    // partial heaps shuffle k rows per (partition, group) instead of every
    // row like the window form. Oracle = the window form, exploded.
    sql("q_topk_aggregate",
      """SELECT o_orderpriority, CAST(rn AS INT) AS rank,
        |  round(o_totalprice, 2) AS v, o_orderkey AS id
        |FROM (
        |  SELECT o_orderpriority, o_totalprice, o_orderkey,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 5 ORDER BY o_orderpriority, rank""".stripMargin) { (s, d) =>
      import s.implicits._
      graft.functions.TopKAggregate
        .rankedTopK(Tables.orders(s, d), Seq("o_orderpriority"), $"o_totalprice",
          $"o_orderkey", 5)
        .select($"o_orderpriority", $"rank", round($"v", 2).as("v"), $"id")
        .orderBy($"o_orderpriority", $"rank")
    },

    // Array/collection surface: collect into sorted distinct lists, size,
    // membership, element access — deterministic via sort_array(collect_set).
    // NB: the output serializes the list to a string (array_to_string /
    // array_join) — the driver's hash compare sorts rows in pandas, which
    // cannot sort ndarray-valued cells; the array ops themselves still run.
    sql("q_array_funcs",
      """SELECT o_orderpriority,
        |  array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
        |  CAST(len(list_sort(list(DISTINCT o_orderstatus))) AS INT) AS n_statuses,
        |  list_contains(list(DISTINCT o_orderstatus), 'F') AS has_f,
        |  list_sort(list(DISTINCT o_orderstatus))[1] AS first_status
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.orders(s, d)
        .groupBy($"o_orderpriority")
        .agg(sort_array(collect_set($"o_orderstatus")).as("statuses"))
        .select($"o_orderpriority",
          array_join($"statuses", ",").as("statuses"),
          size($"statuses").as("n_statuses"),
          array_contains($"statuses", "F").as("has_f"),
          element_at($"statuses", 1).as("first_status"))
        .orderBy($"o_orderpriority")
    },

    // Statistical aggregates: stddev/variance/correlation/covariance +
    // width_bucket histogram — one pass, algebraic (map-side partials).
    sql("q_stats_agg",
      """SELECT l_returnflag,
        |  round(stddev_samp(l_extendedprice), 4) AS price_sd,
        |  round(var_samp(l_quantity), 4) AS qty_var,
        |  round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
        |  round(covar_samp(l_discount, l_tax), 8) AS disc_tax_cov,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.lineitem(s, d)
        .groupBy($"l_returnflag")
        .agg(
          round(stddev_samp($"l_extendedprice"), 4).as("price_sd"),
          round(var_samp($"l_quantity"), 4).as("qty_var"),
          round(corr($"l_quantity", $"l_extendedprice"), 6).as("qty_price_corr"),
          round(covar_samp($"l_discount", $"l_tax"), 8).as("disc_tax_cov"),
          count(lit(1)).as("n"))
        .orderBy($"l_returnflag")
    },

    // Histogram via width_bucket: fixed-width price buckets.
    sql("q_histogram",
      """SELECT CASE WHEN o_totalprice < 0 THEN 0
        |       WHEN o_totalprice >= 600000 THEN 13
        |       ELSE 1 + CAST(floor(o_totalprice * 12 / 600000) AS BIGINT) END AS bucket,
        |  count(*) AS n,
        |  round(min(o_totalprice), 2) AS lo, round(max(o_totalprice), 2) AS hi
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.orders(s, d)
        .groupBy(width_bucket($"o_totalprice", lit(0), lit(600000), lit(12)).as("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min($"o_totalprice"), 2).as("lo"),
          round(max($"o_totalprice"), 2).as("hi"))
        .orderBy($"bucket")
    },

    // Distinct aggregates (expand + two-phase agg under the hood).
    sql("q_distinct_agg",
      """SELECT l_returnflag,
        |  count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT l_partkey) AS n_part,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.lineitem(s, d)
        .groupBy($"l_returnflag")
        .agg(
          countDistinct($"l_suppkey").as("n_supp"),
          countDistinct($"l_partkey").as("n_part"),
          count(lit(1)).as("n"))
        .orderBy($"l_returnflag")
    },

    // ROLLUP — subtotal rows; NULLS FIRST pinned on both sides (Spark's ASC
    // default is nulls-first, DuckDB's is nulls-last).
    sql("q_rollup",
      """SELECT r_name, n_name, count(*) AS n_customers
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(s, d)), $"n_regionkey" === $"r_regionkey")
        .rollup($"r_name", $"n_name")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy($"r_name".asc_nulls_first, $"n_name".asc_nulls_first)
    },

    // CUBE — all grouping-set combinations.
    sql("q_cube",
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.orders(s, d)
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("total"))
        .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
    },
  )
}
