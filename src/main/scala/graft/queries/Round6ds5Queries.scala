package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Round-6 TPC-DS widening, batch 5: sixteen more shapes toward the
  * full 99-query battery — the cross-city ticket reports (q46 and its
  * three-sum twin q68), the double-OR band-combination quantity total
  * (q48), double-ranked per-channel return ratios (q49), the
  * order-to-ship latency pivots (q50 returns-side, q62 web-side; the
  * latency axis is month-granular because day-level datediff is not
  * portable across the two engines), cumulative cross-channel
  * full-outer running maxima (q51), the manager/brand month reports
  * (q52/q55, the q42 skeleton at brand granularity), windowed-average
  * deviation reports (q53 quarterly, q63 monthly — the windowed AVG
  * spelled as windowed SUM / windowed COUNT so both engines derive
  * the identical double), the bought-then-spent segment histogram
  * (q54), the three-channel per-item revenue balance (q58), the
  * promotional-share ratio row (q61), the 8-dimension ROLLUP with
  * per-category rank (q67), and the NOT-EXISTS demographic report
  * (q69).
  *
  * Re-expression conventions as batches 1-4. Averages are
  * SUM(DECIMAL)/count; money stays DECIMAL until a final DOUBLE
  * cast; rank() windows carry full deterministic tiebreaks; ORDER BY
  * under LIMIT carries a full tiebreak; rollup-nullable keys sort
  * NULLS FIRST explicitly.
  *
  * Reference shapes: tools/tpcds-tools/queries/sf1/query{46,48,49,50,
  * 51,52,53,54,55,58,61,62,63,67,68,69}.sql.
  */
object Round6ds5Queries {

  private def sql(q: String): (SparkSession, String) => DataFrame =
    (s, dir) => { graft.Tables.registerAll(s, dir); s.sql(q) }

  private val bothEngines: Map[String, String] = Map(

    // q46: per-ticket coupon/profit sums on weekend or month-edge days where
    // the bought nation (supplier side) differs from the customer's current
    "ds_ticket_cross_city" -> """
      SELECT c_name, cur.n_name AS ca_city, bought_city, ok AS ticket_number, amt, profit
      FROM (SELECT o_orderkey AS ok, o_custkey AS ck, sn.n_name AS bought_city,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(16,2))
                            * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS amt,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(16,2))
                            * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS profit
            FROM lineitem JOIN orders ON o_orderkey = l_orderkey
                 JOIN supplier ON s_suppkey = l_suppkey
                 JOIN nation sn ON sn.n_nationkey = s_nationkey
            WHERE (mod(day(o_orderdate), 7) IN (0, 6) OR day(o_orderdate) BETWEEN 1 AND 2)
              AND year(o_orderdate) IN (1996, 1997, 1998)
              AND o_orderpriority IN ('2-HIGH', '3-MEDIUM')
            GROUP BY o_orderkey, o_custkey, sn.n_name) dn
           JOIN customer ON c_custkey = ck
           JOIN nation cur ON cur.n_nationkey = c_nationkey
      WHERE cur.n_name <> bought_city
      ORDER BY c_name, ca_city, bought_city, ticket_number, amt, profit
      LIMIT 100""",

    // q48: one total quantity under a conjunction of two OR'd
    // band-combination predicates (demographic x price, geography x order
    // total)
    "ds_band_combo_quantity" -> """
      SELECT CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_quantity
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
           JOIN nation ON n_nationkey = c_nationkey
      WHERE year(o_orderdate) = 1996
        AND ((c_mktsegment = 'BUILDING' AND l_extendedprice BETWEEN 10000 AND 50000)
          OR (c_mktsegment = 'MACHINERY' AND l_extendedprice BETWEEN 20000 AND 60000)
          OR (c_mktsegment = 'HOUSEHOLD' AND l_extendedprice BETWEEN 30000 AND 70000))
        AND ((substring(n_name, 8, 1) IN ('1', '2', '3') AND o_totalprice BETWEEN 0 AND 200000)
          OR (substring(n_name, 8, 1) IN ('4', '5', '6') AND o_totalprice BETWEEN 50000 AND 250000)
          OR (substring(n_name, 8, 1) IN ('7', '8', '9') AND o_totalprice BETWEEN 100000 AND 300000))""",

    // q49: per-channel return/currency ratios per item, double-ranked, kept
    // when either rank is in the top 10
    "ds_return_ratio_ranks" -> """
      WITH base AS (
        SELECT l_linestatus AS chan, l_partkey AS item,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(15,4))
                        ELSE CAST(0 AS DECIMAL(15,4)) END) AS DOUBLE)
                 / CAST(SUM(CAST(l_quantity AS DECIMAL(15,4))) AS DOUBLE) AS return_ratio,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_extendedprice AS DECIMAL(16,2))
                        ELSE CAST(0 AS DECIMAL(16,2)) END) AS DOUBLE)
                 / CAST(SUM(CAST(l_extendedprice AS DECIMAL(16,2))) AS DOUBLE) AS currency_ratio
        FROM lineitem
        WHERE year(l_shipdate) = 1996 AND month(l_shipdate) = 11
        GROUP BY l_linestatus, l_partkey),
      ranked AS (
        SELECT chan, item, return_ratio,
               rank() OVER (PARTITION BY chan ORDER BY return_ratio, item) AS return_rank,
               rank() OVER (PARTITION BY chan ORDER BY currency_ratio, item) AS currency_rank
        FROM base)
      SELECT chan AS channel, item, return_ratio, return_rank, currency_rank
      FROM ranked
      WHERE return_rank <= 10 OR currency_rank <= 10
      ORDER BY channel, return_rank, currency_rank, item
      LIMIT 100""",

    // q50: returned-line latency pivot — month-lag buckets between order and
    // ship date per store (day-granular datediff is not portable, so the
    // latency axis is (year*12+month) deltas)
    "ds_return_latency_pivot" -> """
      SELECT s_name,
             CAST(SUM(CASE WHEN lag_m <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS days_30,
             CAST(SUM(CASE WHEN lag_m = 1 THEN 1 ELSE 0 END) AS BIGINT) AS days_31_60,
             CAST(SUM(CASE WHEN lag_m = 2 THEN 1 ELSE 0 END) AS BIGINT) AS days_61_90,
             CAST(SUM(CASE WHEN lag_m = 3 THEN 1 ELSE 0 END) AS BIGINT) AS days_91_120,
             CAST(SUM(CASE WHEN lag_m > 3 THEN 1 ELSE 0 END) AS BIGINT) AS days_over_120
      FROM (SELECT l_suppkey,
                   (year(l_shipdate) * 12 + month(l_shipdate))
                     - (year(o_orderdate) * 12 + month(o_orderdate)) AS lag_m
            FROM lineitem JOIN orders ON o_orderkey = l_orderkey
            WHERE l_returnflag = 'R'
              AND year(l_shipdate) = 1996 AND month(l_shipdate) = 8) t
           JOIN supplier ON s_suppkey = l_suppkey
      GROUP BY s_name
      ORDER BY s_name
      LIMIT 100""",

    // q51: cumulative per-item monthly sales in two channels full-outer
    // joined, running max of each, kept where one cumulative leads the other
    "ds_cumulative_cross_channel" -> """
      WITH web_v1 AS (
        SELECT l_partkey AS item_sk, month(l_shipdate) AS m,
               SUM(SUM(CAST(l_extendedprice AS DECIMAL(16,2))))
                 OVER (PARTITION BY l_partkey ORDER BY month(l_shipdate)
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cume_sales
        FROM lineitem
        WHERE l_linestatus = 'O' AND year(l_shipdate) = 1996
        GROUP BY l_partkey, month(l_shipdate)),
      store_v1 AS (
        SELECT l_partkey AS item_sk, month(l_shipdate) AS m,
               SUM(SUM(CAST(l_extendedprice AS DECIMAL(16,2))))
                 OVER (PARTITION BY l_partkey ORDER BY month(l_shipdate)
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cume_sales
        FROM lineitem
        WHERE l_linestatus = 'F' AND year(l_shipdate) = 1996
        GROUP BY l_partkey, month(l_shipdate))
      SELECT * FROM (
        SELECT item_sk, m, web_sales, store_sales,
               max(web_sales) OVER (PARTITION BY item_sk ORDER BY m
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS web_cumulative,
               max(store_sales) OVER (PARTITION BY item_sk ORDER BY m
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS store_cumulative
        FROM (SELECT CASE WHEN w.item_sk IS NOT NULL THEN w.item_sk ELSE s.item_sk END AS item_sk,
                     CASE WHEN w.m IS NOT NULL THEN w.m ELSE s.m END AS m,
                     CAST(w.cume_sales AS DOUBLE) AS web_sales,
                     CAST(s.cume_sales AS DOUBLE) AS store_sales
              FROM web_v1 w FULL OUTER JOIN store_v1 s
                ON w.item_sk = s.item_sk AND w.m = s.m) x) y
      WHERE web_cumulative > store_cumulative
      ORDER BY item_sk, m
      LIMIT 100""",

    // q52: brand revenue report for one manager band in one month (the q42
    // skeleton at brand granularity)
    "ds_brand_month_report" -> """
      SELECT year(l_shipdate) AS d_year, substring(p_brand, 7, 2) AS brand_id, p_brand AS brand,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(16,2))) AS DOUBLE) AS ext_price
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_size = 2 AND month(l_shipdate) = 12 AND year(l_shipdate) = 1996
      GROUP BY year(l_shipdate), substring(p_brand, 7, 2), p_brand
      ORDER BY d_year, ext_price DESC, brand_id, brand
      LIMIT 100""",

    // q53: quarterly brand sums vs the brand's average quarter (windowed
    // average spelled as windowed sum / windowed count), deviation > 0.1
    "ds_quarterly_deviation" -> """
      SELECT * FROM (
        SELECT p_brand AS manufact, quarter(l_shipdate) AS qoy,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(16,2))) AS DOUBLE) AS sum_sales,
               CAST(SUM(SUM(CAST(l_extendedprice AS DECIMAL(16,2))))
                      OVER (PARTITION BY p_brand) AS DOUBLE)
                 / count(*) OVER (PARTITION BY p_brand) AS avg_quarterly_sales
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE year(l_shipdate) = 1996
          AND ((p_type IN ('PROMO', 'STANDARD') AND p_size BETWEEN 1 AND 25)
            OR (p_type IN ('LARGE', 'ECONOMY') AND p_size BETWEEN 26 AND 50))
        GROUP BY p_brand, quarter(l_shipdate)) tmp1
      WHERE CASE WHEN avg_quarterly_sales > 0
                 THEN abs(sum_sales - avg_quarterly_sales) / avg_quarterly_sales END > 0.1
      ORDER BY avg_quarterly_sales, sum_sales, manufact, qoy
      LIMIT 100""",

    // q54: customers who bought the target item family in one month in
    // either secondary channel, their revenue in the following quarter,
    // bucketed into a segment histogram
    "ds_segment_histogram" -> """
      WITH my_customers AS (
        SELECT DISTINCT c_custkey
        FROM (SELECT o_custkey AS ck, l_partkey AS ik, l_shipdate AS sd
              FROM lineitem JOIN orders ON o_orderkey = l_orderkey
              WHERE l_returnflag = 'N'
              UNION ALL
              SELECT o_custkey, l_partkey, l_shipdate
              FROM lineitem JOIN orders ON o_orderkey = l_orderkey
              WHERE l_returnflag = 'A') u
             JOIN part ON p_partkey = ik
             JOIN customer ON c_custkey = ck
        WHERE p_type = 'PROMO' AND p_size BETWEEN 1 AND 10
          AND year(sd) = 1996 AND month(sd) = 1),
      my_revenue AS (
        SELECT c_custkey, SUM(CAST(o_totalprice AS DECIMAL(16,2))) AS revenue
        FROM my_customers JOIN orders ON o_custkey = c_custkey
        WHERE year(o_orderdate) = 1996 AND month(o_orderdate) BETWEEN 2 AND 4
        GROUP BY c_custkey),
      segments AS (
        SELECT CAST(floor(CAST(revenue AS DOUBLE) / 50000) AS BIGINT) AS segment
        FROM my_revenue)
      SELECT segment, count(*) AS num_customers, segment * 50000 AS segment_base
      FROM segments
      GROUP BY segment
      ORDER BY segment, num_customers
      LIMIT 100""",

    // q55: the manager-band brand report (q52 twin with a different
    // selector)
    "ds_manager_brand_report" -> """
      SELECT substring(p_brand, 7, 2) AS brand_id, p_brand AS brand,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(16,2))) AS DOUBLE) AS ext_price
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_size BETWEEN 11 AND 20 AND month(l_shipdate) = 11 AND year(l_shipdate) = 1997
      GROUP BY substring(p_brand, 7, 2), p_brand
      ORDER BY ext_price DESC, brand_id, brand
      LIMIT 100""",

    // q58: three channel revenues per item over one ISO week, kept when each
    // leg sits within 10% of every other, with per-leg deviation from the
    // three-way average
    "ds_three_channel_week_balance" -> """
      WITH ss AS (
        SELECT l_partkey AS item, SUM(CAST(l_extendedprice AS DECIMAL(16,2))) AS rev
        FROM lineitem WHERE l_returnflag = 'A' AND year(l_shipdate) = 1996
          AND month(l_shipdate) = 6
        GROUP BY l_partkey),
      cs AS (
        SELECT l_partkey AS item, SUM(CAST(l_extendedprice AS DECIMAL(16,2))) AS rev
        FROM lineitem WHERE l_returnflag = 'N' AND year(l_shipdate) = 1996
          AND month(l_shipdate) = 6
        GROUP BY l_partkey),
      ws AS (
        SELECT l_partkey AS item, SUM(CAST(l_extendedprice AS DECIMAL(16,2))) AS rev
        FROM lineitem WHERE l_returnflag = 'R' AND year(l_shipdate) = 1996
          AND month(l_shipdate) = 6
        GROUP BY l_partkey)
      SELECT ss.item AS item_id,
             CAST(ss.rev AS DOUBLE) AS ss_item_rev,
             CAST(ss.rev AS DOUBLE)
               / ((CAST(ss.rev AS DOUBLE) + CAST(cs.rev AS DOUBLE) + CAST(ws.rev AS DOUBLE)) / 3) * 100 AS ss_dev,
             CAST(cs.rev AS DOUBLE) AS cs_item_rev,
             CAST(cs.rev AS DOUBLE)
               / ((CAST(ss.rev AS DOUBLE) + CAST(cs.rev AS DOUBLE) + CAST(ws.rev AS DOUBLE)) / 3) * 100 AS cs_dev,
             CAST(ws.rev AS DOUBLE) AS ws_item_rev,
             CAST(ws.rev AS DOUBLE)
               / ((CAST(ss.rev AS DOUBLE) + CAST(cs.rev AS DOUBLE) + CAST(ws.rev AS DOUBLE)) / 3) * 100 AS ws_dev,
             (CAST(ss.rev AS DOUBLE) + CAST(cs.rev AS DOUBLE) + CAST(ws.rev AS DOUBLE)) / 3 AS average
      FROM ss JOIN cs ON ss.item = cs.item JOIN ws ON ss.item = ws.item
      WHERE CAST(ss.rev AS DOUBLE) BETWEEN 0.1 * CAST(cs.rev AS DOUBLE) AND 10 * CAST(cs.rev AS DOUBLE)
        AND CAST(ss.rev AS DOUBLE) BETWEEN 0.1 * CAST(ws.rev AS DOUBLE) AND 10 * CAST(ws.rev AS DOUBLE)
        AND CAST(cs.rev AS DOUBLE) BETWEEN 0.1 * CAST(ss.rev AS DOUBLE) AND 10 * CAST(ss.rev AS DOUBLE)
        AND CAST(cs.rev AS DOUBLE) BETWEEN 0.1 * CAST(ws.rev AS DOUBLE) AND 10 * CAST(ws.rev AS DOUBLE)
        AND CAST(ws.rev AS DOUBLE) BETWEEN 0.1 * CAST(ss.rev AS DOUBLE) AND 10 * CAST(ss.rev AS DOUBLE)
        AND CAST(ws.rev AS DOUBLE) BETWEEN 0.1 * CAST(cs.rev AS DOUBLE) AND 10 * CAST(cs.rev AS DOUBLE)
      ORDER BY item_id, ss_item_rev
      LIMIT 100""",

    // q61: promotional share — promo-item sales vs all sales in one region
    // and month, as a single cross-joined ratio row
    "ds_promo_share" -> """
      SELECT promotions, total,
             promotions / total * 100 AS promo_pct
      FROM (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(16,2))) AS DOUBLE) AS promotions
            FROM lineitem JOIN part ON p_partkey = l_partkey
                 JOIN supplier ON s_suppkey = l_suppkey
                 JOIN nation ON n_nationkey = s_nationkey
                 JOIN region ON r_regionkey = n_regionkey
            WHERE p_type = 'PROMO' AND r_name = 'REGION_1'
              AND year(l_shipdate) = 1996 AND month(l_shipdate) = 12) promotional_sales,
           (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(16,2))) AS DOUBLE) AS total
            FROM lineitem JOIN part ON p_partkey = l_partkey
                 JOIN supplier ON s_suppkey = l_suppkey
                 JOIN nation ON n_nationkey = s_nationkey
                 JOIN region ON r_regionkey = n_regionkey
            WHERE r_name = 'REGION_1'
              AND year(l_shipdate) = 1996 AND month(l_shipdate) = 12) all_sales
      ORDER BY promotions, total
      LIMIT 100""",

    // q62: ship-latency pivot on the web channel grouped by
    // warehouse/mode/site analogs (supplier, priority, linestatus)
    "ds_ship_latency_pivot" -> """
      SELECT s_name, o_orderpriority, l_linestatus,
             CAST(SUM(CASE WHEN lag_m <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS days_30,
             CAST(SUM(CASE WHEN lag_m = 1 THEN 1 ELSE 0 END) AS BIGINT) AS days_31_60,
             CAST(SUM(CASE WHEN lag_m = 2 THEN 1 ELSE 0 END) AS BIGINT) AS days_61_90,
             CAST(SUM(CASE WHEN lag_m = 3 THEN 1 ELSE 0 END) AS BIGINT) AS days_91_120,
             CAST(SUM(CASE WHEN lag_m > 3 THEN 1 ELSE 0 END) AS BIGINT) AS days_over_120
      FROM (SELECT l_suppkey, o_orderpriority, l_linestatus,
                   (year(l_shipdate) * 12 + month(l_shipdate))
                     - (year(o_orderdate) * 12 + month(o_orderdate)) AS lag_m
            FROM lineitem JOIN orders ON o_orderkey = l_orderkey
            WHERE year(l_shipdate) = 1996) t
           JOIN supplier ON s_suppkey = l_suppkey
      GROUP BY s_name, o_orderpriority, l_linestatus
      ORDER BY s_name, o_orderpriority, l_linestatus
      LIMIT 100""",

    // q63: the q53 skeleton at month granularity
    "ds_monthly_deviation" -> """
      SELECT * FROM (
        SELECT p_type AS mgr, month(l_shipdate) AS moy,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(16,2))) AS DOUBLE) AS sum_sales,
               CAST(SUM(SUM(CAST(l_extendedprice AS DECIMAL(16,2))))
                      OVER (PARTITION BY p_type) AS DOUBLE)
                 / count(*) OVER (PARTITION BY p_type) AS avg_monthly_sales
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE year(l_shipdate) = 1996
          AND ((p_type IN ('PROMO', 'STANDARD') AND p_size BETWEEN 1 AND 25)
            OR (p_type IN ('LARGE', 'ECONOMY') AND p_size BETWEEN 26 AND 50))
        GROUP BY p_type, month(l_shipdate)) tmp1
      WHERE CASE WHEN avg_monthly_sales > 0
                 THEN abs(sum_sales - avg_monthly_sales) / avg_monthly_sales END > 0.1
      ORDER BY mgr, avg_monthly_sales, sum_sales, moy
      LIMIT 100""",

    // q67: the big 8-dimension ROLLUP with a per-category sales rank.
    // Each ascending rank key spells NULLS FIRST, Spark's default:
    // DuckDB sorts NULLs last, so a ROLLUP subtotal that ties its
    // detail row on sales ranked differently on the two engines
    "ds_rollup8_rank" -> """
      SELECT * FROM (
        SELECT p_type, p_brand, p_name, d_year, qoy, moy, s_name, sumsales,
               rank() OVER (PARTITION BY p_type ORDER BY sumsales DESC,
                            p_brand NULLS FIRST, p_name NULLS FIRST, d_year NULLS FIRST,
                            qoy NULLS FIRST, moy NULLS FIRST, s_name NULLS FIRST) AS rk
        FROM (SELECT p_type, p_brand, p_name, year(l_shipdate) AS d_year,
                     quarter(l_shipdate) AS qoy, month(l_shipdate) AS moy, s_name,
                     CAST(SUM(coalesce(CAST(l_extendedprice AS DECIMAL(16,2))
                                       * CAST(l_quantity AS DECIMAL(12,2)),
                                       CAST(0 AS DECIMAL(28,4)))) AS DOUBLE) AS sumsales
              FROM lineitem JOIN part ON p_partkey = l_partkey
                   JOIN supplier ON s_suppkey = l_suppkey
              WHERE year(l_shipdate) = 1996 AND month(l_shipdate) BETWEEN 1 AND 3
              GROUP BY ROLLUP(p_type, p_brand, p_name, year(l_shipdate),
                              quarter(l_shipdate), month(l_shipdate), s_name)) dw1) dw2
      WHERE rk <= 10
      ORDER BY p_type NULLS FIRST, p_brand NULLS FIRST, p_name NULLS FIRST,
               d_year NULLS FIRST, qoy NULLS FIRST, moy NULLS FIRST, s_name NULLS FIRST,
               sumsales, rk
      LIMIT 100""",

    // q68: the q46 skeleton with three money sums and a month-start-days
    // selector
    "ds_ticket_cross_city_sums" -> """
      SELECT c_name, cur.n_name AS ca_city, bought_city, ok AS ticket_number,
             extended_price, extended_tax, list_price
      FROM (SELECT o_orderkey AS ok, o_custkey AS ck, sn.n_name AS bought_city,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(16,2))) AS DOUBLE) AS extended_price,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(16,2))
                            * CAST(l_tax AS DECIMAL(4,2))) AS DOUBLE) AS extended_tax,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                            * CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS list_price
            FROM lineitem JOIN orders ON o_orderkey = l_orderkey
                 JOIN part ON p_partkey = l_partkey
                 JOIN supplier ON s_suppkey = l_suppkey
                 JOIN nation sn ON sn.n_nationkey = s_nationkey
            WHERE day(o_orderdate) BETWEEN 1 AND 2
              AND year(o_orderdate) IN (1996, 1997, 1998)
              AND o_orderpriority IN ('1-URGENT', '4-NOT SPECIFIED')
            GROUP BY o_orderkey, o_custkey, sn.n_name) dn
           JOIN customer ON c_custkey = ck
           JOIN nation cur ON cur.n_nationkey = c_nationkey
      WHERE cur.n_name <> bought_city
      ORDER BY c_name, ticket_number, ca_city, bought_city, extended_price,
               extended_tax, list_price
      LIMIT 100""",

    // q69: the q10 skeleton with NOT-EXISTS secondary channels — active in
    // store, absent from both web and catalog in the window
    "ds_demo_not_exists" -> """
      SELECT c_mktsegment, CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             count(*) AS cnt1, count(*) AS cnt2
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND year(o.o_orderdate) = 1997 AND month(o.o_orderdate) BETWEEN 1 AND 3)
        AND NOT EXISTS (SELECT 1 FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                        WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = 'N'
                          AND year(l.l_shipdate) = 1997 AND month(l.l_shipdate) BETWEEN 1 AND 3)
        AND NOT EXISTS (SELECT 1 FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                        WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = 'R'
                          AND year(l.l_shipdate) = 1997 AND month(l.l_shipdate) BETWEEN 1 AND 3)
      GROUP BY c_mktsegment, CAST(floor(c_acctbal / 1000) AS BIGINT)
      ORDER BY c_mktsegment, bal_band
      LIMIT 100"""
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    bothEngines.map { case (k, q) => k -> sql(q) }

  def oracle: Map[String, String] = bothEngines
}
