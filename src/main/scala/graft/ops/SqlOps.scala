package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL-string queries (SURVEY §2B, round 10) — the [[graft.GraftSql]]
  * entry point exercised as declared inventory. Each key here holds ONE
  * ANSI SQL string that is executed VERBATIM by both engines: the engine
  * side runs it through `GraftSql.run` (temp views + Spark's parser), and
  * [[oracle]] returns the very same string to DuckDB — so the declared
  * contract is "identical SQL text, identical results, two engines", the
  * strongest possible form of the oracle discipline (the twins CANNOT
  * drift because there is only one string).
  *
  * Dialect constraints that make verbatim sharing possible: ANSI joins,
  * `DATE '…'` literals compared through `CAST(ts AS DATE)` (both engines
  * cast TIMESTAMP→DATE by dropping time-of-day), the repo's §7.4 money
  * discipline (`CAST(sum(CAST(expr AS DECIMAL(18,4))) AS DOUBLE)`), and a
  * total ORDER BY with a unique tie-break.
  *
  * Scale shape: these are Catalyst plans like any DSL query — the
  * region/nation dimensions broadcast (parquet stats are known), the
  * fact-fact joins shuffle on their keys, filters reach the scans. The
  * SQL surface adds zero execution machinery.
  */
object SqlOps extends QueryModule {

  /** TPC-H Q3 analog ("shipping priority"): unshipped-revenue top-10 for
    * one market segment at a cut date mid-span of the fixture's 1995–2001
    * order window. customer⋈orders⋈lineitem with both date filters pushed
    * to the scans; revenue per the exact-DECIMAL-surfaced-as-DOUBLE rule. */
  private val shippingPrioritySql =
    """SELECT l_orderkey,
      |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |       o_orderpriority
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND CAST(o_orderdate AS DATE) < DATE '1998-06-01'
      |  AND CAST(l_shipdate AS DATE) > DATE '1998-06-01'
      |GROUP BY l_orderkey, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** TPC-H Q5 analog ("local-supplier volume"): revenue by nation for one
    * region-year where customer and supplier share the nation — the
    * 6-way join exercising the planner's dimension-broadcast + fact-fact
    * shuffle decisions from SQL text. */
  private val revenueByNationSql =
    """SELECT n_name,
      |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      |  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** TPC-H Q4 analog ("order priority checking", r11): correlated EXISTS
    * from SQL text — orders in one fixture year having at least one
    * RETURNED lineitem (the fixture has no commit/receipt dates, so the
    * Q4 lateness predicate becomes a returnflag test). Spark plans the
    * EXISTS as a left-semi hash join on l_orderkey (shuffle-keyed, no
    * per-row subquery execution) — the subquery machinery the round-10
    * entry point never exercised. */
  private val orderPrioritySql =
    """SELECT o_orderpriority,
      |       CAST(count(*) AS BIGINT) AS order_count
      |FROM orders
      |WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
      |  AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** CTE + window analog (r11): each customer's single top-revenue order
    * (row_number over the HIGH-cardinality o_custkey partition — the
    * bucketed-rank rule is about low-cardinality partitions; per-customer
    * groups are bounded by that customer's order count), rolled up by
    * priority. Money stays DECIMAL through BOTH aggregation levels (an
    * outer sum over DOUBLE partials would be FP-order-dependent — §7.4)
    * and surfaces as DOUBLE only in the final projection. */
  private val topOrderPerCustomerSql =
    """WITH order_rev AS (
      |  SELECT o_custkey, o_orderkey, o_orderpriority,
      |         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS revenue
      |  FROM orders
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |  GROUP BY o_custkey, o_orderkey, o_orderpriority),
      |ranked AS (
      |  SELECT o_custkey, o_orderpriority, revenue,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY revenue DESC, o_orderkey) AS rk
      |  FROM order_rev)
      |SELECT o_orderpriority,
      |       CAST(count(*) AS BIGINT) AS n_customers,
      |       CAST(sum(revenue) AS DOUBLE) AS top_order_revenue
      |FROM ranked
      |WHERE rk = 1
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q17 analog ("small-quantity revenue", r11): a CORRELATED
    * scalar aggregate subquery from SQL text — lineitems whose quantity
    * is below a fifth of their part's mean, rolled up by brand. The mean
    * never divides: the predicate is the exact integer cross-
    * multiplication q·5·count < sum (quantities are integral BIGINTs in
    * both engines — DuckDB rounds double→int casts while Spark
    * truncates, so a fractional-quantity fixture would need round()
    * first). Spark decorrelates both subqueries into per-partkey
    * aggregates joined on l_partkey — the shuffled fact-fact shape Q17
    * wants, never a per-row subquery loop. */
  private val smallQtyRevenueSql =
    """SELECT p_brand,
      |       CAST(count(*) AS BIGINT) AS n_small,
      |       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS small_revenue
      |FROM lineitem l
      |JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE CAST(l.l_quantity AS BIGINT) * 5 *
      |        (SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
      |      < (SELECT sum(CAST(l3.l_quantity AS BIGINT))
      |         FROM lineitem l3 WHERE l3.l_partkey = l.l_partkey)
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  /** TPC-H Q22 analog ("high-balance, never-urgent customers", r11):
    * NOT EXISTS anti-join + an UNCORRELATED scalar subquery pair from SQL
    * text. The "above-mean balance" predicate is division-free: balance ×
    * count > total in exact DECIMAL (the count is cast to DECIMAL(12,0)
    * so the product stays at precision 31 — an uncast BIGINT multiplicand
    * would push Spark past DECIMAL(38) and force scale-losing rounding
    * that DuckDB's exact product would not reproduce). The fixture gives
    * every customer at least one order, so the anti predicate tests for
    * no URGENT order (203 qualifying customers at sf0.01, not zero). */
  private val topBalanceInactiveSql =
    """SELECT c_mktsegment,
      |       CAST(count(*) AS BIGINT) AS n_customers,
      |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_acctbal
      |FROM customer c
      |WHERE CAST(c_acctbal AS DECIMAL(18,4)) *
      |        CAST((SELECT count(*) FROM customer c2 WHERE c2.c_acctbal > 0.0) AS DECIMAL(12,0))
      |      > (SELECT sum(CAST(c3.c_acctbal AS DECIMAL(18,4)))
      |         FROM customer c3 WHERE c3.c_acctbal > 0.0)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderpriority = '1-URGENT')
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** TPC-H Q19 analog ("disjunctive predicate revenue", r12): a three-arm
    * OR of conjunctive (brand, size-range, quantity-range) filters over
    * the part⨝lineitem join, from SQL text. The shape this key pins:
    * Catalyst extracts the COMMON join key from the disjunction (the OR
    * arms all constrain the joined pair, not the join condition), pushes
    * the p_brand/p_size arms into the part scan and the quantity arms
    * into lineitem via an OR-of-conjuncts filter, and the join stays a
    * plain equi hash join — never a nested-loop over the disjunction.
    * Quantities are integral in the fixture, so the BIGINT casts agree
    * across engines (the r11 truncate-vs-round rule). */
  private val disjunctiveRevenueSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_lines,
      |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
      |       AND CAST(l_quantity AS BIGINT) BETWEEN 1 AND 20)
      |   OR (p_brand = 'Brand#22' AND p_size BETWEEN 10 AND 30
      |       AND CAST(l_quantity AS BIGINT) BETWEEN 10 AND 30)
      |   OR (p_brand = 'Brand#33' AND p_size BETWEEN 20 AND 50
      |       AND CAST(l_quantity AS BIGINT) BETWEEN 20 AND 40)""".stripMargin

  /** TPC-H Q15 analog ("top revenue supplier", r12): a CTE consumed twice
    * — once as the join input, once under a scalar max subquery — from
    * SQL text. Spark plans the CTE once per consumer with the scalar max
    * as a decorrelated one-row subquery join; revenue stays exact DECIMAL
    * through the equality (a DOUBLE max-equality would be an FP knife
    * edge), surfacing as DOUBLE only in the projection. The DuckDB twin
    * inlines the flat CTE per reference (2× a cheap agg — the
    * MATERIALIZED rule is about expensive/recursive chains; verbatim SQL
    * sharing wins here). Ties on max revenue emit every winner, ordered
    * by s_suppkey — deterministic in both engines. */
  private val topSupplierSql =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS total_revenue
      |  FROM lineitem
      |  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      |    AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name,
      |       CAST(total_revenue AS DOUBLE) AS total_revenue
      |FROM supplier
      |JOIN revenue ON s_suppkey = supplier_no
      |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q21 analog ("suppliers who kept orders waiting", r12): the
    * double-correlated EXISTS + NOT EXISTS self-reference over the SAME
    * fact table — the one subquery shape the family didn't cover. The
    * fixture has no commit/receipt dates, so "late" is l_returnflag = 'R'
    * (the Q4-analog precedent): count, per supplier in three nations, the
    * finished multi-supplier orders where THIS supplier returned a line
    * and NO OTHER supplier did. Spark decorrelates both subqueries into
    * l_orderkey-keyed semi/anti hash joins against two more lineitem
    * scans with the `l_suppkey <>` disequality carried as the join's
    * extra condition — never a per-row loop; the EXISTS/NOT-EXISTS sides
    * shuffle on the same key as the main join, so AQE can stack the
    * exchanges. */
  private val waitingSupplierSql =
    """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
      |FROM supplier
      |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      |JOIN orders ON o_orderkey = l1.l_orderkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE o_orderstatus = 'F'
      |  AND l1.l_returnflag = 'R'
      |  AND n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_returnflag = 'R')
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name""".stripMargin

  /** TPC-H Q11 analog ("important parts", r12): parts whose revenue
    * exceeds 1.5× the per-part average, division-free as 2·rev·n >
    * 3·total in exact DECIMAL. The per-group sum is cast back to
    * DECIMAL(18,4) BEFORE the count multiply (the raw DECIMAL(28,4) sum
    * × DECIMAL(12,0) would hit precision 41 and take Spark's
    * scale-losing rounding — the Q22 rule one level up). r16
    * (optimization): the two HAVING scalar subqueries each re-scanned
    * lineitem (3 scans total); they are now ONE `tot` CTE whose two
    * aggregates share a scan, cross-joined below the filter — both CTEs
    * are single-referenced, so no `AS MATERIALIZED` is needed and the
    * text stays verbatim-shareable (2 lineitem scans; the grouped `rev`
    * and the global `total`/`n_parts` cannot share one pass without the
    * part join changing the row set, and the exact expressions/types of
    * the r12 text are preserved term for term). The 1.5× cut keeps the
    * result scale-free: the fixture's independent-draw revenue
    * concentrates shares near 1× with max ≈1.75–1.9× at every SF. */
  private val importantPartsSql =
    """WITH pr AS (
      |  SELECT p_brand, p_partkey,
      |         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev
      |  FROM lineitem
      |  JOIN part ON p_partkey = l_partkey
      |  GROUP BY p_brand, p_partkey),
      |tot AS (
      |  SELECT CAST(count(DISTINCT l_partkey) AS DECIMAL(12,0)) AS n_parts,
      |         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS total
      |  FROM lineitem)
      |SELECT p_brand, p_partkey, CAST(rev AS DOUBLE) AS part_revenue
      |FROM pr CROSS JOIN tot
      |WHERE CAST(rev AS DECIMAL(18,4)) * n_parts * 2 > 3 * total
      |ORDER BY part_revenue DESC, p_partkey""".stripMargin

  /** TPC-H Q7 analog ("volume shipping", r12): the SAME dimension table
    * joined twice under different aliases (supplier nation vs customer
    * nation) with a symmetric two-arm OR over the alias pair — the
    * planner must keep both nation broadcasts distinct and push the
    * disjunction to the joined pair (not nested-loop it). Recent
    * shipping years only; `year()` is in the ANSI intersection both
    * engines parse identically over CAST(ts AS DATE). */
  private val volumeShippingSql =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |       year(CAST(l_shipdate AS DATE)) AS l_year,
      |       CAST(count(*) AS BIGINT) AS n_lines,
      |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM supplier
      |JOIN lineitem ON s_suppkey = l_suppkey
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE ((n1.n_name = 'NATION_5' AND n2.n_name = 'NATION_8')
      |    OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_5'))
      |  AND CAST(l_shipdate AS DATE) >= DATE '1998-01-01'
      |GROUP BY n1.n_name, n2.n_name, year(CAST(l_shipdate AS DATE))
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** TPC-H Q8 analog ("national market share", r12): conditional
    * aggregation — a CASE inside the sum splits one pass into the
    * nation's volume and the total, with the share division STAGED in an
    * outer query over the named aggregate columns (no re-derived
    * subexpression — the abtest discipline); both sums stay exact
    * DECIMAL until one DOUBLE cast each. NATION_8 has suppliers at every
    * fixture scale (NATION_5 does not at sf0.001). */
  private val marketShareSql =
    """SELECT o_year, nation_volume, total_volume,
      |       nation_volume / total_volume AS mkt_share
      |FROM (
      |  SELECT year(CAST(o_orderdate AS DATE)) AS o_year,
      |         CAST(sum(CASE WHEN n_name = 'NATION_8'
      |                       THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
      |                       ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS nation_volume,
      |         CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_volume
      |  FROM lineitem
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  GROUP BY year(CAST(o_orderdate AS DATE)))
      |ORDER BY o_year""".stripMargin

  /** TPC-H Q1 analog ("pricing summary report", r12): the full eight-column
    * flag/status rollup — the one classic the family still lacked. Money
    * discipline per column class: quantities sum as BIGINT (integral in the
    * fixture), the three price sums accumulate exact DECIMAL and surface as
    * DOUBLE, and each average is ONE double division of an exact
    * integer/DECIMAL numerator (avg_disc runs on basis-point BIGINTs — a
    * raw sum(double) would be FP-order-dependent, §7.4). The charge column
    * is the family's one SIX-decimal product: a direct
    * `CAST(ep*(1-d)*(1+t) AS DECIMAL(18,4))` measurably diverged at sf0.01
    * (the r6 rounding-mode-tie trap — the two-term casts are safe only
    * because ep·(1-d) is exactly 4dp), so the charge multiplies the safe
    * 4dp DECIMAL by an exact 2dp DECIMAL (1+tax) and stays exact at scale
    * 6 until the one DOUBLE surface. */
  private val pricingSummarySql =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
      |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |       CAST(CAST(floor(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
      |                           * CAST(1 + l_tax AS DECIMAL(4,2)))) AS BIGINT) AS DOUBLE)
      |         + CAST(CAST((sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
      |                          * CAST(1 + l_tax AS DECIMAL(4,2))) % 1) * 1000000 AS BIGINT) AS DOUBLE)
      |           / CAST(1000000 AS DOUBLE) AS sum_charge,
      |       CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*) AS avg_qty,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_price,
      |       CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / (100 * count(*)) AS avg_disc,
      |       CAST(count(*) AS BIGINT) AS count_order
      |FROM lineitem
      |WHERE CAST(l_shipdate AS DATE) <= DATE '2001-09-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q6 analog ("forecasting revenue change", r12): the pure
    * scan-shape classic — one filter-aggregate with every predicate pushed
    * to the parquet scan, no join. The discount band compares in exact
    * basis points (`round(d*100) BETWEEN 5 AND 7`) rather than double
    * literals, and quantity goes through the integral-BIGINT cast (the
    * r11 truncate-vs-round rule). */
  private val forecastRevenueSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_lines,
      |       CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue_delta
      |FROM lineitem
      |WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
      |  AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
      |  AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
      |  AND CAST(l_quantity AS BIGINT) < 24""".stripMargin

  /** TPC-H Q9 analog ("product-type profit", r12): profit = revenue minus
    * cost across a five-way join, by supplier nation and order year. The
    * fixture ships no partsupp, so unit cost is p_retailprice (declared
    * adaptation); the per-line profit stays exact DECIMAL end-to-end —
    * DECIMAL(18,4) revenue minus a DECIMAL(18,4)×DECIMAL(4,0) cost product
    * (quantity fits (4,0); an uncast BIGINT multiplicand would cross
    * precision 38, the Q22 rule). Part filter is the classic LIKE on
    * p_name, pushed to the part scan. */
  private val productProfitSql =
    """SELECT n_name AS nation, year(CAST(o_orderdate AS DATE)) AS o_year,
      |       CAST(count(*) AS BIGINT) AS n_lines,
      |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
      |              - CAST(p_retailprice AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(4,0))) AS DOUBLE) AS profit
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE p_name LIKE '%widget%'
      |GROUP BY n_name, year(CAST(o_orderdate AS DATE))
      |ORDER BY nation, o_year""".stripMargin

  /** TPC-H Q10 analog ("returned-item reporting", r12): top-20 customers
    * by revenue lost to returns in one fixture quarter — the classic
    * customer⨝orders⨝lineitem⨝nation rollup with a returnflag filter on
    * the fact scan and both date filters pushed to orders. Unique
    * c_custkey tie-break makes the LIMIT boundary deterministic. */
  private val returnedItemsSql =
    """SELECT c_custkey, c_name, n_name,
      |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND CAST(o_orderdate AS DATE) >= DATE '1999-10-01'
      |  AND CAST(o_orderdate AS DATE) < DATE '2000-01-01'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  /** TPC-H Q13 analog ("customer order-count distribution", r12): the
    * two-level aggregation over a LEFT OUTER join whose extra predicate
    * lives in the ON clause (orders filtered WITHOUT dropping orderless
    * customers — moving it to WHERE would silently turn the join inner,
    * the classic Q13 trap). count(o_orderkey) counts only matched rows,
    * so never-matched customers land in the c_count = 0 bucket. */
  private val custOrderDistSql =
    """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
      |FROM (
      |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      |  FROM customer
      |  LEFT OUTER JOIN orders ON c_custkey = o_custkey
      |                        AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey) AS c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** TPC-H Q14 analog ("promotion effect", r12): conditional aggregation
    * over one shipdate month with the percentage division STAGED over the
    * named aggregate columns in an outer query (the Q8/abtest discipline —
    * no re-derived subexpression, exactly two double ops in a fixed
    * order). p_type = 'PROMO' is the fixture's literal type value (no
    * prefix LIKE needed — the domain is six bare words). */
  private val promoRevenueSql =
    """SELECT n_lines, promo_revenue, total_revenue,
      |       CAST(100 AS DOUBLE) * promo_revenue / total_revenue AS promo_share
      |FROM (
      |  SELECT CAST(count(*) AS BIGINT) AS n_lines,
      |         CAST(sum(CASE WHEN p_type = 'PROMO'
      |                       THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
      |                       ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_revenue,
      |         CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
      |  FROM lineitem
      |  JOIN part ON p_partkey = l_partkey
      |  WHERE CAST(l_shipdate AS DATE) >= DATE '1998-03-01'
      |    AND CAST(l_shipdate AS DATE) < DATE '1998-04-01') AS m""".stripMargin

  /** Recursive-CTE BFS (r12, rebuilt r13): hop-distance histogram from
    * the min node of a SELF-CONTAINED mutual-KNN co-purchase graph
    * (cap-8 baskets, per-node top-5 by support, mutual filter ⇒ degree
    * ≤ 5, so the UNION ALL recursion's path count is ≤ 5³ from one
    * start at ANY corpus size; the d < 3 bound guarantees termination
    * without relying on either engine's recursive-dedup semantics).
    * min(d) per node collapses multi-path visits after the recursion.
    *
    * r13 restructure (the r12 verdict's top item): Spark's recursive
    * loop re-evaluates every non-materialized CTE per iteration — 4
    * replans of the full distinct+cap+pair-join chain (97 s at ×10),
    * which r12 paid for by quarter-sampling the parts, i.e. a coverage
    * cut for a plan deficiency. Now the GRAPH BUILD is materialized
    * exactly once per engine: the edge relation is a memoized
    * localCheckpoint (fixture-digest keyed, [[bfsEdges]]) the recursion
    * iterates over as a leaf, and the DuckDB twin marks the
    * multiply-referenced CTEs `AS MATERIALIZED` (the r9 rule — its
    * recursion re-reads `e` per step too). Both engines run the SAME
    * generated CTE text ([[bfsGraphCtes]]) for the build and the SAME
    * recursion tail ([[bfsTailSql]]) — only the materialization
    * mechanism differs, outputs hash-equal — and the quarter-sample is
    * GONE (full part coverage restored). */
  private def bfsGraphCtes(mat: Boolean): String = {
    // DuckDB inlines CTEs by default; every CTE referenced more than
    // once (cap/pr/knn by their self-joins, e by s0 + the recursion)
    // re-runs its subquery per reference unless materialized
    val m = if (mat) " MATERIALIZED" else ""
    s"""base AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |cap AS$m (
       |  SELECT o, p FROM (
       |    SELECT o, p, row_number() OVER (PARTITION BY o ORDER BY p) AS rk
       |    FROM base) t
       |  WHERE rk <= 8),
       |pr AS$m (
       |  SELECT a.p AS u, b.p AS v, count(*) AS n
       |  FROM cap a JOIN cap b ON a.o = b.o AND a.p < b.p
       |  GROUP BY a.p, b.p),
       |adj AS (SELECT u, v, n FROM pr UNION ALL SELECT v AS u, u AS v, n FROM pr),
       |knn AS$m (
       |  SELECT u, v FROM (
       |    SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY n DESC, v) AS rk
       |    FROM adj) t
       |  WHERE rk <= 5),
       |e AS$m (SELECT a.u, a.v FROM knn a JOIN knn b ON a.u = b.v AND a.v = b.u)""".stripMargin
  }

  /** The recursion + histogram tail over an edge relation named
    * `edges` — ONE text for both engines (comment-style hints are legal
    * in both dialects; DuckDB ignores Spark's broadcast hint). The
    * frontier side is ≤ 5^d rows by the degree bound, so the engine
    * broadcasts it against the checkpointed edge leaf (an RDD leaf has
    * unknown stats — the r7 rule — so the hint is load-bearing). */
  private def bfsTailSql(edges: String): String =
    s"""s0 AS (SELECT min(u) AS s FROM $edges),
       |bfs(node, d) AS (
       |  SELECT s, 0 FROM s0
       |  UNION ALL
       |  SELECT /*+ BROADCAST(bfs) */ e.v, bfs.d + 1
       |  FROM bfs JOIN $edges e ON e.u = bfs.node WHERE bfs.d < 3),
       |lvl AS (SELECT node, CAST(min(d) AS BIGINT) AS hop FROM bfs GROUP BY node)
       |SELECT hop, CAST(count(*) AS BIGINT) AS n_nodes, CAST(min(node) AS BIGINT) AS first_node
       |FROM lvl GROUP BY hop ORDER BY hop""".stripMargin

  private val recursiveBfsSql =
    s"""WITH RECURSIVE
       |${bfsGraphCtes(mat = true)},
       |${bfsTailSql("e")}""".stripMargin

  /** Memoized mutual-KNN edge leaf for the recursive BFS (fixture-digest
    * keyed, the copurchaseAdj pattern): built from the SAME generated
    * CTE text the oracle runs, materialized once, iterated as a leaf. */
  private def bfsEdges(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    IndexCache(s, "bfsEdges", SourceSinkOps.fixtureKey(dir, "lineitem.parquet")) {
      graft.GraftSql.run(s, dir,
          s"WITH ${bfsGraphCtes(mat = false)} SELECT u, v FROM e")
        .localCheckpoint(true)
    }

  private def recursiveBfsRun(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    // prefixed internal view name (the GraftSql namespace convention)
    bfsEdges(s, dir).createOrReplaceTempView("rbfs_edges")
    s.sql(s"WITH RECURSIVE\n${bfsTailSql("rbfs_edges")}")
  }

  /** TPC-H Q12 analog ("shipping modes and order priority", r12c3) on
    * the fixture's columns: the ship-mode split becomes l_linestatus and
    * the lateness predicate becomes ship > order + 90 days — `DATE +
    * INT` is in the shared dialect (date−date is NOT: Spark yields an
    * interval, DuckDB an integer), so the verbatim text holds. The
    * classic high/low-priority conditional-count pivot over one
    * fact-fact equi-join. */
  private val lateLinesSql =
    """SELECT l_linestatus,
      |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count,
      |       CAST(count(*) AS BIGINT) AS late_lines
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 90
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin

  /** TPC-H Q18 analog ("large-volume customer", r14): orders whose
    * total quantity tops 250 units, with customer identity and order
    * value — the IN-subquery-with-HAVING shape from SQL text (Spark
    * plans the IN as a left-semi aggregate join; q_sql_order_priority
    * covers EXISTS, this covers IN). Quantities sum as exact DECIMAL
    * through BOTH the HAVING filter and the output; DOUBLE only in the
    * final projection (§7.4). */
  private val bigOrdersSql =
    """SELECT c_name, c_custkey, o_orderkey,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty,
      |       CAST(max(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS order_value
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
      |                     GROUP BY l_orderkey
      |                     HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 250)
      |GROUP BY c_name, c_custkey, o_orderkey
      |ORDER BY total_qty DESC, o_orderkey
      |LIMIT 100""".stripMargin

  def queries: Seq[(String, Q)] = Seq(
    "q_sql_big_orders" -> ((s: SparkSession, dir: String) =>
      graft.GraftSql.run(s, dir, bigOrdersSql)),

    "q_sql_late_lines" -> ((s: SparkSession, dir: String) =>
      graft.GraftSql.run(s, dir, lateLinesSql)),

    "q_sql_recursive_bfs" -> ((s: SparkSession, dir: String) =>
      recursiveBfsRun(s, dir)),

    "q_sql_shipping_priority" -> ((s: SparkSession, dir: String) =>
      graft.GraftSql.run(s, dir, shippingPrioritySql)),

    "q_sql_revenue_by_nation" -> ((s: SparkSession, dir: String) =>
      graft.GraftSql.run(s, dir, revenueByNationSql)),

    "q_sql_order_priority" -> ((s: SparkSession, dir: String) =>
      graft.GraftSql.run(s, dir, orderPrioritySql)),

    "q_sql_top_order_per_cust" -> ((s: SparkSession, dir: String) =>
      graft.GraftSql.run(s, dir, topOrderPerCustomerSql)),

    "q_sql_small_qty_revenue" -> ((s: SparkSession, dir: String) =>
      graft.GraftSql.run(s, dir, smallQtyRevenueSql)),

    "q_sql_top_balance_inactive" -> ((s: SparkSession, dir: String) =>
      graft.GraftSql.run(s, dir, topBalanceInactiveSql)),

    "q_sql_disjunctive_revenue" -> ((s: SparkSession, dir: String) =>
      graft.GraftSql.run(s, dir, disjunctiveRevenueSql)),

    "q_sql_top_supplier" -> ((s: SparkSession, dir: String) =>
      graft.GraftSql.run(s, dir, topSupplierSql)),

    "q_sql_waiting_supplier" -> ((s: SparkSession, dir: String) =>
      graft.GraftSql.run(s, dir, waitingSupplierSql)),

    "q_sql_important_parts" -> ((s: SparkSession, dir: String) =>
      graft.GraftSql.run(s, dir, importantPartsSql)),

    "q_sql_volume_shipping" -> ((s: SparkSession, dir: String) =>
      graft.GraftSql.run(s, dir, volumeShippingSql)),

    "q_sql_market_share" -> ((s: SparkSession, dir: String) =>
      graft.GraftSql.run(s, dir, marketShareSql)),

    "q_sql_pricing_summary" -> ((s: SparkSession, dir: String) =>
      graft.GraftSql.run(s, dir, pricingSummarySql)),

    "q_sql_forecast_revenue" -> ((s: SparkSession, dir: String) =>
      graft.GraftSql.run(s, dir, forecastRevenueSql)),

    "q_sql_product_profit" -> ((s: SparkSession, dir: String) =>
      graft.GraftSql.run(s, dir, productProfitSql)),

    "q_sql_returned_items" -> ((s: SparkSession, dir: String) =>
      graft.GraftSql.run(s, dir, returnedItemsSql)),

    "q_sql_cust_order_dist" -> ((s: SparkSession, dir: String) =>
      graft.GraftSql.run(s, dir, custOrderDistSql)),

    "q_sql_promo_revenue" -> ((s: SparkSession, dir: String) =>
      graft.GraftSql.run(s, dir, promoRevenueSql))
  )

  def oracle: Seq[(String, String)] = Seq(
    "q_sql_big_orders" -> bigOrdersSql,
    "q_sql_recursive_bfs" -> recursiveBfsSql,
    "q_sql_shipping_priority" -> shippingPrioritySql,
    "q_sql_revenue_by_nation" -> revenueByNationSql,
    "q_sql_order_priority" -> orderPrioritySql,
    "q_sql_top_order_per_cust" -> topOrderPerCustomerSql,
    "q_sql_small_qty_revenue" -> smallQtyRevenueSql,
    "q_sql_top_balance_inactive" -> topBalanceInactiveSql,
    "q_sql_disjunctive_revenue" -> disjunctiveRevenueSql,
    "q_sql_top_supplier" -> topSupplierSql,
    "q_sql_waiting_supplier" -> waitingSupplierSql,
    "q_sql_important_parts" -> importantPartsSql,
    "q_sql_volume_shipping" -> volumeShippingSql,
    "q_sql_market_share" -> marketShareSql,
    "q_sql_pricing_summary" -> pricingSummarySql,
    "q_sql_late_lines" -> lateLinesSql,
    "q_sql_forecast_revenue" -> forecastRevenueSql,
    "q_sql_product_profit" -> productProfitSql,
    "q_sql_returned_items" -> returnedItemsSql,
    "q_sql_cust_order_dist" -> custOrderDistSql,
    "q_sql_promo_revenue" -> promoRevenueSql
  )
}
