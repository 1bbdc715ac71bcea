package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.{t, events}

/** §2.6 Sort / limit / top-k / set ops (SURVEY.md). Global sorts use
  * Spark's range-partitioned exchange (sampled split points → parallel
  * sort, no single-node bottleneck); `orderBy(...).limit(k)` collapses to
  * TakeOrderedAndProject (per-partition top-k + driver merge of k·p rows —
  * the 100 TB-safe top-k). Keyed dedup is window rank=1, never
  * `dropDuplicates` (whose survivor choice is nondeterministic).
  */
object SortSetQueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // PARETO SKYLINE (§2.124) — the classic "efficient frontier"
    // operator: parts not weakly dominated on (revenue, quantity)
    // (a dominates b iff ≥ on both and > on one). Sort-filter
    // skyline over the GLOBAL (rev desc, qty desc, pk) order — a row
    // survives iff no strictly-earlier row carries a larger qty — run
    // through GlobalRank.runningMaxExclusive (two-pass distributed
    // prefix max: range exchange + O(partitions) boundary maxima),
    // NEVER a single-partition window. Revenue stays an exact
    // integer in cent-percent units (price_cents·(100−disc_pct)) so
    // no rounding-mode fence exists anywhere. Equal (rev, qty) points
    // don't dominate each other and all survive. The prefix max alone
    // misses one dominance case — a predecessor with EQUAL qty and
    // strictly greater rev (prevmax == qty passes the filter) — so a
    // second, partitioned condition closes it: within each qty value
    // only the max-rev points are non-dominated (any same-qty
    // lower-rev point is beaten ≥/≥ with > on rev). That max is a
    // qty-partitioned window (one keyed shuffle, no global order).
    "sort_pareto_skyline" -> ((s, dir) => {
      // Round-18: fanout REVERTED (round-17 verdict #4) — the scan-fused
      // map work here is a light project into a partial agg, below the
      // measured ~1 s pay-off floor for an extra exchange + AQE stage;
      // the kept fanout read 1.20 → 1.75 s driver-to-driver.
      val pq = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_extendedprice"),
          col("l_discount"), col("l_quantity"))
        .groupBy(col("l_partkey").as("pk"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")
            * (lit(100L) - round(col("l_discount") * 100).cast("long")))
            .cast("long").as("rev"),
          sum(col("l_quantity")).cast("long").as("qty"))
      val ranked = graft.plans.GlobalRank.runningMaxExclusive(pq,
        Seq(col("rev").desc_nulls_first, col("qty").desc_nulls_first,
          col("pk")), "qty", "prevmax")
      ranked
        .withColumn("maxrev_q",
          max(col("rev")).over(Window.partitionBy(col("qty"))))
        .filter(!(col("prevmax") > col("qty")) &&
          col("rev") === col("maxrev_q"))
        .select(col("pk"), col("rev").as("rev_centpct"), col("qty"))
        .orderBy(col("rev").desc, col("pk"))
    }),

    "sort_multikey" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .orderBy(col("o_orderpriority").asc, col("o_totalprice").desc,
          col("o_orderkey").asc)
    }),

    "sort_limit_topk" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(20)
    }),

    // LIMIT/OFFSET PAGINATION (§2.80) — page 2 of the price leaderboard
    // under a TOTAL order (price desc, key): the API-pagination shape.
    // OFFSET in a distributed engine is as cheap as the limit only
    // because the sort is bounded by LIMIT+OFFSET rows (Spark plans
    // TakeOrderedAndProject with offset); a deep page would degrade to
    // a full sort — the documented trade keyset pagination avoids.
    "sort_limit_offset_page" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_pg")
      s.sql("""SELECT o_orderkey, o_orderpriority, o_totalprice
        |FROM orders_pg
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10 OFFSET 10""".stripMargin)
    }),

    "set_union_all" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .select(lit("C").as("side"), col("c_custkey").as("id"),
          col("c_nationkey").as("nationkey"))
      val sp = t(s, dir, "supplier")
        .select(lit("S").as("side"), col("s_suppkey").as("id"),
          col("s_nationkey").as("nationkey"))
      c.unionByName(sp).orderBy(col("side"), col("id"))
    }),

    "set_union_distinct" -> ((s, dir) => {
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .union(t(s, dir, "supplier").select(col("s_nationkey")))
        .distinct()
        .orderBy(col("nationkey"))
    }),

    "set_intersect" -> ((s, dir) => {
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .intersect(t(s, dir, "supplier").select(col("s_nationkey")))
        .orderBy(col("nationkey"))
    }),

    // 'F'-status orders with no returned lineitem. Both sides scale with
    // the data, so the difference stays non-degenerate at every SF (a
    // nationkey-based variant saturated all 25 nations at sf0.1).
    "set_except" -> ((s, dir) => {
      t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("orderkey"))
        .except(t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
          .select(col("l_orderkey")))
        .orderBy(col("orderkey"))
    }),

    // INTERSECT ALL — MULTISET intersection (each key survives
    // min(count_left, count_right) times): the bag semantics the
    // DISTINCT set_intersect key can't express, with its own physical
    // rewrite (Catalyst lowers it to a count-compare generate over a
    // two-sided aggregate, not a semi join). Returned vs accepted
    // lineitem part keys: both multiplicities scale with data, so the
    // min stays non-degenerate at every SF.
    "set_intersect_all" -> ((s, dir) => {
      t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_partkey").as("partkey"))
        .intersectAll(t(s, dir, "lineitem")
          .filter(col("l_returnflag") === "A").select(col("l_partkey")))
        .orderBy(col("partkey"))
    }),

    // EXCEPT ALL — multiset difference (count_left − count_right
    // survivors per key): the bag sibling of set_except. 'F'-order
    // lineitem part keys minus returned ones.
    "set_except_all" -> ((s, dir) => {
      t(s, dir, "lineitem").filter(col("l_linestatus") === "F")
        .select(col("l_partkey").as("partkey"))
        .exceptAll(t(s, dir, "lineitem")
          .filter(col("l_returnflag") === "R").select(col("l_partkey")))
        .orderBy(col("partkey"))
    }),

    // Keyed dedup keeping the lowest event_id — deterministic via rank=1.
    "dedup_dropduplicates" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("event_id"))
      events(s, dir)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
        .orderBy(col("user_id"), col("event_type"))
    })
  )

  val oracle: Map[String, String] = Map(
    // Exclusive prefix max over the identical unique total order —
    // the ROWS window form of the two-pass prefix pass.
    "sort_pareto_skyline" ->
      """WITH pq AS (SELECT l_partkey AS pk,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |      AS BIGINT) AS rev,
        |    CAST(sum(l_quantity) AS BIGINT) AS qty
        |  FROM lineitem GROUP BY 1),
        |w AS (SELECT pk, rev, qty,
        |    max(qty) OVER (ORDER BY rev DESC, qty DESC, pk
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prevmax,
        |    max(rev) OVER (PARTITION BY qty) AS maxrev_q
        |  FROM pq)
        |SELECT pk, rev AS rev_centpct, qty FROM w
        |WHERE (prevmax IS NULL OR NOT (prevmax > qty))
        |  AND rev = maxrev_q
        |ORDER BY rev DESC, pk""".stripMargin,
    "sort_multikey" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        |ORDER BY o_orderpriority ASC, o_totalprice DESC, o_orderkey ASC""".stripMargin,
    "sort_limit_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin,
    "sort_limit_offset_page" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10 OFFSET 10""".stripMargin,
    "set_union_all" ->
      """SELECT * FROM (
        |  SELECT 'C' AS side, c_custkey AS id, c_nationkey AS nationkey FROM customer
        |  UNION ALL
        |  SELECT 'S', s_suppkey, s_nationkey FROM supplier
        |) ORDER BY side, id""".stripMargin,
    "set_union_distinct" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin,
    "set_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin,
    "set_except" ->
      """SELECT o_orderkey AS orderkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
        |ORDER BY orderkey""".stripMargin,
    "set_intersect_all" ->
      """SELECT l_partkey AS partkey FROM lineitem WHERE l_returnflag = 'R'
        |INTERSECT ALL
        |SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
        |ORDER BY partkey""".stripMargin,
    "set_except_all" ->
      """SELECT l_partkey AS partkey FROM lineitem WHERE l_linestatus = 'F'
        |EXCEPT ALL
        |SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
        |ORDER BY partkey""".stripMargin,
    "dedup_dropduplicates" ->
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT user_id, event_type, event_id, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY event_id) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin
  )
}
