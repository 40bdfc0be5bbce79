package graft.queries

import graft.{Canon, Q, Scratch, Tables}
import org.apache.spark.sql.functions._

/** SURVEY §2b groups A (sources/sinks) and B (row ops).
  *
  * Scale notes: every query is a declarative DataFrame plan — scans keep
  * predicate pushdown + column pruning (verified via explain in
  * ExplainSpec), and the temp-dir writes in a2–a4 model the snapshot
  * write path (`mode("overwrite")`, partitionBy) that a materialized view
  * uses at cluster scale.
  */
object CoreQueries {

  /** A: parquet scan + projection + pushed filter. */
  val a1ScanProject = Q(
    "a1_scan_project",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir, "lineitem")
        .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_returnflag")
        .filter($"l_returnflag" === "R")
        .orderBy($"l_orderkey", $"l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
            FROM lineitem WHERE l_returnflag = 'R'
            ORDER BY l_orderkey, l_linenumber"""))

  /** A: CSV write + schema-on-read back (schema explicit, not inferred —
    * inference would be a second full scan at 100 TB). */
  val a2CsvRoundtrip = Q(
    "a2_csv_roundtrip",
    (s, dir) => {
      val region = Tables(s, dir, "region")
      val tmp = Scratch.dir("a2_csv")
      region.write.mode("overwrite").option("header", "true").csv(tmp)
      s.read.schema(region.schema).option("header", "true").csv(tmp)
        .orderBy("r_regionkey")
    },
    Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"))

  /** A: JSON write + schema-on-read back. */
  val a3JsonRoundtrip = Q(
    "a3_json_roundtrip",
    (s, dir) => {
      val nation = Tables(s, dir, "nation")
      val tmp = Scratch.dir("a3_json")
      nation.write.mode("overwrite").json(tmp)
      s.read.schema(nation.schema).json(tmp).orderBy("n_nationkey")
    },
    Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"))

  /** A: ORC write + read back — the second columnar format (predicate
    * pushdown and column pruning work the same as parquet through
    * DataSource V2). Oracle reads the original parquet: a lossless
    * round-trip is exactly "same rows, same values". */
  val a6OrcRoundtrip = Q(
    "a6_orc_roundtrip",
    (s, dir) => {
      import s.implicits._
      val customer = Tables(s, dir, "customer")
      val tmp = Scratch.dir("a6_orc")
      customer.write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
        .select($"c_custkey", $"c_name", $"c_nationkey", $"c_acctbal")
        .filter($"c_acctbal" > 1000)
        .orderBy($"c_custkey")
    },
    Some("""SELECT c_custkey, c_name, c_nationkey, c_acctbal
            FROM customer WHERE c_acctbal > 1000 ORDER BY c_custkey"""))

  /** A: partitioned parquet snapshot write (overwrite = the Redis-MULTI
    * analog, SURVEY §2a#8) + read-back aggregation. Partitioning by a
    * low-cardinality column is the layout a 100 TB materialized view
    * would use for partition pruning. */
  val a4PartitionedWrite = Q(
    "a4_partitioned_write",
    (s, dir) => {
      import s.implicits._
      val orders = Tables(s, dir, "orders")
      val tmp = Scratch.dir("a4_part")
      orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(tmp)
      s.read.parquet(tmp)
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n_orders"), Canon.dsumD($"o_totalprice").as("sum_price"))
        .orderBy($"o_orderstatus")
    },
    Some("""SELECT o_orderstatus, count(*) AS n_orders,
                   round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price
            FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** B: projection + computed columns (exact decimal staging, see Canon). */
  val b1ProjectCompute = Q(
    "b1_project_compute",
    (s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem")
      val rev = (Canon.dec($"l_extendedprice") * (lit(1) - Canon.dec($"l_discount")))
        .cast("decimal(18,4)")
      li.filter($"l_orderkey" % 7 === 0)
        .select(
          $"l_orderkey", $"l_linenumber",
          rev.cast("double").as("revenue"),
          (rev * (lit(1) + Canon.dec($"l_tax"))).cast("decimal(18,6)")
            .cast("double").as("charge"))
        .orderBy($"l_orderkey", $"l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber,
                   CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
                   CAST(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) * (1 + CAST(l_tax AS DECIMAL(18,2))) AS DECIMAL(18,6)) AS DOUBLE) AS charge
            FROM lineitem WHERE l_orderkey % 7 = 0
            ORDER BY l_orderkey, l_linenumber"""))

  /** B: conjunctive/disjunctive predicates, IN, BETWEEN, LIKE. */
  val b2FilterPredicates = Q(
    "b2_filter_predicates",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir, "orders")
        .filter(
          ($"o_orderstatus".isin("F", "O") &&
            $"o_totalprice".between(1000, 5000) &&
            $"o_orderpriority".like("1%")) ||
            ($"o_orderpriority".like("3%") && $"o_totalprice" < 900))
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .orderBy($"o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            WHERE (o_orderstatus IN ('F','O') AND o_totalprice BETWEEN 1000 AND 5000
                   AND o_orderpriority LIKE '1%')
               OR (o_orderpriority LIKE '3%' AND o_totalprice < 900)
            ORDER BY o_orderkey"""))

  /** B: explode / lateral over split tokens. */
  val b3ExplodeTokens = Q(
    "b3_explode_tokens",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir, "documents")
        .filter($"doc_id" < 100)
        .select($"doc_id", explode(split($"text", " ")).as("token"))
        .orderBy($"doc_id", $"token")
    },
    Some("""SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents WHERE doc_id < 100
            ORDER BY doc_id, token"""))

  /** B: the reference's bitmask expansion (SURVEY §2a#4) over fixture data —
    * true 64-bit semantics via shiftleft(1L, i), pure built-ins (sequence/
    * filter/explode), no custom Generator. `p_size` plays the mask role.
    * Cites /root/reference/src/plan-processor.ts:55-57. */
  val b4BitmaskExplode = Q(
    "b4_bitmask_explode",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir, "part")
        .select($"p_partkey", $"p_size".cast("long").as("mask"))
        .withColumn("bit",
          explode(expr("filter(sequence(0, 63), i -> (shiftleft(1L, i) & mask) != 0)")))
        .select($"p_partkey", $"bit".cast("long").as("bit"),
          expr("shiftleft(1L, bit)").as("plan_id"))
        .orderBy($"p_partkey", $"bit")
    },
    // DuckDB raises on the well-defined-in-Spark `1::BIGINT << 63`, so the
    // oracle enumerates bits 0..62 (p_size < 2^31, so nothing is lost);
    // bit 63 is exercised oracle-side in the M3 plan pipeline.
    Some("""SELECT p_partkey, i AS bit, (1::BIGINT << i) AS plan_id
            FROM part, range(63) t(i)
            WHERE ((1::BIGINT << i) & p_size) != 0
            ORDER BY p_partkey, bit"""))

  /** F: global sort + limit (top-k): total order via unique tiebreak key. */
  val f1TopkGlobal = Q(
    "f1_topk_global",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir, "orders")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .limit(100)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""))

  /** A: bucketed tables + co-located join — both sides bucketed on the
    * join key, so the join itself needs NO shuffle (only the later
    * re-aggregation does). This is the layout strategy for repeated big
    * joins at 100 TB: pay the partitioning once at write time.
    * ExplainSpec asserts the exchange count. */
  val a5BucketedJoin = Q(
    "a5_bucketed_join",
    (s, dir) => {
      import s.implicits._
      val wh = Scratch.dir("a5_bucket")
      Tables(s, dir, "orders").write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$wh/orders_b").saveAsTable("graft_orders_b")
      Tables(s, dir, "customer").write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$wh/customer_b").saveAsTable("graft_customer_b")
      s.table("graft_orders_b")
        .join(s.table("graft_customer_b"), $"o_custkey" === $"c_custkey")
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n_orders"), Canon.dsumD($"o_totalprice").as("sum_price"))
        .orderBy($"c_nationkey")
    },
    Some("""SELECT c_nationkey, count(*) AS n_orders,
                   round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_nationkey ORDER BY c_nationkey"""))

  /** F: top-k per group — window row_number + filter (the composable form;
    * Spark's TakeOrderedAndProject kicks in for the global case in f1). */
  val f2TopkPerGroup = Q(
    "f2_topk_per_group",
    (s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"c_nationkey").orderBy($"c_acctbal".desc, $"c_custkey")
      Tables(s, dir, "customer")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .select($"c_nationkey", $"rn", $"c_custkey", $"c_acctbal")
        .orderBy($"c_nationkey", $"rn")
    },
    Some("""SELECT c_nationkey, rn, c_custkey, c_acctbal FROM (
              SELECT c_nationkey, c_custkey, c_acctbal,
                     row_number() OVER (PARTITION BY c_nationkey
                                        ORDER BY c_acctbal DESC, c_custkey) AS rn
              FROM customer) t
            WHERE rn <= 3 ORDER BY c_nationkey, rn"""))

  /** F: UNION ALL then re-aggregate. */
  val f3UnionAll = Q(
    "f3_union_all",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir, "customer").select($"c_nationkey".as("nationkey"))
        .unionAll(Tables(s, dir, "supplier").select($"s_nationkey".as("nationkey")))
        .groupBy($"nationkey").agg(count(lit(1)).as("n"))
        .orderBy($"nationkey")
    },
    Some("""SELECT nationkey, count(*) AS n FROM (
              SELECT c_nationkey AS nationkey FROM customer
              UNION ALL
              SELECT s_nationkey FROM supplier) t
            GROUP BY nationkey ORDER BY nationkey"""))

  /** F: INTERSECT (distinct semantics). */
  val f4Intersect = Q(
    "f4_intersect",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir, "customer").select($"c_nationkey".as("nationkey"))
        .intersect(Tables(s, dir, "supplier").select($"s_nationkey".as("nationkey")))
        .orderBy($"nationkey")
    },
    Some("""SELECT c_nationkey AS nationkey FROM customer
            INTERSECT
            SELECT s_nationkey FROM supplier
            ORDER BY nationkey"""))

  /** F: EXCEPT (distinct semantics) — customers with orders but none
    * above 300k (non-empty at every fixture SF). */
  val f5Except = Q(
    "f5_except",
    (s, dir) => {
      import s.implicits._
      val orders = Tables(s, dir, "orders")
      orders.select($"o_custkey")
        .except(orders.filter($"o_totalprice" > 300000).select($"o_custkey"))
        .orderBy($"o_custkey")
    },
    Some("""SELECT o_custkey FROM orders
            EXCEPT
            SELECT o_custkey FROM orders WHERE o_totalprice > 300000
            ORDER BY o_custkey"""))

  /** F: INTERSECT ALL (multiset semantics) — each nationkey survives
    * min(customer copies, supplier copies) times, unlike f4's distinct
    * form. Spark plans this as a counted aggregate + generate, not a
    * join-per-duplicate: one shuffle per side, same as any agg. */
  val f6IntersectAll = Q(
    "f6_intersect_all",
    (s, dir) => {
      import s.implicits._
      Tables(s, dir, "customer").select($"c_nationkey".as("nationkey"))
        .intersectAll(Tables(s, dir, "supplier").select($"s_nationkey".as("nationkey")))
        .orderBy($"nationkey")
    },
    Some("""SELECT c_nationkey AS nationkey FROM customer
            INTERSECT ALL
            SELECT s_nationkey FROM supplier
            ORDER BY nationkey"""))

  /** F: EXCEPT ALL (multiset semantics) — bag-difference on a duplicated
    * projection: each o_custkey keeps (total copies - copies above the
    * price cut), the shape a user diffing duplicated logs hits. */
  val f7ExceptAll = Q(
    "f7_except_all",
    (s, dir) => {
      import s.implicits._
      val orders = Tables(s, dir, "orders")
      orders.select($"o_custkey")
        .exceptAll(orders.filter($"o_totalprice" > 150000).select($"o_custkey"))
        .orderBy($"o_custkey")
    },
    Some("""SELECT o_custkey FROM orders
            EXCEPT ALL
            SELECT o_custkey FROM orders WHERE o_totalprice > 150000
            ORDER BY o_custkey"""))

  /** F: the `spark.sql` TEXT interface end-to-end — temp views + a
    * TPC-H Q3-style revenue query written as a SQL string, parsed and
    * planned by Spark's own parser/analyzer rather than the DataFrame
    * DSL. Same Catalyst plan either way; this query pins that the
    * engine's SQL front door works (a reference user would type SQL),
    * with the usual decimal-cast revenue for cross-engine hashing and
    * an orderkey tiebreak so the LIMIT edge is deterministic. */
  val f8SqlRevenue = Q(
    "f8_sql_revenue",
    (s, dir) => {
      graft.Tables(s, dir, "orders").createOrReplaceTempView("orders_v")
      graft.Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT o_orderkey, o_orderpriority,
               round(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                     (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
        FROM orders_v JOIN lineitem_v ON l_orderkey = o_orderkey
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        GROUP BY o_orderkey, o_orderpriority
        ORDER BY revenue DESC, o_orderkey
        LIMIT 100""")
    },
    Some("""SELECT o_orderkey, o_orderpriority,
                   round(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                         (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
            WHERE o_orderdate >= TIMESTAMP '1995-01-01'
            GROUP BY o_orderkey, o_orderpriority
            ORDER BY revenue DESC, o_orderkey
            LIMIT 100"""))

  def all: Seq[Q] = Seq(
    a1ScanProject, a2CsvRoundtrip, a3JsonRoundtrip, a4PartitionedWrite,
    a5BucketedJoin, a6OrcRoundtrip,
    b1ProjectCompute, b2FilterPredicates, b3ExplodeTokens, b4BitmaskExplode,
    f1TopkGlobal, f2TopkPerGroup, f3UnionAll, f4Intersect, f5Except,
    f6IntersectAll, f7ExceptAll, f8SqlRevenue)
}
