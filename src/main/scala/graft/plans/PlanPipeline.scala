package graft.plans

import graft.{Q, Scratch, Tables}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** SURVEY §2a reference-semantics layer (M3) — the plan-service ETL
  * re-expressed as one declarative Spark plan.
  *
  * Reference behavior (cited):
  *   - bitmask expansion: bit i of `plan_groups.mask` set ⟺ plan `2^i`
  *     belongs to the group (`/root/reference/src/plan-processor.ts:55-57`);
  *   - key-lookup join, silently dropping missing plan ids
  *     (`plan-processor.ts:58-64`);
  *   - nested `group.plans` array in bit order (`plan-processor.ts:52,62`);
  *   - full 64-bit semantics on purpose: the reference's JS `1 << i` breaks
  *     for bits 31–63 (SURVEY §1.1) — we use true Long `shiftleft`, so bit
  *     63 maps to Long.MinValue and behaves like any other bit.
  *
  * Scale design: the reference does O(groups × 64) sequential point reads;
  * here `plans` (at most 64 useful rows — ids are distinct powers of two
  * in a signed 64-bit Long) is collected once into a 64-slot table, and
  * each group row is decoded against it by one compiled UDF that walks
  * only the set bits. One narrow projection over `groups`: no join, no
  * aggregation, no shuffle, any number of groups. (The built-in form —
  * explode the bits, broadcast-join `plans`, `collect_list`/`sort_array`
  * per gid, left-join back — cost two shuffles, six jobs and twice the
  * time at 20 000 groups; a higher-order-function decode (`filter`/
  * `transform`) is interpreted, not codegen'd, and cost ~14 µs per row.)
  *
  * The fixture-derived inputs: `plans` from `nation` (id = 2^n_nationkey),
  * `plan_groups` from `supplier` with a hash-spread mask over bits 0–24,
  * plus bit 31 (suppkey % 5 = 0) and bit 63 (suppkey % 7 = 0) which
  * reference no plan — exercising the silent-drop path at high bits.
  */
object PlanPipeline {

  /** plans dimension: id (power of two), title, optional payload. */
  def plansFrom(nation: DataFrame): DataFrame =
    nation.select(
      expr("shiftleft(CAST(1 AS BIGINT), n_nationkey)").as("id"),
      col("n_name").as("title"),
      concat(lit("opt-"), col("n_name")).as("optional"))

  /** plan_groups: gid, title, 64-bit mask (bits 0–24 + edge bits 31/63). */
  def groupsFrom(supplier: DataFrame): DataFrame =
    supplier
      .withColumn("m0",
        (col("s_suppkey") * lit(2654435L) + col("s_nationkey")) % lit(33554432L))
      .withColumn("m1",
        when(col("s_suppkey") % 5 === 0, col("m0").bitwiseOR(lit(2147483648L)))
          .otherwise(col("m0")))
      .withColumn("mask",
        when(col("s_suppkey") % 7 === 0, col("m1").bitwiseOR(lit(Long.MinValue)))
          .otherwise(col("m1")))
      .select(col("s_suppkey").as("gid"), col("s_name").as("gtitle"), col("mask"))

  /** The §2a#4–#6 pipeline, one row in, one entity out: each group's
    * mask is decoded by a compiled per-row function against the plan
    * table collected once to the driver (64 slots, slot `b` = the plans
    * whose id is `2^b`; ids that are null, zero or not a power of two
    * fill no slot, so their bits are silently dropped). `n_plans` counts
    * every matched plan, null titles included; `plan_titles` joins the
    * non-null titles with `,` in bit order, then title order within a
    * bit. A group with no surviving plans, or a null mask, keeps its row
    * with `0`/`""` (the reference materializes `plans: []` too). Rows are
    * not merged by `gid`: a duplicate or null gid decodes its own mask,
    * as each `plan_groups` row does in the reference. */
  def groupEntities(plans: DataFrame, groups: DataFrame): DataFrame = {
    val matched = plans.select(col("id").cast("bigint"), col("title").cast("string")).collect()
      .collect { case Row(id: Long, title) if java.lang.Long.bitCount(id) == 1 =>
        (java.lang.Long.numberOfTrailingZeros(id), Option(title.asInstanceOf[String])) }
    val counts = Array.tabulate(64)(b => matched.count(_._1 == b).toLong)
    // null titles only count; the rest join in Spark's string order (UTF-8 bytes)
    val titles = Array.tabulate(64)(b => matched
      .collect { case (`b`, Some(t)) => UTF8String.fromString(t) }.sorted.map(_.toString))

    val decode = udf { (mask: java.lang.Long) =>
      var n = 0L
      var joined = 0
      val sb = new java.lang.StringBuilder
      if (mask != null) {
        var m = mask.longValue
        while (m != 0L) {
          val b = java.lang.Long.numberOfTrailingZeros(m)
          n += counts(b)
          titles(b).foreach { t =>
            if (joined > 0) sb.append(',')
            sb.append(t)
            joined += 1
          }
          m &= m - 1
        }
      }
      (n, sb.toString)
    }.asNonNullable()

    groups
      .select(col("gid"), col("gtitle").as("title"), col("mask"),
        decode(col("mask")).as("d"))
      .select(col("gid"), col("title"), col("mask"), col("d._1").as("n_plans"),
        coalesce(col("d._2"), lit("")).as("plan_titles")) // never null: keeps the column NOT NULL
  }

  /** M3: the plans materialized view (§2a#1,#3,#9). */
  val m3Plans = Q(
    "m3_plan_entities",
    (s, dir) => plansFrom(Tables(s, dir, "nation")).orderBy(col("id")),
    Some("""SELECT (1::BIGINT << n_nationkey) AS id, n_name AS title,
                   'opt-' || n_name AS optional
            FROM nation ORDER BY id"""))

  /** M3: the full group-entity pipeline (§2a#4,#5,#6). */
  val m3Groups = Q(
    "m3_plan_group_entities",
    (s, dir) => {
      val out = groupEntities(
        plansFrom(Tables(s, dir, "nation")),
        groupsFrom(Tables(s, dir, "supplier")))
      out.orderBy(col("gid"))
    },
    Some("""WITH plans AS (
              SELECT (1::BIGINT << n_nationkey) AS id, n_name AS title FROM nation
            ), groups AS (
              SELECT s_suppkey AS gid, s_name AS title,
                     CASE WHEN s_suppkey % 7 = 0 THEN m1 | (-9223372036854775807 - 1)
                          ELSE m1 END AS mask
              FROM (SELECT s_suppkey, s_name,
                           CASE WHEN s_suppkey % 5 = 0 THEN m0 | 2147483648 ELSE m0 END AS m1
                    FROM (SELECT s_suppkey, s_name,
                                 (s_suppkey * 2654435 + s_nationkey) % 33554432 AS m0
                          FROM supplier) t0) t1
            ), bits AS (
              SELECT gid, mask, i AS bit,
                     CASE WHEN i = 63 THEN (-9223372036854775807 - 1)
                          ELSE (1::BIGINT << i) END AS plan_id
              FROM groups, range(64) t(i)
              WHERE (mask & (CASE WHEN i = 63 THEN (-9223372036854775807 - 1)
                                  ELSE (1::BIGINT << i) END)) != 0
            ), nested AS (
              SELECT b.gid, count(*) AS n_plans,
                     string_agg(p.title, ',' ORDER BY b.bit) AS plan_titles
              FROM bits b JOIN plans p ON b.plan_id = p.id
              GROUP BY b.gid
            )
            SELECT g.gid, g.title, g.mask,
                   coalesce(n.n_plans, 0) AS n_plans,
                   coalesce(n.plan_titles, '') AS plan_titles
            FROM groups g LEFT JOIN nested n ON g.gid = n.gid
            ORDER BY g.gid"""))

  /** M: MERGE/upsert — the incremental form of the reference's
    * materialization refresh (full Redis-hash rewrite per refresh in
    * the reference; here only the delta ships). Updates double the
    * price on every 10th order, inserts clone every 7th order at an
    * offset key; merge semantics checked row-for-row (change wins
    * wholesale, base passes through, inserts append). One full-outer
    * equi-join — see graft.operators.MergeUpsert. */
  val m4MergeUpsert = Q(
    "m4_merge_upsert",
    (s, dir) => {
      import s.implicits._
      val base = graft.Tables(s, dir, "orders")
      val updates = base.filter($"o_orderkey" % 10 === 0)
        .withColumn("o_totalprice", $"o_totalprice" * 2)
      val inserts = base.filter($"o_orderkey" % 7 === 0)
        .withColumn("o_orderkey", $"o_orderkey" + 10000000L)
      val merged = graft.operators.MergeUpsert.upsert(
        base, updates.unionByName(inserts), "o_orderkey")
      merged.select($"o_orderkey",
        round($"o_totalprice", 2).as("o_totalprice"), $"o_orderpriority")
        .orderBy($"o_orderkey")
    },
    Some("""WITH changes AS (
              SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, o_orderpriority
              FROM orders WHERE o_orderkey % 10 = 0
              UNION ALL
              SELECT o_orderkey + 10000000, o_totalprice, o_orderpriority
              FROM orders WHERE o_orderkey % 7 = 0)
            SELECT COALESCE(c.o_orderkey, b.o_orderkey) AS o_orderkey,
                   round(CASE WHEN c.o_orderkey IS NOT NULL
                              THEN c.o_totalprice ELSE b.o_totalprice END, 2) AS o_totalprice,
                   CASE WHEN c.o_orderkey IS NOT NULL
                        THEN c.o_orderpriority ELSE b.o_orderpriority END AS o_orderpriority
            FROM orders b FULL JOIN changes c ON b.o_orderkey = c.o_orderkey
            ORDER BY o_orderkey"""))

  /** M: MERGE with a DELETE clause — the base-table takedown the index
    * tiers already have (l57 tombstones the dedup index, l58 the ANN
    * index; this removes the rows from the CORPUS table itself, the op
    * a warehouse runs weekly for CDC tombstones and opt-outs). One
    * change set carries updates, inserts AND delete markers; matched
    * deletes drop the base row, an unmatched delete is a no-op (the
    * planted key -1 exercises that branch), everything else merges as
    * m4. Same single full-outer join as m4 — the delete verdict rides
    * the change row, no extra shuffle. */
  val m7MergeDelete = Q(
    "m7_merge_delete",
    (s, dir) => {
      import s.implicits._
      val base = graft.Tables(s, dir, "orders")
      val updates = base
        .filter($"o_orderkey" % 10 === 0 && $"o_orderkey" % 9 =!= 0)
        .withColumn("o_totalprice", $"o_totalprice" * 2)
        .withColumn("__del", lit(false))
      val inserts = base.filter($"o_orderkey" % 7 === 0)
        .withColumn("o_orderkey", $"o_orderkey" + 10000000L)
        .withColumn("__del", lit(false))
      val deletes = base.filter($"o_orderkey" % 9 === 0)
        .withColumn("__del", lit(true))
      val ghost = deletes.limit(1).withColumn("o_orderkey", lit(-1L))
      val merged = graft.operators.MergeUpsert.merge(
        base, updates.unionByName(inserts).unionByName(deletes).unionByName(ghost),
        "o_orderkey", deleteWhen = Some(col("__del")))
      merged.select($"o_orderkey",
        round($"o_totalprice", 2).as("o_totalprice"), $"o_orderpriority")
        .orderBy($"o_orderkey")
    },
    Some("""WITH changes AS (
              SELECT o_orderkey, o_totalprice * 2 AS o_totalprice,
                     o_orderpriority, FALSE AS del
              FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey % 9 <> 0
              UNION ALL
              SELECT o_orderkey + 10000000, o_totalprice, o_orderpriority, FALSE
              FROM orders WHERE o_orderkey % 7 = 0
              UNION ALL
              SELECT o_orderkey, o_totalprice, o_orderpriority, TRUE
              FROM orders WHERE o_orderkey % 9 = 0
              UNION ALL
              SELECT -1, o_totalprice, o_orderpriority, TRUE
              FROM (SELECT o_totalprice, o_orderpriority FROM orders
                    WHERE o_orderkey % 9 = 0 LIMIT 1) g)
            SELECT COALESCE(c.o_orderkey, b.o_orderkey) AS o_orderkey,
                   round(CASE WHEN c.o_orderkey IS NOT NULL
                              THEN c.o_totalprice ELSE b.o_totalprice END, 2) AS o_totalprice,
                   CASE WHEN c.o_orderkey IS NOT NULL
                        THEN c.o_orderpriority ELSE b.o_orderpriority END AS o_orderpriority
            FROM orders b FULL JOIN changes c ON b.o_orderkey = c.o_orderkey
            WHERE NOT (c.o_orderkey IS NOT NULL AND c.del)
            ORDER BY o_orderkey"""))

  /** M: dynamic partition overwrite — the FILE-LEVEL incremental
    * refresh companion to m4's row-level merge. A 100 TB materialized
    * view partitioned on a refresh key never rewrites in full; a
    * recompute of one partition's rows with
    * `partitionOverwriteMode=dynamic` replaces ONLY the partitions
    * present in the written data and leaves every other partition's
    * files physically untouched (PlanPipelineSpec asserts the surviving
    * file paths; static overwrite mode would truncate the whole table
    * root first). The read-back checks both halves: the refreshed
    * partition carries the recomputed values, the untouched partitions
    * carry the originals. */
  val m5DynamicOverwrite = Q(
    "m5_dynamic_overwrite",
    (s, dir) => {
      import s.implicits._
      val orders = Tables(s, dir, "orders")
      val tmp = Scratch.dir("m5_dyn")
      orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(tmp)
      // incremental refresh: recompute ONLY the 'F' partition
      orders.filter($"o_orderstatus" === "F")
        .withColumn("o_totalprice", $"o_totalprice" * 2)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderstatus").parquet(tmp)
      s.read.parquet(tmp)
        .select($"o_orderkey", round($"o_totalprice", 2).as("o_totalprice"),
          $"o_orderstatus")
        .orderBy($"o_orderkey")
    },
    Some("""SELECT o_orderkey,
                   round(CASE WHEN o_orderstatus = 'F'
                              THEN o_totalprice * 2 ELSE o_totalprice END, 2) AS o_totalprice,
                   o_orderstatus
            FROM orders ORDER BY o_orderkey"""))

  /** M: type-2 slowly-changing-dimension history — the KEEP-EVERY-
    * VERSION generalization of the reference's full-overwrite refresh
    * (m4 merges the latest state; SCD2 retains the lineage so as-of
    * queries answer "what did the dimension look like at t"). Each
    * customer's orders become versions: one window, `lead` closes each
    * validity interval at the next change, open interval = current row.
    * Single shuffle on the entity key; the (ts, change-id) ordering is
    * total per key, so the intervals are deterministic under retries.
    * The DuckDB oracle runs the identical window — every interval
    * boundary hash-matches. */
  val m6Scd2 = Q(
    "m6_scd2_history",
    (s, dir) => {
      import s.implicits._
      val changes = Tables(s, dir, "orders").select(
        $"o_custkey", $"o_orderkey", $"o_orderdate",
        round($"o_totalprice", 2).as("o_totalprice"))
      graft.operators.Scd2.history(changes, "o_custkey", "o_orderdate", "o_orderkey")
        .select($"o_custkey", $"o_orderkey", $"effective_from",
          $"effective_to", $"is_current", $"o_totalprice")
        .orderBy($"o_custkey", $"o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey,
                   o_orderdate AS effective_from,
                   lead(o_orderdate) OVER w AS effective_to,
                   lead(o_orderdate) OVER w IS NULL AS is_current,
                   round(o_totalprice, 2) AS o_totalprice
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
            ORDER BY o_custkey, o_orderkey"""))

  def all: Seq[Q] =
    Seq(m3Plans, m3Groups, m4MergeUpsert, m7MergeDelete, m5DynamicOverwrite, m6Scd2)
}
