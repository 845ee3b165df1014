package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.core.Checkpoints.Pins

/** Retention-bounded entity for the @Threshold gate: the newest 500
  * rows by id survive each persist (reference annotation documented in
  * its manual, core/Threshold.java:38 — dead there, implemented here).
  * @Id (not @DistributedId): the gate supplies real order keys so the
  * surviving set is oracle-expressible. */
@graft.annotations.Threshold(500)
case class RetainedOrder(
  @(graft.annotations.Id @scala.annotation.meta.field) o_orderkey: Long,
  price: Double, st: String)

/** Batch operator surface re-expressed Spark-first.
  *
  * Each method is one operator/capability from SURVEY.md §2 (reference
  * file:line cited per method). All plans are declarative DataFrame ops
  * so Catalyst pushes filters/prunes columns/selects join strategies;
  * broadcast hints are applied where a dimension side is known-small at
  * any scale factor (region/nation are fixed-size; customer/supplier
  * grow slowly). Every query ends in a deterministic ORDER BY so the
  * driver's row-hash compare is stable.
  */
object BatchQueries {
  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** A1/A4 — GROUP BY + COUNT/SUM/MIN/MAX/AVG (reference:
    * sql/SQLGroupFunction.java:47-93, sql/SQLJoin.java:168-216).
    * TPC-H Q1 shape: partial (map-side) agg then final — strictly
    * better than the reference's sort-based single-pass fold.
    * Money sums are rounded to 2dp: inputs carry exactly 2 decimals so
    * the rounded sum is order-insensitive across engines. */
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-01 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 2).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** A1 global aggregates, no GROUP BY (reference requires all select
    * cols aggregated in that case — sql/SQLSelect.java:347-376). */
  def qAggGlobal(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").agg(
      count(lit(1)).as("n_orders"),
      round(sum(col("o_totalprice")), 2).as("sum_price"),
      round(min(col("o_totalprice")), 2).as("min_price"),
      round(max(col("o_totalprice")), 2).as("max_price"))

  /** A2 — reference integer-AVG semantics: SUM/AVG accumulate long and
    * AVG is integer division (reference: sql/SQLGroupFunction.java:66-74,
    * 95-103). Exposed as the strictCompat variant. */
  def qAvgIntCompat(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .groupBy(col("p_brand"))
      .agg(
        floor(sum(col("p_size").cast("long")) / count(col("p_size"))).cast("long").as("avg_size_int"),
        sum(col("p_size").cast("long")).as("sum_size"))
      .orderBy(col("p_brand"))

  /** P1/P2/P4 — projection + alias + comparison predicates (reference:
    * sql/CList.java:55-189; sql/NestedCondition.java:139-358). Filters
    * reach the parquet scan as PushedFilters. */
  def qFilterPred(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_quantity") >= 30 && col("l_discount") < 0.05 &&
        col("l_shipdate") > lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity").as("qty"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_price"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** P5 — IN / NOT IN value lists (reference `[v1, v2]` syntax —
    * sql/ValueCondition.java:92-141). */
  def qFilterIn(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
        !col("o_orderstatus").isin("F"))
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus"))
      .orderBy(col("o_orderkey"))

  /** P7 — LIKE with the reference's substring-contains semantics
    * (reference: sql/NestedCondition.java:173-188 uses indexOf, NOT SQL
    * patterns). Lowered to `contains`, never `like`. */
  def qLikeContains(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .filter(col("p_type").contains("ECO") && !col("p_name").contains("red"))
      .select(col("p_partkey"), col("p_type"), col("p_name"))
      .orderBy(col("p_partkey"))

  /** P8 — boolean combinators incl. nested OR-of-ANDs (exceeds the
    * reference's one-connective-per-level rule —
    * sql/NestedCondition.java:366-438). */
  def qBoolNested(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .filter((col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 5000.0) ||
        (col("c_mktsegment") === "MACHINERY" && col("c_acctbal") < 0.0))
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal").as("acctbal"))
      .orderBy(col("c_custkey"))

  /** J2 — hash join with a broadcast small side (reference RIGHT_HASH:
    * sql/SQLJoinDispatcher.java:106-131, sql/SQLHashMapFrame.java:52-80).
    * nation/region are fixed 25/5 rows at any SF → always broadcast;
    * at 100 TB this stays a map-side join with zero shuffle of the
    * fact side. */
  def qJoinBroadcast(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val nat = broadcast(t(s, dir, "nation"))
    val reg = broadcast(t(s, dir, "region"))
    cust.join(nat, cust("c_nationkey") === nat("n_nationkey"))
      .join(reg, nat("n_regionkey") === reg("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), round(sum(col("c_acctbal")), 2).as("sum_bal"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** J1 — big-big equi-join → sort-merge / shuffled-hash chosen by
    * Catalyst+AQE (reference MERGE join: sql/FrameJoinTask.java:112-152).
    * Both sides shuffle-partition on the join key; at scale this is the
    * canonical co-partitioned fact-fact join. */
  def qJoinMerge(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"), sum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("o_orderpriority"))
  }

  /** J4 — theta (non-equi) join → broadcast nested loop (reference
    * nested-loop path: sql/FrameJoinTask.java:224-244). Kept to
    * fixed-size sides (nation×nation) so the cartesian stays bounded
    * at any SF. */
  def qJoinTheta(s: SparkSession, dir: String): DataFrame = {
    val n1 = t(s, dir, "nation").select(col("n_nationkey").as("k1"), col("n_regionkey").as("r1"))
    val n2 = broadcast(t(s, dir, "nation").select(col("n_nationkey").as("k2"), col("n_regionkey").as("r2")))
    n1.join(n2, col("r1") < col("r2"))
      .groupBy(col("r1"), col("r2"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("r1"), col("r2"))
  }

  /** J5/J6 — multi-way join (reference left-deep cursor chain:
    * sql/SQLJoin.java:91-121). TPC-H Q5 shape: facts co-partition on
    * keys, dims broadcast; Catalyst+CBO reorders freely where the
    * reference used a frame-count heuristic. */
  def qJoinMultiway(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val ord = t(s, dir, "orders")
    val li = t(s, dir, "lineitem")
    val nat = broadcast(t(s, dir, "nation"))
    val reg = broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA"))
    cust.join(ord, cust("c_custkey") === ord("o_custkey"))
      .join(li, ord("o_orderkey") === li("l_orderkey"))
      .join(nat, cust("c_nationkey") === nat("n_nationkey"))
      .join(reg, nat("n_regionkey") === reg("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("n_name"))
  }

  /** Semi join — `IN [SELECT …]` done for real (the reference only
    * stubs it: sql/ValueCondition.java:92-96). Left-semi avoids
    * materializing the subquery result. */
  def qSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val big = t(s, dir, "lineitem").filter(col("l_quantity") >= 49)
      .select(col("l_orderkey"))
    o.join(big, o("o_orderkey") === big("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_orderpriority"))
      .orderBy(col("o_orderkey"))
  }

  /** Anti join — NOT IN subquery, absent from the reference grammar. */
  def qAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** O1 — multi-column ORDER BY (reference: index-organized result
    * tables, persistent/Table.java:1650-1742 — here a shuffle range
    * sort, which scales horizontally instead of funnelling through one
    * B-tree). DESC included (reference grammar is asc-only). */
  def qOrderBy(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal").as("acctbal"))
      .orderBy(col("s_nationkey").asc, col("acctbal").desc, col("s_suppkey").asc)

  /** A8 — DISTINCT implemented for real (the reference parses the
    * keyword but never applies it — sql/SQLSelect.java:169-171). */
  def qDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"))
      .distinct()
      .orderBy(col("c_nationkey"), col("c_mktsegment"))

  /** O3 — LIMIT / top-k, absent from the reference grammar.
    * Deterministic: ordered before limit. */
  def qTopK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice").as("totalprice"))
      .orderBy(col("totalprice").desc, col("o_orderkey").asc)
      .limit(100)

  /** §2.6 set ops (absent in reference, native in Spark). */
  def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val custNations = t(s, dir, "customer").select(col("c_nationkey").as("nationkey")).distinct()
    val suppNations = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")).distinct()
    custNations.intersect(suppNations)
      .union(custNations.except(suppNations))
      .orderBy(col("nationkey"))
  }

  /** F1-F3 — TO_NUMBER / TO_CHAR / TO_DATE lowered to casts/formats
    * (reference parses them but they are non-functional —
    * sql/SQLColumn.java:82-84,177-185). */
  def qScalarFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(
        col("o_orderkey"),
        col("o_totalprice").cast("string").cast("double").as("to_number_price"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("to_char_date"),
        date_format(to_date(date_format(col("o_orderdate"), "yyyy-MM-dd"), "yyyy-MM-dd"), "yyyy-MM-dd").as("to_date_rt"))
      .orderBy(col("o_orderkey"))

  /** FULL OUTER join with non-matching rows on BOTH sides (urgent
    * orders vs high-balance customers): matched rows, order-only rows
    * (null customer columns), and customer-only rows (null order
    * columns) all survive — the reconciliation shape. Shuffled hash /
    * sort-merge on the key; null-side rows are per-partition
    * complements, no extra pass. */
  def qOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val c = t(s, dir, "customer").filter(col("c_acctbal") > 9000)
      .select(col("c_custkey"), col("c_name"))
    o.join(c, col("o_custkey") === col("c_custkey"), "full_outer")
      .select(coalesce(col("o_custkey"), col("c_custkey")).as("ck"),
        col("o_orderkey").as("ok"), col("o_totalprice").as("price"),
        col("c_name").as("nm"))
      .orderBy(col("ck"), col("ok").asc_nulls_first)
  }

  /** String-function surface parity: case mapping, padding, reversal,
    * translation, replacement, and regex extraction — all row-wise,
    * all codegen'd, every value hash-compared against DuckDB's
    * equivalents. */
  def qStringFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("up"),
        length(col("p_name")).cast("long").as("len"),
        regexp_replace(col("p_type"), " ", "_").as("undered"),
        lpad(col("p_size").cast("string"), 5, "0").as("padded"),
        reverse(col("p_brand")).as("rev"),
        translate(col("p_type"), "AEIOU", "aeiou").as("xlat"),
        regexp_extract(col("p_type"), "^([A-Z]+)", 1).as("first_word"))
      .orderBy(col("p_partkey"))

  /** Datetime-function surface parity: part extraction, date
    * arithmetic, month truncation/last-day, day difference against an
    * epoch date, and ISO weekday — the calendar algebra both engines
    * must agree on exactly (no floats involved). */
  def qDatetimeFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("d"))
      .select(
        col("o_orderkey"),
        year(col("d")).cast("long").as("y"),
        month(col("d")).cast("long").as("m"),
        dayofmonth(col("d")).cast("long").as("dom"),
        // dates travel as yyyy-MM-dd strings: parquet date32 surfaces
        // as python date OBJECTS on the compare bridge while DuckDB
        // returns timestamps — same convention as q_scalar_funcs
        date_format(date_add(col("d"), 30), "yyyy-MM-dd").as("plus30"),
        date_format(last_day(col("d")), "yyyy-MM-dd").as("eom"),
        date_format(trunc(col("d"), "MM"), "yyyy-MM-dd").as("som"),
        datediff(col("d"), lit("1995-01-01").cast("date")).cast("long").as("dd"),
        (weekday(col("d")) + 1).cast("long").as("isodow"))
      .orderBy(col("o_orderkey"))

  /** A7 batch form — count-based sliding window (reference
    * `WINDOW BY col INTERVAL = n`: sql/SQLGroupContainer.java:120-158):
    * last-n-rows aggregate per arriving row. Spark window frame
    * `rowsBetween(-(n-1), 0)` partitioned by user so state is bounded
    * per key and the sort parallelizes across keys. */
  def qWindowSliding(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(-9, Window.currentRow)
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        round(sum(col("value")).over(w), 2).as("sliding_sum"),
        count(lit(1)).over(w).as("sliding_n"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** A6/C3 batch form — tumbling time-window aggregation (reference
    * emits on group-key change over id-ordered stream:
    * sql/SQLGroupContainer.java:68-118; we use event-time hours). */
  def qWindowTumbling(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("hour"), col("event_type"))

  /** S9 — persist/find ingest surface (reference: `session.persist` =
    * insert-or-update by id, persistent/Session.java:436-457; `find`,
    * :326-342). Round-trip through a real TableStore: append the base
    * table, upsert modified + brand-new rows, delete by predicate, then
    * return the store's state. Doubling a price is exact in IEEE
    * arithmetic, so the oracle's CASE expression matches bit-for-bit. */
  /** Salted equi-join (ops/SkewJoins): the explicit skew fallback for
    * shapes AQE can't split — result must be row-identical to the
    * plain join, which DuckDB computes directly. Output aggregated
    * per order priority so the gate hashes a stable rollup of the
    * full join result. */
  def qJoinSalted(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
    val ord = t(s, dir, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    graft.ops.SkewJoins.saltedEquiJoin(li, ord, "l_orderkey", saltFactor = 4)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity")).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** AQE skew-join stress (the runtime sibling of qJoinSalted's
    * explicit salting): one synthetic hot key owns ~20% of the fact
    * rows, the dim side is too big to broadcast (forced), and AQE's
    * skew-split must kick in. Asserted STRUCTURALLY on the finalized
    * adaptive plan: `skew=true` on the join node AND ≥2
    * PartialReducerPartitionSpec entries in an AQEShuffleRead (the
    * hot partition really was split into parallel partial reads).
    * Wall-clock is LOGGED, never required — the round-9 bench proved
    * a timing require flakes under concurrent two-scale load (16–47 s
    * GC/page-cache spreads on 2–10 s queries turned one bench pass
    * into a spurious gate FAIL). Skew thresholds are lowered for the
    * gate's data volume (production defaults are 256 MB partitions;
    * the mechanism is identical). Confs are restored afterwards —
    * the gate session is shared. */
  def qJoinSkewAqe(s: SparkSession, dir: String): DataFrame = {
    val keys = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8192",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.5",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16384",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = keys.map { case (k, _) => k -> s.conf.getOption(k) }
    keys.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      // round-robin upstream repartition: AQE splits a skewed partition
      // at MAPPER granularity, and the gate fixtures are single-row-group
      // parquet files (one real mapper — physically unsplittable). A
      // 100 TB fact arrives from thousands of map tasks; 16 stands in
      // for that shape at gate scale.
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
        .repartition(16)
      val dim = s.range(0, 1000)
        .select(col("id").as("k"), (col("id") % 7).cast("long").as("w"))
      def agg(keyExpr: org.apache.spark.sql.Column): DataFrame =
        li.select(keyExpr.as("k"), col("l_quantity"), col("l_extendedprice"))
          .join(dim, Seq("k"))
          .groupBy(col("w"))
          .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"),
            round(sum(col("l_extendedprice")), 2).as("sum_price"))
          .orderBy(col("w"))
      // collect() (7 rows) drives THIS DataFrame's QueryExecution, so
      // the adaptive plan we inspect afterwards is the finalized one —
      // df.write would execute a fresh QueryExecution and leave
      // df.queryExecution.executedPlan isFinalPlan=false
      def timed(df: DataFrame): (DataFrame, Long) = {
        val t0 = System.nanoTime()
        df.collect()
        (df, (System.nanoTime() - t0) / 1000000L)
      }
      // ~20% of rows collapse onto key 0; the rest spread over 1..999
      val (skewed, tSkew) = timed(agg(
        when(col("l_orderkey") % 5 === 0, 0L).otherwise(pmod(col("l_orderkey"), lit(1000)))))
      val (_, tUniform) = timed(agg(pmod(col("l_orderkey"), lit(1000))))
      val exec = skewed.queryExecution.executedPlan
      val plan = exec.toString
      require(plan.contains("skew=true"),
        s"q_join_skew_aqe: AQE did not split the hot partition — no skew=true in:\n$plan")
      // structural evidence of the split itself: the skewed shuffle's
      // AQEShuffleRead must carry ≥2 partial-reducer specs (one hot
      // reducer partition fanned out into parallel partial reads)
      val finalPlan = exec.collectFirst {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
      }.getOrElse(exec)
      // QueryStageExec is a LEAF to TreeNode traversal — its materialized
      // subtree hangs off .plan, not .children — so collect() alone never
      // sees the AQEShuffleReads; descend stages explicitly
      def partialSplits(p: org.apache.spark.sql.execution.SparkPlan): Int = {
        val here = p match {
          case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec =>
            r.partitionSpecs.count(
              _.isInstanceOf[org.apache.spark.sql.execution.PartialReducerPartitionSpec])
          case _ => 0
        }
        val kids = p match {
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
          case other => other.children
        }
        here + kids.map(partialSplits).sum
      }
      val partialReads = partialSplits(finalPlan)
      require(partialReads >= 2,
        s"q_join_skew_aqe: skew=true but no partial-reducer split in the read specs:\n$plan")
      // timing is diagnostic only — never a gate verdict (bench noise)
      if (tSkew > 2 * tUniform + 2000)
        org.slf4j.LoggerFactory.getLogger("graft.queries.BatchQueries").warn(
          s"q_join_skew_aqe: skewed ${tSkew}ms vs uniform ${tUniform}ms under load — timing noise, split verified structurally")
      skewed.pin
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Quarantine ingest (TableStore.appendQuarantine — the routing
    * sibling of q_append_checked's abort): one pass splits the batch,
    * passing rows commit to the main store, each violating row lands
    * in a quarantine store tagged with the comma-joined names of the
    * checks it failed — nothing silently dropped, the quarantine is
    * queryable/re-ingestable after repair. In-gate: counts partition
    * the batch exactly and each store commits exactly one version.
    * DuckDB replays the split and the per-violation-combo rollup. */
  def qQuarantine(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
    val main = new graft.core.TableStore(s,
      graft.core.TempDirs.create("graft_quar_main_"), "o_orderkey")
    val quar = new graft.core.TableStore(s,
      graft.core.TempDirs.create("graft_quar_bad_"), "o_orderkey")
    val checks = Seq(
      "price_under_100k" -> (col("o_totalprice") < 100000.0),
      "date_in_range" -> col("o_orderdate").between("1992-01-01", "1998-12-31"))
    val (nGood, nBad) = main.appendQuarantine(orders, checks, quar)
    val total = orders.count()
    require(nGood + nBad == total && nBad > 0L,
      s"q_quarantine: split $nGood + $nBad does not partition $total (or no violations in fixture)")
    require(main.read.count() == nGood && quar.read.count() == nBad,
      "q_quarantine: store contents disagree with the reported split")
    require(main.versions.size == 1 && quar.versions.size == 1,
      "q_quarantine: each side must commit exactly one version")
    main.read.select(lit("").as("violated"), col("o_totalprice"))
      .unionByName(quar.read.select(col("_violated").as("violated"), col("o_totalprice")))
      .groupBy(col("violated"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("price_sum"))
      .orderBy(col("violated"))
      .pin
  }

  /** Runtime Bloom-filter pushdown (Catalyst InjectRuntimeFilter —
    * the 100 TB pattern where a selective dim predicate prunes the
    * FACT scan at runtime): joining lineitem to a filtered orders
    * slice with broadcast barred must inject `might_contain(bloom)`
    * into the fact side's scan filter, so most fact rows die before
    * the shuffle instead of after it. Thresholds are lowered to gate
    * data volume (production default only fires past 10 GB scans);
    * the mechanism — bloom built from the creation side's join keys,
    * evaluated inside the fact scan's codegen — is scale-independent.
    * Asserted on the finalized adaptive plan; confs restored after. */
  def qJoinRuntimeFilter(s: SparkSession, dir: String): DataFrame = {
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = keys.map { case (k, _) => k -> s.conf.getOption(k) }
    keys.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 150000.0)
        .select(col("o_orderkey"), col("o_orderpriority"))
      val j = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
        .orderBy(col("o_orderpriority"))
      j.collect() // finalize THIS QueryExecution's adaptive plan
      val plan = j.queryExecution.executedPlan.toString
      require(plan.contains("might_contain"),
        s"q_join_runtime_filter: no runtime bloom filter on the fact scan:\n$plan")
      j.pin
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Zero-copy shallow clone (TableStore.cloneTo): the clone starts
    * as an exact snapshot (hardlinked data, inherited schema + stats)
    * and the two tables then DIVERGE — the clone deletes a status
    * class while the source doubles a key range via upsert — without
    * either side seeing the other's writes. In-gate: a clone data
    * file's link count is ≥2 (zero bytes copied, physically proven),
    * and the clone still holds exactly the pre-divergence row count
    * after the source's upsert. DuckDB replays both divergent states
    * from the orders table. */
  def qClone(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val src = new graft.core.TableStore(s,
      graft.core.TempDirs.create("graft_clone_src_"), "o_orderkey")
    src.append(ev)
    val cloneDir = graft.core.TempDirs.create("graft_clone_dst_") + "/t"
    val cl = src.cloneTo(cloneDir)
    val total = ev.count()
    require(cl.read.count() == total, "q_clone: clone snapshot incomplete")
    val firstFile = new java.io.File(s"$cloneDir/files").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val nlink = java.nio.file.Files.getAttribute(firstFile.toPath, "unix:nlink")
      .asInstanceOf[Number].longValue()
    require(nlink >= 2L,
      s"q_clone: clone file has link count $nlink — data was copied, not linked")
    // diverge both sides
    cl.delete(col("o_orderstatus") === "F")
    src.upsert(ev.filter(col("o_orderkey") <= 100)
      .withColumn("o_totalprice", col("o_totalprice") * 2))
    require(src.read.count() == total,
      "q_clone: source row count changed by its own key-preserving upsert?")
    val cloneAfterSrcWrite = cl.read.count()
    def side(tag: String, df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("price_sum"))
        .select(lit(tag).as("side"), col("n"), col("price_sum"))
    val out = side("clone", cl.read).unionAll(side("source", src.read))
      .orderBy(col("side")).pin
    require(cloneAfterSrcWrite == cl.read.count(),
      "q_clone: source upsert leaked into the clone")
    out
  }

  /** Time travel (§2.10 / TableStore.readVersion): three committed
    * versions — clicks, +purchases, then a delete — each snapshot
    * read back AS OF its version in one result. DuckDB recomputes
    * every snapshot from the base table, so a manifest that leaks
    * rows across versions (or a delete that rewrites history) fails
    * the hash. */
  def qTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val tmp = graft.core.TempDirs.create("graft_tt_")
    val store = new graft.core.TableStore(s, tmp, "event_id")
    store.append(ev.filter(col("event_type") === "click"))
    store.append(ev.filter(col("event_type") === "purchase"))
    store.delete(col("value") < 10.0)
    val Seq(v1, v2, v3) = store.versions.sorted.takeRight(3)
    def snap(tag: String, v: Long) =
      store.readVersion(v).groupBy(lit(tag).as("snapshot"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    snap("v1_clicks", v1)
      .unionAll(snap("v2_plus_purchases", v2))
      .unionAll(snap("v3_after_delete", v3))
      .orderBy(col("snapshot"))
  }

  /** Snapshot CDC (TableStore.diff): the same three-version history
    * as q_time_travel, diffed leg by leg — append leg shows only
    * added rows, delete leg only removed rows, and rows a rewrite
    * merely copied between files cancel. Only CHANGED files are
    * scanned (manifest file-set intersection skips common files
    * unread). */
  /** Small-file compaction (TableStore.compact — the OPTIMIZE
    * maintenance op): 12 striped appends leave 12 key-interleaved
    * files; the clustered rewrite packs them into ≤4 NON-OVERLAPPING
    * key ranges. SELF-CHECKING structure gates in-query: file count
    * must drop to target, ranges must stop overlapping (what restores
    * manifest/row-group pruning), and the pre-compact version must
    * still time-travel (a rewrite may never destroy history). Content
    * equality is the DuckDB oracle: the aggregate over the compacted
    * store must equal the same aggregate over the source table. */
  def qStoreOptimize(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
    val tmp = graft.core.TempDirs.create("graft_opt_")
    val store = new graft.core.TableStore(s, tmp, "c_custkey")
    (0 until 12).foreach { i =>
      store.append(base.filter(col("c_custkey") % 12 === i))
    }
    val before = store.fileIdRanges.size
    val rowsBefore = store.read.count()
    store.compact(targetFiles = 4, clusterBy = Seq("c_custkey"))
    val ranges = store.fileIdRanges
    require(ranges.size <= 4 && ranges.size < before,
      s"q_store_optimize: expected <=4 files after compact, got ${ranges.size} (was $before)")
    val sorted = ranges.map(r => (r._1.get, r._2.get)).sorted
    require(sorted.zip(sorted.drop(1)).forall { case ((_, hi), (lo, _)) => hi < lo },
      s"q_store_optimize: compacted key ranges overlap: $sorted")
    val vs = store.versions.sorted
    require(store.readVersion(vs(vs.size - 2)).count() == rowsBefore,
      "q_store_optimize: pre-compact version lost rows under time travel")
    store.read
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("c_acctbal")), 2).as("bal_sum"),
        min(col("c_custkey")).as("k_min"),
        max(col("c_custkey")).as("k_max"))
      .orderBy(col("c_mktsegment"))
  }

  /** Bucketed co-located join: both sides written `bucketBy(8, key)`
    * + `sortBy(key)` into the session catalog, then joined on the
    * bucket key. With compatible bucketing Spark's SMJ reads bucket i
    * against bucket i directly — the gate REQUIRES a SortMergeJoin
    * with ZERO Exchange (no shuffle of either side) over bucket-aware
    * scans in the executed plan. This is
    * the pre-partitioning story for repeated 100 TB fact-fact joins:
    * pay one clustered write, then every subsequent join on that key
    * moves no data. The `merge` hint pins SMJ so a broadcast-eligible
    * dim side cannot hide the property being locked; content equality
    * is the DuckDB oracle. */
  def qBucketJoin(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val c = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    s.sql("DROP TABLE IF EXISTS graft_bkt_orders")
    s.sql("DROP TABLE IF EXISTS graft_bkt_customer")
    // repartition by the bucket key first so every bucket is exactly ONE
    // file (bucketBy writes one file per (task, bucket) pair; a
    // multi-file bucket loses the reported sort order and re-Sorts)
    o.repartition(8, col("o_custkey")).write.bucketBy(8, "o_custkey")
      .sortBy("o_custkey").mode("overwrite").saveAsTable("graft_bkt_orders")
    c.repartition(8, col("c_custkey")).write.bucketBy(8, "c_custkey")
      .sortBy("c_custkey").mode("overwrite").saveAsTable("graft_bkt_customer")
    val j = s.table("graft_bkt_orders").hint("merge")
      .join(s.table("graft_bkt_customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("price_sum"))
      .orderBy(col("c_mktsegment"))
    val joinPlan = j.queryExecution.executedPlan.toString
    require(joinPlan.contains("SortMergeJoin"),
      "q_bucket_join: expected a sort-merge join over bucketed tables")
    // the printed tree is top-down: everything BELOW the SMJ node (its
    // inputs) must be exchange-free — the aggregation above the join
    // still shuffles on its own key, as it should. A per-partition
    // Sort remains (Spark 4 does not propagate bucket-file sort order
    // without the legacy outputOrdering flag); it is map-local CPU,
    // not data movement, so the scale property being locked is the
    // absent shuffle. The scan must actually BE bucket-aware, not a
    // plain file scan that AQE happened to coalesce.
    val belowJoin = joinPlan.split("SortMergeJoin", 2).last
    require(!belowJoin.contains("Exchange"),
      "q_bucket_join: bucketed join shuffled — co-location lost:\n" + joinPlan)
    require(belowJoin.contains("Bucketed: true"),
      "q_bucket_join: scan is not bucket-aware:\n" + joinPlan)
    j
  }

  /** Manifest-stats data skipping (TableStore.readRange): 8 contiguous
    * key-band appends leave files with DISJOINT id ranges; a narrow
    * range read must then touch only the band's files — asserted
    * in-gate on `inputFiles` (the pruned files are never handed to
    * Spark at all, stronger than scan-time row-group pruning). Band
    * arithmetic is all-integer so the DuckDB oracle recomputes the
    * same bounds relationally. Content equality is the oracle. */
  def qDataSkip(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val tmp = graft.core.TempDirs.create("graft_skip_")
    val store = new graft.core.TableStore(s, tmp, "o_orderkey")
    val r = base.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head
    val (lo, hi) = (r.get(0).asInstanceOf[Number].longValue(),
      r.get(1).asInstanceOf[Number].longValue())
    val width = (hi - lo) / 8 + 1
    (0 until 8).foreach { i =>
      store.append(base.filter(
        col("o_orderkey") >= lo + i * width && col("o_orderkey") < lo + (i + 1) * width))
    }
    val total = store.fileIdRanges.size
    val (qlo, qhi) = (lo + 3 * width, lo + 4 * width - 1)
    val banded = store.readRange(qlo, qhi)
    val touched = banded.inputFiles.length
    require(touched > 0 && touched * 4 <= total,
      s"q_data_skip: range read touched $touched of $total files — manifest stats did not prune")
    banded.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("price_sum"),
        min(col("o_orderkey")).as("k_min"),
        max(col("o_orderkey")).as("k_max"))
      .orderBy(col("o_orderstatus"))
  }

  /** Data skipping on a NON-id numeric column (TableStore.readWhere
    * over per-file column stats): six custkey-striped appends
    * interleave every nation in every file (no pruning possible);
    * `compact(clusterBy = c_nationkey)` then makes the per-file
    * nationkey ranges tight, and a range read on the column must
    * touch a strict subset of files — asserted in-gate. Content is
    * the DuckDB oracle. */
  def qColSkip(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
    val tmp = graft.core.TempDirs.create("graft_colskip_")
    val store = new graft.core.TableStore(s, tmp, "c_custkey")
    (0 until 6).foreach { i =>
      store.append(base.filter(col("c_custkey") % 6 === i))
    }
    store.compact(targetFiles = 5, clusterBy = Seq("c_nationkey"))
    val res = store.readWhere("c_nationkey", 5.0, 9.0)
    val (touched, total) = (res.inputFiles.length, store.fileIdRanges.size)
    require(touched > 0 && touched < total,
      s"q_col_skip: range read touched $touched of $total files — column stats did not prune")
    res.groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("c_acctbal")), 2).as("bal_sum"),
        min(col("c_custkey")).as("k_min"),
        max(col("c_custkey")).as("k_max"))
      .orderBy(col("c_nationkey"))
  }

  /** Retention vacuum (TableStore.vacuum): five versions accumulate —
    * two appends, a rewriting delete, a compact — then a zero-grace
    * vacuum must drop every superseded data file AND every stale
    * version manifest while the LIVE snapshot stays byte-identical.
    * Structure asserted in-gate (version count collapses, on-disk file
    * count equals the live manifest's); content equality after vacuum
    * is the DuckDB oracle — a vacuum that deletes a live file fails
    * the hash, one that leaks old files fails the count require. */
  def qVacuum(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
    val tmp = graft.core.TempDirs.create("graft_vac_")
    val store = new graft.core.TableStore(s, tmp, "s_suppkey")
    store.append(base.filter(col("s_suppkey") % 2 === 0))
    store.append(base.filter(col("s_suppkey") % 2 === 1))
    // modulo predicate matches at EVERY scale factor (a value
    // predicate like acctbal < 0 finds nothing in a tiny fixture and
    // the no-op delete commits no version)
    store.delete(col("s_suppkey") % 5 === 0) // rewrites matching files
    store.compact(targetFiles = 2, clusterBy = Seq("s_suppkey"))
    val versionsBefore = store.versions.size
    require(versionsBefore >= 4, s"q_vacuum: expected >=4 versions, got $versionsBefore")
    store.vacuum(graceMs = 0L)
    require(store.versions.size == 1,
      s"q_vacuum: expected 1 surviving version, got ${store.versions.size}")
    val liveFiles = store.fileIdRanges.size
    val onDisk = new java.io.File(s"$tmp/files").listFiles()
      .count(_.getName.endsWith(".parquet"))
    require(onDisk == liveFiles,
      s"q_vacuum: $onDisk files on disk vs $liveFiles live — leak or over-delete")
    store.read.groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("s_acctbal")), 2).as("bal_sum"))
      .orderBy(col("s_nationkey"))
  }

  def qVersionDiff(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val tmp = graft.core.TempDirs.create("graft_vdiff_")
    val store = new graft.core.TableStore(s, tmp, "event_id")
    store.append(ev.filter(col("event_type") === "click"))
    store.append(ev.filter(col("event_type") === "purchase"))
    store.delete(col("value") < 10.0)
    val Seq(v1, v2, v3) = store.versions.sorted.takeRight(3)
    def leg(tag: String, a: Long, b: Long): DataFrame = {
      val (ad, rm) = store.diff(a, b)
      ad.agg(count(lit(1)).as("n_added"),
          coalesce(round(sum(col("value")), 2), lit(0.0)).as("val_added"))
        .crossJoin(rm.agg(count(lit(1)).as("n_removed"),
          coalesce(round(sum(col("value")), 2), lit(0.0)).as("val_removed")))
        .select(lit(tag).as("leg"), col("n_added"), col("val_added"),
          col("n_removed"), col("val_removed"))
    }
    leg("v1_v2", v1, v2).unionAll(leg("v2_v3", v2, v3))
      .orderBy(col("leg"))
  }

  /** @Threshold retention driven THROUGH the annotation (SURVEY §1.4):
    * three out-of-order persist batches through the typed registry; the
    * entity keeps only its newest 500 rows by id after each persist
    * (keep-largest-n is monotone, so the final state is the top-500 of
    * everything persisted — oracle-expressible as ORDER BY key DESC
    * LIMIT 500). In-gate: the table never exceeds the threshold, and a
    * mid-stream batch of already-below-cutoff ids is truncated away on
    * the spot. */
  def qThresholdRetention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice").as("price"),
        col("o_orderstatus").as("st")).as[RetainedOrder]
    val gs = new graft.core.GraftSession(s)
    val tt = gs.registerEntity[RetainedOrder]("retained_order",
      graft.core.TempDirs.create("graft_thresh_"))
    val third = base.count() / 3
    // batches arrive id-interleaved (mod-3 stripes), not sorted
    (0L until 3L).foreach { r =>
      tt.persistDs(base.filter(col("o_orderkey") % 3 === r))
      val n = tt.store.read.count()
      require(n <= 500L,
        s"@Threshold(500) table holds $n rows after persist ${r + 1}")
      require(r == 0 || n == 500L,
        s"@Threshold(500) table under-filled ($n) once 2 stripes (~${2 * third}) persisted")
    }
    tt.ds.toDF()
      .select(col("o_orderkey").as("k"), col("price"), col("st"))
      .orderBy(col("k"))
  }

  def qPersistFind(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"),
        col("o_orderpriority"))
    val tmp = graft.core.TempDirs.create("graft_persist_")
    val store = new graft.core.TableStore(s, tmp, "o_orderkey")
    store.append(base)
    // persist existing ids with a changed column (update arm of upsert)
    store.upsert(base.filter(col("o_orderpriority") === "1-URGENT")
      .withColumn("o_totalprice", col("o_totalprice") * 2))
    // persist brand-new ids (insert arm): strictly-negative keys derived
    // from the first 5 orders (-(k+1): keys start at 0, a bare negation
    // would collide with key 0 itself)
    store.upsert(base.orderBy(col("o_orderkey")).limit(5)
      .withColumn("o_orderkey", -(col("o_orderkey") + 1)))
    store.delete(col("o_orderstatus") === "F" && col("o_totalprice") < 100000.0)
    store.read
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
        col("o_orderstatus").as("st"))
      .orderBy(col("k"))
  }
}
