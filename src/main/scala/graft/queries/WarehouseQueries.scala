package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{Graphs, Ivm, Profile, Scd}
import graft.core.Checkpoints.Pins

/** Gate queries for the warehouse-maintenance / curation-signal ops:
  * single-pass column profiling, SCD2 merge, and fixed-point PageRank.
  * Each replays deterministically in DuckDB (the SCD2 update batch and
  * the PageRank edge list are formula-derived from table keys — the
  * FORMULA-REPLAY pattern used by the multimodal gates).
  */
object WarehouseQueries {
  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** One-scan profile of every customer column (ops/Profile.profile):
    * null counts, exact cardinality, numeric range/mean, string
    * range — the ingest pre-flight. The exact-distinct plan is one
    * scan + Expand + two-phase agg; ProfileSpec covers the
    * Expand-free approx variant. */
  def qProfile(s: SparkSession, dir: String): DataFrame =
    Profile.profile(t(s, dir, "customer"),
        Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
      .orderBy(col("col_name"))

  /** Write-side schema enforcement + additive evolution on TableStore
    * (the Delta write contract, enforced since the version log records
    * the committed schema): even-key rows land under the narrow
    * (key, name) schema, odd-key rows arrive WIDENED with c_acctbal —
    * the commit widens the table schema, old files are never
    * rewritten, and reads surface the pre-evolution rows' new column
    * as null. In-gate requires: a TYPE-CHANGING append throws (the
    * silent-corruption path), time travel to the pre-evolution
    * version still shows the NARROW schema, and the current schema
    * has exactly the widened shape. Content is the DuckDB oracle. */
  def qSchemaEnforce(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val tmp = graft.core.TempDirs.create("graft_enforce_")
    val store = new graft.core.TableStore(s, tmp, "c_custkey")
    store.append(cust.filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey"), col("c_name")))
    val narrowV = store.versions.max
    store.append(cust.filter(col("c_custkey") % 2 === 1)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal")))
    val rejected =
      try { store.append(cust.select(col("c_custkey"), col("c_name"),
          col("c_mktsegment").as("c_acctbal"))); false }
      catch { case _: IllegalArgumentException => true }
    require(rejected,
      "q_schema_enforce: a type-changing append was accepted")
    require(store.readVersion(narrowV).schema.fieldNames.toSeq ==
        Seq("c_custkey", "c_name"),
      "q_schema_enforce: time travel lost the pre-evolution schema")
    require(store.read.schema.fieldNames.toSeq ==
        Seq("c_custkey", "c_name", "c_acctbal"),
      s"q_schema_enforce: unexpected evolved schema ${store.read.schema.simpleString}")
    store.read.orderBy(col("c_custkey"))
  }

  /** Constraint-checked ingest (TableStore.appendChecked — the Delta
    * table-constraints write contract): a clean batch commits; a batch
    * violating a row predicate OR key uniqueness must abort with the
    * table untouched — no version, no rows, nothing for readers. The
    * final content (clean batch only) is the DuckDB oracle. */
  def qAppendChecked(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
    val tmp = graft.core.TempDirs.create("graft_chk_")
    val store = new graft.core.TableStore(s, tmp, "c_custkey")
    val checks = Seq(
      "key_nonnegative" -> (col("c_custkey") >= 0),
      "segment_present" -> col("c_mktsegment").isNotNull)
    store.appendChecked(cust, checks, uniqueKey = Some("c_custkey"))
    val (vAfter, rowsAfter) = (store.versions.size, store.read.count())
    // a duplicate-key batch must abort atomically
    val rejected =
      try { store.appendChecked(cust.limit(100).unionAll(cust.limit(50)),
          checks, uniqueKey = Some("c_custkey")); false }
      catch { case _: IllegalArgumentException => true }
    require(rejected, "q_append_checked: duplicate-key batch was accepted")
    // a predicate-violating batch (nulled segment) must abort too
    val rejected2 =
      try { store.appendChecked(
          cust.limit(10).withColumn("c_mktsegment", lit(null).cast("string"))
            .withColumn("c_custkey", col("c_custkey") + 1000000), checks); false }
      catch { case _: IllegalArgumentException => true }
    require(rejected2, "q_append_checked: violating batch was accepted")
    require(store.versions.size == vAfter && store.read.count() == rowsAfter,
      "q_append_checked: aborted append left a version or rows behind")
    store.read.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("bal_sum"))
      .orderBy(col("c_mktsegment"))
  }

  /** Exactly-once store-to-store view sync (Ivm.syncStore): a
    * persisted per-nation aggregate view follows the source store
    * through append → upsert → delete, catching up via per-commit
    * diffs, never a source rescan. In-gate requires: bootstrap and
    * catch-up both commit; a third sync NO-OPS (marker idempotence,
    * version count unchanged). The final view must equal DuckDB's
    * direct aggregate over the final source formula. */
  def qIvmSync(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
    val base = graft.core.TempDirs.create("graft_ivmsync_")
    val src = new graft.core.TableStore(s, s"$base/src", "c_custkey")
    val tgt = new graft.core.TableStore(s, s"$base/view", "c_nationkey")
    val keys = Seq("c_nationkey"); val sums = Seq("c_acctbal")
    src.append(cust.filter(col("c_custkey") % 2 === 0))
    require(Ivm.syncStore(src, tgt, "nation_view", keys, sums),
      "q_ivm_sync: bootstrap sync did not commit")
    src.upsert(cust
      .filter(col("c_custkey") % 4 === 0 ||
        (col("c_custkey") % 2 === 1 && col("c_custkey") % 5 === 0))
      .withColumn("c_acctbal", col("c_acctbal") + 1000.0))
    src.delete(col("c_custkey") % 6 === 0)
    require(Ivm.syncStore(src, tgt, "nation_view", keys, sums),
      "q_ivm_sync: catch-up sync did not commit")
    val vAfter = tgt.versions.size
    require(!Ivm.syncStore(src, tgt, "nation_view", keys, sums) &&
        tgt.versions.size == vAfter,
      "q_ivm_sync: an already-applied sync must no-op")
    tgt.read
      .select(col("c_nationkey"), col("view_n"),
        round(col("view_sum_c_acctbal"), 2).as("bal_sum"))
      .orderBy(col("c_nationkey"))
  }

  /** Row-level change feed (TableStore.changes — the Delta CDF
    * shape): three commits (append evens; upsert that updates %4=0
    * balances and inserts odd %5=0 rows; delete %6=0), then the feed
    * over the whole range. Upserts surface as delete+insert pairs;
    * rows sharing a rewritten file but UNCHANGED must not appear
    * (the per-step diff cancels them row-wise). DuckDB replays every
    * step's insert/delete set from the slice formulas. */
  def qChangeFeed(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
    val tmp = graft.core.TempDirs.create("graft_cdf_")
    val store = new graft.core.TableStore(s, tmp, "c_custkey")
    store.append(cust.filter(col("c_custkey") % 2 === 0))
    val v1 = store.versions.max
    store.upsert(cust
      .filter(col("c_custkey") % 4 === 0 ||
        (col("c_custkey") % 2 === 1 && col("c_custkey") % 5 === 0))
      .withColumn("c_acctbal", col("c_acctbal") + 1000.0))
    store.delete(col("c_custkey") % 6 === 0)
    val v3 = store.versions.max
    store.changes(v1, v3)
      .select((col("_commit_version") - lit(v1)).as("step"),
        col("_change_type"), col("c_custkey"), col("c_acctbal"),
        col("c_mktsegment"))
      .orderBy(col("step"), col("_change_type"), col("c_custkey"))
  }

  /** Full MERGE INTO (TableStore.merge — matched-update /
    * matched-delete / not-matched-insert in one atomic commit), gated
    * end-to-end:
    *
    *   target = even-key customers, written as two RANGE-DISJOINT
    *   appends (low half, high half); source = key%3=0 rows of the
    *   HIGH half only. Matched rows double their balance (t+s) and
    *   tag the segment, matched keys %30=0 delete, unmatched source
    *   keys (odd multiples of 3) insert.
    *
    * In-gate requires: (a) the merge commits exactly ONE version;
    * (b) every low-half file survives BY NAME (manifest-stats file
    * pruning — a merge outside a file's id range must not rewrite
    * it). The final table replays in DuckDB as the standard
    * LEFT-JOIN + anti-join MERGE expansion. */
  def qMergeStore(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
    val maxKey = cust.agg(max(col("c_custkey"))).head.get(0)
      .asInstanceOf[Number].longValue()
    val mid = maxKey / 2
    val tmp = graft.core.TempDirs.create("graft_merge_")
    val store = new graft.core.TableStore(s, tmp, "c_custkey")
    store.append(cust.filter(col("c_custkey") % 2 === 0 && col("c_custkey") < mid))
    store.append(cust.filter(col("c_custkey") % 2 === 0 && col("c_custkey") >= mid))
    val filesBefore = store.read.inputFiles.toSet
    val lowFiles = store.fileIdRanges.count { case (_, hi) => hi.exists(_ < mid) }
    require(lowFiles >= 1, "q_merge_store: no range-disjoint low file to assert pruning on")
    val vBefore = store.versions.size
    val source = cust.filter(col("c_custkey") % 3 === 0 && col("c_custkey") >= mid)
    store.merge(source,
      matchedUpdate = Map(
        "c_acctbal" -> (col("t.c_acctbal") + col("s.c_acctbal")),
        "c_mktsegment" -> concat(col("s.c_mktsegment"), lit("#M"))),
      matchedDeleteWhen = Some(col("s.c_custkey") % 30 === 0))
    require(store.versions.size == vBefore + 1,
      "q_merge_store: merge must commit exactly one version")
    val surviving = store.read.inputFiles.toSet.intersect(filesBefore).size
    require(surviving >= lowFiles,
      s"q_merge_store: only $surviving untouched files survived the merge " +
        s"(expected at least the $lowFiles low-half files — pruning regressed)")
    store.read.orderBy(col("c_custkey"))
  }

  /** Column-stats pruning through the dialect (the q_col_skip layout
    * driven by dialect SQL): after the nationkey-clustered compact, a
    * dialect WHERE on the NON-id column must prune files via the
    * per-file column stats — the resolver's generalization past the
    * id index. Pruning asserted in-gate; content oracle-checked. */
  def qDialectPruneCol(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
    val tmp = graft.core.TempDirs.create("graft_dpcol_")
    val store = new graft.core.TableStore(s, tmp, "c_custkey")
    (0 until 6).foreach(i => store.append(base.filter(col("c_custkey") % 6 === i)))
    store.compact(targetFiles = 5, clusterBy = Seq("c_nationkey"))
    val gs = new graft.core.GraftSession(s)
    gs.registerStore("cust_clustered", store)
    val res = gs.execute(
      """select c.c_nationkey nat, c.c_custkey ck, c.c_acctbal bal
         from cust_clustered c
         where c.c_nationkey >= 5 and c.c_nationkey <= 9""")
    val (touched, total) = (res.inputFiles.length, store.fileIdRanges.size)
    require(touched > 0 && touched < total,
      s"q_dialect_prune_col: dialect WHERE touched $touched of $total files")
    res.groupBy(col("nat"))
      .agg(count(lit(1)).as("n"), round(sum(col("bal")), 2).as("bal_sum"),
        min(col("ck")).as("k_min"), max(col("ck")).as("k_max"))
      .orderBy(col("nat"))
  }

  /** Profile drift between two committed TableStore versions
    * (Profile.drift over readVersion snapshots): version 1 holds keys
    * %3 ≠ 0; version 2 adds the %3 = 0 slice with acctbal NULLED at
    * %9 = 0 — a null-rate spike + cardinality/mean shift the drift
    * report must surface exactly. The before-side scan reads the OLD
    * snapshot's files via time travel, not a saved report. */
  def qProfileDrift(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
    val tmp = graft.core.TempDirs.create("graft_drift_")
    val store = new graft.core.TableStore(s, tmp, "c_custkey")
    store.append(cust.filter(col("c_custkey") % 3 =!= 0))
    store.append(cust.filter(col("c_custkey") % 3 === 0)
      .withColumn("c_acctbal",
        when(col("c_custkey") % 9 === 0, lit(null)).otherwise(col("c_acctbal"))))
    val Seq(v1, v2) = store.versions.sorted.takeRight(2)
    Profile.drift(store.readVersion(v1), store.readVersion(v2),
        Seq("c_custkey", "c_acctbal", "c_mktsegment"))
      .orderBy(col("col_name"))
  }

  /** Dialect-level manifest pruning (GraftSession.prunedResolver):
    * the SAME banded store as q_data_skip, but the range predicate
    * arrives through the reference DIALECT's WHERE clause — the
    * engine must derive the id bounds from the AST's conjuncts and
    * start the scan from `readRange`, so files outside the band are
    * never listed (the reference's id-index scan, surfaced through
    * its own query language). Pruning asserted in-gate on
    * `inputFiles`; row content is the DuckDB oracle. */
  def qDialectPrune(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val tmp = graft.core.TempDirs.create("graft_dprune_")
    val store = new graft.core.TableStore(s, tmp, "o_orderkey")
    val r = base.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head
    val (lo, hi) = (r.get(0).asInstanceOf[Number].longValue(),
      r.get(1).asInstanceOf[Number].longValue())
    val width = (hi - lo) / 8 + 1
    (0 until 8).foreach { i =>
      store.append(base.filter(
        col("o_orderkey") >= lo + i * width && col("o_orderkey") < lo + (i + 1) * width))
    }
    val gs = new graft.core.GraftSession(s)
    gs.registerStore("ord_banded", store)
    val (qlo, qhi) = (lo + 5 * width, lo + 6 * width - 1)
    val res = gs.execute(
      s"""select o.o_orderkey okey, o.o_orderstatus ostat, o.o_totalprice oprice
          from ord_banded o
          where o.o_orderkey >= $qlo and o.o_orderkey <= $qhi""")
    val touched = res.inputFiles.length
    val total = store.fileIdRanges.size
    require(touched > 0 && touched * 4 <= total,
      s"q_dialect_prune: dialect WHERE touched $touched of $total files — no manifest pruning")
    res.groupBy(col("ostat"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("oprice")), 2).as("price_sum"),
        min(col("okey")).as("k_min"), max(col("okey")).as("k_max"))
      .orderBy(col("ostat"))
  }

  /** SCD2 merge (ops/Scd.merge): a 2020 customer snapshot receives a
    * 2021 update batch — keys %7 change (acctbal +100 → close +
    * reopen), keys %5 (and not %7) re-send identical values (must be
    * a NO-OP — the null-safe change detector), keys %31 arrive as
    * brand-new entities (key +1,000,000). One full-outer key join,
    * map-side version explode. is_current travels as int for a
    * dialect-stable compare. */
  def qScd2(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
    val dim = Scd.init(base, lit("2020-01-01"))
    val updates =
      base.filter(col("c_custkey") % 7 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
      .unionAll(
        base.filter(col("c_custkey") % 5 === 0 && col("c_custkey") % 7 =!= 0))
      .unionAll(
        base.filter(col("c_custkey") % 31 === 0)
          .select((col("c_custkey") + 1000000L).as("c_custkey"),
            (col("c_custkey") * 1.5).as("c_acctbal"),
            lit("NEW").as("c_mktsegment")))
    Scd.merge(dim, updates, "c_custkey", Seq("c_acctbal", "c_mktsegment"),
        effectiveFrom = lit("2021-06-01"), broadcastUpdates = true)
      .select(col("c_custkey"), round(col("c_acctbal"), 2).as("bal"),
        col("c_mktsegment").as("seg"), col("valid_from"), col("valid_to"),
        col("is_current").cast("int").as("is_current"))
      .orderBy(col("c_custkey"), col("valid_from"))
  }

  /** Fixed-point PageRank (ops/Graphs.pageRank) over a formula-derived
    * document link graph (each doc links to (id·7 + j·13) mod N,
    * j=1..3), 5 power iterations at d=0.85. Integer arithmetic makes
    * the ranks bit-identical to DuckDB's unrolled-CTE replay — no
    * float tolerance needed. */
  def qPageRank(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val n = docs.count() // parquet footer count — metadata-cheap
    val edges = docs.select(col("doc_id").as("src"),
        explode(array(lit(1), lit(2), lit(3))).as("j"))
      .select(col("src"),
        ((col("src") * 7 + col("j") * 13) % n).as("dst"))
    Graphs.pageRank(docs, "doc_id", edges, "src", "dst", iters = 5)
      .orderBy(col("node"))
  }

  /** Per-node triangle counts (ops/Graphs.triangleCounts) over a
    * formula-derived ring-with-chords graph (each doc links to
    * doc+1, doc+2, doc+3 and to 7·doc+13, all mod N): the local
    * clustering signal, computed with degree-ordered wedge closing so
    * the intermediate is O(m^1.5) total instead of hot-node quadratic.
    * DuckDB replays the exact edge formula and the id-ordered
    * three-way join — counts are integers, no tolerance. */
  def qTriangles(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val n = docs.count() // parquet footer count — metadata-cheap
    val ring = docs.select(col("doc_id").as("src"),
        explode(array(lit(1), lit(2), lit(3))).as("j"))
      .select(col("src"), ((col("src") + col("j")) % n).as("dst"))
    val chords = docs.select(col("doc_id").as("src"),
      ((col("doc_id") * 7 + 13) % n).as("dst"))
    Graphs.triangleCounts(ring.unionByName(chords), "src", "dst")
      .orderBy(col("node"))
  }

  /** k-core of a formula-derived link graph (ops/Graphs.kCore, k=4):
    * a binary-lattice body (doc→doc+1; +2 on evens; +4, +8, +16 on
    * their strides — degrees 2..10, engineered so peeling CASCADES
    * for 5-6 rounds) plus a dense 64-node clique-ish core that
    * survives. DuckDB replays the identical peel with 10 unrolled
    * induced-subgraph rounds — the op's `require(converged)` makes
    * "10 is enough" a checked fact, so the equality is exact. */
  def qKcore(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val n = docs.count() // parquet footer count — metadata-cheap
    val lattice = Seq(1L -> 1L, 2L -> 2L, 4L -> 4L, 8L -> 8L, 16L -> 16L)
      .map { case (step, stride) =>
        docs.filter(col("doc_id") % stride === 0)
          .select(col("doc_id").as("src"), ((col("doc_id") + step) % n).as("dst"))
      }.reduce(_ unionByName _)
    val core = docs.filter(col("doc_id") < 64)
      .select(col("doc_id").as("src"),
        explode(array(lit(1), lit(2), lit(3), lit(4))).as("j"))
      .select(col("src"), ((col("src") + col("j")) % 64).as("dst"))
    Graphs.kCore(lattice.unionByName(core), "src", "dst", k = 4, maxRounds = 10)
      .orderBy(col("node"))
  }

  /** Per-group top-k selection: the 3 longest documents per source —
    * the "best-k exemplars per stratum" curation primitive. The rank
    * filter is planned through Spark's WindowGroupLimit, which pushes a
    * per-group top-k heap BELOW the shuffle (map-side group-limit on
    * every input partition, then the final per-group sort sees at most
    * k·partitions rows per group, never the full group — the property
    * PlanAuditSpec locks). Deterministic tiebreak on doc_id. */
  def qGroupTopk(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    t(s, dir, "documents")
      .select(col("source"), col("doc_id"), length(col("text")).as("n_chars"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("source"), col("rk"), col("doc_id"), col("n_chars"))
      .orderBy(col("source"), col("rk"))
  }

  /** Data-quality expectations (ops/Profile.expectations): a
    * constraint suite over orders — positive price, known status
    * domain, non-null priority, clerk format, key uniqueness — in ONE
    * scan. The fixture satisfies most checks; the gate includes a
    * deliberately failing range check so BOTH report arms (pass and
    * violation counting) are oracle-verified, not just the all-green
    * path. */
  def qExpectations(s: SparkSession, dir: String): DataFrame =
    Profile.expectations(t(s, dir, "orders"),
      Seq(
        "totalprice_positive" -> (col("o_totalprice") > 0.0),
        "status_known" -> col("o_orderstatus").isin("F", "O", "P"),
        "priority_nonnull" -> col("o_orderpriority").isNotNull,
        "date_in_range" -> col("o_orderdate").between("1992-01-01", "1998-12-31"),
        "totalprice_under_100k" -> (col("o_totalprice") < 100000.0)),
      uniqueKey = Some("o_orderkey"))
      .orderBy(col("check_name"))

  /** Incremental view maintenance (ops/Ivm): a per-event-type
    * (count, sum) view advanced across three TableStore commits
    * (clicks → +purchases → delete) using ONLY `diff` deltas — cost
    * tracks the commit footprint, never the table. SELF-CHECKING
    * in-gate: the maintained view must equal a direct recompute of the
    * final snapshot (exceptAll both ways), or the gate throws; the
    * DuckDB oracle independently rebuilds the final state from the
    * base table. */
  def qIvm(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val tmp = graft.core.TempDirs.create("graft_ivm_")
    val store = new graft.core.TableStore(s, tmp, "event_id")
    store.append(ev.filter(col("event_type") === "click"))
    var view = Ivm.init(store.read, Seq("event_type"), Seq("value"))
      // view state is the loop-carried frame, pinned lazily: a plan
      // barrier is what the loop needs — materialization
      // rides the divergence count instead of one eager job per leg
      .pinLazily
    store.append(ev.filter(col("event_type") === "purchase"))
    store.delete(col("value") < 10.0)
    val Seq(v1, v2, v3) = store.versions.sorted.takeRight(3)
    for ((a, b) <- Seq((v1, v2), (v2, v3))) {
      val (ad, rm) = store.diff(a, b)
      view = Ivm.maintain(view,
          ad.select(col("event_type"), col("value")),
          rm.select(col("event_type"), col("value")),
          Seq("event_type"), Seq("value"))
        .pinLazily // cut the plan: next leg reads state, not history
    }
    def rounded(v: DataFrame) = v.select(col("event_type"), col("view_n"),
      round(col("view_sum_value"), 2).as("sv"))
    val direct = Ivm.init(store.readVersion(v3), Seq("event_type"), Seq("value"))
    // one-job divergence check with full exceptAll semantics (r15,
    // replaces r14's full_outer join on event_type — that join was
    // blind to row MULTIPLICITY: a maintained view corrupted with a
    // duplicated key row matching the recompute joined both copies and
    // reported diverged=0, and its equality key dropped null-key rows
    // entirely). Side-tagged union + groupBy over ALL columns is the
    // multiset symmetric difference in one aggregation: a row surviving
    // with sum(side) != 0 appears a different number of times on the
    // two sides (missing key, value drift, or duplication), and groupBy
    // treats nulls as equal so null-key rows compare like any other.
    val diverged = rounded(view).withColumn("__side", lit(1L))
      .unionByName(rounded(direct).withColumn("__side", lit(-1L)))
      .groupBy(col("event_type"), col("view_n"), col("sv"))
      .agg(sum(col("__side")).as("__d"))
      .filter(col("__d") =!= 0L)
      .count()
    require(diverged == 0,
      s"q_ivm: maintained view diverged from direct recompute ($diverged rows)")
    view.select(col("event_type"), col("view_n").as("n"),
        round(col("view_sum_value"), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }
}
