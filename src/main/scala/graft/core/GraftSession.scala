package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap
import graft.sqlparse.Parser
import graft.plan.Lowering

/** Session facade mirroring the reference's `Session` surface
  * (reference: persistent/Session.java:181-502 — registerTable /
  * execute / persist / find), rebuilt on SparkSession.
  *
  * Batch `execute` parses the reference dialect and lowers to a lazy
  * DataFrame; the caller iterates it (the reference returns a
  * ResultSet to poll — sql/ResultSetImpl.java:74-99; a Dataset
  * iterator is the Spark-native equivalent).
  */
object GraftSession {
  /** Transaction-owner key for the in-process API. Remote connections
    * pass their own key (remote/GraftDialect.scala) so each JDBC
    * client owns an independent transaction. */
  val LocalConn = "local"

  /** Idle-transaction timeout: a write-intent baseline untouched this
    * long (connection wrote, then neither committed nor rolled back —
    * typically a vanished remote client) is expired so a long-lived
    * endpoint's transaction state stays bounded. Long on purpose: an
    * expired baseline only disables rollback for that abandoned
    * transaction, it never undoes data. */
  val txIdleTimeoutMs: Long = 24L * 60 * 60 * 1000

  /** Conservative [lo, hi] id bounds implied by a WHERE tree for one
    * table's id column, or None when the tree implies no bound. Only
    * top-level AND conjuncts contribute (the dialect nests one
    * connective kind per level, so anything under an OR is skipped —
    * skipping can only WIDEN the range, never lose rows). Fractional
    * literals round inward (`id > 1.5` → lo 2); an equality on a
    * fractional value yields an empty range, which is exactly what
    * the row filter would return. */
  private[core] def idBounds(where: Option[graft.sqlparse.Ast.Cond],
                             idCol: String, tref: graft.sqlparse.Ast.TableRef,
                             single: Boolean): Option[(Long, Long)] = {
    import graft.sqlparse.Ast._
    def conjuncts(c: Cond): Seq[Cond] = c match {
      case BoolOp(op, cs) if op.equalsIgnoreCase("AND") => cs.flatMap(conjuncts)
      case other => Seq(other)
    }
    def matches(r: ColRef): Boolean =
      r.name.equalsIgnoreCase(idCol) && (r.table match {
        case Some(t) => tref.alias.exists(_.equalsIgnoreCase(t)) ||
          t.equalsIgnoreCase(tref.name)
        case None => single
      })
    var lo = Long.MinValue
    var hi = Long.MaxValue
    var found = false
    where.toSeq.flatMap(conjuncts).foreach {
      case Cmp(op, c, Left(NumLit(v, _))) if matches(c) => op match {
        case ">=" => lo = math.max(lo, math.ceil(v).toLong); found = true
        case ">"  => lo = math.max(lo, math.floor(v).toLong + 1); found = true
        case "<=" => hi = math.min(hi, math.floor(v).toLong); found = true
        case "<"  => hi = math.min(hi, math.ceil(v).toLong - 1); found = true
        case "="  => lo = math.max(lo, math.ceil(v).toLong)
                     hi = math.min(hi, math.floor(v).toLong); found = true
        case _    => () // <> implies no contiguous bound
      }
      case InList(c, vs, false) if matches(c) && vs.nonEmpty &&
          vs.forall(_.isInstanceOf[NumLit]) =>
        val nums = vs.collect { case NumLit(v, _) => v }
        lo = math.max(lo, math.ceil(nums.min).toLong)
        hi = math.min(hi, math.floor(nums.max).toLong)
        found = true
      case _ => ()
    }
    if (found) Some((lo, hi)) else None
  }

  /** Per-column conservative double bounds implied by the WHERE tree —
    * the stats-pruning generalization of [[idBounds]] to every column
    * (file column stats compare in doubles, so strict `<`/`>` keep the
    * literal itself as an inclusive bound — conservative). */
  private[core] def columnBounds(where: Option[graft.sqlparse.Ast.Cond],
                                 tref: graft.sqlparse.Ast.TableRef,
                                 single: Boolean): Map[String, (Double, Double)] = {
    import graft.sqlparse.Ast._
    def conjuncts(c: Cond): Seq[Cond] = c match {
      case BoolOp(op, cs) if op.equalsIgnoreCase("AND") => cs.flatMap(conjuncts)
      case other => Seq(other)
    }
    def colOf(r: ColRef): Option[String] = r.table match {
      case Some(t) if tref.alias.exists(_.equalsIgnoreCase(t)) ||
        t.equalsIgnoreCase(tref.name) => Some(r.name)
      case None if single => Some(r.name)
      case _ => None
    }
    val acc = scala.collection.mutable.Map.empty[String, (Double, Double)]
    def tighten(c: String, lo: Double, hi: Double): Unit = {
      val (plo, phi) = acc.getOrElse(c, (Double.NegativeInfinity, Double.PositiveInfinity))
      acc(c) = (math.max(plo, lo), math.min(phi, hi))
    }
    where.toSeq.flatMap(conjuncts).foreach {
      case Cmp(op, r, Left(NumLit(v, _))) => colOf(r).foreach { c =>
        op match {
          case ">=" | ">" => tighten(c, v, Double.PositiveInfinity)
          case "<=" | "<" => tighten(c, Double.NegativeInfinity, v)
          case "="        => tighten(c, v, v)
          case _          => ()
        }
      }
      case InList(r, vs, false) if vs.nonEmpty && vs.forall(_.isInstanceOf[NumLit]) =>
        colOf(r).foreach { c =>
          val nums = vs.collect { case NumLit(v, _) => v }
          tighten(c, nums.min, nums.max)
        }
      case _ => ()
    }
    acc.toMap
  }
}

class GraftSession(val spark: SparkSession,
                   val compat: Lowering.Compat = Lowering.Compat()) {
  // observability from session birth, like the reference's
  // instance-startup registerMetrics (core/Instance.java:405-424)
  Metrics.install(spark)

  private val tables = TrieMap.empty[String, () => DataFrame]
  private val stores = TrieMap.empty[String, TableStore]

  /** registerTable equivalent: name → DataFrame (any source). */
  def register(name: String, df: DataFrame): Unit =
    tables.put(name.toLowerCase, () => df)

  /** Mutable-backed registration: re-resolved per query so dialect
    * queries always see the store's current state (a captured DataFrame
    * would pin the file listing of one snapshot). */
  def registerProvider(name: String, df: () => DataFrame): Unit =
    tables.put(name.toLowerCase, df)

  /** registerTable from an annotated case class (reference:
    * persistent/Session.java:181-277 — @Id/@DistributedId/@Threshold
    * read off the entity; schema from the Catalyst Encoder). The
    * returned TypedTable is the persist/find surface; dialect queries
    * against `name` see the store's live state. */
  def registerEntity[T: org.apache.spark.sql.Encoder : scala.reflect.ClassTag](
      name: String, path: String): TypedTable[T] = {
    val meta = EntityMeta.of[T]
    val store = new TableStore(spark, path, meta.idCol)
    store.recoverPendingRevert() // finish any crashed multi-table rollback
    store.initialize(implicitly[org.apache.spark.sql.Encoder[T]].schema)
    val tt = new TypedTable[T](spark, store, meta,
      beforeWrite = () => {
        if (frozen)
          throw new IllegalStateException("session is frozen (FREEZE); UNFREEZE to persist")
        noteWrite(name) // write intent: ROLLBACK scope is what we wrote
      })
    registerProvider(name, () => store.read)
    stores.put(name.toLowerCase, store)
    streams.put(name.toLowerCase, () => store.readStream) // queue duality
    tt
  }

  /** Register a raw TableStore as a writable dialect table (the typed
    * path is registerEntity; this is the DataFrame-schema path). Makes
    * the table a remote-persist target (`INSERT INTO` over the S8
    * surface, remote/GraftDialect.scala). */
  def registerStore(name: String, store: TableStore): Unit = {
    store.recoverPendingRevert() // finish any crashed multi-table rollback
    stores.put(name.toLowerCase, store)
    registerProvider(name, () => store.read)
    // table-is-a-queue duality: the same name under SELECT STREAM
    // tails the store (backlog + appends). Append-only contract —
    // see TableStore.readStream.
    streams.put(name.toLowerCase, () => store.readStream)
  }

  /** Writable store behind a table name, if one backs it. */
  def store(name: String): Option[TableStore] = stores.get(name.toLowerCase)

  /** Register every driver-generated parquet table from a sf dir.
    * Lazy: a table's scan (and its one-time schema read) is built only
    * when a query first references it — a session touching 2 of 10
    * tables pays 2 schema resolutions, not 10. */
  def registerDir(dir: String): Unit =
    Tables.names.foreach(n => registerProvider(n, () => Tables.load(spark, dir, n)))

  def table(name: String): DataFrame =
    tables.getOrElse(name.toLowerCase,
      throw new IllegalArgumentException(s"table not registered: $name"))()

  // ---- custom aggregates (reference F_CUSTOM slot,
  // sql/SQLGroupFunction.java:53,60-63 — a dead stub there) -----------
  private val customAggs =
    TrieMap.empty[String, org.apache.spark.sql.Column => org.apache.spark.sql.Column]

  /** Register a custom aggregate by name for the dialect (column
    * transform form, e.g. `c => sum(c * c)`). */
  def registerAggregate(name: String,
      f: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Unit =
    customAggs.put(name.toUpperCase, f)

  /** Snapshot of the registered custom aggregates (the remote dialect
    * surface lowers with the same registry — remote/GraftDialect.scala). */
  private[graft] def customAggregates
      : Map[String, org.apache.spark.sql.Column => org.apache.spark.sql.Column] =
    customAggs.toMap

  /** Register a typed Aggregator[IN,BUF,OUT] as a dialect aggregate —
    * the real implementation of the reference's F_CUSTOM UDAF surface
    * (SURVEY.md §2.9). Runs as a Catalyst UDAF with partial aggregation
    * (map-side combine), like the built-ins. */
  def registerAggregator[IN](name: String,
      agg: org.apache.spark.sql.expressions.Aggregator[IN, _, _])(
      implicit enc: org.apache.spark.sql.Encoder[IN]): Unit = {
    val f = org.apache.spark.sql.functions.udaf(agg, enc)
    registerAggregate(name, c => f(c))
  }

  // ---- system statements (§2.10 — reference sql/SQLSystem.java:81-170)

  /** Entity scan API (reference S3: `table.poll` queue-based full
    * retrieval, persistent/Table.java:1596-1762) — Spark-native: a
    * lazy partition-at-a-time iterator; only one partition's rows are
    * in driver memory at once. */
  def scan(name: String): Iterator[org.apache.spark.sql.Row] = {
    val it = table(name).toLocalIterator()
    scala.jdk.CollectionConverters.IteratorHasAsScala(it).asScala
  }

  /** Execute a system statement; returns a status line.
    *
    * COMMIT/ROLLBACK are transactions over the registered stores
    * (reference: READ COMMITTED with undo chunks,
    * persistent/Session.java:490-502, persistent/UndoChunk.java:46-70).
    * The version-manifest store makes them metadata ops, scoped by
    * WRITE INTENT: the first write a connection makes to a store since
    * its last COMMIT records that store's pre-write version as the
    * transaction baseline ([[noteWrite]] — fired by TypedTable.persist
    * and the remote INSERT path). ROLLBACK reverts exactly the stores
    * THIS connection wrote, each to its baseline snapshot
    * (TableStore.revertTo — a new commit, no data I/O); COMMIT drops
    * the baselines. Stores moved only by other writers are never
    * touched — matching the reference's per-session undo scope. `conn`
    * identifies the transaction owner: the local API uses the default;
    * each remote (Thrift) connection passes its own key
    * (remote/GraftDialect.scala), so one JDBC client's ROLLBACK cannot
    * revert another's committed work. Remaining divergence: a rollback
    * undoes ALL versions committed to a written table since the
    * baseline, which equals "this connection's writes" exactly when it
    * is the table's only writer — concurrent same-table writers are
    * last-writer-wins (no cross-table atomicity either; the
    * reference's MVCC is per-table too). Writers that mutate a
    * TableStore directly (not via TypedTable/INSERT) are outside
    * transaction scope.
    *
    * ALTER SESSION SET forwards to the Spark conf; ALTER SYSTEM
    * SHUTDOWN stops this session's active streaming queries (the
    * long-running state a Spark "instance" holds); FREEZE blocks
    * TableStore-style mutation via the returned flag on the session;
    * CONNECT records the client identity (reference: local auth —
    * remote clients are remote/RemoteGraftSession, S8). */
  def executeSystem(sql: String, conn: String = GraftSession.LocalConn): String = {
    import graft.sqlparse.SystemParser._
    graft.sqlparse.SystemParser.parse(sql) match {
      case Some(Commit) =>
        expireStaleBaselines()
        val mine = txBaseline.keys.filter(_._1 == conn).toSeq
        mine.foreach(txBaseline.remove)
        s"ok: committed; ${mine.size} written table(s)"
      case Some(Rollback) =>
        expireStaleBaselines()
        var reverted = 0
        val failures = Seq.newBuilder[String]
        val scope = txBaseline.keys.filter(_._1 == conn).toSeq
        // Phase 1 — journal every table's revert target BEFORE flipping
        // any manifest (TableStore.markPendingRevert): a crash mid-loop
        // no longer strands a cross-table mix — the next open of each
        // still-pending store completes its revert (recoverPendingRevert
        // runs at registration). Journaling failures exclude the table
        // from phase 2 so we never revert un-journaled state.
        val journaled = scope.flatMap { case key @ (_, name) =>
          txBaseline.get(key).flatMap { case (base, _) =>
            stores.get(name).flatMap { st =>
              if (st.versions.lastOption.getOrElse(-1L) == base) {
                txBaseline.remove(key); None // untouched since baseline
              } else try { st.markPendingRevert(base); Some((key, name, base, st)) }
              catch { case scala.util.control.NonFatal(e) =>
                failures += s"$name: journal failed: ${e.getMessage}"
                txBaseline.remove(key)
                None
              }
            }
          }
        }
        // Phase 2 — flip manifests, clearing each journal entry after
        // its table lands. A failed revert must not abort the loop:
        // remaining tables still roll back and the failure is reported.
        // The journal is cleared ONLY for permanent failures (baseline
        // manifest genuinely absent — IllegalArgumentException from
        // revertTo: the intent is unsatisfiable, the table re-baselines
        // at its current state). A TRANSIENT error (I/O hiccup) keeps
        // the journal, so recoverPendingRevert retries the revert at the
        // table's next open — clearing it would discard the durable
        // intent the journal was written to preserve and leave the
        // table permanently un-reverted with no recovery path.
        journaled.foreach { case (key, name, base, st) =>
          try { st.revertTo(base); st.clearPendingRevert(); reverted += 1 }
          catch {
            case e: IllegalArgumentException =>
              failures += s"$name: ${e.getMessage}"
              try st.clearPendingRevert()
              catch { case scala.util.control.NonFatal(_) => }
            case scala.util.control.NonFatal(e) =>
              failures += s"$name: ${e.getMessage} (revert intent kept; retried at next open)"
          } finally txBaseline.remove(key)
        }
        val failed = failures.result()
        s"ok: rolled back $reverted table(s) to transaction start" +
          (if (failed.isEmpty) "" else s"; FAILED ${failed.size}: ${failed.mkString("; ")}")
      case Some(Freeze) => frozen0 = true; "ok: session frozen (writes rejected)"
      case Some(Unfreeze) => frozen0 = false; "ok: session unfrozen"
      case Some(AlterSystem("SHUTDOWN")) =>
        // only THIS session's queries, stopped through their handles
        // (see ownedQueries — handle queries live on isolated session
        // clones, invisible to this session's spark.streams)
        val mine = ownedQueries.values.filter(_._1())
        mine.foreach(h => try h._2() catch { case scala.util.control.NonFatal(_) => () })
        ownedQueries.clear() // stopped or already dead — drop the ids
        s"ok: stopped ${mine.size} streaming queries"
      case Some(AlterSystem(_)) => "ok: instance already started"
      case Some(AlterSession(k, v)) => spark.conf.set(k, v); s"ok: $k=$v"
      case Some(Connect(t)) =>
        // reference CONNECT authenticates THIS session against the local
        // instance (sql/SQLSystem.java:130-144 — auth + session insert);
        // it is not the remote-client entry point (that is
        // transport/RemoteSession, here remote/RemoteGraftSession over
        // the Thrift/JDBC surface). Auth is the cluster manager's job in
        // Spark; accept and record the identity.
        connectedAs0 = Some(t); s"ok: connected as $t"
      case None =>
        throw new IllegalArgumentException(s"not a system statement: $sql")
    }
  }

  /** (connection, table) → (store version at the connection's first
    * write this transaction, when it was recorded) — the write-intent
    * set COMMIT/ROLLBACK operate on. The timestamp drives the
    * idle-transaction timeout: a remote connection that writes and
    * vanishes without COMMIT/ROLLBACK would otherwise leak its
    * baselines forever on a long-lived endpoint; entries older than
    * [[GraftSession.txIdleTimeoutMs]] are expired opportunistically on
    * every transaction statement (the standard abandoned-transaction
    * reaper, done without a background thread). */
  private val txBaseline = TrieMap.empty[(String, String), (Long, Long)]

  private def expireStaleBaselines(): Unit = {
    val cutoff = System.currentTimeMillis() - GraftSession.txIdleTimeoutMs
    txBaseline.foreach { case (k, (_, at)) => if (at < cutoff) txBaseline.remove(k) }
  }

  /** Record write intent: remember `table`'s CURRENT version as
    * `conn`'s rollback baseline, if this is the connection's first
    * write to it since its last COMMIT. Must be called before the
    * write lands (TypedTable's beforeWrite hook, the remote INSERT
    * command, PROCESS STREAM's per-batch delete stream). */
  private[graft] def noteWrite(table: String, conn: String = GraftSession.LocalConn): Unit =
    stores.get(table.toLowerCase).foreach { st =>
      txBaseline.putIfAbsent((conn, table.toLowerCase),
        (st.versions.lastOption.getOrElse(-1L), System.currentTimeMillis())); ()
    }

  @volatile private var frozen0 = false
  @volatile private var connectedAs0: Option[String] = None
  /** Identity recorded by the CONNECT system statement. */
  def connectedAs: Option[String] = connectedAs0
  /** FREEZE state — TypedTable/TableStore callers consult this before
    * mutating (reference FREEZE halts persistence). */
  def frozen: Boolean = frozen0

  /** Batch SELECT in the reference dialect → lazy DataFrame. The
    * `executeQuery` timer covers parse+lower (plan construction); the
    * `localTask` timer (listener-fed) covers the actions that run it. */
  def execute(sql: String): DataFrame = Metrics.timer("executeQuery").time {
    val stmt = Parser.parse(sql)
    require(!stmt.stream, "SELECT STREAM goes through executeStream")
    require(stmt.processWithin.isEmpty, "PROCESS goes through executeProcess")
    Lowering.lower(stmt, prunedResolver(stmt), compat, customAggs.toMap)
  }

  /** Table resolver with MANIFEST-LEVEL file pruning for store-backed
    * tables (the dialect rendering of the reference's id-index scan,
    * persistent/Table.java:1880-2035): when the statement's WHERE
    * implies bounds on the store's id column, the scan starts from
    * `TableStore.readRange` — files outside the id range are never
    * listed — instead of the full snapshot. Sound because the implied
    * range is derived only from top-level AND conjuncts (a superset of
    * the true result set) and the lowered WHERE still filters
    * row-exactly on top. Non-store tables and unbounded statements
    * resolve exactly as before. */
  private def prunedResolver(stmt: graft.sqlparse.Ast.SelectStmt): String => DataFrame =
    name => {
      val pruned = for {
        store <- stores.get(name.toLowerCase)
        // Self-join guard: Lowering resolves each FROM entry by NAME, so
        // the same scan backs every occurrence of the table. Bounds
        // derived from one alias's predicates (a.id >= 100) are NOT
        // valid for the other alias — pruning here would silently drop
        // b-side files. One occurrence only, or no pruning.
        if stmt.tables.count(_.name.equalsIgnoreCase(name)) == 1
        tref <- stmt.tables.find(_.name.equalsIgnoreCase(name))
      } yield {
        val single = stmt.tables.size == 1
        val idB = GraftSession.idBounds(stmt.where, store.idCol, tref, single)
        // non-id numeric columns prune through per-file column stats
        // (TableStore.readWhere machinery); the id column additionally
        // prunes through the null-strict manifest id range
        val colB = GraftSession.columnBounds(stmt.where, tref, single)
        if (idB.isEmpty && colB.isEmpty) table(name)
        else store.readPruned(colB, idB)
      }
      pruned.getOrElse(table(name))
    }

  /** Entity-result mode (reference: `SELECT * FROM one_table` returns
    * the entity class itself, sql/SQLSelect.java:292-301 → here a
    * typed Dataset[T]). */
  def executeAs[T: org.apache.spark.sql.Encoder](sql: String): org.apache.spark.sql.Dataset[T] =
    execute(sql).as[T]

  // ---- streaming (SELECT STREAM — reference C1-C4) -------------------
  private val streams = TrieMap.empty[String, () => DataFrame]

  /** Register a streaming source under a table name (the reference's
    * table-is-a-queue duality: same name, stream scan). */
  def registerStream(name: String, stream: DataFrame): Unit = {
    require(stream.isStreaming, s"$name is not a streaming DataFrame")
    streams.put(name.toLowerCase, () => stream)
  }

  /** Register streaming scans over every parquet table in a sf dir.
    * Lazy, like registerDir: only queried tables resolve a schema. */
  def registerStreamDir(dir: String): Unit =
    Tables.names.foreach(n => streams.put(n.toLowerCase,
      () => Tables.loadStream(spark, dir, n)))

  def streamTable(name: String): DataFrame =
    streams.getOrElse(name.toLowerCase,
      throw new IllegalArgumentException(s"stream not registered: $name"))()

  /** Lower a SELECT STREAM statement to an unstarted streaming
    * DataFrame (filter/project, tumbling group-by, or count window —
    * the lowering branches on isStreaming). */
  def executeStreamPlan(sql: String): DataFrame = {
    val stmt = Parser.parse(sql)
    require(stmt.stream, "not a SELECT STREAM statement")
    require(stmt.orderBy.isEmpty, "ORDER BY is not valid on streams")
    Lowering.lower(stmt.copy(orderBy = Seq.empty), streamTable, compat, customAggs.toMap)
  }

  /** Streaming queries started by THIS session (the SparkSession's
    * registry is global; lifecycle ops must not cross sessions). */
  // queryId → (isActive, stop) for THIS session's continuous queries.
  // Stopping goes through the handle, not spark.streams.active: since
  // r14 StreamHandle starts its query on an ISOLATED session clone
  // (state-store alias resolution must not mutate the shared conf), so
  // the query is registered in the CLONE's StreamingQueryManager and a
  // spark.streams lookup here would silently miss it.
  private val ownedQueries =
    TrieMap.empty[java.util.UUID, (() => Boolean, () => Unit)]

  /** Start a SELECT STREAM query; returns the poll/stop handle
    * (reference: sql/StreamQueue.java:40-134). Grouped streams run in
    * update mode (group revisions), plain streams in append. */
  def executeStream(sql: String, checkpoint: Option[String] = None): graft.streaming.StreamHandle = {
    val stmt = Parser.parse(sql)
    val plan = executeStreamPlan(sql)
    val mode =
      if (stmt.groupBy.nonEmpty && stmt.windowBy.isEmpty)
        org.apache.spark.sql.streaming.OutputMode.Update()
      else org.apache.spark.sql.streaming.OutputMode.Append()
    val h = graft.streaming.StreamHandle.start(spark, plan, mode, checkpoint)
    ownedQueries.put(h.queryId, (() => h.isActive, () => h.stop()))
    h
  }

  // ---- CEP (PROCESS … WITHIN — reference C5/C6) ----------------------

  /** Batch PROCESS: run the EventProcessor over matching rows of the
    * statement's table; delete semantics apply to the returned
    * DataFrame (and to the TableStore if one backs the table). */
  def executeProcess(sql: String, processor: graft.cep.EventProcessor,
                     idCol: Option[String] = None): graft.cep.Process.Result = {
    val stmt = Parser.parse(sql)
    require(stmt.processWithin.isDefined, "not a PROCESS statement")
    require(stmt.tables.size == 1, "PROCESS is single-table") // sql/SQLSelect.java:211-214
    val tref = stmt.tables.head
    val df0 = table(tref.name)
    val df = tref.alias match {
      case Some(a) => df0.columns.foldLeft(df0)((d, c) => d.withColumnRenamed(c, a + c))
      case None => df0
    }
    val cond = stmt.where
      .map(w => Lowering.lowerCondOn(df, w, compat))
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    graft.cep.Process.run(df, cond, processor, idCol.map(c => tref.alias.getOrElse("") + c))
  }

  /** PROCESS STREAM (reference C6 — online CEP): apply the
    * EventProcessor continuously to arriving rows of the statement's
    * stream; consumed rows are deleted from `store` per micro-batch.
    * Accepts both `PROCESS …` and `PROCESS STREAM …` statement forms.
    *
    * @param store backing table for delete-semantics (its idCol must be
    *   the un-aliased name of `idCol`)
    * @param idCol unique key column (un-aliased name) for keyed deletes
    */
  def executeStreamProcess(sql: String, processor: graft.cep.EventProcessor,
                           store: Option[TableStore] = None,
                           idCol: Option[String] = None,
                           checkpoint: Option[String] = None,
                           trigger: org.apache.spark.sql.streaming.Trigger =
                             org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
      : graft.streaming.StreamProcess.Handle = {
    val stmt = Parser.parse(sql)
    require(stmt.processWithin.isDefined, "not a PROCESS statement")
    require(stmt.tables.size == 1, "PROCESS is single-table") // sql/SQLSelect.java:211-214
    val tref = stmt.tables.head
    val df0 = streamTable(tref.name)
    val df = tref.alias match {
      case Some(a) => df0.columns.foldLeft(df0)((d, c) => d.withColumnRenamed(c, a + c))
      case None => df0
    }
    val cond = stmt.where
      .map(w => Lowering.lowerCondOn(df, w, compat))
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    val streamId = idCol.map(c => tref.alias.getOrElse("") + c)
    // the per-batch deletes this stream will make are session writes:
    // record the intent now (pre-first-delete version) so ROLLBACK
    // covers them like any other write through this session
    store.foreach(st => stores.collectFirst { case (n, s) if s eq st => n }
      .foreach(noteWrite(_)))
    val h = graft.streaming.StreamProcess.start(df, cond, processor, store, streamId,
      checkpoint, trigger)
    ownedQueries.put(h.queryId, (() => h.isActive, () => h.stop()))
    h
  }
}
