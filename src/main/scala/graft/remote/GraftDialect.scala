package graft.remote

import org.apache.spark.sql.{DataFrame, Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.core.GraftSession
import graft.sqlparse.{InsertParser, Parser, SystemParser}
import graft.plan.Lowering

/** The graft dialect as a Spark parser extension (SURVEY.md S8).
  *
  * The reference exposes its dialect to other JVMs through a custom
  * event transport (`transport/RemoteSession.java:52-130` — execute /
  * persist / commit over `TransportChannel`). Spark's equivalent of
  * "the engine's SQL surface, reachable from outside" is an injected
  * parser: once `spark.sql.extensions=graft.remote.GraftExtensions` is
  * on the session, EVERY standard entry point — `spark.sql`, the Hive
  * Thrift/JDBC server, a Spark Connect endpoint — executes dialect
  * statements server-side. No bespoke wire protocol: transport,
  * serialization, batching (fetch size), auth all come from the
  * hardened servers Spark already ships.
  *
  * Routing (per statement, only when `spark.graft.dialect=on`):
  *   1. system statements (COMMIT/FREEZE/…)     → [[GraftSystemCommand]]
  *   2. `INSERT INTO t …` on a graft-backed table → [[GraftInsertCommand]]
  *   3. dialect SELECT                           → lowered logical plan
  *   4. anything else                            → delegate Spark parser
  *
  * The conf flag is read per parse, so a JDBC client can opt in with
  * `SET spark.graft.dialect=on` on its own connection (sessions are
  * per-connection in the Thrift server) without affecting others.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectParser((session, delegate) => new GraftParser(session, delegate))
}

/** Process-wide binding of the dialect surface to a [[GraftSession]]
  * (table registry, compat flags, custom aggregates, writable stores).
  * One graft server per JVM — same cardinality as the reference's
  * `Instance` singleton (core/Instance.java).
  */
object GraftDialect {
  val ConfKey = "spark.graft.dialect"

  @volatile private var bound: Option[GraftSession] = None

  def attach(gs: GraftSession): Unit = bound = Some(gs)
  def detach(): Unit = bound = None
  def attached: Option[GraftSession] = bound

  def enabled(s: SparkSession): Boolean =
    s.conf.get(ConfKey, "off").equalsIgnoreCase("on")

  /** Transaction-owner key for an executing session. Each Thrift
    * connection owns a cloned SparkSession for its lifetime, so the
    * session's identity IS the connection identity — COMMIT/ROLLBACK
    * and write intents keyed on it are per-JDBC-connection, like the
    * reference's per-session transactions (persistent/Session.java).
    * The key is a UUID minted into the session's OWN conf on first
    * use (session conf is per-clone): unique for the JVM's lifetime —
    * an identity hash would eventually collide and hand one client's
    * rollback baseline to another. The bound GraftSession's own
    * SparkSession maps to the local key: statements a server-side
    * caller runs through spark.sql belong to the same transaction as
    * its GraftSession API calls. */
  private val ConnIdKey = "spark.graft.internal.connId"
  def connKey(s: SparkSession): String =
    bound match {
      case Some(gs) if gs.spark eq s => graft.core.GraftSession.LocalConn
      case _ => s.conf.getOption(ConnIdKey).getOrElse {
        val id = "conn-" + java.util.UUID.randomUUID().toString
        s.conf.set(ConnIdKey, id)
        id
      }
    }

  /** Table resolution: the bound GraftSession's registry first (live
    * TableStore-backed providers), then the executing session's own
    * catalog (temp views, catalog tables). Only "not registered" falls
    * through — a registered table whose provider fails (corrupt
    * manifest, IO error) must surface that error, not mutate into
    * TABLE_OR_VIEW_NOT_FOUND. */
  def resolve(s: SparkSession, name: String): DataFrame =
    bound match {
      case Some(gs) =>
        try gs.table(name)
        catch { case _: IllegalArgumentException => s.table(name) }
      case None => s.table(name)
    }
}

/** Delegating parser: dialect-first when enabled, Spark SQL otherwise.
  * Dialect semantic failures fall back to the delegate, so a session
  * with the flag on still speaks full Spark SQL — the dialect only
  * captures statements it can execute (same precedence a reference
  * client sees: its dialect IS the SQL surface of the endpoint).
  */
final class GraftParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan = {
    if (!GraftDialect.enabled(session)) return delegate.parsePlan(sqlText)
    val sql = sqlText.trim
    if (SystemParser.parse(sql).isDefined) return GraftSystemCommand(sql)
    InsertParser.parse(sql) match {
      case Some(ins) if GraftDialect.attached.exists(_.store(ins.table).isDefined) =>
        return GraftInsertCommand(ins.table, ins.columns, ins.rows)
      case _ => ()
    }
    val upper = sql.toUpperCase
    if (upper.startsWith("SELECT") || upper.startsWith("PROCESS")) {
      try {
        val stmt = Parser.parse(sql)
        if (stmt.stream || stmt.processWithin.isDefined)
          throw new UnsupportedOperationException(
            "SELECT STREAM / PROCESS need a long-lived handle; use " +
              "GraftSession.executeStream / executeProcess on the server " +
              "(the reference's remote surface is batch execute too: " +
              "transport/RemoteSession.java:82-90)")
        val gs = GraftDialect.attached
        val df = Lowering.lower(stmt, GraftDialect.resolve(session, _),
          gs.map(_.compat).getOrElse(Lowering.Compat()),
          gs.map(_.customAggregates).getOrElse(Map.empty))
        df.queryExecution.logical
      } catch {
        case e: UnsupportedOperationException => throw e
        // not a dialect statement (or references tables only Spark's
        // catalog knows) — let the delegate have it
        case scala.util.control.NonFatal(_) => delegate.parsePlan(sqlText)
      }
    } else delegate.parsePlan(sqlText)
  }

  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

/** System statement as a command: side effects run at execution time
  * on the EXECUTING session (each Thrift connection owns a cloned
  * session, so ALTER SESSION SET is connection-scoped — same scoping
  * as the reference's per-session sql/SQLSystem.java handling).
  * FREEZE/UNFREEZE/SHUTDOWN target the bound GraftSession's state. */
final case class GraftSystemCommand(sql: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("status", StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    import SystemParser._
    val status = SystemParser.parse(sql) match {
      case Some(AlterSession(k, v)) => session.conf.set(k, v); s"ok: $k=$v"
      // transaction over the attached session's registered stores,
      // keyed by THIS connection's identity so one client's ROLLBACK
      // never reverts another's work; without an attached session
      // there are no writable tables behind this endpoint, so a
      // stateless ack is the truthful response
      case Some(Commit) | Some(Rollback) => GraftDialect.attached match {
        case Some(gs) => gs.executeSystem(sql, GraftDialect.connKey(session))
        case None => "ok: no writable tables attached; nothing to end"
      }
      case Some(stmt) => GraftDialect.attached match {
        case Some(gs) => gs.executeSystem(sql)
        case None =>
          // FREEZE/SHUTDOWN/CONNECT mutate GraftSession state; running
          // them on a throwaway session would report success with no
          // effect
          throw new IllegalStateException(
            s"$stmt needs an attached GraftSession (GraftServer.start)")
      }
      case None => throw new IllegalArgumentException(s"not a system statement: $sql")
    }
    Seq(Row(status))
  }
}

/** `INSERT INTO t [(cols)] VALUES …` against a graft TableStore — the
  * remote persist path (reference `RemoteSession.persist`,
  * transport/RemoteSession.java:92-101). Literals arrive as strings
  * and are cast to the table schema (Catalyst Cast: numerics, dates,
  * timestamps, booleans), so the client needs no type knowledge —
  * like the reference's client-side serializer-free persist proxy. */
final case class GraftInsertCommand(table: String, columns: Seq[String],
                                    rows: Seq[Seq[Option[String]]])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("status", StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    val gs = GraftDialect.attached.getOrElse(
      throw new IllegalStateException("no GraftSession attached (GraftServer.start)"))
    // frozen first: FREEZE rejects ALL writes, known table or not
    if (gs.frozen)
      throw new IllegalStateException("session is frozen (FREEZE); UNFREEZE to persist")
    val store = gs.store(table).getOrElse(
      throw new IllegalArgumentException(s"no writable store for table: $table"))
    val schema = store.read.schema
    val target = if (columns.isEmpty) schema.map(_.name) else columns
    val unknown = target.filterNot(c => schema.exists(_.name.equalsIgnoreCase(c)))
    require(unknown.isEmpty, s"unknown columns in INSERT: ${unknown.mkString(", ")}")
    require(rows.forall(_.size == target.size),
      s"INSERT arity mismatch: ${target.size} columns")
    val byName = target.map(_.toLowerCase).zipWithIndex.toMap
    val aligned = rows.map { r =>
      Row.fromSeq(schema.map(f => byName.get(f.name.toLowerCase).flatMap(r(_)).orNull))
    }
    val strSchema = StructType(schema.map(f => StructField(f.name, StringType, nullable = true)))
    val df = session.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(aligned).asJava, strSchema)
      .select(schema.map(f => col(f.name).cast(f.dataType)): _*)
    // write intent BEFORE the append: this connection's ROLLBACK
    // baseline for the table is its pre-write version
    gs.noteWrite(table, GraftDialect.connKey(session))
    store.append(df)
    Seq(Row(s"ok: inserted ${rows.size} rows into $table"))
  }
}
