package graft.remote

import org.apache.spark.sql.hive.thriftserver.HiveThriftServer2

import graft.core.GraftSession

/** Network endpoint for remote graft clients (SURVEY.md S8).
  *
  * The reference runs its own event-transport server and speaks a
  * bespoke binary protocol (`transport/TransportChannel.java`,
  * `transport/RemoteSession.java`). Spark-first, the equivalent is the
  * HiveServer2-protocol Thrift server Spark ships: per-connection
  * sessions, SASL auth hooks, incremental (batched) result fetch —
  * everything the reference hand-rolls. With [[GraftExtensions]] on the
  * session, every connection can speak the graft dialect
  * (`SET spark.graft.dialect=on` — [[RemoteGraftSession]] does this on
  * connect).
  *
  * At scale this is the standard deployment: one long-lived Spark
  * application (the "instance"), N thin JDBC/ODBC clients. A Spark
  * Connect endpoint works identically (same parser extension runs
  * server-side); Thrift is what this environment can exercise
  * end-to-end, since the Connect client ships as a separate
  * distribution artifact by design.
  */
object GraftServer {

  /** Silence the endpoint's metastore plumbing. HiveServer2's session
    * layer lazily initializes a Hive ObjectStore over an embedded-derby
    * URL (`jdbc:derby:memory:…`, from Spark's execution-Hive temporary
    * conf) that derby 10.16 mishandles; the init fails harmlessly — no
    * graft query touches the Hive metastore (tables resolve through
    * [[GraftDialect]] / the in-memory catalog) — but each attempt logs
    * a full ERROR stack trace. Worse than noise: the traces fire at
    * session close, AFTER Bench prints its one-line JSON result, and
    * push it out of the output window the driver parses. These
    * categories carry nothing a graft deployment acts on. */
  def quietMetastoreLogs(): Unit = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.config.Configurator
    // OFF only for the metastore plumbing no graft query uses — the
    // layers whose failures are the known-harmless derby noise
    Seq("DataNucleus", "org.datanucleus", "org.apache.derby",
        "org.apache.hadoop.hive.metastore", "org.apache.hadoop.metrics2")
      .foreach(n => Configurator.setLevel(n, Level.OFF))
    // the server/operation layers stay at ERROR: a client statement
    // dying server-side must remain diagnosable
    Seq("org.apache.hadoop.hive", "org.apache.hive",
        "org.apache.spark.sql.hive.thriftserver")
      .foreach(n => Configurator.setLevel(n, Level.ERROR))
  }

  // the HiveThriftServer2 CLASS is private[hive]; its public Java
  // supertype carries the service lifecycle (stop)
  final class Handle private[GraftServer] (val port: Int,
                                           server: org.apache.hive.service.server.HiveServer2,
                                           prior: String) {
    def stop(): Unit = {
      server.stop()
      GraftDialect.detach()
      System.setProperty("hive.server2.thrift.port", prior)
    }
  }

  /** Start the Thrift endpoint over `gs`. The SparkSession must carry
    * `spark.sql.extensions=graft.remote.GraftExtensions` (set at
    * build), or connections get plain Spark SQL only.
    *
    * @param port 0 picks a free ephemeral port (tests); fixed in prod.
    */
  def start(gs: GraftSession, port: Int = 0): Handle = {
    val p = if (port == 0) freePort() else port
    quietMetastoreLogs()
    GraftDialect.attach(gs)
    // HiveServer2 reads its conf from HiveConf, which is built from
    // hadoop conf + system properties — the session conf is not
    // consulted for the listener port.
    val prior = System.getProperty("hive.server2.thrift.port", "10000")
    System.setProperty("hive.server2.thrift.port", p.toString)
    System.setProperty("hive.server2.thrift.bind.host", "localhost")
    // keep HiveServer2's embedded-derby scratch state out of the CWD,
    // in a FRESH dir per start (derby refuses a reused one)
    System.setProperty("derby.system.home",
      graft.core.TempDirs.create("graft_derby_"))
    try {
      val server = HiveThriftServer2.startWithSparkSession(gs.spark, exitOnError = false)
      new Handle(p, server, prior)
    } catch { case e: Throwable =>
      // don't leave the process half-configured for a server that
      // never came up
      GraftDialect.detach()
      System.setProperty("hive.server2.thrift.port", prior)
      throw e
    }
  }

  private def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }
}
