package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.{TableStore, TempDirs, VersionLog}

/** Two concurrent writers on ONE store: every committed file must end
  * up with its per-file column stats in the final manifest. Round 8's
  * commit cleared the shared pendingColStats map unconditionally, so
  * writer A's commit could discard writer B's pending stats before B
  * committed — B's files were then committed stat-less and read
  * conservatively (un-prunable) forever. Commit now removes only its
  * own files' entries. */
class StoreConcurrencySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("concurrent appenders never lose each other's column stats") {
    val dir = TempDirs.create("graft_colstats_conc_")
    val st = new TableStore(spark, dir, "id")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map { t =>
      new Thread(() => {
        try (1 to 6).foreach { i =>
          val base = (t * 100000 + i * 1000).toLong
          st.append((base until base + 200L).map(j => (j, j * 1.5)).toDF("id", "v"))
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.isEmpty, s"writer failed: ${errs.peek()}")
    val versionsDir = new java.io.File(s"$dir/_versions")
    val latest = versionsDir.listFiles().filter(_.getName.endsWith(".manifest"))
      .maxBy(f => VersionLog.versionOf(f.getName).get)
    val snap = VersionLog.decode(
      new String(java.nio.file.Files.readAllBytes(latest.toPath), "UTF-8"), latest.getName)
    val entries = snap.entries
    val stats = snap.colStats
    assert(entries.size >= 12, s"expected 12 committed files, got ${entries.size}")
    val missing = entries.map(_.name).filterNot(n =>
      stats.get(n).exists(_.contains("v")))
    assert(missing.isEmpty,
      s"${missing.size} committed files lost their column stats: ${missing.take(3).mkString(",")}")
  }
}
