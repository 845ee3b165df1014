package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.annotation.meta.field
import graft.annotations.{DistributedId, Id, NoCheck, NoDistribute, Threshold}
import graft.core.{EntityMeta, GraftSession}

/** Entities for the registry: annotations land on the backing field via
  * the @field meta-annotation (how Scala case classes carry Java
  * runtime annotations). */
case class Person(@(Id @field) person_id: Long, name: String, dept: String)

@Threshold(5)
case class LogLine(@(DistributedId @field) id: Long, msg: String)

case class EventRow(@(DistributedId @field) id: Long, v: String)

case class FastEvent(@(DistributedId @field)@(NoCheck @field) id: Long, v: String)

@NoDistribute
case class DimRow(@(Id @field) id: Long, name: String)

class SchemaRegistrySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp() = java.nio.file.Files.createTempDirectory("graft_reg_").toString

  test("EntityMeta reads @Id / @DistributedId / @Threshold off the case class") {
    assert(EntityMeta.of[Person] == EntityMeta("person_id", generatedId = false, None))
    assert(EntityMeta.of[LogLine] == EntityMeta("id", generatedId = true, Some(5L)))
  }

  test("registerEntity: typed persist/find and dialect SELECT * round-trip") {
    val gs = new GraftSession(spark)
    val tt = gs.registerEntity[Person]("person", tmp())
    // a freshly registered entity is queryable before any persist
    // (the reference's registerTable creates the table eagerly)
    assert(gs.execute("select * from person").count() == 0)
    assert(tt.ds.isEmpty && tt.find(1L).isEmpty)
    tt.persist(Seq(Person(1, "ada", "eng"), Person(2, "grace", "eng")))
    // entity result: SELECT * over a single table returns the entity rows
    val ds = gs.executeAs[Person]("select * from person")
    assert(ds.collect().toSet == Set(Person(1, "ada", "eng"), Person(2, "grace", "eng")))
    // persist = insert-or-update by id; the dialect sees the new state
    tt.persist(Seq(Person(2, "grace hopper", "research")))
    assert(tt.find(2L).contains(Person(2, "grace hopper", "research")))
    assert(gs.execute("select * from person").count() == 2)
  }

  test("@DistributedId generates unique nonzero ids for zero-id objects") {
    val gs = new GraftSession(spark)
    val tt = gs.registerEntity[LogLine]("log1", tmp())
    tt.persist(Seq(LogLine(0, "x"), LogLine(0, "y"), LogLine(7, "z")))
    val rows = tt.ds.collect()
    assert(rows.length == 3)
    assert(rows.map(_.id).distinct.length == 3)
    assert(rows.forall(_.id != 0))
    assert(rows.find(_.msg == "z").get.id == 7)
    // a second batch keeps generating above the existing max
    tt.persist(Seq(LogLine(0, "w")))
    val all = tt.ds.collect()
    assert(all.map(_.id).distinct.length == 4)
  }

  test("@NoCheck persist appends without the existence anti-join") {
    assert(EntityMeta.of[FastEvent].noCheck)
    assert(!EntityMeta.of[EventRow].noCheck)
    val gs = new GraftSession(spark)
    val tt = gs.registerEntity[FastEvent]("fast_evt", tmp())
    tt.persist(Seq(FastEvent(1, "a"), FastEvent(2, "b")))
    // plan audit: the append path must execute no join at all — watch
    // every job the persist runs through a QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      tt.persist(Seq(FastEvent(3, "c")))
      // listener events are async: wait until the plan stream is quiet
      val deadline = System.nanoTime() + 5000000000L
      var last = -1
      while (System.nanoTime() < deadline && (plans.size() != last || last == 0)) {
        last = plans.size(); Thread.sleep(200)
      }
      val joined = scala.jdk.CollectionConverters.IteratorHasAsScala(plans.iterator).asScala
        .filter(p => p.contains("Join") || p.contains("join"))
      assert(joined.isEmpty, s"@NoCheck persist must plan no join:\n${joined.mkString("\n---\n")}")
    } finally spark.listenerManager.unregister(listener)
    // no-check semantics: a duplicate id is NOT merged — it appends
    // (the caller owns uniqueness; reference Table.java:1209 inserts
    // without the existence lookup)
    tt.persist(Seq(FastEvent(3, "c2")))
    assert(tt.ds.filter(_.id == 3L).count() == 2)
    assert(tt.ds.count() == 4)
    // generated ids still work on the fast path
    tt.persist(Seq(FastEvent(0, "gen")))
    val ids = tt.ds.collect().map(_.id)
    assert(ids.length == 5 && ids.count(_ == 0L) == 0)
  }

  test("@NoDistribute persists one file per commit (broadcast-friendly dim layout)") {
    import spark.implicits._
    assert(EntityMeta.of[DimRow].noDistribute)
    assert(!EntityMeta.of[Person].noDistribute)
    val gs = new GraftSession(spark)
    val tt = gs.registerEntity[DimRow]("dim_nd", tmp())
    // a deliberately multi-partition batch still lands as ONE file
    val batch = spark.createDataset((1L to 64L).map(i => DimRow(i, s"n$i"))).repartition(8)
    tt.persistDs(batch)
    val files = gs.store("dim_nd").get.read.inputFiles
    assert(files.length == 1, s"expected a single data file, got ${files.length}")
    assert(tt.ds.count() == 64)
    // the UPDATE path must hold the layout too: the upsert merge
    // rewrite (not just the incoming batch) is coalesced
    val update = spark.createDataset(
      (1L to 32L).map(i => DimRow(i, s"updated$i")) ++ Seq(DimRow(100L, "new"))).repartition(8)
    tt.persistDs(update)
    val files2 = gs.store("dim_nd").get.read.inputFiles
    assert(files2.length == 1, s"upsert must keep the single-file layout, got ${files2.length}")
    assert(tt.ds.count() == 65)
    assert(tt.find(1L).contains(DimRow(1L, "updated1")))
  }

  test("entity scan API streams all rows through a local iterator (S3)") {
    val gs = new GraftSession(spark)
    gs.register("nums", spark.range(0, 1000).toDF("id"))
    val got = gs.scan("nums").map(_.getLong(0)).toVector.sorted
    assert(got == (0L until 1000L).toVector)
  }

  test("system statements: COMMIT/ALTER SESSION/FREEZE semantics (§2.10)") {
    val gs = new GraftSession(spark)
    assert(gs.executeSystem("COMMIT").startsWith("ok"))
    assert(gs.executeSystem("rollback").startsWith("ok"))
    gs.executeSystem("ALTER SESSION SET spark.sql.ansi.enabled = false")
    assert(spark.conf.get("spark.sql.ansi.enabled") == "false")
    assert(gs.executeSystem("ALTER SYSTEM STARTUP INSTANCE").startsWith("ok"))
    // FREEZE blocks persists until UNFREEZE
    val tt = gs.registerEntity[Person]("person_frozen", tmp())
    gs.executeSystem("FREEZE")
    assertThrows[IllegalStateException](tt.persist(Seq(Person(1, "x", "y"))))
    gs.executeSystem("UNFREEZE")
    tt.persist(Seq(Person(1, "x", "y")))
    assert(tt.ds.count() == 1)
    // CONNECT records the identity (reference: local auth + session
    // insert, sql/SQLSystem.java:130-144); remote clients live in
    // remote/RemoteGraftSession (S8)
    assert(gs.executeSystem("CONNECT node2").contains("connected"))
    assert(gs.connectedAs.contains("node2"))
    assertThrows[IllegalArgumentException](gs.executeSystem("GARBAGE STATEMENT"))
  }

  test("session transaction: ROLLBACK reverts registered stores to the COMMIT baseline") {
    val gs = new GraftSession(spark)
    val tt = gs.registerEntity[Person]("person_tx", tmp())
    tt.persist(Seq(Person(1, "a", "x")))
    assert(gs.executeSystem("COMMIT").contains("committed"))
    // uncommitted work: an insert and an update
    tt.persist(Seq(Person(2, "b", "y"), Person(1, "a2", "x2")))
    assert(tt.ds.count() == 2)
    val st = gs.executeSystem("ROLLBACK")
    assert(st.contains("rolled back 1 table"), st)
    val rows = tt.ds.collect()
    assert(rows.length == 1 && rows.head.name == "a", rows.toSeq)
    // rollback is idempotent at the new baseline, and writes continue
    assert(gs.executeSystem("ROLLBACK").contains("rolled back 0"))
    tt.persist(Seq(Person(3, "c", "z")))
    assert(tt.ds.count() == 2)
  }

  test("crashed multi-table ROLLBACK completes on next open (pending-revert journal)") {
    import spark.implicits._
    val gs = new GraftSession(spark)
    val dir = tmp()
    val tt = gs.registerEntity[Person]("person_crash", dir)
    tt.persist(Seq(Person(1, "committed", "x")))
    val baseline = gs.store("person_crash").get.versions.last
    tt.persist(Seq(Person(2, "uncommitted", "y")))
    // simulate the crash window: the rollback journaled its intent
    // (phase 1) but died before flipping this table's manifest
    gs.store("person_crash").get.markPendingRevert(baseline)
    // a fresh session re-opening the store completes the revert
    val gs2 = new GraftSession(spark)
    val tt2 = gs2.registerEntity[Person]("person_crash", dir)
    val rows = tt2.ds.collect()
    assert(rows.toSeq == Seq(Person(1, "committed", "x")),
      s"recovery must finish the journaled revert, got ${rows.toSeq}")
    // journal is cleared: a third open does not revert again
    val vAfter = gs2.store("person_crash").get.versions.last
    val gs3 = new GraftSession(spark)
    gs3.registerEntity[Person]("person_crash", dir)
    assert(gs3.store("person_crash").get.versions.last == vAfter)
  }

  test("persist id-base / @Threshold are metadata-only: correct even with data files gone") {
    // The manifest carries per-file (idMin, idMax, rowCount); id-base
    // allocation and threshold sizing must read ONLY that metadata.
    // Proof: delete every data file under files/ (keeping the
    // manifest) — a persist that needed a table scan would fail, and a
    // stats accessor that read data would fail.
    val gs = new GraftSession(spark)
    val dir = tmp()
    val tt = gs.registerEntity[EventRow]("evt_meta", dir)
    tt.persist((1L to 50L).map(i => EventRow(i, s"v$i")))
    val filesDir = new java.io.File(s"$dir/files")
    filesDir.listFiles().foreach(f => assert(f.delete()))
    // metadata accessors still answer from the manifest alone
    assert(tt.store.rowCountFromManifest == 50L)
    assert(tt.store.maxId.contains(50L))
    assert(tt.store.newestCutoff(100L).isEmpty) // under threshold: zero jobs
    // generated-id persist: base comes from manifest idMax; the new ids
    // (51+) overlap no existing file range, so nothing old is read
    tt.persist(Seq(EventRow(0, "gen1"), EventRow(0, "gen2")))
    assert(tt.store.maxId.exists(_ > 50L))
    assert(tt.store.rowCountFromManifest == 52L)
  }

  test("newestCutoff scans only files that can contain a top-n id") {
    val gs = new GraftSession(spark)
    val dir = tmp()
    val tt = gs.registerEntity[EventRow]("evt_cutoff", dir)
    // three appended files with disjoint id ranges
    tt.store.append(spark.createDataset((1L to 10L).map(i => EventRow(i, "a"))).toDF())
    tt.store.append(spark.createDataset((11L to 20L).map(i => EventRow(i, "b"))).toDF())
    tt.store.append(spark.createDataset((21L to 30L).map(i => EventRow(i, "c"))).toDF())
    // delete the data of the two LOW-RANGE files (footer max id <= 20):
    // a cutoff for n=5 only needs ids from the newest range, so file
    // pruning must keep newestCutoff working without them
    new java.io.File(s"$dir/files").listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .foreach { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), spark.sparkContext.hadoopConfiguration))
      val blocks = reader.getFooter.getBlocks
      reader.close()
      import scala.jdk.CollectionConverters._
      val maxId = blocks.asScala.flatMap(_.getColumns.asScala.find(_.getPath.toDotString == "id"))
        .map(_.getStatistics.genericGetMax.asInstanceOf[Number].longValue()).max
      if (maxId <= 20L) assert(f.delete()) // files for ranges 1-10, 11-20
    }
    assert(tt.store.newestCutoff(5L).contains(26L))
  }

  test("@Threshold retention truncates oldest rows on persist") {
    val gs = new GraftSession(spark)
    val tt = gs.registerEntity[LogLine]("log2", tmp())
    tt.persist((1L to 8L).map(i => LogLine(i, s"m$i")))
    val kept = tt.ds.collect().map(_.id).sorted
    assert(kept.toSeq == Seq(4L, 5L, 6L, 7L, 8L)) // newest 5 by id
  }
}
