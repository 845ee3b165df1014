package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{FileEntry, Snapshot, TableStore, TempDirs, VersionLog}

/** core/VersionLog, the one version-log format behind TableStore: the
  * manifest codec round-trips every field a version records, and the
  * store's lifecycle (append / upsert / delete / time travel / revert /
  * vacuum), exactly-once commits, column stats and schema evolution
  * work through it and survive reopening the table from disk. */
class LogFormatSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshRows(n: Int) =
    (0 until n).map(i => (i.toLong, s"r$i", i * 1.5)).toDF("id", "tag", "v")

  private def countSum(df: org.apache.spark.sql.DataFrame): (Long, Double) =
    df.agg(count(lit(1)), round(sum(col("v")), 2)).as[(Long, Double)].head()

  test("full lifecycle: time travel, revert and vacuum read the committed snapshots") {
    val st = new TableStore(spark, TempDirs.create("graft_lf_life_"), "id")
    st.append(freshRows(100))
    st.upsert(freshRows(10).withColumn("v", col("v") * 2))
    st.delete(col("id") >= 90)
    val Seq(v1, v2, v3) = st.versions.sorted.takeRight(3)
    assert(Seq(v1, v2, v3).map(v => countSum(st.readVersion(v))) ==
      Seq((100L, 7425.0), (100L, 7492.5), (90L, 6075.0)))
    st.revertTo(v2)
    assert(countSum(st.read) == ((100L, 7492.5)))
    st.vacuum(graceMs = 0L)
    assert(countSum(st.read) == ((100L, 7492.5)))
    assert(st.versions.size == 1, s"vacuum(0) kept ${st.versions}")
    intercept[IllegalArgumentException](st.readVersion(v1))
  }

  test("manifest encode/decode round-trips entries, rows, txn, column stats and schema") {
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("tags", ArrayType(StringType)), StructField("v", DoubleType)))
    val snap = Snapshot(
      Seq(FileEntry("a-part-0.parquet", Some(-3L), Some(9L), Some(5L)),
        FileEntry("b-part-1.parquet", None, None, Some(3L)),
        FileEntry("c-part-2.parquet", Some(10L), Some(10L), Some(1L))),
      txn = Map("sinkA" -> 7L, "sinkB" -> 0L),
      colStats = Map("a-part-0.parquet" -> Map("v" -> ((-1.5, 2.25)), "n" -> ((0.0, 4.0)))),
      schema = Some(schema))
    assert(VersionLog.decode(VersionLog.encode(snap)) == snap)
    assert(snap.rowCount.contains(9L))
    // stats of files no longer in the version are not written
    val stale = snap.copy(colStats = snap.colStats + ("gone.parquet" -> Map("v" -> ((0.0, 1.0)))))
    assert(VersionLog.decode(VersionLog.encode(stale)) == snap)
    assert(VersionLog.decode(VersionLog.encode(Snapshot.empty)) == Snapshot.empty)
    // legacy entries: no row count, no stats at all
    val legacy = VersionLog.decode("f1\t1\t2\nf2\n")
    assert(legacy.entries == Seq(FileEntry("f1", Some(1L), Some(2L), None),
      FileEntry("f2", None, None, None)))
    assert(legacy.rowCount.isEmpty && legacy.schema.isEmpty && legacy.txn.isEmpty)
    assert(VersionLog.fileName(12L) == "v12.manifest")
    assert(VersionLog.versionOf("v12.manifest").contains(12L))
    assert(VersionLog.versionOf("v12.claim").isEmpty && VersionLog.versionOf(".tmp-ab12").isEmpty)
  }

  test("reopen resumes versions and txn state") {
    val dir = TempDirs.create("graft_lf_reopen_")
    val st = new TableStore(spark, dir, "id")
    st.append(freshRows(20))
    assert(st.appendOnce("sink", 0L, freshRows(5).withColumn("id", col("id") + 100)))
    val reopened = new TableStore(spark, dir, "id")
    assert(reopened.versions == st.versions && reopened.versions.size == 2)
    assert(reopened.lastTxn("sink").contains(0L))
    // row count and max id come from manifest metadata, not a scan
    assert(reopened.rowCountFromManifest.contains(25L))
    assert(reopened.maxId.contains(104L))
    assert(!reopened.appendOnce("sink", 0L, freshRows(3)))
    reopened.append(freshRows(5).withColumn("id", col("id") + 1000))
    assert(reopened.versions.size == 3)
    assert(reopened.read.count() == 30L)
    assert(reopened.lastTxn("sink").contains(0L), "txn state lost by an unrelated commit")
    assert(new java.io.File(s"$dir/_versions").listFiles()
      .count(f => VersionLog.versionOf(f.getName).isDefined) == 3)
  }

  test("appendOnce and replaceOnce are exactly-once across replays and reopen") {
    val dir = TempDirs.create("graft_txn_")
    val st = new TableStore(spark, dir, "id")
    assert(st.appendOnce("sinkA", 0L, freshRows(10)))
    assert(st.appendOnce("sinkA", 1L, freshRows(5)))
    // replays of both applied versions are dropped
    assert(!st.appendOnce("sinkA", 0L, freshRows(10)))
    assert(!st.appendOnce("sinkA", 1L, freshRows(99)))
    assert(st.read.count() == 15L)
    // independent appId has its own sequence
    assert(st.appendOnce("sinkB", 0L, freshRows(3)))
    assert(st.read.count() == 18L)
    // txn state survives unrelated commits (cumulative re-encode)
    st.append(freshRows(2))
    assert(st.lastTxn("sinkA").contains(1L))
    assert(st.lastTxn("sinkB").contains(0L))
    // ...and survives reopening the table from disk
    val reopened = new TableStore(spark, dir, "id")
    assert(!reopened.appendOnce("sinkA", 1L, freshRows(4)))
    assert(reopened.appendOnce("sinkA", 2L, freshRows(4)))
    assert(reopened.read.count() == 24L)

    // replaceOnce: the first apply swaps the whole snapshot, a replay
    // no-ops, and two racing applies of one version commit exactly once
    // and leave no orphan file behind in files/
    val rdir = TempDirs.create("graft_ro_")
    val rs = new TableStore(spark, rdir, "id")
    rs.append(freshRows(10))
    assert(rs.replaceOnce("view", 0L, freshRows(3)))
    assert(rs.read.count() == 3L)
    assert(!rs.replaceOnce("view", 0L, freshRows(7)))
    assert(rs.read.count() == 3L && rs.lastTxn("view").contains(0L))
    val wins = new java.util.concurrent.atomic.AtomicInteger()
    val racers = Seq(4, 6).map(n => new Thread(() =>
      if (rs.replaceOnce("view", 1L, freshRows(n))) wins.incrementAndGet()))
    racers.foreach(_.start())
    racers.foreach(_.join())
    assert(wins.get == 1, s"${wins.get} racing replaceOnce calls applied")
    assert(Set(4L, 6L).contains(rs.read.count()) && rs.lastTxn("view").contains(1L))
    val referenced = new java.io.File(s"$rdir/_versions").listFiles()
      .filter(f => VersionLog.versionOf(f.getName).isDefined)
      .flatMap(f => VersionLog.decode(new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).entries.map(_.name)).toSet
    val orphans = new java.io.File(s"$rdir/files").list()
      .filter(_.endsWith(".parquet")).filterNot(referenced)
    assert(orphans.isEmpty, s"files no version references: ${orphans.mkString(",")}")
  }

  test("shallow clone's first version carries the source snapshot's schema and column stats") {
    val src = new TableStore(spark, TempDirs.create("graft_lf_clone_"), "id")
    src.append((0 until 50).map(i => (i.toLong, i * 1.0)).toDF("id", "v").coalesce(1))
    assert(src.appendOnce("sink", 3L,
      (50 until 100).map(i => (i.toLong, i * 1.0)).toDF("id", "v").coalesce(1)))
    val cl = src.cloneTo(TempDirs.create("graft_lf_clone_dst_") + "/t")
    assert(cl.versions.size == 1)
    assert(cl.read.schema == src.read.schema)
    // the clone prunes on the inherited stats like its source does
    assert(cl.readWhere("v", 10.0, 20.0).inputFiles.length == 1)
    assert(cl.readWhere("v", 10.0, 20.0).count() == 11L)
    // idempotence markers belong to the source table's writers
    assert(cl.lastTxn("sink").isEmpty && src.lastTxn("sink").contains(3L))
  }

  test("column stats: round-trip, prune readWhere, survive commits") {
    val st = new TableStore(spark, TempDirs.create("graft_cs_"), "id")
    // two files with disjoint v ranges
    st.append((0 until 50).map(i => (i.toLong, i * 1.0)).toDF("id", "v").coalesce(1))
    st.append((50 until 100).map(i => (i.toLong, i * 1.0)).toDF("id", "v").coalesce(1))
    val narrow = st.readWhere("v", 10.0, 20.0)
    assert(narrow.inputFiles.length == 1,
      s"expected 1 file read, got ${narrow.inputFiles.length}")
    assert(narrow.count() == 11L)
    // stats survive an unrelated commit (delete touching nothing new)
    st.append((100 until 110).map(i => (i.toLong, -1.0)).toDF("id", "v").coalesce(1))
    val narrow2 = st.readWhere("v", 60.0, 70.0)
    assert(narrow2.inputFiles.length == 1)
    assert(narrow2.count() == 11L)
    // a column with no stats (strings) reads everything, correctly
    val st2 = new TableStore(spark, TempDirs.create("graft_cs2_"), "id")
    st2.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    assert(st2.readWhere("id", 1.0, 1.0).count() == 1L)
  }

  test("upsertOnce merges on the key, dedups replays") {
    val st = new TableStore(spark, TempDirs.create("graft_uo_"), "id")
    assert(st.upsertOnce("view", 0L, Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")))
    assert(st.upsertOnce("view", 1L, Seq((2L, 25.0), (3L, 30.0)).toDF("id", "v")))
    // replay of batch 1 with different values must NOT apply
    assert(!st.upsertOnce("view", 1L, Seq((2L, -99.0)).toDF("id", "v")))
    val got = st.read.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 10.0, 2L -> 25.0, 3L -> 30.0))
    assert(st.lastTxn("view").contains(1L))
  }

  test("schema evolution: widen, omit, reject type change, upsert across it") {
    val st = new TableStore(spark, TempDirs.create("graft_evo_"), "id")
    st.append((0L until 4L).map(i => (i, s"r$i")).toDF("id", "tag"))
    // widened append: new nullable column, old files not rewritten
    st.append(Seq((10L, "w", 1.5), (11L, "x", 2.5)).toDF("id", "tag", "v"))
    val rows = st.read.orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L, 10L, 11L))
    assert(rows.take(4).forall(_.isNullAt(2)), "pre-evolution rows must read null v")
    assert(rows.last.getDouble(2) == 2.5)
    // omitted column fills null on write
    st.append(Seq((20L, 9.9)).toDF("id", "v"))
    val r20 = st.read.filter(col("id") === 20L).head
    assert(r20.isNullAt(1) && r20.getDouble(2) == 9.9)
    // type change rejected
    intercept[IllegalArgumentException] {
      st.append(Seq((30L, 7)).toDF("id", "v")) // v: int vs committed double
    }
    // upsert across the evolution boundary touches pre-evolution files
    st.upsert(Seq((1L, "updated", 4.0)).toDF("id", "tag", "v"))
    val r1 = st.read.filter(col("id") === 1L).head
    assert(r1.getString(1) == "updated" && r1.getDouble(2) == 4.0)
    assert(st.read.count() == 7L)
  }

  test("change feed: upsert pairs, unchanged-row cancellation, evolution nulls") {
    val st = new TableStore(spark, TempDirs.create("graft_cdf_spec_"), "id")
    st.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag"))
    val v1 = st.versions.max
    // upsert: change 2, leave 1 and 3 byte-identical in the rewrite
    st.upsert(Seq((2L, "B2"), (4L, "d")).toDF("id", "tag"))
    // widening append — the earlier steps must union with null v
    st.append(Seq((5L, "e", 9.0)).toDF("id", "tag", "v"))
    val v3 = st.versions.max
    val ch = st.changes(v1, v3)
      .select(col("_commit_version") - lit(v1), col("_change_type"),
        col("id"), col("tag"), col("v"))
      .as[(Long, String, Long, String, Option[Double])].collect().toSet
    assert(ch == Set(
      (1L, "insert", 2L, "B2", None), (1L, "insert", 4L, "d", None),
      (1L, "delete", 2L, "b", None),
      (2L, "insert", 5L, "e", Some(9.0))),
      s"unexpected change set: $ch")
    // an empty range yields an empty feed with the right columns
    assert(st.changes(v3, v3).count() == 0L)
  }
}
