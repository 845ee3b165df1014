package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.TimeSeries

/** ops/TimeSeries: resample grid shape + forward-fill semantics,
  * sweep concurrency vs a brute-force point count, retention matrix
  * edges, funnel step counts, and the one-pass entropy kernel vs a
  * relational rebuild. */
class TimeSeriesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ev(rows: (Long, String, Double)*) =
    rows.toDF("k", "t", "v").select(col("k"), to_timestamp(col("t")).as("ts"),
      col("v"))

  test("resample fills gaps per key with the last observed value") {
    val df = ev(
      (1L, "2024-01-01 10:00:00", 5.0), (1L, "2024-01-01 11:00:00", 7.0),
      (1L, "2024-01-04 00:00:00", 3.0),
      (2L, "2024-02-01 00:00:00", 1.0))
    val r = TimeSeries.resample(df, "k", "ts", "v")
      .select(col("k"), col("bucket").cast("string"), col("v_fill"),
        col("is_obs"))
      .as[(Long, String, Double, Long)].collect().sortBy(x => (x._1, x._2))
    assert(r.toList == List(
      (1L, "2024-01-01 00:00:00", 7.0, 1L), // daily max of 5 and 7
      (1L, "2024-01-02 00:00:00", 7.0, 0L), // gap: carried
      (1L, "2024-01-03 00:00:00", 7.0, 0L),
      (1L, "2024-01-04 00:00:00", 3.0, 1L),
      (2L, "2024-02-01 00:00:00", 1.0, 1L)), // keys span their OWN range
      s"got ${r.toList}")
  }

  test("resample guard trips on a pathological span") {
    val df = ev((1L, "2000-01-01 00:00:00", 1.0), (1L, "2024-01-01 00:00:00", 2.0))
    val ex = intercept[Exception] {
      TimeSeries.resample(df, "k", "ts", "v", maxBucketsPerKey = 100L).collect()
    }
    assert(ex.getMessage != null)
  }

  test("sweep concurrency equals brute-force open-interval counts") {
    // random-ish intervals; truth: for each boundary, count intervals
    // with st <= p < en (end exclusive), delta -1 applied before +1
    val iv = Seq(
      ("2024-01-01 00:00:00", "2024-01-01 02:00:00"),
      ("2024-01-01 01:00:00", "2024-01-01 03:00:00"),
      ("2024-01-01 02:00:00", "2024-01-01 04:00:00"), // starts exactly at an end
      ("2024-01-01 01:30:00", "2024-01-01 01:45:00"),
      ("2024-01-01 01:30:00", "2024-01-01 01:45:00")) // duplicate interval
      .toDF("s", "e")
      .select(to_timestamp(col("s")).as("st"), to_timestamp(col("e")).as("en"))
    val got = TimeSeries.intervalConcurrency(iv, "st", "en", buckets = 3)
      .select(col("ts").cast("string"), col("delta"), col("n"),
        col("concurrency"))
      .as[(String, Long, Long, Long)].collect().sortBy(x => (x._1, x._2)).toList
    val ivs = Seq(
      ("2024-01-01 00:00:00", "2024-01-01 02:00:00"),
      ("2024-01-01 01:00:00", "2024-01-01 03:00:00"),
      ("2024-01-01 02:00:00", "2024-01-01 04:00:00"),
      ("2024-01-01 01:30:00", "2024-01-01 01:45:00"),
      ("2024-01-01 01:30:00", "2024-01-01 01:45:00"))
    // brute force: running value after all boundaries ordered by
    // (ts, delta) up to and including this row — closings at p apply
    // before openings at p (end-exclusive intervals)
    val expected = got.map { case (p, delta, _, _) =>
      val opens = if (delta == 1L) ivs.count(_._1 <= p) else ivs.count(_._1 < p)
      (opens - ivs.count(_._2 <= p)).toLong
    }
    assert(got.map(_._4) == expected, s"got $got expected $expected")
    // max concurrency: 00:00-02:00, 01:00-03:00, 2x 01:30-01:45 open at 01:30
    assert(got.map(_._4).max == 4L)
  }

  test("sweep is deterministic across bucket counts") {
    val events = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "events")
    val iv = graft.ops.Sessions.sessionAgg(events, "user_id", "ts", "4 hours",
        Seq(count(lit(1)).as("n")))
      .select(col("session_window.start").as("st"),
        col("session_window.end").as("en"))
    val a = TimeSeries.intervalConcurrency(iv, "st", "en", buckets = 1)
    val b = TimeSeries.intervalConcurrency(iv, "st", "en", buckets = 16)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "bucketed prefix sums disagree with single-bucket truth")
  }

  test("decayed score: exact halving per day, horizon cut, fp exactness") {
    val df = ev(
      (1L, "2024-01-01 10:00:00", 8.0),
      (1L, "2024-01-02 10:00:00", 4.0),
      (1L, "2024-01-20 10:00:00", 2.0)) // outside day-2's 14-day horizon
    val r = TimeSeries.decayedScore(df, "k", "ts", "v",
        horizonDays = 14, valueScale = 100L)
      .select(col("k"), col("day").cast("string"), col("score"))
      .as[(Long, String, Double)].collect().sortBy(_._2).toList
    assert(r == List(
      (1L, "2024-01-01", 8.0),        // just itself
      (1L, "2024-01-02", 4.0 + 8.0 / 2), // yesterday halves
      (1L, "2024-01-20", 2.0)),       // 18 days later: both aged out
      s"got $r")
  }

  test("retention cohorts: every user lands in exactly one cohort, offsets >= 0") {
    val df = ev(
      (1L, "2024-01-01 10:00:00", 0.0), (1L, "2024-01-03 10:00:00", 0.0),
      (2L, "2024-01-02 10:00:00", 0.0), (2L, "2024-01-02 23:00:00", 0.0))
    val r = TimeSeries.cohortRetention(df, "k", "ts")
      .select(col("cohort").cast("string"), col("day_offset"), col("n_users"))
      .as[(String, Long, Long)].collect().sortBy(x => (x._1, x._2)).toList
    assert(r == List(
      ("2024-01-01 00:00:00", 0L, 1L), ("2024-01-01 00:00:00", 2L, 1L),
      ("2024-01-02 00:00:00", 0L, 1L)), s"got $r")
  }

  test("funnel counts entities step by step and releases every frontier it pins") {
    val events = Seq(
      (1L, 1L, "signup"), (1L, 2L, "view"), (1L, 3L, "buy"),
      (2L, 1L, "signup"), (2L, 5L, "view"),
      (3L, 2L, "signup"), (3L, 2L, "view"), (3L, 4L, "view"), (3L, 6L, "buy"),
      (4L, 9L, "view")).toDF("user", "ts", "type")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val r = TimeSeries.funnel(events, "user", "ts", "type", Seq("signup", "view", "buy"))
      .as[(Int, String, Long, Long)].collect().toList
    // user 3's view at ts 2 does not follow its signup at ts 2; user 4 never signed up
    assert(r == List((1, "signup", 3L, 1000000L), (2, "view", 3L, 1000000L),
      (3, "buy", 2L, 666666L)), s"got $r")
    assert(sc.getPersistentRDDs.keySet.diff(before).isEmpty, "funnel left a frontier pinned")
  }

  test("entropy kernel agrees with a relational rebuild of the distribution") {
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val kernel = docs.select(col("doc_id"),
        graft.functions.TextStatsFunctions.tokenEntropy(col("text")).as("e"))
      .select(col("doc_id"), col("e.n_tokens").as("n_tokens"),
        col("e.n_distinct").as("n_distinct"),
        round(col("e.entropy"), 6).as("entropy"))
    val toks = docs.select(col("doc_id"),
        explode(split(btrim(lower(col("text"))), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    val rel = toks.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        round(log(sum(col("c"))) -
          sum(col("c") * log(col("c"))) / sum(col("c")), 6).as("entropy"))
    assert(kernel.exceptAll(rel).isEmpty && rel.exceptAll(kernel).isEmpty,
      "one-pass kernel diverges from relational entropy")
  }

  test("entropy kernel edge cases") {
    val df = Seq((1L, ""), (2L, "   "), (3L, "a"), (4L, "a a a"),
      (5L, "a b c d")).toDF("id", "text")
    val r = df.select(col("id"),
        graft.functions.TextStatsFunctions.tokenEntropy(col("text")).as("e"))
      .select(col("id"), col("e.n_tokens"), col("e.n_distinct"),
        round(col("e.entropy"), 6))
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toList
    assert(r(0) == ((1L, 0L, 0L, 0.0)) && r(1) == ((2L, 0L, 0L, 0.0)))
    assert(r(2) == ((3L, 1L, 1L, 0.0))) // single token: zero entropy
    assert(r(3) == ((4L, 3L, 1L, 0.0))) // uniform single symbol
    assert(r(4)._4 == BigDecimal(math.log(4.0)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) // 4 distinct: ln 4
  }
}
