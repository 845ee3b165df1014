package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Jobs
import graft.core.Checkpoints.{Pins, persistedDuring}

/** Regular-grid time-series operators over event tables: per-key
  * resampling with forward fill, and interval-concurrency sweeps.
  * Both are building blocks the reference's users assemble from its
  * window/aggregate surface (reference: sql/SQLGroupContainer.java
  * window machinery); here they are first-class, shaped for Spark's
  * distribution model — per-key work distributes on the key hash, the
  * one global scan (the sweep prefix) uses the same range-bucket +
  * carry technique as [[graft.plan.CountWindow]] instead of a
  * single-task global window.
  */
object TimeSeries {

  /** Per-key resampling onto a regular time grid with forward fill —
    * the gap-fill shape every metrics/feature pipeline needs (a 100 TB
    * event lake is never gap-free; training features want one row per
    * (key, bucket)).
    *
    * Semantics:
    *   - bucket = `date_trunc(truncUnit, ts)`;
    *   - observed value per (key, bucket) = `max(valueCol)` (an
    *     order-independent aggregate, so results are bit-stable under
    *     any partitioning — an avg would be summation-order noise);
    *   - the grid spans each key's OWN [min bucket, max bucket] range
    *     (no global densification: a key active for a week costs 7
    *     rows, not the corpus's full span);
    *   - `v_fill` = last observed value at or before the bucket;
    *     `is_obs` = 1 on buckets that had real events.
    *
    * Distribution: one hash shuffle on the key for the per-bucket
    * aggregate, a map-side `sequence()` explode off the per-key span
    * row (never a driver loop), one (key, bucket) join, and a per-key
    * window for the fill. Nothing global, no skew beyond the key
    * histogram itself.
    *
    * `maxBucketsPerKey` guards the explode: a key whose span/step
    * exceeds it (a 10-year-old zombie key resampled to seconds would
    * emit 300 M rows) fails fast with a clear message instead of
    * OOM-ing an executor.
    */
  def resample(df: DataFrame, keyCol: String, tsCol: String, valueCol: String,
               truncUnit: String = "DAY", step: String = "interval 1 day",
               maxBucketsPerKey: Long = 1000000L): DataFrame = {
    val obs = df
      .select(col(keyCol), date_trunc(truncUnit, col(tsCol)).as("bucket"),
        col(valueCol).as("v"))
      .groupBy(col(keyCol), col("bucket"))
      .agg(max(col("v")).as("v_obs"))
    val grid = obs.groupBy(col(keyCol))
      .agg(min(col("bucket")).as("b0"), max(col("bucket")).as("b1"))
      .select(col(keyCol), sequence(col("b0"), col("b1"), expr(step)).as("seq"))
      .select(col(keyCol),
        when(size(col("seq")) > maxBucketsPerKey,
          raise_error(concat(lit(s"resample: key "), col(keyCol).cast("string"),
            lit(s" expands to more than $maxBucketsPerKey grid buckets"))))
          .otherwise(col("seq")).as("seq"))
      .select(col(keyCol), explode(col("seq")).as("bucket"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq(keyCol, "bucket"), "left")
      .select(col(keyCol), col("bucket"),
        last(col("v_obs"), ignoreNulls = true).over(w).as("v_fill"),
        when(col("v_obs").isNull, 0L).otherwise(1L).as("is_obs"))
  }

  /** Interval-concurrency sweep: given intervals [start, end) (end
    * EXCLUSIVE — an interval ending at t does not overlap one starting
    * at t), emit the running count of open intervals at every boundary
    * point. `concurrency` on a `delta = +1` row is the count INCLUDING
    * the intervals opening at that instant; closings at the same
    * instant are applied first (delta −1 sorts before +1).
    *
    * The prefix sum is the textbook single-ordered-scan — the shape
    * that naively funnels every boundary through ONE task. Here it is
    * distributed exactly like [[graft.plan.CountWindow]]'s global
    * window: boundaries are range-bucketed on time (cut points from an
    * approx-quantile pass), each bucket computes its local running sum
    * in parallel, and per-bucket totals (`buckets` rows — metadata
    * scale) become broadcast prefix offsets. Boundary rows are grouped
    * by (ts, delta) first, so row identity — and therefore the per-row
    * running value — is deterministic under any physical row order.
    */
  def intervalConcurrency(intervals: DataFrame, startCol: String, endCol: String,
                          buckets: Int = 64): DataFrame = {
    // Boundary rows are consumed THREE times (the quantile scan, the
    // per-bucket totals collect, and the windowed output), and the
    // caller's `intervals` is often itself an aggregate (q_concurrency
    // feeds a session-window agg). Materialize them once: the grouped
    // boundary set is ≤ 2× the interval count and 3 longs wide —
    // strictly smaller than the window pass shuffles anyway — while an
    // unpinned frame re-runs the full upstream once per consumer.
    val deltas = intervals.select(col(startCol).as("ts"), lit(1L).as("delta"))
      .unionAll(intervals.select(col(endCol).as("ts"), lit(-1L).as("delta")))
      .groupBy(col("ts"), col("delta")).agg(count(lit(1)).as("n"))
      .pin
    // range-bucket cut points over the boundary timestamps (one
    // column-pruned approx-quantile scan; ties/duplicates collapse)
    val tsd = deltas.select(col("ts").cast("double").as("tsd"))
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val cuts =
      if (probs.isEmpty) Array.empty[Double]
      else tsd.stat.approxQuantile("tsd", probs, 0.001).distinct.sorted
    val bucketOf: Column = cuts.foldLeft(lit(0L)) { (acc, c) =>
      acc + when(col("ts").cast("double") > c, 1L).otherwise(0L)
    }
    val bucketed = deltas.withColumn("bkt", bucketOf)
    // per-bucket totals -> exclusive prefix offsets (metadata scale)
    val totals = bucketed.groupBy(col("bkt"))
      .agg(sum(col("delta") * col("n")).as("tot"))
      .orderBy(col("bkt")).collect()
    var running = 0L
    val offsets = totals.map { r =>
      val o = (r.getLong(0), running); running += r.getLong(1); o
    }.toMap
    val offsetCol = offsets.foldLeft(lit(0L)) { case (acc, (b, off)) =>
      when(col("bkt") === b, off).otherwise(acc)
    }
    val w = Window.partitionBy(col("bkt")).orderBy(col("ts"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed
      .withColumn("concurrency", sum(col("delta") * col("n")).over(w) + offsetCol)
      .select(col("ts"), col("delta"), col("n"), col("concurrency"))
  }

  /** Exponentially time-decayed rolling score: for each key and
    * observed day, Σ over the trailing `horizonDays` of
    * (per-day max value) × 0.5^(age / halfLifeDays) — the standard
    * recency-weighted engagement / freshness feature.
    *
    * Shape: per-day aggregate first (one keyed shuffle; max() keeps
    * doubles order-stable), then each day-row EXPLODES its bounded
    * decay contribution onto the next `horizonDays` days map-side
    * (exactly `horizonDays` rows per day-row — a constant), and a
    * (key, day) aggregate folds contributions into scores. Linear in
    * the day-row count at any corpus size — the tempting keyed range
    * SELF-JOIN is per-key quadratic in active days and dies on
    * years-long keys; an unbounded decay (all history) would need the
    * α^t running-recurrence trick, which blows up numerically past
    * ~1000 steps. The bounded horizon is the 100 TB-sane default.
    *
    * Arithmetic is FIXED-POINT INTEGER, the repo's standard for
    * iterationless exactness (see [[Graphs.pageRank]], Mixing): the
    * 1-day half-life makes weight(age) = 2^(horizon−1−age), an exact
    * integer, and values quantize once via round(v × valueScale) — so
    * `score_fp = Σ v_fp · 2^(horizon−1−age)` is a BIGINT sum,
    * order-invariant across partitionings and engines (a float decay
    * sum flips its last rounded digit with summation order — measured
    * 26/4006 rows at 4 decimals). `score` = score_fp / (valueScale ·
    * 2^(horizon−1)): ONE IEEE division, bit-deterministic. */
  def decayedScore(df: DataFrame, keyCol: String, tsCol: String,
                   valueCol: String, horizonDays: Int = 14,
                   valueScale: Long = 100L): DataFrame = {
    require(horizonDays >= 1 && horizonDays <= 62 && valueScale >= 1)
    val obs = df
      .select(col(keyCol), to_date(col(tsCol)).as("day"),
        col(valueCol).as("v"))
      .groupBy(col(keyCol), col("day"))
      .agg(round(max(col("v")) * valueScale).cast("long").as("v_fp"))
    val contrib = obs
      .select(col(keyCol), col("day").as("obs_day"), col("v_fp"),
        explode(sequence(lit(0), lit(horizonDays - 1))).as("age"))
      .select(col(keyCol), date_add(col("obs_day"), col("age")).as("day"),
        (col("v_fp") *
          expr(s"shiftleft(CAST(1 AS BIGINT), ${horizonDays - 1} - age)"))
          .as("w_fp"))
    // scores only on days the key was actually observed (the grid
    // variant is resample's job); the semi-join distributes on the
    // same (key, day) hash as the aggregate
    val denom = (valueScale * (1L << (horizonDays - 1))).toDouble
    contrib.join(obs.select(col(keyCol), col("day")), Seq(keyCol, "day"),
        "left_semi")
      .groupBy(col(keyCol), col("day"))
      .agg(sum(col("w_fp")).as("score_fp"))
      .withColumn("score", col("score_fp").cast("double") / denom)
  }

  /** Cohort retention: each key's cohort is the bucket of its FIRST
    * event; the matrix counts distinct keys active at each
    * (cohort, bucket-offset). Two keyed shuffles (first-seen agg, then
    * the distinct-count agg) — the join is on the key, so no row ever
    * leaves its key's partition line. The standard DAU/WAU engagement
    * decay analysis at lake scale. */
  /** Ordered funnel analysis — "of the users who did step 1, how many
    * went on to step 2 STRICTLY AFTER it, then step 3 after that…":
    * per entity, t₁ = its earliest step-1 event, tₖ = its earliest
    * step-k event with ts > tₖ₋₁ (the standard first-touch funnel;
    * ties at the exact same timestamp do NOT advance — simultaneous
    * events can't prove ordering). Returns one row per step with the
    * entities still in the funnel and the conversion from the
    * previous step in ppm (floor — integer-exact).
    *
    * Scale shape: one aggregate per step over only that step's
    * events (map-side-combined min), each joined to the previous
    * step's per-entity frontier on the entity key — #steps keyed
    * joins whose LEFT side shrinks monotonically, never a
    * corpus-sized window or cross-step shuffle. */
  def funnel(df: DataFrame, keyCol: String, tsCol: String,
             typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel: at least one step")
    val spark = df.sparkSession
    import spark.implicits._
    // Each frontier is pinned lazily and materialized by its step's
    // count, so step i costs one scan of its events joined to the
    // previous frontier instead of re-running every earlier step. The
    // counts overlap: step i+1's frontier needs step i's frame, not its
    // count, so it is built while that count runs. Every frontier is
    // released once the counts are back.
    val releases = Seq.newBuilder[() => Unit]
    def pinned(frontier: DataFrame): DataFrame =
      persistedDuring(spark.sparkContext)(frontier.pinLazily) match { case (p, release) => releases += release; p }
    val first = pinned(df.filter(col(typeCol) === steps.head)
      .groupBy(col(keyCol)).agg(min(col(tsCol)).as("__t")))
    val frontiers = steps.tail.iterator.scanLeft(first) { (prev, step) =>
      pinned(df.filter(col(typeCol) === step)
        .select(col(keyCol), col(tsCol).as("__ts"))
        .join(prev, Seq(keyCol))
        .filter(col("__ts") > col("__t"))
        .groupBy(col(keyCol)).agg(min(col("__ts")).as("__t")))
    }
    val counts = try Jobs.overlap(math.min(steps.size, 4))(frontiers.zip(steps).zipWithIndex.map {
      case ((frontier, step), i) => () => {
        spark.sparkContext.setJobDescription(s"funnel: count step ${i + 1} ($step)")
        frontier.count()
      }
    }) finally releases.result().foreach(_())
    steps.indices.map { i =>
      val conv = if (i == 0) 1000000L else if (counts(i - 1) == 0) 0L
        else 1000000L * counts(i) / counts(i - 1)
      (i + 1, steps(i), counts(i), conv)
    }.toDF("step_idx", "step", "n_entities", "conv_ppm")
  }

  def cohortRetention(df: DataFrame, keyCol: String, tsCol: String,
                      truncUnit: String = "DAY"): DataFrame = {
    val day = date_trunc(truncUnit, col(tsCol))
    val firsts = df.groupBy(col(keyCol)).agg(min(day).as("cohort"))
    df.select(col(keyCol), day.as("bucket"))
      .join(firsts, Seq(keyCol))
      .groupBy(col("cohort"),
        datediff(col("bucket"), col("cohort")).cast("long").as("day_offset"))
      .agg(countDistinct(col(keyCol)).as("n_users"))
  }
}
