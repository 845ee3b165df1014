package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import graft.core.Checkpoints.Pins

/** Pareto-frontier (skyline) extraction — multi-criteria curation's
  * "keep what nothing else beats on every axis": freshest AND
  * highest-quality, longest AND cleanest, etc. A point dominates
  * another when it is ≥ in both dimensions and > in at least one;
  * the skyline is the un-dominated set.
  *
  * Scale shape: the naive formulation is an O(n²) self-theta-join. In
  * 2D it collapses to one global sort + a linear sweep: walk points in
  * descending-x order keeping those whose y strictly exceeds the
  * running maximum. Distributed, that is ONE range shuffle (the same
  * exchange any global sort pays) + a per-partition sweep whose
  * cross-partition carry is just each earlier partition's max-y — P
  * numbers through the driver, data never re-shuffles. The sweep is
  * the only row-at-a-time step, so it rides `mapPartitionsWithIndex`
  * at the boundary like the codec/CEP kernels.
  */
object Frontier {

  /** 2D skyline with BOTH dimensions maximized (negate a column to
    * minimize it). Exact duplicates collapse first — a point equal to
    * a retained one is not strictly dominated, but re-emitting it adds
    * nothing to the frontier. Output: distinct (xCol, yCol) doubles,
    * descending x. */
  def skyline2d(df: DataFrame, xCol: String, yCol: String,
                partitions: Int = 32): DataFrame = {
    val spark = df.sparkSession
    val pts = df
      .select(col(xCol).cast("double").as("x"), col(yCol).cast("double").as("y"))
      .na.drop().dropDuplicates("x", "y")
      .repartitionByRange(partitions, desc("x"), desc("y"))
      .sortWithinPartitions(desc("x"), desc("y"))
      .pin // both passes reread materialized blocks
    // Per-partition max-y, cumulated into each partition's incoming
    // threshold: partition i only sees points with larger x, so its
    // sweep starts from the best y any of them reached. P doubles of
    // driver traffic — metadata-scale.
    val pmax = pts.groupBy(spark_partition_id().as("p"))
      .agg(max(col("y")).as("m"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val nPart = pts.rdd.getNumPartitions
    val incoming = new Array[Double](nPart)
    var run = Double.NegativeInfinity
    for (i <- 0 until nPart) {
      incoming(i) = run
      run = math.max(run, pmax.getOrElse(i, Double.NegativeInfinity))
    }
    val swept = pts.rdd.mapPartitionsWithIndex { (i, iter) =>
      var best = incoming(i)
      iter.filter { r =>
        val y = r.getDouble(1)
        if (y > best) { best = y; true } else false
      }
    }
    spark.createDataFrame(swept, StructType(Seq(
        StructField("x", DoubleType, nullable = false),
        StructField("y", DoubleType, nullable = false))))
      .select(col("x").as(xCol), col("y").as(yCol))
  }

  /** Membership predicate for testing: true iff no row in `df`
    * strictly dominates (px, py). Quadratic — spec-only. */
  def dominated(df: DataFrame, xCol: String, yCol: String,
                px: Double, py: Double): Boolean =
    !df.filter(col(xCol).cast("double") >= px &&
        col(yCol).cast("double") >= py &&
        (col(xCol).cast("double") > px || col(yCol).cast("double") > py))
      .isEmpty
}
