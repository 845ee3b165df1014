package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.{TextHash, TextHashFunctions}

/** Distributed linear quality/domain classifier over hashed
  * bag-of-words features (the hashing trick) — the fastText-shaped
  * model-based filter of an LLM data pipeline (e.g. a "looks like
  * reference-quality text" screen), built so training is EXACTLY
  * reproducible:
  *
  *   - features: token → floorMod(fnv1a(token), dims) — no vocabulary
  *     to build, no driver-side dictionary, dims is the only knob;
  *   - training: BATCH perceptron over an RDD of (label, bucket array)
  *     rows, hashed once and persisted. Each epoch is ONE
  *     `treeAggregate` job: every task scores its documents under the
  *     current weights (shipped in the task closure) and folds a
  *     `dims + 2` long array — the per-bucket Σ label over the
  *     misclassified documents, the bias delta and the count of
  *     correctly classified documents — which the driver applies. An
  *     epoch builds no query plan, so nothing is analysed, staged or
  *     code-generated per epoch;
  *   - ALL-INTEGER arithmetic: scores, weights, and updates are
  *     Longs, so the fit is bit-identical under any partitioning,
  *     any evaluation order, and any cluster size — unlike float
  *     SGD, whose sums reorder. `referenceFit` is an independent
  *     single-machine implementation of the same spec; the gate
  *     requires weight-vector identity between the two paths.
  *
  * Per-example (online) perceptron is inherently sequential; the
  * batch variant trades per-epoch convergence speed for a fit that is
  * embarrassingly parallel and deterministic — the right trade at
  * corpus scale, where an epoch is one scan.
  */
object Classifier {

  final case class Model(dims: Int, weights: Array[Long], bias: Long,
                         epochsRun: Int) {
    def score(text: Column): Column =
      TextHashFunctions.bowScore(text, dims, weights, bias)
    def predict(text: Column): Column =
      when(score(text) >= 0L, 1).otherwise(-1)
  }

  /** Fit up to `epochs` batch-perceptron epochs on (textCol, labelCol)
    * with labelCol ∈ {+1, -1}, POCKETING the best epoch: full-batch
    * updates overshoot (epoch 1 starts all-misclassified, so the first
    * update is the entire class-centroid difference and later epochs
    * can oscillate around the boundary), so the returned model is the
    * weight vector of whichever epoch classified most training docs
    * correctly — the classic pocket algorithm, still all-integer and
    * still bit-identical to `referenceFit`. Ties keep the EARLIER
    * epoch (both paths scan epochs in order with a strict `>`).
    * Stops early when an epoch's net update is zero. Rows with a null
    * text or label are skipped.
    *
    * Jobs: one to persist the (label, buckets) rows, one per epoch,
    * and one to count the final weights' correct documents when the
    * fit did not converge — at most `epochs + 2`. The persisted rows
    * are coalesced toward ~32k per task, so an epoch schedules tasks
    * sized to the corpus, not to the scan's partitioning. */
  def fitBatch(df: DataFrame, textCol: String, labelCol: String,
               dims: Int = 256, epochs: Int = 5): Model = {
    require(dims > 0 && Integer.bitCount(dims) == 1,
      "Classifier.fitBatch: dims must be a positive power of two")
    import df.sparkSession.implicits._
    // text never rides into the pin: epochs only need the label and
    // the bucket array, bytes per document
    val pinned = df
      .filter(col(labelCol).isNotNull && col(textCol).isNotNull)
      .select(col(labelCol).cast("long").as("_1"),
        TextHashFunctions.bowBuckets(col(textCol), dims).as("_2"))
      .as[(Long, Array[Int])].rdd
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = pinned.count()
    val docs = pinned.coalesce(
      math.max(1L, math.min(pinned.getNumPartitions.toLong, n / 32768L + 1L)).toInt)
    val w = new Array[Long](dims)
    var bias = 0L
    var pocketW = w.clone(); var pocketBias = bias; var pocketCorrect = -1L
    var e = 0
    var converged = false
    while (e < epochs && !converged) {
      val sums = epochSums(docs, dims, w, bias)
      val correct = sums(dims + 1)
      if (correct > pocketCorrect) {
        pocketCorrect = correct; pocketW = w.clone(); pocketBias = bias
      }
      // converged = the NET update is zero (mirrors referenceFit: a
      // +1/-1 misclassified pair over identical tokens nets to zero)
      if (sums.iterator.take(dims + 1).forall(_ == 0L)) converged = true
      else {
        var i = 0
        while (i < dims) { w(i) += sums(i); i += 1 }
        bias += sums(dims)
        e += 1
      }
    }
    // the post-loop weights are one more candidate: the final update
    // was applied but never evaluated (a converged fit's were)
    if (!converged) {
      val bF = bias
      val finalCorrect = docs.filter { case (y, b) =>
        y * TextHash.bowScoreBuckets(b, w, bF) > 0L }.count()
      if (finalCorrect > pocketCorrect) { pocketW = w.clone(); pocketBias = bias }
    }
    pinned.unpersist(blocking = false)
    Model(dims, pocketW, pocketBias, e)
  }

  /** One epoch as one job: slots 0 until dims hold Σ label per bucket
    * over the documents misclassified under (w, bias), slot dims their
    * Σ label (the bias delta), slot dims + 1 the correct count. */
  private def epochSums(docs: RDD[(Long, Array[Int])], dims: Int,
                        w: Array[Long], bias: Long): Array[Long] =
    docs.treeAggregate(new Array[Long](dims + 2))(
      (acc, doc) => {
        val (y, b) = doc
        if (y * TextHash.bowScoreBuckets(b, w, bias) > 0L) acc(dims + 1) += 1L
        else {
          var i = 0
          while (i < b.length) { acc(b(i)) += y; i += 1 }
          acc(dims) += y
        }
        acc
      },
      (a, b) => {
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      })

  /** Independent driver-side reference implementation (same spec, no
    * Spark) for the gate's cross-path identity check: batch updates
    * accumulated over the epoch, applied once at epoch end, same
    * hash/bucket kernel (TextHash.bucket), same early stop. */
  def referenceFit(docs: Seq[(String, Long)], dims: Int,
                   epochs: Int = 5): Model = {
    val feats = docs.map { case (text, y) =>
      (TextHash.tokenize(
          org.apache.spark.unsafe.types.UTF8String.fromString(text))
        .filter(_.nonEmpty).map(TextHash.bucket(_, dims)), y)
    }
    val w = new Array[Long](dims)
    var bias = 0L
    var pocketW = w.clone(); var pocketBias = bias; var pocketCorrect = -1L
    def countCorrect(): Long =
      feats.count { case (buckets, y) =>
        var s = bias
        buckets.foreach(k => s += w(k))
        y * s > 0L
      }.toLong
    var e = 0
    var converged = false
    while (e < epochs && !converged) {
      val correct = countCorrect()
      if (correct > pocketCorrect) {
        pocketCorrect = correct; pocketW = w.clone(); pocketBias = bias
      }
      val delta = new Array[Long](dims)
      var biasDelta = 0L
      feats.foreach { case (buckets, y) =>
        var s = bias
        buckets.foreach(k => s += w(k))
        if (y * s <= 0L) {
          buckets.foreach(k => delta(k) += y)
          biasDelta += y
        }
      }
      if (delta.forall(_ == 0L) && biasDelta == 0L) converged = true
      else {
        var i = 0
        while (i < dims) { w(i) += delta(i); i += 1 }
        bias += biasDelta
        e += 1
      }
    }
    if (countCorrect() > pocketCorrect) { pocketW = w.clone(); pocketBias = bias }
    Model(dims, pocketW, pocketBias, e)
  }
}
