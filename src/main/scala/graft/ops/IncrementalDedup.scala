package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.TableStore
import graft.core.Checkpoints.Pins

/** Incremental near-dup dedup against a persistent corpus index — the
  * "dedup today's crawl against everything kept so far" shape a
  * training-data pipeline runs per ingest batch, without ever
  * re-scanning the kept corpus.
  *
  * The index is two TableStore tables (atomic commits, snapshot reads):
  *  - `buckets`: one (band, bucket, id) row per LSH band of each KEPT
  *    document — 20 bytes/row, the only thing batch candidates join
  *    against;
  *  - `sigs`: one (id, sig) row per kept document (64 longs) — fetched
  *    only for documents that actually collide with the batch.
  *
  * Per batch: within-batch near-dups drop by the same greedy min-id
  * rule as [[Dedup.minhashDedup]]; survivors of that stage are checked
  * against the index (band-bucket equi-join → signature verify) and
  * drop on any hit; the remainder is appended to the index and
  * returned. Cost per batch is O(batch × bands) + the collided-bucket
  * joins — independent of corpus size except through bucket occupancy,
  * which `maxBucket` caps.
  *
  * Semantics vs one-shot batch dedup: WITHIN a batch the rule is the
  * same greedy min-id-wins as [[Dedup.minhashDedup]] (a doc can drop
  * for a near-dup that was itself dropped — similarity chains are not
  * transitively re-checked); ACROSS batches a doc drops only for a
  * near-dup that was KEPT (the index holds survivors). Consequences,
  * both spec-locked: every dropped doc has at least one near-dup pair
  * in the corpus, and — when batches arrive in nondecreasing id order
  * (the natural ingest order) — incremental survivors are a SUPERSET
  * of the one-shot greedy survivors, because every incremental drop
  * (smaller within-batch id, or smaller-id kept index entry) is also
  * a one-shot drop. Out-of-order ingest weakens the superset claim:
  * an earlier-kept LARGER id can drop a later smaller one.
  *
  * The reference has no corpus-dedup surface; this composes the
  * repo's MinHash kernels with the version-manifest store (Scaladoc
  * provenance: reference has only per-table unique-id existence
  * checks, persistent/Table.java:1788-1878).
  */
final class IncrementalDedup private (
    val buckets: TableStore, val sigs: TableStore,
    threshold: Double, k: Int, numHashes: Int, bands: Int, maxBucket: Int) {
  require(numHashes % bands == 0, "bands must divide numHashes")
  private val rows = numHashes / bands

  private def signed(batch: DataFrame, idCol: String, textCol: String): DataFrame =
    batch.select(col(idCol).as("id"),
      Dedup.minhashSignature(col(textCol), k, numHashes).as("sig"))

  private def banded(sig: DataFrame): DataFrame =
    sig.select(col("id"), posexplode(Dedup.bandHashes(col("sig"), bands, rows)))
      .select(col("pos").as("band"), col("col").as("bucket"), col("id"))

  /** Sub-bucket key for saturated-bucket splitting
    * ([[Dedup.resolveSaturated]]): the value of the NEXT band —
    * (band+1) mod bands — of the row's own signature. Both sides of a
    * collision compute it from their own content, so a probe whose
    * near-dup agrees on the secondary band lands in its twin's
    * sub-bucket deterministically; mutually-FAR members of an
    * adversarial bucket spread uniformly (independent signatures). */
  private def subKeyExpr(bandCol: Column, sigCol: Column): Column =
    element_at(Dedup.bandHashes(sigCol, bands, rows),
      (((bandCol + lit(1)) % lit(bands)) + lit(1)).cast("int"))

  /** Decorates INDEX rows (band, bucket, id) with `__sub` — fetches
    * the signature from the sigs table; only ever evaluated on
    * saturated-bucket rows (dangling bucket rows whose sigs never
    * landed drop out here, as they do in the verify join). */
  private def idxWithSub: DataFrame => DataFrame = r =>
    r.join(sigs.read.select(col("id"), col("sig").as("__s")), Seq("id"))
      .withColumn("__sub", subKeyExpr(col("band"), col("__s")))
      .drop("__s")

  /** [[banded]] with the `__sub` secondary-band key on every row —
    * the PROBE side of the split join (computed from the cached
    * signature frame: one kernel call, no extra scan of the docs). */
  private def bandedWithSub(sig: DataFrame): DataFrame =
    sig.select(col("id"), Dedup.bandHashes(col("sig"), bands, rows).as("__bh"))
      .select(col("id"), col("__bh"), posexplode(col("__bh")))
      .select(col("pos").as("band"), col("col").as("bucket"), col("id"),
        element_at(col("__bh"),
          (((col("pos") + lit(1)) % lit(bands)) + lit(1)).cast("int")).as("__sub"))

  /** Dedup one ingest batch against the index (and itself); append the
    * survivors' bands+signatures to the index; return the surviving
    * rows of `batch` with all original columns. The dedup DECISION is
    * materialized exactly once — the dropped-id set is pinned (bare
    * ids: KBs at any batch size) — and the returned survivors are the
    * caller's `batch` anti-joined against that pin: lazy, but with NO
    * index-snapshot read and NO signature computation in the lineage
    * (the hazards that would make a lazy result unsafe — a recompute
    * against an index that has since moved), so a caller action pays
    * one scan of its own batch, and the pin stays ids-sized where
    * pinning the survivors would grow with the document text.
    * Signatures are computed exactly once per batch (one cached (id,
    * sig) pass feeds the within-batch pairing, the index verify, and
    * the index append).
    *
    * IDEMPOTENT under at-least-once re-delivery (the foreachBatch
    * retry contract): survivors never vanish on replay — a kept doc
    * matches only OTHER kept docs, never its own first-attempt index
    * entry (self-matches are excluded in the collision join; a doc is
    * a duplicate of a DIFFERENT kept doc, not of its own identity).
    * Pass `txn = Some((appId, batchId))` — foreachBatch hands you the
    * batchId — to ALSO make the index appends exactly-once through the
    * store's atomic txn markers (O(1) metadata, no data scan): a
    * replayed batch then leaves the index byte-identical. Without a
    * token, a replayed batch re-appends its survivors' rows
    * PERMANENTLY (compact() rewrites files, it does not deduplicate
    * rows) and the duplicates inflate bucket-occupancy counts toward
    * the `maxBucket` saturation threshold — any source that can replay
    * should pass the token. Saturated buckets are resolved, not
    * skipped (sub-bucket SPLIT plus exemplar sampling —
    * [[Dedup.resolveSaturated]]): a copy of a saturated family
    * verifies against an exemplar (or its own sub-bucket) and drops,
    * and a replayed batch still meets its kept copies and re-drops.
    * The bounded-work residual (a saturated bucket's recall is
    * split/exemplar-bounded) stays observable: every batch bumps the
    * engine counters `minhashIndexSaturatedBuckets` /
    * `minhashIndexCappedRows` / `minhashIndexSplitBuckets`
    * (core.Metrics → JMX) — nonzero saturation means raise
    * `maxBucket` or tighten the upstream exact pass. */
  def dedupBatch(batch: DataFrame, idCol: String, textCol: String,
                 txn: Option[(String, Long)] = None): DataFrame = {
    val sig = signed(batch, idCol, textCol).cache()
    try dedupBatchSigned(batch, idCol, sig, txn)
    finally { sig.unpersist(); () }
  }

  /** [[dedupBatch]] over a PRECOMPUTED (id, sig) frame covering exactly
    * the batch's ids — the seam that lets a caller who already holds
    * cached signatures (e.g. the gate's one-shot superset check over
    * the same corpus) avoid a second signature pass. The caller owns
    * `sig`'s persistence: cache it — the plan consumes it in the
    * within-batch pairing, the index verify, and the index append. */
  def dedupBatchSigned(batch: DataFrame, idCol: String, sig: DataFrame,
                       txn: Option[(String, Long)] = None): DataFrame = {
    {
      val batchBands = banded(sig)

      // stage 1 — within-batch greedy min-id drop (same rule as
      // Dedup.minhashDedup, but reusing this batch's cached signatures
      // instead of recomputing them): capped band buckets → candidate
      // pairs → signature-agreement estimate → id2 of any passing pair
      // drops
      val cappedBands = Dedup.capBuckets(batchBands, Seq("band", "bucket"), maxBucket)
      val withinDropped = cappedBands.select(col("band"), col("bucket"), col("id").as("id1"))
        .join(cappedBands.select(col("band"), col("bucket"), col("id").as("id2")),
          Seq("band", "bucket"))
        .filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2")).distinct()
        .join(sig.select(col("id").as("id1"), col("sig").as("sig1")), Seq("id1"))
        .join(sig.select(col("id").as("id2"), col("sig").as("sig2")), Seq("id2"))
        .filter(Dedup.estJaccard(col("sig1"), col("sig2"), numHashes) >= threshold)
        .select(col("id2").as("id")).distinct()

      // stage 2 — collisions vs the KEPT corpus: equi-join on the
      // 20-byte bucket rows (saturated buckets resolve to bounded
      // split/exemplar sets — Dedup.resolveSaturated), then verify
      // only collided pairs by signature agreement. One snapshot
      // resolution serves both the emptiness probe and the join.
      // Self-matches (kept_id == id) never drop: a doc is a duplicate
      // of a DIFFERENT kept doc, not of its own identity — this is
      // what makes a replayed foreachBatch micro-batch idempotent
      // instead of colliding with its own first-attempt index entries
      // and silently vanishing (see the replay spec).
      // emptiness from manifest row counts (O(1)), not an isEmpty JOB —
      // this operator is a long sequential chain of small actions, and
      // every removed action is wall time at any scale. ONE manifest
      // resolution serves BOTH the row count and the collision-join
      // snapshot — two resolutions could straddle a concurrent commit
      // and judge a newer, larger snapshot by a stale count
      val snap = buckets.committedSnapshot
      val keptRows = snap.fold(0L)(_._2)
      // set by the saturated branch; invoked after the drop-set pin
      // materializes (resolveSaturated caches the saturated slice)
      var resolveCleanup: () => Unit = () => ()
      val indexDropped: DataFrame =
        snap.collect { case (_, rows, df) if rows > 0 => df } match {
          case None => sig.limit(0).select(col("id"))
          case Some(idx) =>
            // saturation probe (counters minhashIndexSaturatedBuckets/
            // …CappedRows/…SplitBuckets — see Dedup.observeSaturation);
            // skipped for free while the whole index fits one bucket.
            // Its result picks the collision-join shape: with NOTHING
            // saturated (the steady state, asserted at gate scale) the
            // join is a PLAIN band-bucket equi-join — no in-plan
            // bucket-count aggregate or cap/split machinery rides the
            // per-batch plan. With real saturation, saturated buckets
            // resolve via Dedup.resolveSaturated: sub-bucket SPLIT by a
            // secondary band of the member's own signature (full recall
            // for secondary-band-intact probes, including mutually-FAR
            // members of one bucket) plus global exemplars, at a
            // 2×maxBucket per-probe bound.
            val (nb, _) = Dedup.observeSaturation(idx, Seq("band", "bucket"),
              maxBucket, "minhashIndex", keptRows, withSub = idxWithSub)
            val collided =
              if (nb == 0L)
                batchBands.join(
                  idx.select(col("band"), col("bucket"), col("id").as("kept_id")),
                  Seq("band", "bucket"))
                  .select(col("id"), col("kept_id"))
              else {
                val (byBucket, bySub, free) = Dedup.resolveSaturated(idx,
                  Seq("band", "bucket"), maxBucket, idxWithSub)
                resolveCleanup = free
                batchBands.join(
                  byBucket.select(col("band"), col("bucket"), col("id").as("kept_id")),
                  Seq("band", "bucket"))
                  .select(col("id"), col("kept_id"))
                  .unionByName(bandedWithSub(sig).join(
                    bySub.select(col("band"), col("bucket"), col("__sub"),
                      col("id").as("kept_id")),
                    Seq("band", "bucket", "__sub"))
                    .select(col("id"), col("kept_id")))
              }
            collided
            .filter(col("kept_id") =!= col("id"))
            .distinct()
            .join(sigs.read.select(col("id").as("kept_id"), col("sig").as("kept_sig")),
              Seq("kept_id"))
            .join(sig.select(col("id"), col("sig")), Seq("id"))
            .filter(Dedup.estJaccard(col("sig"), col("kept_sig"), numHashes) >= threshold)
            .select(col("id")).distinct()
        }

      // materialize the WHOLE dedup decision once as the pinned DROP
      // SET — a frame of bare ids, KBs at any batch size (pinning the
      // surviving rows instead would write the document text to block
      // storage, growing with the data). Every downstream consumer anti-joins this pin BROADCAST — without
      // the hint the pinned side has no stats, the planner picks a
      // sort-merge join, and every consumer action re-shuffles the
      // full batch (text included): measured ~2× on the sf2 gate. A
      // drop set is ≤ one micro-batch's ids (8 bytes each), driver-
      // collectable by construction.
      val dropped =
        try broadcast(withinDropped.unionByName(indexDropped).distinct()
          .pin)
        // the pinned drop set no longer reads the slice — and if the
        // eager pin/broadcast THROWS, the slices cached inside
        // resolveSaturated must not stay pinned for the session, so
        // the release rides a finally
        finally resolveCleanup()

      // stage 3 — commit the survivors to the index (bands first, sigs
      // second: a crash between the two can only leave bucket rows
      // whose signatures are missing, which the verify join ignores).
      // With a `txn` token the appends are O(1)-idempotent through the
      // store's atomic (appId → batchId) markers — a replayed
      // micro-batch re-appends NOTHING, and a crash between the two
      // appends replays to exactly the missing table (each table
      // tracks its own marker). No per-row anti-join: exactly-once is
      // a metadata question, not a data scan. Both appends anti-join
      // the caller-cached `sig` against the pinned drop set — no
      // dedup logic re-executes.
      val survivorSig = sig.join(dropped, Seq("id"), "left_anti")
      txn match {
        case None =>
          buckets.append(banded(survivorSig))
          sigs.append(survivorSig)
        case Some((appId, batchId)) =>
          buckets.appendOnce(appId, batchId, banded(survivorSig))
          sigs.appendOnce(appId, batchId, survivorSig)
          ()
      }
      // survivors: the caller's batch anti-joined against the PINNED
      // drop set — lazy, but the lineage holds no index-snapshot read
      // and no signature computation (the two hazards that would force
      // pinning the full batch), so a caller action pays one scan
      // of its own batch plus a broadcast-sized anti-join
      batch.join(dropped.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
    }
  }

  /** READ-ONLY near-dup lookup against the kept corpus — "is this
    * document already (approximately) in the corpus?" as a query, not
    * an ingest step: the same band-bucket collision join and
    * signature-agreement verify as [[dedupBatch]]'s stage 2, with no
    * within-batch pairing and NOTHING appended. Returns one row per
    * (probe doc, matching kept doc) with the estimated Jaccard —
    * the serving-side API of the dedup index (a crawler checking
    * URLs before fetching, an annotator checking a candidate against
    * the training set). Snapshot-isolated: reads one committed index
    * version, concurrent ingests never tear the view. */
  def probe(batch: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sig = signed(batch, idCol, textCol).cache()
    try {
      val empty = sig.limit(0).select(col("id").as(idCol),
        col("id").as("kept_id"), lit(1.0).as("est_jaccard"))
      val snap = buckets.committedSnapshot
      val keptRows = snap.fold(0L)(_._2)
      val snapVersion = snap.map(_._1)
      snap.collect { case (_, rows, df) if rows > 0 => df } match {
        case None => empty.pin
        case Some(idx) =>
          // read-only path: no saturation-counter action — when the
          // manifest row count proves no bucket CAN be saturated, the
          // collision join is a plain equi-join; past that bound the
          // MEMOIZED per-version saturation verdict (one max-occupancy
          // aggregate per committed version — Dedup.saturationVerdict)
          // keeps the plain join in the common nothing-saturated case,
          // and only a version with a genuinely saturated bucket pays
          // the split/exemplar resolution in-plan
          val (collided, resolveCleanup) =
            if (keptRows <= maxBucket ||
                !Dedup.saturationVerdict(
                  s"${buckets.path}@${snapVersion.getOrElse(-1L)}" +
                    s"!${snapVersion.map(buckets.versionToken).getOrElse("-")}#$maxBucket",
                  idx, Seq("band", "bucket"), maxBucket))
              (banded(sig).join(
                idx.select(col("band"), col("bucket"), col("id").as("kept_id")),
                Seq("band", "bucket"))
                .select(col("id"), col("kept_id")), () => ())
            else {
              val (byBucket, bySub, free) = Dedup.resolveSaturated(idx,
                Seq("band", "bucket"), maxBucket, idxWithSub)
              (banded(sig).join(
                byBucket.select(col("band"), col("bucket"), col("id").as("kept_id")),
                Seq("band", "bucket"))
                .select(col("id"), col("kept_id"))
                .unionByName(bandedWithSub(sig).join(
                  bySub.select(col("band"), col("bucket"), col("__sub"),
                    col("id").as("kept_id")),
                  Seq("band", "bucket", "__sub"))
                  .select(col("id"), col("kept_id"))), free)
            }
          // pin before the signature cache drops; release the
          // saturated slices even if the pin throws
          try collided.distinct()
            .join(sigs.read.select(col("id").as("kept_id"), col("sig").as("kept_sig")),
              Seq("kept_id"))
            .join(sig.select(col("id"), col("sig")), Seq("id"))
            .withColumn("est_jaccard",
              Dedup.estJaccard(col("sig"), col("kept_sig"), numHashes))
            .filter(col("est_jaccard") >= threshold)
            .select(col("id").as(idCol), col("kept_id"), col("est_jaccard"))
            .pin
          finally resolveCleanup()
      }
    } finally { sig.unpersist(); () }
  }

  /** Off-hot-path index maintenance. Every `dedupBatch` commit adds
    * one file set per table, so after B batches the bucket join reads
    * B× more files than it needs; this (1) deletes dangling bucket
    * rows — ids whose signatures never landed because a crash split
    * the bands-then-sigs commit pair (the verify join already ignores
    * them; dropping them stops the collision join from carrying them
    * forever), then (2) rewrites both tables clustered: buckets
    * range-sorted by (band, bucket) so a batch's collision join prunes
    * to the files its buckets land in, sigs by id so the verify fetch
    * prunes by manifest id range. Appends stay O(batch); run this at
    * the cadence small-file pressure dictates, like any LSM/Delta
    * OPTIMIZE. Old versions remain until `vacuum`. */
  def compact(targetFiles: Int = 8): Unit = {
    if (buckets.exists && sigs.exists) {
      val dangling = buckets.read.select(col("id"))
        .join(sigs.read.select(col("id")), Seq("id"), "left_anti").distinct()
      if (!dangling.isEmpty) buckets.deleteKeys(dangling)
    }
    buckets.compact(targetFiles, clusterBy = Seq("band", "bucket"))
    sigs.compact(targetFiles, clusterBy = Seq("id"))
  }

  /** Reclaim superseded index versions (delegates to TableStore
    * vacuum; `graceMs = 0` keeps only the latest snapshot). */
  def vacuum(graceMs: Long = 10 * 60 * 1000L): Unit = {
    buckets.vacuum(graceMs); sigs.vacuum(graceMs)
  }
}

object IncrementalDedup {
  private val bucketSchema = StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("bucket", LongType, nullable = false),
    StructField("id", LongType, nullable = false)))
  private val sigSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("sig", ArrayType(LongType, containsNull = false))))

  /** Open (or create) a corpus-dedup index rooted at `dir`. The
    * signature family (k, numHashes, bands) is pinned in a params file
    * at creation: reopening with a different family would compare
    * incompatible signatures and silently let duplicates through, so
    * it throws instead. `threshold`/`maxBucket` are per-open dials. */
  def open(spark: SparkSession, dir: String,
           threshold: Double = 0.7, k: Int = 5, numHashes: Int = 64,
           bands: Int = 16, maxBucket: Int = 1000): IncrementalDedup = {
    // the params pin goes through the SAME Hadoop FileSystem the
    // TableStores use (not java.io.File): on a non-local index dir
    // (hdfs://, s3a://) a local-file pin would land at a bogus path and
    // the incompatible-signature guard would silently never fire —
    // exactly the duplicate leak it exists to prevent. Written
    // tmp+rename like TableStore's own markers, so a crash mid-write
    // can never leave a corrupt half-pin that bricks reopen.
    import org.apache.hadoop.fs.Path
    val hdir = new Path(dir)
    val fs = hdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val paramsPath = new Path(hdir, "_dedup_params")
    // bandfmt versions the band-hash FORMULA (round 8: string-concat
    // → long-fold kernel): an index persisted under the old formula
    // must fail loudly on reopen, not silently stop bucketing
    // like-with-like
    val want = s"k=$k,numHashes=$numHashes,bands=$bands,bandfmt=2"
    def readPin(): String = {
      val in = fs.open(paramsPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    def requirePin(have: String): Unit = require(have == want,
      s"index at $dir was built with [$have]; reopening with [$want] would " +
        "compare incompatible MinHash signatures")
    if (fs.exists(paramsPath)) requirePin(readPin())
    else {
      fs.mkdirs(hdir)
      val tmp = new Path(hdir, s".params-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = fs.create(tmp, false)
      try out.write(want.getBytes("UTF-8")) finally out.close()
      if (!fs.rename(tmp, paramsPath)) {
        // lost a concurrent-create race: the winner's pin decides
        fs.delete(tmp, false)
        requirePin(readPin())
      }
    }
    val buckets = new TableStore(spark, s"$dir/buckets", "id")
    val sigs = new TableStore(spark, s"$dir/sigs", "id")
    buckets.initialize(bucketSchema)
    sigs.initialize(sigSchema)
    new IncrementalDedup(buckets, sigs, threshold, k, numHashes, bands, maxBucket)
  }
}
