package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.TableStore
import graft.core.Checkpoints.Pins

/** Incremental PERCEPTUAL dedup against a persistent corpus index —
  * the media counterpart of [[IncrementalDedup]]: dedup each ingest
  * batch of images/audio/video against every payload KEPT so far,
  * without re-hashing or re-scanning the kept corpus.
  *
  * Design vs the MinHash index: a perceptual signature is ONE 64-bit
  * hash (image dHash / audio energy fingerprint / video frame
  * majority), so the full hash rides on every bucket row —
  * (band, bucket, id, h) = 28 bytes — and collision verification is an
  * inline `bit_count(xor)` on the SAME row the band join produced. No
  * second signature table, no second join, no bands-then-sigs crash
  * ordering: one table, one atomic commit per batch.
  *
  * Per batch: hash once (cached), within-batch greedy min-id drop via
  * the shared [[Dedup.hammingBand64Pairs]] machinery, then a
  * band-bucket equi-join against the index (index side skew-capped:
  * each batch row joins at most `maxBucket` kept rows — linear in the
  * batch) with the Hamming verify inline; survivors' band rows append
  * to the index and the surviving input rows return MATERIALIZED.
  * Cost per batch is O(batch × 28 bands) + collided buckets —
  * independent of corpus size except through bucket occupancy, which
  * `maxBucket` caps. Payloads that fail to decode hash to null and
  * PASS THROUGH un-indexed (can't dedup what can't be decoded; same
  * skip-crud contract as the pair operators — they also never enter
  * the index, so they can never drop a future payload).
  *
  * Hot buckets (shared design with [[IncrementalDedup]]): a content
  * family larger than `maxBucket` saturates its index bucket. Such a
  * bucket stays in the collision join, sampled down to exemplars and
  * SPLIT into sub-buckets keyed by a secondary band of the member's
  * own hash ([[Dedup.resolveSaturated]]; excluding it instead would
  * let later copies leak) — the join-cost bound stays O(maxBucket)
  * per probe per bucket, a later copy of a family verifies against an
  * exemplar (or its own sub-bucket) and drops, and a bucket of
  * mutually-FAR members (unrelated content colliding on one 16-bit
  * band) retains recall against EVERY member for probes whose flips
  * miss the secondary band pair.
  * The engine counters `perceptualIndexSaturatedBuckets` /
  * `perceptualIndexCappedRows` / `perceptualIndexSplitBuckets`
  * (core.Metrics → JMX, bumped by every [[dedupBatch]]) mark exactly
  * those buckets — nonzero saturation means raise `maxBucket` or
  * tighten the upstream exact-dedup pass (identical payloads share
  * ALL bands).
  *
  * Cross-batch semantics mirror [[IncrementalDedup]], spec-locked the
  * same way: a doc drops only for a KEPT near-dup, so with batches in
  * nondecreasing id order the incremental survivors are a SUPERSET of
  * the one-shot greedy (drop-id2-of-any-pair) survivors.
  *
  * The reference has no media surface at all; this composes the
  * perceptual kernels with the version-manifest store (the LAION-style
  * ingest-time image dedup loop, as a library op).
  */
final class PerceptualDedupIndex private (
    val buckets: TableStore, hash: Column => Column,
    maxHamming: Int, maxBucket: Int) {

  private def hashed(batch: DataFrame, idCol: String, binCol: String): DataFrame =
    batch.select(col(idCol).as("id"), hash(col(binCol)).as("h"))
      .filter(col("h").isNotNull)

  /** (band, bucket, id, h) rows — 28 per hashed payload (the pinned
    * hashfmt=2 pair-of-8-bit-blocks layout, [[Dedup.hammingBands]]:
    * recall guaranteed for any Hamming ≤ 6, 16-bit bucket selectivity;
    * the layout is pinned — NOT derived from this open's `maxHamming`
    * dial — because index rows written under one layout would never
    * collide with probes banded under another). */
  private def banded(h: DataFrame): DataFrame =
    h.select(col("id"), col("h"),
        posexplode(Dedup.hammingBands(col("h"), maxHamming = 6)))
      .select(col("pos").as("band"), col("col").as("bucket"), col("id"), col("h"))

  /** Sub-bucket key for saturated-bucket splitting
    * ([[Dedup.resolveSaturated]]): the value of the NEXT band pair —
    * (band+1) mod 28 — computed from the row's own 64-bit hash, so
    * both sides of a collision derive it identically. Every index row
    * carries `h`, so no side table is needed (unlike the MinHash
    * index). A probe within the Hamming threshold whose flipped bits
    * miss the secondary pair's two blocks lands deterministically in
    * its twin's sub-bucket; mutually-FAR members spread uniformly. */
  private def subKeyExpr(bandCol: Column, hCol: Column): Column =
    element_at(Dedup.hammingBands(hCol, maxHamming = 6),
      (((bandCol + lit(1)) % lit(Dedup.hammingBandCount(6)))
        + lit(1)).cast("int"))

  private def withSub(r: DataFrame): DataFrame =
    r.withColumn("__sub", subKeyExpr(col("band"), col("h")))

  /** Dedup one ingest batch against the index (and itself); append the
    * survivors' band rows; return the surviving rows of `batch` with
    * all original columns. The dedup DECISION is materialized exactly
    * once — the dropped-id set is pinned (bare ids) — and the returned
    * survivors are the caller's `batch` anti-joined against that pin:
    * lazy, but with no payload re-hash and no index-snapshot read in
    * the lineage (the hazards that would make a lazy result unsafe), so
    * a caller action pays one scan of its own batch, and the pin stays
    * ids-sized where pinning the survivors would write their payloads
    * to block storage.
    *
    * IDEMPOTENT under at-least-once re-delivery (the foreachBatch
    * retry contract): survivors never vanish on replay — a kept
    * payload matches only OTHER kept payloads, never its own
    * first-attempt index entry (self-matches are excluded in the
    * collision join; a payload is a duplicate of a DIFFERENT kept
    * payload, not of its own identity — without this, a retried
    * micro-batch would collide with itself at Hamming 0 and silently
    * vanish). Pass `txn = Some((appId, batchId))` — foreachBatch hands
    * you the batchId — to ALSO make the index append exactly-once
    * through the store's atomic txn marker (O(1) metadata, no data
    * scan): a replayed batch then leaves the index byte-identical.
    * Without a token, a replayed batch re-appends its survivors' band
    * rows PERMANENTLY (compact() rewrites files, it does not
    * deduplicate rows) and the duplicates inflate bucket-occupancy
    * counts toward the `maxBucket` sampling threshold — any source
    * that can replay should pass the token. Saturated buckets stay in
    * the collision join (exemplars and sub-buckets), so a replay still
    * meets the kept copies and re-drops. */
  def dedupBatch(batch: DataFrame, idCol: String, binCol: String,
                 txn: Option[(String, Long)] = None): DataFrame = {
    val h = hashed(batch, idCol, binCol).cache()
    try {
      // emptiness from manifest row counts (O(1)), not an isEmpty JOB.
      // ONE manifest resolution serves BOTH the row count and the
      // collision-join snapshot — two resolutions could straddle a
      // concurrent commit and judge a newer, larger snapshot by a
      // stale count
      val snap = buckets.committedSnapshot
      val keptRows = snap.fold(0L)(_._2)
      val idxOpt = snap.collect { case (_, rows, df) if rows > 0 => df }

      // stage 1 — within-batch greedy min-id drop: id2 of any pair
      // within maxHamming drops (same rule as the one-shot pair ops)
      val withinDropped = Dedup.hammingBand64Pairs(h, maxHamming, maxBucket)
        .select(col("id2").as("id")).distinct()

      // stage 2 — collisions vs the KEPT corpus: band equi-join with
      // the Hamming verify INLINE (the index row carries the hash).
      // Skew cap on the INDEX side only: each batch row then joins at
      // most maxBucket kept rows — linear in the batch, no quadratic
      // term. The batch side must stay UNCAPPED: capping it would drop
      // a duplicate-flood batch's hot buckets from the comparison
      // entirely, letting the whole flood bypass the index check and
      // poison the index with >maxBucket copies of kept content.
      // set by the saturated branch; invoked after the drop-set pin
      // materializes (resolveSaturated caches the saturated slice)
      var resolveCleanup: () => Unit = () => ()
      val indexDropped: DataFrame = idxOpt match {
        case None => h.limit(0).select(col("id"))
        case Some(idx) =>
          // saturation probe (counters perceptualIndexSaturatedBuckets/
          // …CappedRows/…SplitBuckets — see Dedup.observeSaturation);
          // skipped for free while the whole index fits one bucket.
          // Its result picks the collision-join shape: with NOTHING
          // saturated (the steady state) the join is a PLAIN
          // band-bucket equi-join — no cap/split machinery on the
          // per-batch plan. With real saturation, saturated buckets
          // resolve via Dedup.resolveSaturated: sub-bucket SPLIT by the
          // secondary band pair of the member's own hash (full recall
          // for probes whose flips miss that pair, including
          // mutually-FAR members of one bucket) plus global exemplars,
          // at a 2×maxBucket per-probe bound.
          val (nb, _) = Dedup.observeSaturation(idx, Seq("band", "bucket"),
            maxBucket, "perceptualIndex", keptRows, withSub = withSub)
          val keptCols = Seq(col("band"), col("bucket"),
            col("id").as("kept_id"), col("h").as("kept_h"))
          val collided =
            if (nb == 0L)
              banded(h).join(idx.select(keptCols: _*), Seq("band", "bucket"))
            else {
              val (byBucket, bySub, free) = Dedup.resolveSaturated(idx,
                Seq("band", "bucket"), maxBucket, withSub)
              resolveCleanup = free
              banded(h).join(byBucket.select(keptCols: _*), Seq("band", "bucket"))
                .unionByName(withSub(banded(h)).join(
                  bySub.select(keptCols :+ col("__sub"): _*),
                  Seq("band", "bucket", "__sub")).drop("__sub"))
            }
          collided
            .filter(col("kept_id") =!= col("id") &&
              bit_count(col("h").bitwiseXOR(col("kept_h"))) <= maxHamming)
            .select(col("id")).distinct()
      }

      // materialize the WHOLE dedup decision once as the pinned DROP
      // SET (bare ids; pinning the surviving rows would put their
      // PAYLOADS in block storage, megabytes per batch, to protect a
      // decision that is just ids). BROADCAST: the
      // pinned side has no stats, and without the hint every consumer
      // action would re-shuffle the full payload batch through a
      // sort-merge join (see IncrementalDedup for the measurement).
      val dropped =
        try broadcast(withinDropped.unionByName(indexDropped).distinct()
          .pin)
        // the pinned drop set no longer reads the slice — release it
        // even if the eager pin/broadcast throws
        finally resolveCleanup()

      val survivorBands = banded(h.join(dropped, Seq("id"), "left_anti"))
      txn match {
        case None => buckets.append(survivorBands)
        case Some((appId, batchId)) => // replay re-appends NOTHING: O(1) marker check
          buckets.appendOnce(appId, batchId, survivorBands); ()
      }
      // survivors: batch anti-joined against the PINNED drop set —
      // lazy, but the lineage holds no index-snapshot read and no
      // payload re-hash; null-hash (undecodable) rows are absent from
      // the drop set, so they pass through exactly as before
      batch.join(dropped.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
    } finally { h.unpersist(); () }
  }

  /** READ-ONLY near-dup lookup — "is this payload already
    * (perceptually) in the corpus?" as a query, not an ingest step:
    * the same band join + inline Hamming verify, nothing appended.
    * Returns one (probe id, kept_id, hamming) row per hit.
    * Snapshot-isolated like every TableStore read. */
  def probe(batch: DataFrame, idCol: String, binCol: String): DataFrame = {
    val h = hashed(batch, idCol, binCol).cache()
    try {
      val empty = h.limit(0).select(col("id").as(idCol),
        col("id").as("kept_id"), lit(0).as("hamming"))
      val snap = buckets.committedSnapshot
      val keptRows = snap.fold(0L)(_._2)
      val snapVersion = snap.map(_._1)
      snap.collect { case (_, rows, df) if rows > 0 => df } match {
        case None => empty.pin
        case Some(idx) =>
          // read-only path: no saturation-counter action — plain join
          // while the manifest row count proves no bucket can be
          // saturated; past that bound the MEMOIZED per-version
          // verdict (Dedup.saturationVerdict — one max-occupancy
          // aggregate per committed version) keeps the plain join in
          // the common nothing-saturated case, and only a genuinely
          // saturated version pays the split/exemplar resolution
          val keptCols = Seq(col("band"), col("bucket"),
            col("id").as("kept_id"), col("h").as("kept_h"))
          val (collided, resolveCleanup) =
            if (keptRows <= maxBucket ||
                !Dedup.saturationVerdict(
                  s"${buckets.path}@${snapVersion.getOrElse(-1L)}" +
                    s"!${snapVersion.map(buckets.versionToken).getOrElse("-")}#$maxBucket",
                  idx, Seq("band", "bucket"), maxBucket))
              (banded(h).join(idx.select(keptCols: _*), Seq("band", "bucket")),
                () => ())
            else {
              val (byBucket, bySub, free) = Dedup.resolveSaturated(idx,
                Seq("band", "bucket"), maxBucket, withSub)
              (banded(h).join(byBucket.select(keptCols: _*), Seq("band", "bucket"))
                .unionByName(withSub(banded(h)).join(
                  bySub.select(keptCols :+ col("__sub"): _*),
                  Seq("band", "bucket", "__sub")).drop("__sub")), free)
            }
          // pin before the hash cache drops; release the saturated
          // slices even if the pin throws
          try collided
            .withColumn("hamming",
              bit_count(col("h").bitwiseXOR(col("kept_h"))).cast("int"))
            .filter(col("hamming") <= maxHamming)
            .select(col("id").as(idCol), col("kept_id"), col("hamming"))
            .dropDuplicates(idCol, "kept_id")
            .pin
          finally resolveCleanup()
      }
    } finally { h.unpersist(); () }
  }

  /** Off-hot-path maintenance: rewrite the index clustered by
    * (band, bucket) so a batch's collision join prunes to the files
    * its buckets land in. Appends stay O(batch); run at the cadence
    * small-file pressure dictates. Old versions remain until
    * [[vacuum]]. */
  def compact(targetFiles: Int = 8): Unit =
    buckets.compact(targetFiles, clusterBy = Seq("band", "bucket"))

  /** Reclaim superseded index versions (`graceMs = 0` keeps only the
    * latest snapshot). */
  def vacuum(graceMs: Long = 10 * 60 * 1000L): Unit =
    buckets.vacuum(graceMs)
}

object PerceptualDedupIndex {
  private val bucketSchema = StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("bucket", LongType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("h", LongType, nullable = false)))

  private val kernels: Map[String, Column => Column] = Map(
    "image" -> graft.functions.ImageHashFunctions.dhash64,
    "audio" -> graft.functions.MediaHashFunctions.audioFp64,
    "video" -> graft.functions.MediaHashFunctions.videoDHash64)

  /** Open (or create) a perceptual-dedup index rooted at `dir`. The
    * MODALITY (which kernel hashed the kept corpus) is pinned in a
    * params file at creation — reopening an image index as "audio"
    * would compare hashes from different kernels and silently let
    * duplicates through, so it throws instead. `maxHamming`/`maxBucket`
    * are per-open dials. Pin I/O goes through the same Hadoop
    * FileSystem as the TableStore (tmp+rename, concurrent-create safe)
    * for the same reasons as [[IncrementalDedup.open]]. */
  def open(spark: SparkSession, dir: String, modality: String,
           maxHamming: Int = 6, maxBucket: Int = 1000): PerceptualDedupIndex = {
    val kernel = kernels.getOrElse(modality,
      throw new IllegalArgumentException(
        s"unknown modality '$modality' (expected one of ${kernels.keys.mkString("/")})"))
    require(maxHamming <= 6,
      s"maxHamming=$maxHamming: the hashfmt=2 band layout guarantees recall only to 6")
    import org.apache.hadoop.fs.Path
    val hdir = new Path(dir)
    val fs = hdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val paramsPath = new Path(hdir, "_dedup_params")
    // an in-flight (or crashed) reband journals its intent here; the
    // index must not open through that window — in particular a pin
    // deleted mid-rewrite must NOT be silently recreated from THIS
    // call's modality argument (the kernel-mismatch guard would be
    // lost)
    require(!fs.exists(new Path(hdir, "_dedup_params.migrating")),
      s"index at $dir has an interrupted band-layout migration — run " +
        "PerceptualDedupIndex.reband(spark, dir) to complete it before opening")
    // hashfmt versions the BAND LAYOUT (2 = the C(8,2) pair-of-8-bit-
    // blocks scheme, recall guaranteed to Hamming 6; 1 was 4×16 single
    // blocks, guaranteed only to 3): an index persisted under the old
    // layout must fail loudly on reopen — its rows would silently never
    // collide with pair-banded probes
    val want = s"modality=$modality,hashfmt=2"
    def readPin(): String = {
      val in = fs.open(paramsPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    def requirePin(have: String): Unit = require(have == want,
      s"index at $dir was built with [$have]; reopening with [$want] would " +
        "compare hashes from different kernels. A hashfmt mismatch (band " +
        "layout, not kernel) is migratable IN PLACE without the source " +
        "payloads: run PerceptualDedupIndex.reband(spark, dir) — band rows " +
        "recompute from the stored h column; a modality mismatch is not.")
    if (fs.exists(paramsPath)) requirePin(readPin())
    else {
      fs.mkdirs(hdir)
      val tmp = new Path(hdir, s".params-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = fs.create(tmp, false)
      try out.write(want.getBytes("UTF-8")) finally out.close()
      if (!fs.rename(tmp, paramsPath)) {
        fs.delete(tmp, false)
        requirePin(readPin())
      }
    }
    val buckets = new TableStore(spark, s"$dir/buckets", "id")
    buckets.initialize(bucketSchema)
    new PerceptualDedupIndex(buckets, kernel, maxHamming, maxBucket)
  }

  /** Migrate an index persisted under an OLDER band layout
    * (hashfmt=1, or a pre-hashfmt pin) to the hashfmt=2 pair-block
    * layout IN PLACE, without the source payloads: every bucket row
    * carries the full 64-bit hash, so band rows recompute from the
    * distinct (id, h) pairs and atomically replace the table, then the
    * params pin rewrites. Idempotent and crash-safe at every point:
    * the replace is txn-marked (a re-run after a crash re-applies
    * nothing), and the pin rewrite is journaled through a
    * `_dedup_params.migrating` marker holding the TARGET pin content:
    * the rewrite is delete-then-rename, and a crash between the two
    * without the marker would leave the index pinless, so the next
    * open() would recreate the pin from the CALLER's modality argument
    * and the kernel-mismatch guard would be silently lost for that
    * window. The marker is written first; while it exists, open() refuses
    * the index and names this method, and a reband re-run completes
    * the rewrite FROM THE MARKER (never from a caller argument).
    * No-op when the pin is already hashfmt=2 (a leftover marker from
    * a crash after the rewrite is cleaned up). */
  def reband(spark: SparkSession, dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val hdir = new Path(dir)
    val fs = hdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val paramsPath = new Path(hdir, "_dedup_params")
    val migratingPath = new Path(hdir, "_dedup_params.migrating")
    def readUtf8(p: Path): String = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    def writeAtomic(p: Path, content: String): Unit = {
      val tmp = new Path(hdir, s".params-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = fs.create(tmp, false)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      if (fs.exists(p)) fs.delete(p, false)
      if (!fs.rename(tmp, p)) {
        fs.delete(tmp, false)
        throw new java.io.IOException(s"could not write $p")
      }
    }
    val pinExists = fs.exists(paramsPath)
    val markerExists = fs.exists(migratingPath)
    require(pinExists || markerExists,
      s"no index params at $dir — nothing to migrate")
    if (pinExists && readUtf8(paramsPath).contains("hashfmt=2")) {
      // already current; a marker left by a crash right after the pin
      // rewrite is stale — clean it so open() stops refusing
      if (markerExists) fs.delete(migratingPath, false)
      return
    }
    // modality comes from the old pin when it survives, else from the
    // MARKER a previous interrupted reband journaled — never from a
    // caller argument (that is the guard-bypass this journal prevents)
    val have = if (pinExists) readUtf8(paramsPath) else readUtf8(migratingPath)
    val modality = have.split(",").collectFirst {
      case kv if kv.startsWith("modality=") => kv.stripPrefix("modality=")
    }.getOrElse(throw new IllegalArgumentException(
      s"unparseable index pin [$have] at $dir"))
    require(kernels.contains(modality),
      s"index pin names unknown modality '$modality' — cannot migrate")
    val target = s"modality=$modality,hashfmt=2"
    // journal the intent BEFORE touching pin or data: from here on a
    // crash at any point leaves either (pin intact, marker present) or
    // (no pin, marker present) — both re-runnable, neither re-pinnable
    // by open()
    writeAtomic(migratingPath, target)
    val buckets = new TableStore(spark, s"$dir/buckets", "id")
    if (buckets.exists) {
      val rebanded = buckets.read.select(col("id"), col("h")).distinct()
        .select(col("id"), col("h"),
          posexplode(Dedup.hammingBands(col("h"), maxHamming = 6)))
        .select(col("pos").as("band"), col("col").as("bucket"),
          col("id"), col("h"))
      buckets.replaceOnce("perceptual-reband", 2L, rebanded)
      ()
    }
    writeAtomic(paramsPath, target)
    fs.delete(migratingPath, false)
    ()
  }
}
