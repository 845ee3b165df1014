package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints.Pins

/** Fuzzy string self-join: all pairs within Levenshtein edit distance
  * `k`, exactly.
  *
  * Candidate generation is the symmetric-delete neighborhood (the
  * SymSpell blocking rule): every string emits itself plus every
  * variant obtainable by deleting up to `k` characters. If
  * dist(a, b) <= k, deleting the characters the optimal alignment
  * touches produces a COMMON variant, so the two neighborhoods
  * intersect — the filter is lossless (never misses a true pair) and
  * only over-generates, which the exact `levenshtein` verify then
  * prunes. The reference has no fuzzy matching; this is the
  * training-data-curation "merge near-identical records" shape.
  *
  * Scale: the inverted-index join shuffles (key, id) pairs only —
  * never the strings; strings attach per distinct CANDIDATE pair,
  * and candidates are bounded by bucket occupancy (`maxBucket` caps
  * degenerate shared-substring keys, the same skew guard every dedup
  * path uses). Neighborhood size is 1 + L + L·(L-1)/2 keys for k=2 on
  * length-L strings — keep L modest (ids, titles, names), which is
  * what edit-distance joins are for.
  */
object FuzzyJoin {

  /** Deletion-neighborhood keys (distinct), k in 1..2 — a compiled
    * kernel (graft.functions.DeletionNeighborhood). The earlier
    * nested-transform HOF spelling evaluated ~L²/2 interpreted
    * substr/concat lambdas per string. */
  private def deletionKeys(s: String, k: Int): Column =
    graft.functions.TextHashFunctions.deletionNeighborhood(col(s), k)

  /** All id pairs (id1 < id2) whose strings are within edit distance
    * `k`, with the exact distance. Exact by construction: lossless
    * neighborhood blocking + native `levenshtein` verification
    * (`maxBucket` only drops keys shared by more strings than any
    * non-degenerate corpus produces; with keys shuffled as 64-bit
    * hashes, a cross-key collision can additionally merge two buckets
    * past `maxBucket` — so even Int.MaxValue leaves a ~2⁻⁶⁴-per-pair
    * residual rather than a strict guarantee; a same-string key
    * collision would otherwise emit an id1==id2 self-pair, which the
    * explicit id1 =!= id2 guard below drops). */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        k: Int, maxBucket: Int = 10000): DataFrame = {
    require(k >= 1 && k <= 2, s"editDistancePairs supports k in 1..2, got $k")
    // pinned: three consumers (the key explode and both verify joins) —
    // unpinned, each re-ran the source scan + the caller's string
    // derivation. (id, short string) is bytes per row.
    val base = df.select(col(idCol).as("fz_id"), col(strCol).as("fz_s")).pin
    // keys shuffle as 8-byte xxhash64 of the variant string, not the
    // string itself (r17, guide §2.3 "narrower types"): a hash
    // collision only MERGES two buckets — extra candidates, pruned by
    // the exact levenshtein verify — so the result set is unchanged
    // while the only corpus-sized shuffle halves its bytes. The hash
    // runs on the exploded column (native, codegen), not inside a HOF.
    val keyed = base
      .select(col("fz_id"), explode(deletionKeys("fz_s", k)).as("key0"))
      .select(col("fz_id"), xxhash64(col("key0")).as("key"))
    // ONE key shuffle: bucket members collect per key (size-capped in
    // place — the same guard capBuckets provides, without its extra
    // count + semi-join pass over an almost-all-unique key set), and
    // pair combinations expand inside the bucket row. The
    // count/semi-join/self-join spelling was 3 more shuffles of the
    // full key set — measured 23 s → 8 s on 50 k strings. Buckets are
    // per-row-distinct keys, so a pair's ids are always distinct;
    // least/greatest canonicalizes regardless of collect order.
    val collected = keyed.groupBy(col("key"))
      .agg(collect_list(col("fz_id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
    // pair expansion: compiled kernel for long ids (the common case),
    // the equivalent HOF for anything else
    val expanded =
      if (df.schema(idCol).dataType == org.apache.spark.sql.types.LongType)
        collected.select(explode(
          graft.functions.TextHashFunctions.longPairCombos(col("ids"))).as("p"))
      else
        collected.select(explode(expr(
          """flatten(transform(sequence(0, size(ids) - 2),
               i -> transform(sequence(i + 1, size(ids) - 1),
                 j -> struct(least(ids[i], ids[j]) AS id1,
                             greatest(ids[i], ids[j]) AS id2))))""")).as("p"))
    val pairs = expanded
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"))
      // two deletion keys of the SAME string colliding under xxhash64
      // would put one id twice in a bucket and emit a dist-0 self-pair
      // violating the id1 < id2 contract — guard explicitly (ADVICE r17)
      .filter(col("id1") =!= col("id2"))
      .dropDuplicates("id1", "id2")
    pairs
      .join(base.select(col("fz_id").as("id1"), col("fz_s").as("s1")), Seq("id1"))
      .join(base.select(col("fz_id").as("id2"), col("fz_s").as("s2")), Seq("id2"))
      .filter(abs(length(col("s1")) - length(col("s2"))) <= k)
      .withColumn("dist", levenshtein(col("s1"), col("s2")).cast("long"))
      .filter(col("dist") <= k)
      .select(col("id1"), col("id2"), col("dist"))
  }
}
