package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Checkpoints.Pins

/** Cross-source overlap matrix — "how much of source A is also in
  * source B": the contamination / provenance diagnostic run before
  * mixing corpora (a crawl that substantially duplicates another
  * source should be down-weighted or dropped, and train/eval sources
  * must not overlap). Overlap is measured as Jaccard similarity of
  * the sources' character-k-shingle SETS — the same granularity the
  * dedup family uses, but aggregated per source pair instead of per
  * document pair.
  *
  * Scale shape (default, ≤63 sources — the practical case): each
  * shingle is hashed map-side (compiled charShingleHashes kernel) and
  * tagged with its source's BIT, then ONE hash aggregation computes
  * per-shingle source masks — `bit_or` is idempotent and associative,
  * so per-document duplicates need no global distinct and the partial
  * (map-side) combine already collapses most rows before the only
  * corpus-sized shuffle, which carries (8-byte hash, 8-byte partial
  * mask). The pair matrix falls out of the masks ENTIRELY ON THE
  * EXECUTORS: each mask row explodes to its set bits (≤n per row) and
  * its set-bit pairs (≤n(n−1)/2 per row), and the follow-up aggregates
  * land on ≤n and ≤n(n−1)/2 groups — metadata scale. Nothing
  * data-bound is ever collected: observed distinct masks number
  * min(distinct shingles, 2^n), which at 63 sources on a web corpus is
  * NOT driver-sized (the round-9 version collected them; fixed).
  * No self-join ever happens, so the join's second corpus-sized
  * shuffle (what made this the round-8 bench's worst scaler at 11.5×)
  * stays gone. Counts are exact unless two distinct shingles collide
  * in 64 bits — ≈2⁻⁶⁴ per pair; the DuckDB oracle replays raw strings
  * and stays byte-equal short of that event.
  *
  * Group cardinality is PROBED with a limit-64 distinct (never a full
  * distinct collect — a high-cardinality group column must not OOM
  * the driver deciding which shape to take): 64+ groups fall back to
  * the hashed distinct+self-join shape; `exact = true` restores the
  * raw-string shuffle for callers that cannot tolerate the hash (both
  * shapes below). NULL groups contribute no pairs in either shape
  * (the mask path's equi-join and an explicit filter both drop them;
  * the join path's `g1 < g2` predicate never matches a null) — a null
  * source is an ingest defect, not a corpus.
  *
  * Measured negative result (keep this formulation): collapsing the
  * JOIN shape to one shuffle via groupBy(shingle)
  * .agg(collect_set(source)) + map-side pair explode is ~40% SLOWER
  * at the 10× corpus — collect_set leaves whole-stage codegen for
  * ObjectHashAggregate and its per-row object cost exceeds the two
  * extra compact-row hash-shuffle passes it saves. The bitmask
  * aggregate above keeps the one-shuffle shape WITHOUT leaving
  * codegen: `bit_or` over a long is a Tungsten aggregate.
  */
object Overlap {

  /** Pairwise (groupA < groupB) shingle-set overlap: n_a, n_b
    * distinct-shingle counts, n_ab the intersection, jaccard rounded
    * to 6 decimals. Rows shorter than k contribute nothing; NULL
    * groups contribute nothing (see object doc). */
  def shingleOverlapMatrix(df: DataFrame, groupCol: String, textCol: String,
                           k: Int = 5, exact: Boolean = false): DataFrame = {
    require(k >= 1, "k >= 1")
    // cardinality PROBE, not enumeration: ≤64 rows reach the driver no
    // matter how many distinct groups exist. 64 rows back ⇒ >63 groups
    // ⇒ the bitmask shape doesn't apply and the list is discarded.
    val probe =
      if (exact) Array.empty[String]
      else df.select(col(groupCol).cast("string").as("g"))
        .filter(col("g").isNotNull).distinct().limit(64)
        .collect().map(_.getString(0))
    if (!exact && probe.nonEmpty && probe.length <= 63)
      maskMatrix(df, groupCol, textCol, k, probe.sorted(utf8Ordering))
    else joinMatrix(df, groupCol, textCol, k, exact)
  }

  /** Spark's string ordering is UTF-8 BINARY (code-point order), not
    * Java's UTF-16 code-unit order — they disagree on supplementary
    * characters (U+10000+ sort below U+E000..U+FFFF in UTF-16). The
    * mask shape's (g1, g2) orientation comes from this sort while the
    * join shape's comes from Spark's `g1 < g2`, so the sort MUST use
    * Spark's ordering or the shapes can emit opposite orientations. */
  private val utf8Ordering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = (x(i) & 0xFF) - (y(i) & 0xFF)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    }
  }

  /** One-shuffle bitmask shape (≤63 sources). The popcount pair
    * expansion is distributed — per-mask set-bit explodes feeding
    * metadata-scale (≤n, ≤n²/2 group) aggregates — so the only
    * corpus-sized exchange remains the per-shingle bit_or. */
  private def maskMatrix(df: DataFrame, groupCol: String, textCol: String,
                         k: Int, groups: Array[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val n = groups.length
    val gdict = groups.zipWithIndex.toSeq.toDF("__g", "__gi")
    val maskCounts = df
      .filter(length(col(textCol)) >= k && col(groupCol).isNotNull)
      .join(broadcast(gdict), col(groupCol).cast("string") === col("__g"))
      .select(expr("shiftleft(1L, __gi)").as("m"),
        explode(graft.functions.TextHashFunctions.charShingleHashes(
          col(textCol), k, distinct = true)).as("s"))
      .groupBy(col("s")).agg(expr("bit_or(m)").as("mask"))
      .groupBy(col("mask")).agg(count(lit(1)).as("cnt"))
      // pin: this subtree feeds pairIdx AND both perIdx broadcast
      // branches — without the pin, computing the corpus-sized bit_or
      // once instead of three times silently depends on AQE exchange
      // reuse. After the aggregate it is metadata-scale (≤ distinct
      // observed masks, ≪ 2^n in practice), so the pin is tiny.
      .pin
    // mask → its set-bit indexes, evaluated where the masks live
    val bits = maskCounts.select(col("cnt"),
      expr(s"filter(sequence(0, ${n - 1}), i -> (shiftright(mask, i) & 1) = 1)")
        .as("bs"))
    val perIdx = bits.select(explode(col("bs")).as("i"), col("cnt"))
      .groupBy(col("i")).agg(sum(col("cnt")).as("n_g")) // ≤n groups
    val pairIdx = bits
      .select(explode(col("bs")).as("i"), col("bs"), col("cnt"))
      .select(col("i"), explode(expr("filter(bs, j -> j > i)")).as("j"), col("cnt"))
      .groupBy(col("i"), col("j")).agg(sum(col("cnt")).as("n_ab")) // ≤n(n-1)/2 groups
    pairIdx
      .join(broadcast(perIdx.select(col("i"), col("n_g").as("n_a"))), Seq("i"))
      .join(broadcast(perIdx.select(col("i").as("j"), col("n_g").as("n_b"))), Seq("j"))
      .join(broadcast(gdict.select(col("__g").as("g1"), col("__gi").as("i"))), Seq("i"))
      .join(broadcast(gdict.select(col("__g").as("g2"), col("__gi").as("j"))), Seq("j"))
      .select(col("g1"), col("g2"), col("n_a"), col("n_b"), col("n_ab"),
        round(col("n_ab") / (col("n_a") + col("n_b") - col("n_ab")), 6)
          .as("jaccard"))
  }

  /** Distinct + self-join shape: the >63-source fallback, and the
    * exact-string variant (per-document-DISTINCT kernel before the
    * explode, so the global distinct's shuffle carries each
    * (g, shingle) once per document instead of once per occurrence).
    * NULL groups are filtered up front so both shapes agree (the
    * `g1 < g2` pair predicate would drop them anyway — this makes the
    * per-group aggregate skip them too instead of counting a group
    * that can never surface). */
  private def joinMatrix(df: DataFrame, groupCol: String, textCol: String,
                         k: Int, exact: Boolean): DataFrame = {
    val shingleArr =
      if (exact) graft.functions.TextHashFunctions.charShingles(col(textCol), k, distinct = true)
      else graft.functions.TextHashFunctions.charShingleHashes(col(textCol), k, distinct = true)
    val sh = df.filter(length(col(textCol)) >= k && col(groupCol).isNotNull)
      .select(col(groupCol).as("g"), explode(shingleArr).as("s"))
      .distinct()
    val per = sh.groupBy(col("g")).agg(count(lit(1)).as("n"))
    val pairs = sh.select(col("g").as("g1"), col("s"))
      .join(sh.select(col("g").as("g2"), col("s")), Seq("s"))
      .filter(col("g1") < col("g2"))
      .groupBy(col("g1"), col("g2")).agg(count(lit(1)).as("n_ab"))
    pairs
      .join(per.select(col("g").as("g1"), col("n").as("n_a")), Seq("g1"))
      .join(per.select(col("g").as("g2"), col("n").as("n_b")), Seq("g2"))
      .select(col("g1"), col("g2"), col("n_a"), col("n_b"), col("n_ab"),
        round(col("n_ab") / (col("n_a") + col("n_b") - col("n_ab")), 6)
          .as("jaccard"))
  }
}
