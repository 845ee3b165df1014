package graft.queries

/** On/off decision for the gates' cost-heavy in-query self-check
  * probes (the second/third full-pipeline passes in q_dedup_minhash,
  * q_dedup_incremental, q_dedup_simhash, q_sim_lsh, q_stream_neardup,
  * q_stream_throttle), taken from corpus provenance, never from a row
  * count: a row-count threshold would silently stop the probes at
  * every scale once the first bench SF outgrew it.
  *
  * Probes run on every REAL corpus (the oracle SF and the driver's
  * first bench SF, whatever their sizes) and skip only a DERIVED
  * scaling corpus, detected by ScaleUp's completion marker in the
  * input directory. Scaling corpora exist to measure wall growth;
  * re-running a corpus-size-independent probe there doubles the
  * measured gate without verifying anything the first SF didn't (each
  * site's comment carries its own argument).
  *
  * Every skip prints one stderr line naming the gate, so a bench run
  * that never exercised a probe is visible in its output record.
  */
object ScaleGuard {
  def probeEnabled(dir: String, gate: String): Boolean = {
    val run = !graft.tools.ScaleUp.completeMarker(dir).exists()
    if (!run) System.err.println(
      s"[graft] $gate: in-gate self-check probe SKIPPED (derived scaling corpus at $dir)")
    run
  }

  /** Driver-memory backstop for probes whose check is a full
    * `collect()` (r15 ADVICE: the provenance guard alone leaves the
    * collect unbounded on a large REAL corpus). Returns true when the
    * collect is safe; above the bound, logs the skip — same
    * visibility contract as [[probeEnabled]] — and returns false.
    * Policy stays provenance-driven; this only bounds driver memory. */
  def collectBounded(rows: Long, bound: Long, gate: String): Boolean = {
    val ok = rows <= bound
    if (!ok) System.err.println(
      s"[graft] $gate: in-gate self-check probe SKIPPED " +
        s"($rows rows exceeds the $bound-row driver-collect backstop)")
    ok
  }
}
