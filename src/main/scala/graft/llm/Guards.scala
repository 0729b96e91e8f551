package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The runtime knob for the family of FORCED guard broadcasts — the
  * over-cap key sets ([[BandedHamming.dropOverCap]], the union-counted
  * guards in [[MinHash]]/[[Jaccard]]/[[Winnow]]'s incremental arms),
  * the endpoint set in [[DedupClusters.incrementalRemap]], and the
  * affected-doc set in [[LineDedup.rewritesIncremental]]. Each of
  * those relations is bounded by cap/increment GEOMETRY (≤ |rows|/cap
  * keys, ≤ 2·|pairs| endpoints, ≤ cap·|banned| docs), so the forced
  * `broadcast()` hint is safe in the production regime — but a
  * degenerate cap, or a bootstrap-sized batch fed to an
  * increment-sized contract, can push the set past driver memory,
  * where a forced broadcast OOMs rather than degrades.
  *
  * `spark.graft.guardBroadcast` picks the behavior per session:
  *
  *  - `"force"` (default): today's hint — the planner broadcasts the
  *    guard set unconditionally. Zero extra stages; the measured-fast
  *    path everywhere the bound holds.
  *  - `"auto"`: no hint. The join plans as a shuffle; with AQE on
  *    (the session default here) Spark re-plans it into a broadcast
  *    join at RUNTIME iff the guard side's measured size is under
  *    `spark.sql.autoBroadcastJoinThreshold` — so the size cutoff is
  *    Spark's own byte-accurate accounting, not a row guess, and an
  *    over-threshold guard set degrades to a shuffled join instead of
  *    OOMing the driver. Costs one extra shuffle map pass over the
  *    guarded relation when the set IS small — the price of the
  *    insurance; choose it when increments are not trusted to be
  *    increment-sized.
  *
  * The knob is read at PLAN-BUILD time from the DataFrame's session,
  * so callers flip it with `spark.conf.set(...)` around the call.
  *
  * Measured (sf1 soak, r16 — SCALING.md row `guard-force`): on a
  * 48M-row corpus whose over-cap guard set is 2M
  * (band, key) rows — deliberately ABOVE the 10 MB auto-broadcast
  * threshold — `force` runs 12.9 s vs `auto` 47.6 s (3.7×): past the
  * threshold, auto degrades BOTH anti-joins to shuffles of the
  * guarded corpus, which costs far more than broadcasting a
  * tens-of-MB key set. Recommendation: keep the `force` default
  * wherever the cap/increment geometry bound is trusted (the guard
  * set grows like |rows|/cap — driver-safe until the corpus is
  * billions of rows per cap unit); reach for `auto` only when
  * increments are genuinely untrusted, and price it as "the guarded
  * relation shuffles twice". */
object Guards {

  /** Session conf key selecting `"force"` (default) or `"auto"`. */
  val ConfKey = "spark.graft.guardBroadcast"

  /** `broadcast(df)` under `"force"` (default), bare `df` under
    * `"auto"` — see the object doc for the semantics of each. Any
    * other value throws: a typo like `"Auto"` would otherwise
    * silently keep the forced broadcast (the OOM-prone mode)
    * precisely when the caller reached for the safety knob. */
  private[graft] def broadcastBounded(df: DataFrame): DataFrame =
    df.sparkSession.conf.get(ConfKey, "force") match {
      case "auto"  => df
      case "force" => broadcast(df)
      case other => throw new IllegalArgumentException(
        s"$ConfKey must be 'force' or 'auto', got '$other'")
    }
}
