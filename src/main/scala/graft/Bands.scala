package graft

/** Calm-window reference bands for the bench's heavy queries, and the
  * mechanical contention verdict derived from them (VERDICT r19 order
  * sheet #6: the wall-vs-cpu interpretation rule used to live only in
  * BASELINE.md prose — every round the judge and driver re-derived it by
  * hand; now the bench emits a per-query `contended` field).
  *
  * Band semantics, sf0.1 local[32] (the driver's bench shape):
  *   - `wallHi` — the query's calm same-JVM RepeatTimer band's upper
  *     edge (BASELINE.md band tables, rounds 4-20);
  *   - `cpuHi`  — the process-CPU-seconds level of a healthy timed run
  *     (BENCH_DETAIL r19/r20 cpu_sec under steady load).
  *
  * Verdict rule (BASELINE.md "reading the bench detail"): external
  * tenants on the shared box inflate WALL time but not this process's
  * CPU time, so
  *   - wall > 1.4×wallHi AND cpu within 1.35×cpuHi → `true` (contended
  *     window — disregard the wall number, RepeatTimer will clear it);
  *   - wall > 1.4×wallHi AND cpu ALSO blown        → `false` (both
  *     inflated = a real plan/code regression — investigate);
  *   - wall at band                                 → `false`.
  * Queries without a band entry get no verdict (they are the sub-2 s
  * tail where the discriminator has nothing to separate). */
object Bands {
  /** query -> (calm wall upper bound sec, healthy cpu_sec upper bound).
    * Re-pinned r20 optimization round: wallHi from the post-optimization
    * RepeatTimer medians (5 reps, load 3–5 — conservative) + ~20% margin;
    * cpuHi from the post-optimization bench detail's cpu_sec + ~30%
    * (BASELINE.md "Round-20 optimization" band table). */
  val calm: Map[String, (Double, Double)] = Map(
    "q_dedup_cc_streamed"    -> (7.0, 26.0),
    "q_join_outer_streamed"  -> (5.2, 14.0),
    "q_dedup_cc_persisted"   -> (2.4, 10.5),
    "q_sim_ivfpq_recall"     -> (4.5, 30.0),
    "q_join_streamed"        -> (2.7, 12.0),
    "q_dedup_cc_incr"        -> (2.8, 17.0),
    "q_sim_ivfpq"            -> (3.5, 27.0),
    "q_lastk_streamed"       -> (2.3, 17.0),
    "q_sim_ivfpq_rerank"     -> (4.2, 28.0),
    "q_bpe_apply"            -> (3.1, 12.0),
    "q_dedup_cc"             -> (2.1, 12.5),
    "q_dedup_recall"         -> (2.2, 22.0),
    "q_sim_index_compact"    -> (2.6, 8.0),
    "q_dedup_clusters"       -> (2.1, 12.5),
    "q_hh_streamed"          -> (2.5, 11.0),
    "q_sliding_streamed"     -> (2.8, 18.0),
    "q_ttl_streamed"         -> (3.4, 11.0),
    "q_ttl_event_streamed"   -> (2.3, 7.0),
    "q_graph_pagerank"       -> (1.6, 14.0),
    "q_ohlc_multibatch"      -> (2.8, 16.5),
    "q_embed_clusters"       -> (2.5, 7.0),
    "q_cdc_sink_streamed"    -> (2.1, 9.0),
    "q_cdc_streamed"         -> (1.2, 2.5),
    "q_dedup_near"           -> (1.1, 11.0),
    "q_ohlc_update_streamed" -> (2.5, 16.0)
  )

  /** None = no band on file; Some(true) = contended window (wall blown,
    * cpu healthy); Some(false) = at band or genuinely regressed. */
  def contended(name: String, wallSec: Double, cpuSec: Double)
      : Option[Boolean] =
    calm.get(name).map { case (wallHi, cpuHi) =>
      wallSec > 1.4 * wallHi && cpuSec >= 0 && cpuSec <= 1.35 * cpuHi
    }
}
