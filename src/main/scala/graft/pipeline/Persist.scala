package graft.pipeline

import org.apache.spark.sql.DataFrame
import graft.core.Caches

/** Cache-lifetime handoff for pipeline builders.
  *
  * Builders persist heavyweight intermediates (shingle tables, candidate
  * pair sets, assigned-vector tables) because one result plan consumes
  * them several times — the persist makes the shared subtree compute once
  * per action instead of once per consumer. `handoff` registers those
  * intermediates with [[graft.core.Caches]] for deferred release and
  * returns the result UNTOUCHED: nothing executes at build time (plan-only
  * consumers like PlanSpec stay free), nothing is pinned beyond what the
  * call site persisted, and the pins are reclaimed en masse by
  * `Caches.releaseTransient` — per query in the bench loop, per dump in
  * Verify, or by the embedding application when it wants storage back.
  *
  * Results are NOT persisted here. A result that is a session-lifetime
  * materialized artifact (the minhash pair set) is built through a
  * [[graft.core.Caches.ArtifactMemo]], which persists and sanctions it.
  */
private[pipeline] object Persist {
  def handoff(result: DataFrame, release: DataFrame*): DataFrame = {
    release.foreach(Caches.deferRelease)
    result
  }
}
