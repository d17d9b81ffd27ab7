package graft

import org.apache.spark.sql.execution.streaming.state.StateStore

/** Regression guard for the full-suite bench's "roaming outlier"
  * disease: every streaming gate must leave the session CLEAN — no
  * active streaming query, no loaded state-store provider, no running
  * maintenance task. A residual provider keeps the 60 s maintenance
  * rounds snapshotting retained stores, and that background CPU lands
  * on whichever batch query happens to be running next (measured as
  * 10-50× outliers in BENCH_r07). This spec runs ALL streaming gates
  * back-to-back in one session — the exact shape of a Bench/Verify
  * pass — and asserts the invariant after each one, plus that the
  * gate deleted every scratch root it created.
  */
class StreamingHygieneSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  /** StateStore.loadedProviders is object-private; read it by
    * reflection (test-only — the production path never needs it).
    */
  private def loadedProviderCount: Int = {
    val f = StateStore.getClass.getDeclaredField("loadedProviders")
    f.setAccessible(true)
    f.get(StateStore)
      .asInstanceOf[scala.collection.mutable.HashMap[_, _]].size
  }

  /** The gate scratch roots currently under the scratch base. */
  private def scratchEntries: Set[String] =
    graft.util.FileUtils.listDir(graft.util.Staged.scratchBase)
      .map(_.getFileName.toString).filter(_.startsWith("graft-")).toSet

  test("every streaming gate leaves zero residual streaming state") {
    val streaming = graft.streaming.StreamingQueries.queries.keys.toSeq.sorted
    assert(streaming.size == 33, s"expected the 33 streaming gates, got $streaming")
    for (name <- streaming) {
      val before = scratchEntries
      val out = SparkEntry.queries(name)(spark, dir)
      val left = scratchEntries -- before
      assert(left.isEmpty, s"$name left scratch behind: $left")
      assert(out.count() > 0, s"$name returned no rows")
      assert(spark.streams.active.isEmpty,
        s"$name left an active streaming query")
      assert(loadedProviderCount == 0,
        s"$name left $loadedProviderCount loaded state-store providers")
      assert(!StateStore.isMaintenanceRunning,
        s"$name left the state-store maintenance task running")
    }
  }
}
