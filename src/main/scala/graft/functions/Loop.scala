package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.GraftPlans

/** The fixed-round loop every iterative operator that carries a
  * DataFrame from round to round runs through.
  *
  * Each round's output but the last is cut with `localCheckpoint(true)`:
  * an UNCUT PageRank chain measured 3× slower at sf0.1 (AQE re-plans
  * the whole growing DAG per stage and the edge cache doesn't
  * amortize), and per-round cuts also bound executor lineage at
  * 50-round depth. Once a cut's successor is materialized nothing
  * reads the cut again, so the driver frees its blocks then instead of
  * leaving them to `ContextCleaner`; Spark logs a WARN that the freed
  * checkpoint cannot be recomputed, which is expected.
  */
object Loop {

  /** `step` applied `rounds` times to `init` (the round number, from
    * 1, is its second argument). `init` belongs to the caller and is
    * never freed. The last round comes back UNCUT and still reads the
    * cut before it: a caller that reads the result more than once cuts
    * it itself. `rounds = 0` returns `init`. */
  def fixed(init: DataFrame, rounds: Int)(step: (DataFrame, Int) => DataFrame): DataFrame =
    (1 to rounds).foldLeft(init) { (prev, i) =>
      val next = step(prev, i)
      if (i == rounds) next
      else {
        val cut = next.localCheckpoint(true)
        if (i > 1) GraftPlans.unpersistLocalCheckpoint(prev)
        cut
      }
    }
}
