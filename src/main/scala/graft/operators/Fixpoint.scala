package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The pinned round loop under [[Components]] and [[PageRank]]. A round's
  * plan references only the previous round's filled cache, so plan depth
  * is O(1) per round however many rounds run.
  */
private[graft] object Fixpoint {

  /** Persist `df` and run `fill`, the job that fills its cache; if that
    * job throws, the pin is released before the throw propagates. */
  def pin(df: DataFrame)(fill: DataFrame => Any): DataFrame = {
    val pinned = df.persist(StorageLevel.MEMORY_AND_DISK)
    try fill(pinned)
    catch { case t: Throwable => pinned.unpersist(); throw t }
    pinned
  }

  /** Run `step` from `init` for at most `maxRounds` rounds. The caller
    * persists and materializes `init`; the loop owns it from then on.
    * Each round pins `step(prev)` and runs `settled(prev, next)`: ONE job
    * that fully evaluates `next` (filling its cache) and says whether the
    * fixed point is reached (r16: a count-then-check shape paid two
    * cluster barriers per round). Only then is `prev` released.
    * `mustSettle = false`: the last round runs `next.count()` instead
    * (nothing consumes its answer) and the loop returns at the budget.
    * `mustSettle = true`: every round is checked and a spent budget
    * throws `IllegalStateException` — silent divergence would surface
    * only as an opaque downstream mismatch. On every exit (settled,
    * budget, a throwing `step` or `settled`, the non-convergence throw)
    * only the returned round stays cached, and the caller owns it.
    * @return (the last round, rounds run) */
  def pinned(init: DataFrame, maxRounds: Int, mustSettle: Boolean)(
      step: DataFrame => DataFrame)(
      settled: (DataFrame, DataFrame) => Boolean): (DataFrame, Int) = {
    var cur = init
    var rounds = 0
    var done = false
    try {
      while (!done && rounds < maxRounds) {
        val prev = cur
        cur = pin(step(prev)) { next =>
          if (mustSettle || rounds + 1 < maxRounds) done = settled(prev, next)
          else next.count()
        }
        prev.unpersist()
        rounds += 1
      }
      if (mustSettle && !done)
        throw new IllegalStateException(
          s"fixpoint did not settle within $maxRounds rounds")
      (cur, rounds)
    } catch { case t: Throwable => cur.unpersist(); throw t }
  }
}
