package graft.core

import scala.annotation.tailrec
import org.apache.spark.sql.DataFrame

/** The one driver for graft's iterative DataFrame loops. Every round's
  * state is `localCheckpoint`ed, so the next round plans over a bare
  * RDD leaf instead of a plan that grows (or doubles, where a round
  * reads its state twice) every round, and the state it supersedes is
  * released at once through [[Checkpoints.release]]: a loop leaves one
  * checkpoint behind, its result's, which the caller owns.
  */
object Fixpoint {

  /** `n` rounds of `step` (given the state and the 1-based round) from
    * `init`. Every state, `init` included, is checkpointed eagerly: one
    * job per state beyond what the step's plan needs. */
  def rounds(init: DataFrame, n: Int)(step: (DataFrame, Int) => DataFrame): DataFrame =
    (1 to n).foldLeft(init.localCheckpoint(true)) { (state, i) =>
      supersede(state, step(state, i), eager = true)(_ => ())._1
    }

  /** Rounds of `step` from `init` until `measure` equals the round
    * before's. Checkpoints are lazy and `measure`'s action materialises
    * them, so a round is one job. Throws if `maxRounds` rounds do not
    * reach the fixpoint. */
  def converge[M](init: DataFrame, maxRounds: Int)(measure: DataFrame => M)(
      step: DataFrame => DataFrame): DataFrame = {
    @tailrec def loop(state: DataFrame, m: M, round: Int): DataFrame =
      if (round == maxRounds) {
        Checkpoints.release(state)
        throw new IllegalStateException(s"fixpoint not reached in $maxRounds rounds")
      } else {
        val (next, nextM) = supersede(state, step(state), eager = false)(measure)
        if (nextM == m) next else loop(next, nextM, round + 1)
      }
    val start = init.localCheckpoint(false)
    loop(start, measure(start), 0)
  }

  /** Checkpoints `next` and runs `settle` on it before releasing
    * `state`, which a lazy `next` still reads until it is materialised. */
  private def supersede[A](state: DataFrame, next: DataFrame, eager: Boolean)(
      settle: DataFrame => A): (DataFrame, A) = {
    val ck = next.localCheckpoint(eager)
    val a = settle(ck)
    Checkpoints.release(state)
    (ck, a)
  }
}
