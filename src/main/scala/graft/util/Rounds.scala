package graft.util

import scala.annotation.tailrec

/** The one round loop of the iterative graph operators (connected
  * components, pivot clustering, mutual-best matching): apply `round` to
  * the state until `done` holds.
  *
  * Cap rule, the same for every operator: a state that is not done after
  * `maxRounds` rounds throws IllegalStateException naming the operator,
  * the rounds run and the live edge count (`live`, read only on that
  * path). None of them returns a partial result.
  *
  * Each round, with its snapshots and exit probe, stays in its operator's
  * code; this loop runs no Spark job itself, so JobLedger (which skips
  * `graft.util` frames) still files every job under the operator.
  */
object Rounds {

  /** `round(state, n)` runs round n + 1, n = rounds run so far. */
  def run[S](op: String, maxRounds: Int, init: S)(done: S => Boolean, live: S => Long)(round: (S, Int) => S): S = {
    @tailrec def loop(s: S, n: Int): S =
      if (done(s)) s
      else if (n >= maxRounds) throw new IllegalStateException(s"$op did not converge in $n rounds (|E| = ${live(s)})")
      else loop(round(s, n), n + 1)
    loop(init, 0)
  }
}
