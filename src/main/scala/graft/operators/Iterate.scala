package graft.operators

import org.apache.spark.sql.DataFrame

import graft.functional.{IgnorableFail, MayFail, Ok}
import graft.physical.Optimise

/** The loop behind graft's iterative operators (the shape of GraphX's
  * Pregel: one loop, many algorithms). Each round the operator's `step`
  * derives the next state from the current one as a lazy frame; the loop
  * does the rest:
  *
  *  - materialises every state with an eager `localCheckpoint`, so a
  *    state read several times per round is computed once and the plan
  *    depth stays constant however many rounds run;
  *  - releases the superseded state only after its successor is
  *    materialised and the stop test has read both (the condition in
  *    [[Optimise.releaseCheckpoint]]'s doc), so one call pins one state
  *    at a time however many rounds it runs;
  *  - applies the round cap and the operator's stop test, and reports
  *    the rounds run and whether the stop test (not the cap) ended it.
  *
  * The final state stays pinned: the operator returns it, or builds its
  * result from it and releases it.
  */
private[graft] object Iterate {

  /** What a stop test makes of a materialised round. */
  sealed trait Verdict
  /** Run another round, if the cap allows. */
  case object Continue extends Verdict
  /** Stop: the new state is the fixed point. */
  case object Converged extends Verdict
  /** Stop: the round changed nothing, so the previous state is kept and
    * the new one dropped. */
  case object Unchanged extends Verdict

  /** The last state, the rounds run, and whether the stop test (rather
    * than the round cap) ended the loop. */
  final case class Outcome(state: DataFrame, rounds: Int, converged: Boolean)

  /** One round as the step sees it: its 1-based `index`, and
    * `materialise` for a frame the step reads more than once within the
    * round. Such a frame is checkpointed now and released once the
    * round's new state is materialised. */
  final class Round private[Iterate] (val index: Int) {
    private[Iterate] var held = List.empty[DataFrame]
    def materialise(df: DataFrame): DataFrame = {
      val ck = df.localCheckpoint(true)
      held ::= ck
      ck
    }
  }

  /** Runs `step` from `init` for at most `maxRounds` rounds.
    *
    * @param done  tested once on the materialised `init`: true ends the
    *              loop before round 1, converged (an empty seed set)
    * @param stop  the verdict on each round, from the new state's
    *              checkpoint and the previous state
    * @param view  the state a round's checkpoint stands for: a
    *              projection dropping columns only the stop test reads
    */
  def apply(
      init: DataFrame,
      maxRounds: Int,
      done: DataFrame => Boolean = _ => false,
      stop: (DataFrame, DataFrame) => Verdict = (_, _) => Continue,
      view: DataFrame => DataFrame = identity
  )(step: (DataFrame, Round) => DataFrame): Outcome = {
    var state = init.localCheckpoint(true)
    var rounds = 0
    var converged = done(state)
    while (!converged && rounds < maxRounds) {
      rounds += 1
      val round = new Round(rounds)
      val next = step(state, round).localCheckpoint(true)
      round.held.foreach(Optimise.releaseCheckpoint)
      stop(next, state) match {
        case Unchanged =>
          Optimise.releaseCheckpoint(next)
          converged = true
        case verdict =>
          Optimise.releaseCheckpoint(state)
          state = view(next)
          converged = verdict == Converged
      }
    }
    Outcome(state, rounds, converged)
  }

  /** [[apply]] with the stop test of the peeling and growing loops: the
    * loop ends once a round leaves the state's row count unchanged, or
    * empty, and before round 1 on an empty `init`. Each state is counted
    * once, and the last count is returned with the outcome. */
  def untilCountSettles(init: DataFrame, maxRounds: Int)(
      step: (DataFrame, Round) => DataFrame): (Outcome, Long) = {
    var n = 0L
    val out = apply(init, maxRounds,
      done = state => { n = state.count(); n == 0 },
      stop = (next, _) => {
        val m = next.count()
        val verdict = if (m == n || m == 0) Converged else Continue
        n = m
        verdict
      })(step)
    (out, n)
  }

  /** The ending of an operator whose loop may hit its cap: `Ok(result)`
    * when it converged; otherwise `message` is logged as a warning and
    * the partial `result` rides in an `IgnorableFail`. */
  def settle(converged: Boolean, result: DataFrame)(
      message: => String): MayFail[DataFrame] =
    if (converged) Ok(result)
    else {
      val err = new IllegalStateException(message)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(err.getMessage)
      IgnorableFail(err, result)
    }
}
