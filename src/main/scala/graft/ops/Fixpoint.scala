package graft.ops

import scala.annotation.tailrec

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}

/** The lineage-cut policy every iterative operator shares (PageRank,
  * HITS, label propagation, the k-core / coreness / k-truss peels,
  * shortest paths, near-dup closure, BPE training).
  *
  * Each round's state is PINNED: eagerly materialized with its lineage
  * cut, so the next round's plan starts from stored blocks instead of
  * the whole round chain — the periodic-checkpoint design that keeps
  * iterative lineage short (D-Streams, SOSP 2013). The pin is
  * load-bearing, not hygiene: a round's state frame is small, so
  * Catalyst broadcasts it into the next round's join, and a broadcast
  * executes its subplan as its own job; with a lazy chain every round
  * re-runs the un-pinned prefix, and those re-runs nest (measured as an
  * exponential job blowup at sf0.1).
  *
  * `checkpointDir` is a durability knob, not a semantics knob. With
  * None a pin is a `localCheckpoint` (stats-bounded, see
  * [[org.apache.spark.sql.GraftColumnBridge.localCheckpointBounded]]):
  * cheap, but its blocks live on executors, so on a real cluster one
  * lost executor fails the loop unrecoverably. With Some(dir) (an
  * HDFS/object-store path at cluster scale) a pin is a reliable
  * `checkpoint()` to that directory: one extra write + read of the slim
  * state per round, and it survives executor loss. Outputs are
  * identical either way.
  *
  * A pin holds block-store memory until it is released. A loop run by
  * [[Fixpoint]] releases each superseded round's pins the moment the
  * next round's pins have landed, so storage stays O(1) state frames at
  * any round count instead of waiting for a driver GC to let the
  * ContextCleaner reclaim them. */
final class Pins private (spark: SparkSession, checkpointDir: Option[String]) {
  checkpointDir.foreach(spark.sparkContext.setCheckpointDir)

  /** `df` materialized now, with its lineage cut. */
  def apply(df: DataFrame): DataFrame =
    if (checkpointDir.isDefined) df.checkpoint()
    else GraftColumnBridge.localCheckpointBounded(df)

  /** Drop the blocks behind frames nothing reads any more: pins, and
    * in-query caches (`.cache()`) a round consumed. */
  def release(dfs: DataFrame*): Unit = Pins.release(dfs: _*)
}

object Pins {
  def apply(spark: SparkSession, checkpointDir: Option[String]): Pins =
    new Pins(spark, checkpointDir)

  private[ops] def release(dfs: DataFrame*): Unit =
    dfs.foreach(GraftColumnBridge.releasePin)
}

/** Round drivers over a state `S` that holds pinned frames. `frames`
  * names the pins a state holds; when a round replaces the state, the
  * driver releases the superseded state's frames that the new state
  * does not carry over. Frames that outlive the loop (a shared edge
  * pin, say) stay out of `frames` and belong to the caller. */
object Fixpoint {

  /** Run `step` from `init` until it returns None, and return the last
    * state with the number of state-changing rounds. A step that finds
    * nothing to change returns None (the confirming round, always
    * allowed); a step that returns a state it did not carry over must
    * release its own scratch pins. When a `maxRounds + 1`-th
    * state-changing round is needed the loop refuses loudly, with an
    * `IllegalStateException`, instead of returning a wrong answer. */
  def iterate[S](op: String, init: S, maxRounds: Int)(
      frames: S => Seq[DataFrame])(step: S => Option[S]): (S, Int) = {
    @tailrec def go(s: S, rounds: Int): (S, Int) = step(s) match {
      case None => (s, rounds)
      case Some(next) =>
        supersede(frames, s, next)
        if (rounds >= maxRounds) {
          Pins.release(frames(next): _*)
          throw new IllegalStateException(
            s"$op: no fixpoint after $maxRounds rounds — raise maxIters")
        }
        go(next, rounds + 1)
    }
    go(init, 0)
  }

  /** Exactly `n` rounds of `step` from `init` — the fixed-iteration
    * loops, whose stopping rule must be a pure function of the input. */
  def rounds[S](init: S, n: Int)(frames: S => Seq[DataFrame])(
      step: S => S): S =
    (1 to n).foldLeft(init) { (s, _) =>
      val next = step(s)
      supersede(frames, s, next)
      next
    }

  private def supersede[S](frames: S => Seq[DataFrame], old: S,
      next: S): Unit = {
    val kept = frames(next)
    Pins.release(frames(old).filterNot(f => kept.exists(_ eq f)): _*)
  }
}
