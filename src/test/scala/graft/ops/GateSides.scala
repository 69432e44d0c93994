package graft.ops

import org.scalatest.Assertions._

/** Both sides of every size gate of the dedup family (`Dedup.Gates`):
  * the spec fixtures sit below every gate, so at the defaults each chain
  * takes its driver side; at `Gates.Zero` each takes its distributed
  * side. */
object GateSides {

  /** `run` at the default gates and again at `Gates.Zero`, asserting
    * equal results; returns the default run's. `T` must compare by value
    * (collect to a Seq or Set, not an Array). */
  def both[T](run: => T): T = {
    val atDefaults = run
    val distributed = Dedup.gates.withValue(Dedup.Gates.Zero)(run)
    assert(distributed == atDefaults, "the distributed side of a gate disagrees with the driver side")
    atDefaults
  }
}
