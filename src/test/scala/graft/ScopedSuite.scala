package graft

import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** The base of every spec: each test body runs in its own
  * `Staging.scoped` block, the lifecycle every product entry point gives
  * its call path, so the frames a test stages release when it ends.
  * Work on another thread (a streaming query's trigger, a spawned
  * thread) opens its own scope.
  */
abstract class ScopedSuite extends AnyFunSuite {
  override def withFixture(test: NoArgTest): Outcome =
    graft.core.Staging.scoped { super.withFixture(test) }
}
