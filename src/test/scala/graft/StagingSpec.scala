package graft

import graft.core.Staging

/** Scope semantics of the staging registry (ADVICE r14): release is tied
  * to the creating call path, and every staged frame belongs to a scope.
  */
class StagingSpec extends ScopedSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def frame() = Seq(1L, 2L, 3L).toDF("v")

  test("scoped frames release at block exit; nesting releases inner first") {
    val before = Staging.liveCount
    Staging.scoped {
      val a = Staging.stage(frame())
      assert(a.storageLevel.useMemory, "staged frame must be persisted")
      assert(Staging.liveCount == before + 1)
      Staging.scoped {
        val b = Staging.stage(frame().filter($"v" > 1))
        assert(Staging.liveCount == before + 2)
        assert(b.count() == 2L)
      }
      // inner scope closed: its frame gone, outer frame still cached
      assert(Staging.liveCount == before + 1)
      assert(a.storageLevel.useMemory)
      assert(a.count() == 3L)
    }
    assert(Staging.liveCount == before)
  }

  test("stage and adopt outside any scope throw and leave nothing persisted") {
    // a fresh thread has no open scope: the suite's per-test scope is
    // confined to the test's own thread
    val staged = frame().filter($"v" > 1)
    val adopted = frame().filter($"v" < 3)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Any]()
    val t = new Thread(() => {
      outcomes.add(scala.util.Try(Staging.stage(staged)))
      outcomes.add(scala.util.Try(Staging.adopt(adopted)))
      outcomes.add(Staging.liveCount)
    })
    t.start(); t.join()
    val Seq(s, a, live) = outcomes.toArray.toSeq
    for (o <- Seq(s, a)) assert(o match {
      case scala.util.Failure(_: IllegalStateException) => true
      case _ => false
    }, s"expected an IllegalStateException, got $o")
    assert(live == 0, "nothing may register outside a scope")
    // storageLevel reads the session's cache manager: NONE = not cached
    for (df <- Seq(staged, adopted)) assert(
      df.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "an unscoped frame was persisted")
  }

  test("scoped release survives a throwing body; release() drops one frame precisely") {
    val before = Staging.liveCount
    intercept[RuntimeException] {
      Staging.scoped {
        Staging.stage(frame())
        throw new RuntimeException("boom")
      }
    }
    assert(Staging.liveCount == before, "scope must release on exception")
    Staging.scoped {
      val a = Staging.stage(frame())
      val b = Staging.stage(frame().filter($"v" > 2))
      Staging.release(a)
      assert(!a.storageLevel.useMemory && b.storageLevel.useMemory)
      assert(Staging.liveCount == before + 1)
    }
    assert(Staging.liveCount == before)
  }

  test("scopes are thread-confined: a sibling thread's scope exit cannot release this thread's frames") {
    Staging.scoped {
      val mine = Staging.stage(frame())
      val t = new Thread(() => Staging.scoped {
        Staging.stage(frame().filter($"v" < 3)).count()
      })
      t.start(); t.join()
      assert(mine.storageLevel.useMemory,
        "another thread's scoped release must not unpersist this thread's stage")
      assert(mine.count() == 3L)
    }
  }
}
