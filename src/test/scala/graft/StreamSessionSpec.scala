package graft

import java.lang.ref.WeakReference

/** The stream gates' child sessions: one per parent, and the memo
  * does not keep a parent alive.
  */
class StreamSessionSpec extends SparkSpec {

  test("streamSession keeps one child per parent and holds parents weakly") {
    val a = spark.newSession()
    val child = SparkEntry.streamSession(a)
    assert(SparkEntry.streamSession(a) eq child)
    assert(child ne a)
    assert(SparkEntry.streamSession(spark.newSession()) ne child)

    // built in a method so no local of this frame keeps the parent
    def dropped(): (WeakReference[AnyRef], WeakReference[AnyRef]) = {
      val parent = spark.newSession()
      (new WeakReference(parent), new WeakReference(SparkEntry.streamSession(parent)))
    }
    val (parent, orphan) = dropped()
    val collected = (1 to 50).exists { _ =>
      System.gc()
      Thread.sleep(20)
      // the memo drops a collected parent's child on its next access
      assert(SparkEntry.streamSession(a) eq child)
      parent.get == null && orphan.get == null
    }
    assert(collected, "a parent no longer used, or its child, stayed reachable through the memo")
  }
}
