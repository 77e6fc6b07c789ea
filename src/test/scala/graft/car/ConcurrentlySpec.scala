package graft.car

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.ListenerShim
import graft.SparkSpec

/** [[Concurrently]]: results in argument order, inherited session and
  * local properties, and on failure the thrower's own exception with the
  * siblings' Spark jobs cancelled.
  */
class ConcurrentlySpec extends SparkSpec {

  test("results come back in argument order when branches finish out of order") {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.concurrently.spec", "caller")
    try {
      val out = Concurrently.all(spark)(
        () => { Thread.sleep(400); "slow" },
        () => sc.getLocalProperty("graft.concurrently.spec"),
        () => sc.parallelize(1 to 100, 4).count().toString,
        () => (SparkSession.active eq spark).toString)
      assert(out == Seq("slow", "caller", "100", "true"))
    } finally sc.setLocalProperty("graft.concurrently.spec", null)
  }

  test("a failing branch rethrows its own exception and cancels its siblings' jobs") {
    val sc = spark.sparkContext
    val boom = new IllegalStateException("boom")
    val t0 = System.nanoTime()
    val thrown = intercept[IllegalStateException] {
      Concurrently.all(spark)(
        () => {
          // 4 tasks × 600 rows × 50 ms = 30 s per task unless cancelled
          sc.parallelize(1 to 2400, 4).map { x => Thread.sleep(50); x }.count()
        },
        () => {
          while (sc.statusTracker.getActiveJobIds().isEmpty) Thread.sleep(10)
          throw boom
        })
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    assert(thrown eq boom)
    assert(seconds < 15, s"the sibling's job was waited out, not cancelled ($seconds s)")
    ListenerShim.waitUntilEmpty(sc)
    assert(sc.statusTracker.getActiveJobIds().isEmpty)
  }
}
