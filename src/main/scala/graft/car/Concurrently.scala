package graft.car

import java.util.UUID
import java.util.concurrent.LinkedBlockingQueue
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession

/** Runs independent branches of a lifecycle side by side against one
  * SparkContext. A small MLlib fit is mostly driver-side work between
  * short jobs, so branches that share no state overlap those gaps
  * instead of queueing behind each other; the scheduler interleaves
  * their jobs on the same executors.
  *
  * Each call starts one new thread per branch and never shares a bounded
  * pool, so a branch that itself calls [[all]] cannot starve. New
  * threads inherit the caller's active session and Spark local
  * properties (both are inheritable thread-locals; Spark clones the
  * properties), so job groups, tags and SQL settings set by the caller
  * reach the branch's jobs. Each branch adds its own job tag.
  */
object Concurrently {

  /** Runs `branches` concurrently and returns their results in argument
    * order. When a branch throws, the other branches' jobs are cancelled
    * (their tags cover the jobs of any nested [[all]]), the call waits for
    * their threads to end, and the first failure is rethrown as is.
    */
  def all[A](spark: SparkSession)(branches: (() => A)*): Seq[A] = {
    val sc = spark.sparkContext
    val results = new Array[Any](branches.length)
    val failure = new AtomicReference[Throwable]()
    val ended = new LinkedBlockingQueue[Integer]()
    val tags = branches.indices.map(i => s"graft-branch-$i-${UUID.randomUUID()}")
    val threads = branches.indices.map { i =>
      val t = new Thread(() => {
        try {
          sc.addJobTag(tags(i))
          results(i) = branches(i)()
        } catch { case e: Throwable => failure.compareAndSet(null, e) }
        finally ended.put(i)
      }, tags(i))
      t.setDaemon(true)
      t.start()
      t
    }
    var pending = branches.length
    while (pending > 0 && failure.get == null) { ended.take(); pending -= 1 }
    if (failure.get != null) {
      // a branch between jobs submits its next one after a cancel, so
      // cancel until every branch has ended, then once more for any job
      // a branch left running when its thread ended
      while (threads.exists(_.isAlive)) {
        tags.foreach(sc.cancelJobsWithTag)
        threads.foreach(_.join(20))
      }
      tags.foreach(sc.cancelJobsWithTag)
      throw failure.get
    }
    results.toSeq.asInstanceOf[Seq[A]]
  }

  /** [[all]] for two branches of different result types. */
  def both[A, B](spark: SparkSession)(a: => A, b: => B): (A, B) = {
    val Seq(x, y) = all[Any](spark)(() => a, () => b)
    (x.asInstanceOf[A], y.asInstanceOf[B])
  }
}
