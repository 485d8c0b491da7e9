package graft.core

import java.util.concurrent.Executors

import org.apache.spark.sql.DataFrame

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Independent executors over one shared input, run as concurrent driver
  * jobs: the scheduler interleaves their stages, so each executor's
  * write/commit tail back-fills the cores the others' scans freed. */
object FanOut {

  /** Cache `staged`, then call `plan` on this thread: it runs the first
    * action over `staged` — which fills the cache once, before any
    * executor can race to compute it — and returns the executors. They
    * run on a pool of `threads` threads. When one fails, every sibling is
    * awaited before the first failure is rethrown, so none is still
    * writing, or reading the cache, once this returns. `staged` is
    * unpersisted and the pool shut down on every exit. Returns the
    * executors' results in order. */
  def apply[T](staged: DataFrame, threads: Int)(plan: DataFrame => Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(math.max(1, threads))
    val ec = ExecutionContext.fromExecutorService(pool)
    try {
      staged.cache()
      val runs = plan(staged).map(f => Future(f())(ec))
      runs.foreach(Await.ready(_, Duration.Inf))
      runs.map(_.value.get.get)
    } finally {
      staged.unpersist()
      pool.shutdown()
    }
  }
}
