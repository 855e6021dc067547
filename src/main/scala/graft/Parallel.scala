package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Independent Spark actions side by side (guide §2.6: actions are only
  * sequential because the driver calls them so). Nothing started
  * outlives the call: a failure propagates only once every sibling has
  * finished, so no job of a failed query is still running or writing.
  */
object Parallel {

  /** The driver threads that submit the actions: three, because the
    * widest sets started together are three wide (q149's certificate
    * counts, `StreamingCuration.processBatch`'s md5, vector and bucket
    * store writes), and a fixed size bounds the jobs one driver adds to
    * Spark's queue. Daemon threads, so an idle pool never holds the JVM
    * open. An action must not itself wait on this pool.
    */
  private val pool = ExecutionContext.fromExecutorService(
    java.util.concurrent.Executors.newFixedThreadPool(3, (r: Runnable) => {
      val t = new Thread(r, "graft-parallel"); t.setDaemon(true); t
    }))

  /** Start `action` on the pool; [[awaitAll]] waits for it. */
  def start[A](action: => A): Future[A] = Future(action)(pool)

  /** Start every action; then as [[awaitAll]]. */
  def all[A](actions: (() => A)*): Seq[A] = awaitAll(actions.map(a => start(a())))

  /** Wait for every future in `started`, then return their values in
    * order, or rethrow the first failure in order.
    */
  def awaitAll[A](started: Seq[Future[A]]): Seq[A] = {
    started.foreach(Await.ready(_, Duration.Inf))
    started.map(_.value.get.get)
  }
}
