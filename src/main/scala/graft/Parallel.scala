package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Independent Spark actions side by side (guide §2.6: actions are only
  * sequential because the driver calls them so). Nothing started
  * outlives the call: a failure propagates only once every sibling has
  * finished, so no job of a failed query is still running or writing.
  */
object Parallel {

  /** Start every action on `ec`; then as [[awaitAll]]. */
  def all[A](actions: (() => A)*)(implicit ec: ExecutionContext): Seq[A] =
    awaitAll(actions.map(a => Future(a())))

  /** Wait for every future in `started`, then return their values in
    * order, or rethrow the first failure in order.
    */
  def awaitAll[A](started: Seq[Future[A]]): Seq[A] = {
    started.foreach(Await.ready(_, Duration.Inf))
    started.map(_.value.get.get)
  }
}
