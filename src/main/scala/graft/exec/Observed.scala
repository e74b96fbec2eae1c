package graft.exec

import java.util.concurrent.TimeoutException
import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.sql.{Observation, Row}

/** The one reader of observed metrics. A count or a convergence measure of
  * a relation rides the action that already materializes it: the caller
  * attaches an [[Observation]] (`df.observe(obs, ...)`), runs its action
  * (a checkpoint, a write), then reads the row here, never through a job
  * of its own. The session's `ObservationManager` completes the
  * observation from the listener bus, after the action returns, so the
  * read waits, with a bound. */
private[graft] object Observed {

  private val Wait = 30.seconds

  /** The metric row of `obs` once an action over its Dataset has
    * completed; None if the listener bus did not deliver it within 30 s. */
  def row(obs: Observation): Option[Row] =
    try Some(Await.result(obs.future, Wait))
    catch { case _: TimeoutException => None }

  /** The first column of [[row]] as a Long (a null sum reads 0). A metric
    * that never arrived raises: a loop that stops on it, or a count that is
    * printed, must not stall or go wrong without a signal. `what` names the
    * metric in the message. */
  def long(obs: Observation, what: String): Long =
    row(obs).map(r => if (r.isNullAt(0)) 0L else r.getLong(0)).getOrElse(
      throw new IllegalStateException(
        s"observed metric '$what' was not delivered within $Wait of its action"))
}
