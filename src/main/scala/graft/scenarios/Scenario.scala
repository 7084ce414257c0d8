package graft
package scenarios

import org.apache.spark.sql.SparkSession

/** One scale or diagnostic scenario run by [[graft.Scenarios]]: a name, the
  * defaults of its positional arguments, and a body that runs it on a
  * session over a data directory. The body gets every argument, defaults
  * filled in, and returns the fields of the scenario's JSON line. Its
  * checks throw, so a scenario that returns has passed them. */
final case class Scenario(
    name: String,
    defaults: Seq[String],
    body: (SparkSession, String, Seq[String]) => Seq[(String, Any)])

object Scenario {

  /** Wall seconds of `f`, and its result. */
  def time[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime(); val a = f; ((System.nanoTime() - t0) / 1e9, a)
  }

  /** Runs `f` once untimed to settle JIT and caches, then `runs` timed
    * times: the median wall seconds, and the last result. */
  def warmMedian[A](runs: Int = 3)(f: => A): (Double, A) = {
    f
    val timed = (1 to runs).map(_ => time(f))
    (timed.map(_._1).sorted.apply(runs / 2), timed.last._2)
  }

  /** The executed plans of the executions `body` completes on `spark`, in
    * order, with every listener event of `body` delivered on return. */
  def executedPlans(spark: SparkSession)(body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      org.apache.spark.sql.graftshim.Shims.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    plans.toArray(Array.empty[String]).toSeq
  }
}
