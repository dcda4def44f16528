package graft.tools

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Shows the plan a query ran even when the query materializes its result:
  * a query that returns `localCheckpoint()` hands back a scan of the
  * checkpointed rows, and the plan that produced them is only seen by the
  * listener of the `localCheckpoint` action. Nothing about how the engine
  * runs the query changes; this only listens. */
final class MaterializedPlans(spark: SparkSession) {
  private val actions = new LinkedBlockingQueue[(String, QueryExecution)]()
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      actions.put(funcName -> qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  /** The `localCheckpoint` executions among the actions reported so far.
    * Listeners hear actions in order but asynchronously, so this runs a
    * marker action and reads until the marker's report arrives. */
  private def drain(): List[QueryExecution] = {
    val marker = spark.range(1).toDF()
    marker.collect()
    Iterator.continually(actions.poll(60, TimeUnit.SECONDS))
      .map(a => { require(a != null, "no action report within 60 s"); a })
      .takeWhile(_._2 ne marker.queryExecution)
      .collect { case ("localCheckpoint", qe) => qe }
      .toList
  }

  /** Runs `query` and returns its result with the plan it ran: the last
    * `localCheckpoint`'s when the result is a checkpoint scan, else the
    * result's own (not yet executed) plan. */
  def run(query: => DataFrame): (DataFrame, QueryExecution) = {
    drain()
    val df = query
    val checkpoints = drain()
    df.queryExecution.logical match {
      case _: LogicalRDD if checkpoints.nonEmpty => (df, checkpoints.last)
      case _ => (df, df.queryExecution)
    }
  }
}

object MaterializedPlans {
  /** `plan` with the text that changes from one run to the next removed:
    * lambda class names (`$$Lambda$1961/0x00007f0a04c2abd8`), identity
    * hash codes (`@25ee3cd6`) and plan ids (`, [plan_id=106]`, numbered
    * by how many times adaptive execution re-planned before). */
  def normalize(plan: String): String =
    plan.replaceAll("""\$\$Lambda(\$\d+)?/0x[0-9a-f]+""", "\\$\\$Lambda")
      .replaceAll("""(?<=[\w$\]])@[0-9a-f]{1,8}\b""", "")
      .replaceAll(""", \[plan_id=\d+\]""", "")
}
