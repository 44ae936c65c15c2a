package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Completion/failure observability (SURVEY §2a R11/R12).
  *
  * The reference hand-rolls an async ack barrier: a closure counts
  * callbacks and prints success only after all 5 statements ack
  * (core.clj:68-78), plus a per-insert failure logger (core.clj:80-85).
  * In Spark a batch action IS the barrier — the job doesn't return until
  * every task (hence every row of every sink write) has completed, and
  * task failures retry then propagate. What remains worth replicating is
  * the *observability*: this listener logs per-query success/failure the
  * way the reference's handlers logged per transmission.
  */
object Listeners {

  /** Counts completed/failed query executions; logs like the reference's
    * success/failure handlers. */
  final class AckListener extends QueryExecutionListener {
    val succeeded = new AtomicLong(0)
    val failed = new AtomicLong(0)
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      succeeded.incrementAndGet()
      ()
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = {
      failed.incrementAndGet()
      System.err.println(
        s"[graft] insert failed ($funcName): ${exception.getMessage}")
    }
  }

  def installAck(spark: SparkSession): AckListener = {
    val l = new AckListener
    spark.listenerManager.register(l)
    l
  }
}
