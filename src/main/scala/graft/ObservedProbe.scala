package graft

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** Fuse a driver-side scalar probe into a frame's ONE eager
  * materialization (guide §1.2). The convergence-driven loops (fixpoint
  * PageRank/LPA, k-core/k-truss peels, BFS) and the delta-chain cap
  * guard each paid a SECOND scheduled job per round/step — a
  * `limit(1).isEmpty` or `count()` over data the localCheckpoint job had
  * just scanned every row of. `Dataset.observe` piggybacks the aggregate
  * on that same job as a plan-visible `CollectMetrics` node (the
  * accumulator-based fusion round 19 rejected for plan opacity —
  * `observe` is the sanctioned, retry-safe mechanism: metrics come from
  * the completed execution, not from per-task side effects).
  *
  * The observed node lives only in the LOOP-INTERNAL checkpoint plan;
  * the checkpointed result is a plain LogicalRDD, so no declared query's
  * final plan (and hence no oracle hash) can move.
  */
object ObservedProbe {

  /** `df.localCheckpoint(eager = true)` with `metric` — an aggregate
    * expression yielding a non-null Long, e.g. `count(...)` — computed
    * DURING the checkpoint job. Returns the checkpointed frame and the
    * metric value.
    *
    * The ExecutionListenerBus delivers observed metrics asynchronously
    * just after the action completes, so the wait is a bounded poll —
    * never an unbounded block — and if the metrics fail to arrive
    * (listener bus starved or torn down mid-shutdown) the probe falls
    * back to `fallback` over the already-checkpointed frame: one extra
    * cheap job in a path that previously ALWAYS paid it, identical
    * semantics. So does a null metric. Each fallback steps
    * [[fallbackCount]]; the first in a JVM logs one WARN line. */
  def checkpointWithCount(df: DataFrame, metric: Column)(
      fallback: DataFrame => Long): (DataFrame, Long) = {
    val obs = new Observation()
    val cp = df.observe(obs, metric.as("m")).localCheckpoint(true)
    val row =
      try Some(scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(10, "s")))
      catch {
        case _: java.util.concurrent.TimeoutException => None
        case _: InterruptedException => None
      }
    val n = row.flatMap(r => Option(r.getAs[Any]("m"))) match {
      case Some(x: Number) => x.longValue()
      case _ =>
        if (fallbacks.getAndIncrement() == 0)
          org.slf4j.LoggerFactory.getLogger(getClass).warn("observed metric " +
            "missing; recomputing it with an extra job (logged once per JVM)")
        fallback(cp)
    }
    (cp, n)
  }

  private val fallbacks = new java.util.concurrent.atomic.AtomicLong()

  /** Times [[checkpointWithCount]] fell back to the extra job in this JVM. */
  def fallbackCount: Long = fallbacks.get()
}
