package graft

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, count, lit, when}

/** The one owner of a pinned checkpoint: how it is taken with a probe
  * fused into its job, how it is freed, and the round lifecycle of every
  * convergence loop built on the two ([[fixpoint]]).
  *
  * Probe fusion (guide §1.2): the convergence-driven loops (fixpoint
  * PageRank/LPA, k-core/k-truss peels, BFS, dedup components) and the
  * delta-chain cap guard each paid a SECOND scheduled job per
  * round/step — a `limit(1).isEmpty` or `count()` over data the
  * localCheckpoint job had just scanned every row of. `Dataset.observe`
  * piggybacks the aggregate on that same job as a plan-visible
  * `CollectMetrics` node (the accumulator-based fusion round 19 rejected
  * for plan opacity — `observe` is the sanctioned, retry-safe mechanism:
  * metrics come from the completed execution, not from per-task side
  * effects).
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

  /** Free the blocks the checkpointed frame `cp` pinned. A
    * `localCheckpoint` persists the RDD behind its plan's root
    * `LogicalRDD`; unpersisting that RDD frees exactly this checkpoint's
    * blocks and no other frame's. (`Dataset.unpersist` frees nothing
    * here: a checkpoint is not in the cache manager, so its blocks would
    * stay stored until a GC let the ContextCleaner reach them.) A frame
    * read after its release fails, so release only what nothing still
    * returned reads. */
  def release(cp: DataFrame): Unit = cp.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false); ()
    case p => throw new IllegalArgumentException(
      s"release wants a checkpointed frame, got a ${p.nodeName} plan")
  }

  /** The stop rule of a [[fixpoint]] loop, probed in each round's
    * checkpoint job. */
  sealed trait Stop

  /** Converged once no row of a round satisfies `changed` — the rule
    * for state that can move either way (ranks, labels). */
  final case class NoneChanged(changed: Column) extends Stop

  /** Converged once a round's row count equals its predecessor's — the
    * rule for monotone state (a peel's shrinking edge set, a search's
    * growing visited set), whose nested sets are equal exactly when
    * their sizes are. */
  case object SameCount extends Stop

  /** What a [[fixpoint]] loop ran to: the last round's state (a pinned
    * checkpoint, or `carry` of one), the rounds run, and whether the
    * stop rule fired within the cap. */
  final case class Fixpoint(state: DataFrame, rounds: Int,
      converged: Boolean) {
    /** `df` with the loop's `(rounds_run, converged)` report appended. */
    def report(df: DataFrame, roundsCol: String = "rounds_run"): DataFrame =
      df.select(col("*"), lit(rounds).as(roundsCol),
        lit(converged).as("converged"))
  }

  /** The round lifecycle every convergence loop shares. The seed is
    * checkpointed (probed for its row count under [[SameCount]];
    * `lazySeed` leaves it to be materialized by the first round's job).
    * Then, until the stop rule fires or `maxRounds` rounds have run,
    * `round(state, i)` (i counts from 0) is checkpointed with the stop
    * rule's probe observed in that one job, the superseded round is
    * released, and the next state is `carry` of the new checkpoint.
    *
    * On return only the last round's checkpoint is still pinned: it is
    * what the returned state reads. Anything the rounds read besides
    * their state (an edge list) is the caller's to release. */
  def fixpoint(seed: DataFrame, stop: Stop, maxRounds: Int,
      lazySeed: Boolean = false)(round: (DataFrame, Int) => DataFrame,
      carry: DataFrame => DataFrame = identity): Fixpoint = {
    require(maxRounds >= 1, s"a fixpoint wants >= 1 rounds, got $maxRounds")
    val (metric, fallback, settled) = stop match {
      case NoneChanged(changed) => (count(when(changed, lit(1))),
        (cp: DataFrame) => if (cp.filter(changed).limit(1).isEmpty) 0L else 1L,
        (_: Long, n: Long) => n == 0L)
      case SameCount => (count(lit(1)), (cp: DataFrame) => cp.count(),
        (prev: Long, n: Long) => n == prev)
    }
    var (pinned, n) = stop match {
      case SameCount =>
        require(!lazySeed, "a SameCount seed is counted, so it is eager")
        checkpointWithCount(seed, metric)(fallback)
      case _ => (seed.localCheckpoint(!lazySeed), 0L)
    }
    var state = pinned
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val (next, m) = checkpointWithCount(round(state, rounds), metric)(fallback)
      release(pinned)
      converged = settled(n, m)
      pinned = next
      n = m
      state = carry(next)
      rounds += 1
    }
    Fixpoint(state, rounds, converged)
  }
}
