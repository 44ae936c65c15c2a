package graft

import org.apache.spark.sql.SparkSession

/** Engine front door: a SparkSession builder with the configuration the
  * engine is designed around. Callers on a real cluster pass their own
  * master/memory; these settings are the data-shape-dependent ones.
  *
  * Scale rationale (SURVEY §4.3, builder prompt):
  *  - shuffle.partitions sized to cores locally; on a 1000-executor
  *    cluster raise to ~2-3× total cores (AQE coalesces the excess).
  *  - maxPartitionBytes at 128 MB: the raw meter table is ~46 KB/row, so
  *    a scan partition holds ~2,900 rows of 15k-float arrays — comfortably
  *    in executor memory even with decode amplification.
  *  - AQE on: runtime shuffle coalescing, skew-join splitting, and
  *    broadcast conversion are the main levers the engine relies on
  *    instead of hand-tuned per-query hints.
  *  - UTC session timezone: all reference timestamps are UTC
  *    (core.clj:63-66); oracle parity requires it.
  *  - codegen cache sized to the query surface: the default
  *    `spark.sql.codegen.cache.maxEntries` (100, a static JVM-wide LRU
  *    of compiled whole-stage-codegen classes) thrashes once a session
  *    serves ~dozens of distinct queries × several codegen stages each —
  *    every re-run then re-pays janino compilation (~50-200 ms/stage).
  *    Root-caused in round 9 (BASELINE.md): raising it took the full
  *    153-query bench 102.3 → 68.9 s. A production session serving a
  *    large query surface needs this on the FRONT DOOR, not just in the
  *    benchmark harness. Sized to hold every stage of a large registry
  *    with headroom: the per-round plans of the fixpoint family and the
  *    per-batch plans of the streaming rows each compile their own
  *    stages, so the distinct-plan working set grows faster than the
  *    registry count (4096 was sized at 141 registry queries; 16384
  *    covers the 192-query surface with the same ×2-plus margin —
  *    entries are soft-referenced class objects, so oversizing costs
  *    only reclaimable heap).
  *  - a fork-free local filesystem ([[sources.ForkFreeRawLocalFileSystem]])
  *    for the `file` scheme, through both Hadoop APIs. Without libhadoop
  *    the stock `RawLocalFileSystem` spawns a `chmod` process for every
  *    file and directory it creates and a `readlink` for every path a
  *    `FileContext` rename checks: dozens of forks per meter micro-batch,
  *    twenty of them serial on the stream thread inside the offsets and
  *    commits log writes, and hundreds per backfill. The engine class does
  *    both calls with `java.nio.file` and keeps the stock code for the
  *    sticky bit, special mode bits, non-POSIX file stores and real
  *    symlinks; a cluster with libhadoop keeps its native `chmod`. Files
  *    and `.crc` checksums are unchanged. Registered here, so every
  *    session the engine builds (Main, Bench, Verify, the specs, the
  *    benchmark) gets it; no option turns it off.
  */
object Graft {
  def sessionBuilder(appName: String = "graft",
      master: String = "local[32]",
      shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .withExtensions(new plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", s"${128 * 1024 * 1024}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "16384")
      .config("spark.hadoop.fs.file.impl",
        classOf[sources.ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[sources.ForkFreeLocalFs].getName)
      // Shuffle/broadcast/spill scratch on the fastest writable local
      // volume (round 19, guide §2.1/§6): every Exchange writes its map
      // output to spark.local.dir, and on this box the default
      // (/tmp, journaled ext4) charges creat/rename/unlink metadata
      // latency to every one of the session's hundreds of small
      // shuffles. tmpfs removes that overhead; at 100 TB the same knob
      // points at striped local NVMe (SPARK_LOCAL_DIRS there — this
      // conf is ignored when the cluster manager sets it, which is
      // exactly the production override path). Bounded residency:
      // Spark removes its blockmgr-*/spark-* dirs on session stop.
      // A RAM-backed volume is only a safe SPILL target with headroom
      // — a memory-pressure spill that lands on full tmpfs converts a
      // graceful disk spill into an allocation failure — so the tmpfs
      // default applies only with ≥ 32 GiB free there; below that the
      // session keeps the JVM tmpdir default.
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", {
          val b = new java.io.File(TmpHygiene.scratchBase)
          if (b.getUsableSpace >= 32L * 1024 * 1024 * 1024)
            TmpHygiene.scratchBase
          else System.getProperty("java.io.tmpdir")
        }))
      // The ANN ladder's per-query top-k runs as an ObjectHashAggregate
      // (graft.functions.TopKPairsAgg); past this many groups per task
      // Spark silently falls back to SORT-BASED aggregation, which
      // reintroduces the exact 125M-row candidate sort the aggregate
      // exists to avoid (BASELINE.md round-10 ANN decomposition).
      // Buffers are ~16·k bytes, so 65536 live groups is tens of MB.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "65536")

  /** Run independent write legs as CONCURRENT Spark jobs (guide §2.6:
    * actions are only sequential because driver code calls them
    * sequentially). Callers guarantee the legs touch disjoint output
    * paths, and that an input two legs share is either persisted before
    * the call or cheap enough to evaluate once per leg (the meter write
    * path's legs each re-read one micro-batch, `Rollups.writeAll`).
    *
    * Threading contract (ADVICE r19): legs run on FRESH threads created
    * by the calling thread, never a shared pool — SparkContext local
    * properties (job group, scheduler pool, streaming-query group) are
    * an InheritableThreadLocal, so a thread created here inherits the
    * caller's properties and leg jobs stay cancellable with their
    * parent query, where a reused pool thread carries whatever
    * properties the thread that lazily created it had. Each leg also
    * tags its own jobs (`SparkContext.addJobTag`), which, unlike a job
    * group, leaves the inherited group in place.
    *
    * Await contract: all legs are awaited before returning, but the
    * wait is BOUNDED ([[legTimeoutS]]) — a leg wedged in a
    * hung job surfaces as a named TimeoutException instead of blocking
    * a streaming micro-batch forever. Before that error is thrown, every
    * still-running leg's jobs are cancelled by tag, so no zombie write
    * races the replay that overwrites every face.
    * On failure the FIRST leg's error (leg order, deterministic) is
    * rethrown with the others attached as suppressed. */
  private[graft] def inParallel(legs: (() => Unit)*): Unit =
    inParallelTimed(legTimeoutS, legs: _*)

  /** [[inParallel]] with the await bound injectable (spec hook — the
    * production path always passes [[legTimeoutS]]). */
  private[graft] def inParallelTimed(timeoutS: Long,
      legs: (() => Unit)*): Unit =
    if (legs.sizeIs <= 1) legs.foreach(_.apply())
    else {
      val sc = SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession).map(_.sparkContext)
      val call = java.util.UUID.randomUUID()
      val errs = new java.util.concurrent.atomic.AtomicReferenceArray[Throwable](legs.size)
      val ts = legs.zipWithIndex.map { case (l, i) =>
        val tag = s"graft-face-leg-$call-$i"
        val t = new Thread(() => {
          try { sc.foreach(_.addJobTag(tag)); l() }
          catch { case e: Throwable => errs.set(i, e) }
        }, s"graft-face-leg-$i")
        t.setDaemon(true)
        t.start()
        (t, tag)
      }
      val deadlineNs = System.nanoTime() + timeoutS * 1000000000L
      ts.foreach { case (t, _) =>
        t.join(math.max(1L, (deadlineNs - System.nanoTime()) / 1000000L))
      }
      val hung = ts.filter(_._1.isAlive)
      hung.foreach { case (_, tag) => sc.foreach(_.cancelJobsWithTag(tag,
        s"face-write leg still running after ${timeoutS}s")) }
      val all = (0 until legs.size).flatMap(i => Option(errs.get(i))) ++
        (if (hung.isEmpty) Nil
        else Seq(new java.util.concurrent.TimeoutException(
          s"face-write legs still running after ${timeoutS}s: " +
            hung.map(_._1.getName).mkString(", ") + " — their jobs are " +
            "cancelled, failing the batch; replay overwrites every face")))
      all.headOption.foreach { first =>
        all.drop(1).foreach(first.addSuppressed)
        throw first
      }
    }

  /** Bounded await for [[inParallel]] legs — generous (a leg is one
    * delta-sized face write; minutes mean a wedged job, not a slow
    * one), sized to sit inside any external harness budget. */
  private[graft] val legTimeoutS: Long = 600L

  /** JSON string literal (quotes included): escapes backslash, quote, and
    * ALL control chars < 0x20 — a tab or CR in an exception message or in
    * builder-authored SQL must not invalidate a single-line artifact. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def session(): SparkSession = {
    val s = sessionBuilder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    meter.SaidSeed.register(s)
    s
  }
}
