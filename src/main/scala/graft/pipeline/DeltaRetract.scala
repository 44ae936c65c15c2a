package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** O(delta) maintenance of a CAPPED serving index under continuous
  * takedowns — the successor to the per-batch full recount the
  * streaming retract chain shipped with (VERDICT r15 "what's wrong"
  * item 1: `shingleServingIndex` / `phashServingIndex` re-aggregate
  * document frequency over the ENTIRE surviving sketch every
  * micro-batch, an archive-proportional shuffle per takedown batch).
  *
  * The algebra that makes a delta possible: retraction only ever
  * DECREMENTS a key's count, so
  *
  *   - a serving row (its key was under the cap) stays valid until its
  *     OWN document is tombstoned — no recheck needed;
  *   - the only rows that ever ENTER the serving view are cap
  *     resurrections: a key whose count crosses from above `maxCnt` to
  *     at-or-below it, which happens AT MOST ONCE per key (counts are
  *     monotone under retraction);
  *   - whether a key crosses this batch is decidable from its BUILD
  *     count (persisted once), the accumulated prior decrements
  *     (delta-sized), and this batch's decrements (computed from the
  *     takedown docs' own postings).
  *
  * So the maintained artifact is the base snapshot plus PER-BATCH
  * delta faces, and per-batch WRITES are delta-sized:
  *
  *   baseDir/sketch      uncapped (id, key…) postings — written once
  *   baseDir/stats       (key…, cnt) build counts — written once
  *   baseDir/index       the capped serving view at build — written once
  *   artDir/<b>/tombs      this batch's takedown ids (rid)
  *   artDir/<b>/statsdelta (key…, dec) — decrements from the takedown
  *                         docs' postings, NOT from a sketch recount
  *   artDir/<b>/resurrect  serving-shaped rows admitted this batch
  *
  * and the serving view at batch b is assembled WITHOUT any
  * archive-wide aggregate:
  *
  *   (base index ∪ resurrect/0..b) ⟕̸ tombs/0..b   (id anti-join)
  *
  * Per-batch SHUFFLED bytes are delta-proportional: every join against
  * a base face broadcasts the delta side (takedown ids, candidate
  * keys), so the base sketch/stats are only ever SCANNED map-side —
  * and the resurrection scan short-circuits to zero when no key
  * crosses the cap (the common case; the candidate check is a
  * delta-sized aggregate, driver-safe). The residual archive-
  * proportional cost is those map-side scans of 8–16-byte-keyed rows;
  * at cluster scale both lookups prune to touched files under an
  * id-/key-bucketed layout, and neither pays the recount's
  * archive-wide hash aggregate (measured: `ScaleProbe delta`).
  *
  * Equivalence contract (spec-pinned, DeltaRetractSpec; gates s27/s28
  * replay it under the driver oracle): after every batch,
  * [[servingView]] is row-identical to the recount
  * (`shingleServingIndex(shingleSketchRetract(…))` and the phash
  * twin), cap resurrection included. Read-predecessor discipline
  * (s16/s22): batch b reads only the base faces and batches 0..b-1,
  * overwrites only its own faces — a replayed batch re-derives
  * identical output from identical persisted input. */
object DeltaRetract {

  /** Write the base (build-time) faces: the uncapped sketch, its
    * per-key build counts, and the capped serving view — the latter
    * through the FAMILY's own serving function so delta maintenance
    * cannot drift from the batch faces on cap semantics. The sketch is
    * persisted first and every derived face computed from the re-read
    * persisted rows (one upstream materialization, and what the chain
    * later reads is byte-identical to what the derivations saw).
    * Returns the re-read sketch so family wrappers can derive extra
    * faces (the shingle family's `sizes`) without re-tokenizing. */
  /** Persist the family's build parameters (cap values, shingle k, …)
    * as a tiny `meta` face next to the base faces. The base's serving
    * index was derived AT those values; a later consumer folding or
    * re-deriving at different ones silently diverges from pre-fold
    * serving (ADVICE r18: `shingleDeltaUpdateSink(maxDf = …)` against
    * a base built at another maxDf compacted at the wrong cap). The
    * chain sinks call [[assertMeta]] before every generation fold. */
  def writeMeta(sp: SparkSession, baseDir: String,
      params: Map[String, Long]): Unit = {
    import sp.implicits._
    params.toSeq.sortBy(_._1).toDF("param", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$baseDir/meta")
  }

  /** Assert the caller's parameters match the base artifact's
    * persisted `meta` face. A base WITHOUT the face (built before the
    * face existed, or hand-assembled) checks nothing — the guard is
    * against a silent mismatch with a recorded truth, not a
    * requirement that every base carry one. The meta rows are a
    * handful of (param, value) pairs; the read is a single tiny file,
    * paid once per generation fold, never per batch. */
  def assertMeta(sp: SparkSession, baseDir: String,
      params: Map[String, Long]): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$baseDir/meta")
    val exists =
      try p.getFileSystem(sp.sparkContext.hadoopConfiguration).exists(p)
      catch { case scala.util.control.NonFatal(_) => false }
    if (exists) {
      val persisted = readFace(sp, Seq(s"$baseDir/meta")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      params.foreach { case (k, v) =>
        persisted.get(k).foreach(pv => require(pv == v,
          s"chain parameter $k=$v does not match the base artifact at " +
            s"$baseDir (built with $k=$pv) — folding or serving at a " +
            "different value would silently diverge the compacted " +
            "index from pre-fold serving; rebuild the base or pass " +
            "the recorded value"))
      }
    }
  }

  /** [[writeMeta]] carrying FORWARD the source base's recorded params
    * merged with the caller's (caller wins): a fold that only knows
    * its own cap value (the winnow retract sink knows maxDf but not
    * the k/w the sketch was built with) must not DROP the build params
    * the family's other sinks assert against on later generations. */
  def propagateMeta(sp: SparkSession, fromBaseDir: String,
      toBaseDir: String, params: Map[String, Long]): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$fromBaseDir/meta")
    val prior =
      try {
        if (p.getFileSystem(sp.sparkContext.hadoopConfiguration).exists(p))
          readFace(sp, Seq(s"$fromBaseDir/meta")).collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
        else Map.empty[String, Long]
      } catch {
        case scala.util.control.NonFatal(_) => Map.empty[String, Long]
      }
    writeMeta(sp, toBaseDir, prior ++ params)
  }

  def initBase(sp: SparkSession, baseDir: String, sketch: DataFrame,
      keyCols: Seq[String], extraFaces: Seq[DataFrame => Unit] = Nil)(
      serveIndex: DataFrame => DataFrame): DataFrame = {
    sketch.write.mode("overwrite").parquet(s"$baseDir/sketch")
    val sk = readFace(sp, Seq(s"$baseDir/sketch"))
    // stats, index, and the family's extra faces (shingle `sizes`,
    // video `counts`, the `meta` params — each handed the persisted
    // sketch) are INDEPENDENT derivations of it (disjoint output
    // paths, none reads another) — run them as concurrent jobs
    // (guide §2.6) so each write's tasks back-fill cores another's
    // tail leaves idle; chain walls are job-latency-bound, not
    // byte-bound, at every scale the probes measured
    inParallel(Seq(
      () => sk.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("cnt"))
        .write.mode("overwrite").parquet(s"$baseDir/stats"),
      () => serveIndex(sk).write.mode("overwrite")
        .parquet(s"$baseDir/index")) ++
      extraFaces.map(f => () => f(sk)): _*)
    sk
  }

  /** Run independent write legs as CONCURRENT Spark jobs (guide §2.6:
    * actions are only sequential because driver code calls them
    * sequentially). Callers guarantee the legs touch disjoint output
    * paths and read only inputs persisted before the call.
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
    * wait is BOUNDED ([[legTimeoutS]], env-tunable) — a leg wedged in a
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
    * one), sized to sit inside any external harness budget, and
    * env-tunable for cluster runs where a face write can legitimately
    * take longer. */
  private[graft] val legTimeoutS: Long =
    sys.env.get("SPARK_GRAFT_LEG_TIMEOUT_S").map(_.toLong)
      .getOrElse(600L).max(1L)

  /** Schema of an ENGINE-WRITTEN parquet face, read DRIVER-SIDE from
    * one part file's footer — no Spark job. `sp.read.parquet(path)`
    * schedules a footer-inference job on EVERY call (Spark merges
    * footers distributedly even for one file), which the round-20
    * census showed charging one ~20–80 ms job per face read across the
    * chain machinery — ~10 per serving probe, ~2 per prior-batch face
    * in the per-batch read loops. Spark persists the exact StructType
    * (nullability included) in the footer's `row.metadata` key at
    * write time, so reading it back driver-side is lossless for every
    * face this engine writes; a face written without the key (foreign
    * writer) falls back to converting the parquet MessageType. NEVER
    * use this for fixture tables (their reads go through
    * [[graft.Tables.load]], which owns the nanos handling). */
  private[graft] def faceSchema(sp: SparkSession,
      path: String): org.apache.spark.sql.types.StructType = {
    val conf = sp.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val file = fs.listStatus(p).iterator
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .toSeq.headOption.getOrElse(throw new IllegalArgumentException(
        s"no .parquet data files directly under $path — cannot read a " +
          "face schema from an empty or foreign-layout dir"))
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromStatus(file, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val md = r.getFooter.getFileMetaData
      Option(md.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
        .getOrElse(new org.apache.spark.sql.execution.datasources.parquet
          .ParquetToSparkSchemaConverter(conf).convert(md.getSchema))
    } finally r.close()
  }

  /** Read engine-written face(s) with the schema taken from the first
    * path's footer ([[faceSchema]]) — skips the scheduled
    * footer-inference job `sp.read.parquet` pays per call. */
  private[graft] def readFace(sp: SparkSession,
      paths: Seq[String]): DataFrame =
    sp.read.schema(faceSchema(sp, paths.head)).parquet(paths: _*)

  /** A zero-row no-scan frame shaped like the face at `path` —
    * [[emptyLike]] without the footer-inference job of reading the
    * face first. */
  private[graft] def emptyFace(sp: SparkSession, path: String): DataFrame =
    sp.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      faceSchema(sp, path))

  /** Driver-side row count of a just-written parquet face — summed
    * from the part-file footers, no Spark job. Used for the per-batch
    * empty-batch guards, which previously paid a scheduled job
    * (`read.parquet(face).isEmpty`) per chain step to learn a number
    * the write already recorded in its own footers. */
  private[pipeline] def faceRowCount(sp: SparkSession,
      path: String): Long = {
    val conf = sp.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val files = fs.listStatus(p).iterator
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .toSeq
    // a successfully written face always carries ≥ 1 schema-bearing
    // part file (spec-pinned, DeltaRetractSpec) — zero matches means a
    // partitioned/renamed layout this reader does not understand, and
    // silently summing to 0 would flip the empty-batch guard into a
    // fail-OPEN takedown (ADVICE r19); fail loudly instead
    require(files.nonEmpty,
      s"no .parquet data files directly under $path — the face was " +
        "written with an unexpected layout (partitioned dirs or a " +
        "committer that names files differently); the footer-count " +
        "guard cannot read it and must not default to 0")
    files.map { st =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(st, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** One takedown batch of the delta chain: write this batch's three
    * delta faces (tombs, statsdelta, resurrect) from the base faces
    * and batches 0..batchId-1 only. `decorate` maps resurrected SKETCH
    * rows to serving-index-shaped rows (the shingle family joins its
    * per-doc `n_c` back on; the phash family's sketch rows already ARE
    * serving-shaped); the result is column-aligned to the base index
    * before writing. Idempotent per batch: inputs are persisted faces
    * of STRICTLY EARLIER batches, outputs overwrite, and each derived
    * face is materialized ONCE (written, then read back) before being
    * consumed downstream — a nondeterministic upstream batch cannot
    * diverge between the write and the joins. */
  def step(sp: SparkSession, artDir: String, initName: String,
      batchId: Long, takedownIds: DataFrame, keyCols: Seq[String],
      maxCnt: Int, decorate: DataFrame => DataFrame,
      docId: org.apache.spark.sql.Column = col("id")): Unit = {
    val base = s"$artDir/$initName"
    // face reads pass the footer schema (faceSchema/readFace) so none
    // of them schedules the per-call footer-inference job; the index
    // read for COLUMN NAMES alone needs no read at all
    val baseSketch = readFace(sp, Seq(s"$base/sketch"))
    val idxCols = faceSchema(sp, s"$base/index").fieldNames.toSeq
    val keyCs = keyCols.map(col)

    val priorTombs =
      if (batchId == 0L)
        emptyLike(sp, Dedup.normalizeRemovedIds(takedownIds))
      else readFace(sp,
        facePaths(sp, artDir, "tombs", 0L until batchId))
    // drop ids already tombstoned (a re-submitted takedown must not
    // decrement its postings a second time). Write-then-read-back
    // (round 19, guide §1.2 job-count cut): the face write is the one
    // materialization and every downstream consumer reads the
    // persisted face — identical determinism to the former
    // localCheckpoint+write pair (a nondeterministic upstream batch
    // cannot diverge between the write and the joins) at one job per
    // face instead of two.
    Dedup.normalizeRemovedIds(takedownIds)
      .join(priorTombs.select(col("rid").as("prid")),
        col("rid") === col("prid"), "left_anti")
      .write.mode("overwrite").parquet(s"$artDir/$batchId/tombs")
    val rids = readFace(sp, Seq(s"$artDir/$batchId/tombs"))

    // a fully-duplicate (replayed upstream) batch decrements nothing:
    // write schema-only empty faces without touching either base scan.
    // The guard reads the just-written face's parquet footers
    // driver-side — the same number `rids.isEmpty` computed, minus the
    // scheduled job it cost on every step (round 19, guide §1.2)
    val ridsN = faceRowCount(sp, s"$artDir/$batchId/tombs")
    val batchDead = ridsN == 0L
    // decrements from the takedown docs' OWN postings — an id-keyed
    // lookup into the base sketch (broadcast delta side while it is
    // provably small; prunes to touched files under an id-bucketed
    // layout), never a recount
    (if (batchDead)
      emptyLike(sp, baseSketch.groupBy(keyCs: _*)
        .agg(count(lit(1)).as("dec")))
    else baseSketch.join(broadcastIfSmall(rids, ridsN),
        docId === col("rid"))
      .groupBy(keyCs: _*).agg(count(lit(1)).as("dec")))
      .write.mode("overwrite").parquet(s"$artDir/$batchId/statsdelta")
    val dec = readFace(sp, Seq(s"$artDir/$batchId/statsdelta"))

    val priorDec =
      if (batchId == 0L)
        emptyLike(sp, dec.withColumnRenamed("dec", "pdec"))
      else readFace(sp,
          facePaths(sp, artDir, "statsdelta", 0L until batchId))
        .groupBy(keyCs: _*).agg(sum("dec").as("pdec"))

    // cap-crossing keys: above the cap BEFORE this batch (build count
    // minus prior decrements), at-or-below it after — checked only for
    // keys this batch actually decremented
    // the candidate cardinality is OBSERVED during the checkpoint job
    // (round 20, ObservedProbe) — the short-circuit decision previously
    // paid a second isEmpty job per step on every non-dead batch
    val candidates =
      if (batchDead) None
      else Some(graft.ObservedProbe.checkpointWithCount(
        dec
          .join(readFace(sp, Seq(s"$base/stats")), keyCols)
          .join(priorDec, keyCols, "left")
          .na.fill(0L, Seq("pdec"))
          .filter(col("cnt") - col("pdec") > maxCnt &&
            col("cnt") - col("pdec") - col("dec") <= maxCnt)
          .select(keyCs: _*),
        count(lit(1)))(_.count()))
    val resurrect = candidates match {
      case Some((cand, candN)) if candN > 0L =>
        val allTombs = priorTombs.unionAll(rids)
        decorate(baseSketch.join(broadcastIfSmall(cand, candN), keyCols))
          .join(allTombs, docId === col("rid"), "left_anti")
          .select(idxCols.map(col): _*)
      case _ =>
        // schema-only: no scan hides behind a limit(0) over the index
        emptyFace(sp, s"$base/index")
    }
    resurrect.write.mode("overwrite")
      .parquet(s"$artDir/$batchId/resurrect")
    candidates.foreach(_._1.unpersist(blocking = false))
    ()
  }

  /** Broadcast-size guard for the chain delta joins (VERDICT r19 item
    * 6): every base-face lookup broadcasts the DELTA side, which is
    * correct while takedown/update batches are delta-sized — but an
    * adversarially large batch (a bulk takedown of half the corpus)
    * must not be forced through a driver-collected broadcast toward
    * the hard 8 GB / 512M-row caps. `rows` is the already-known footer
    * count of the persisted face (free — no job), so the guard costs
    * nothing: at or under the threshold the plan keeps its broadcast
    * hint; above it the hint is dropped and the planner (AQE at
    * runtime) picks the strategy for a genuinely large side. The
    * threshold is rows, not bytes, because the delta faces are
    * narrow (an 8-byte id, or a ≤16-byte key tuple): 4M rows is tens
    * of MB framed — two orders of magnitude inside the caps. */
  private[pipeline] val maxBroadcastRows: Long =
    sys.env.get("SPARK_GRAFT_MAX_BCAST_ROWS").map(_.toLong)
      .getOrElse(4000000L)

  private[pipeline] def broadcastIfSmall(df: DataFrame,
      rows: Long): DataFrame =
    if (rows <= maxBroadcastRows) broadcast(df) else df

  /** A zero-row DataFrame with `of`'s schema that plans NO scan —
    * `df.limit(0)` still carries the source in its plan and a write of
    * it can launch the whole scan job just to emit nothing. (Shared
    * with [[DeltaUpdate]], the signed-delta twin.) */
  private[pipeline] def emptyLike(sp: SparkSession, of: DataFrame): DataFrame =
    sp.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      of.schema)

  /** The serving view after batch `upTo` — base index plus every
    * admitted resurrection, minus every tombstoned document. No
    * aggregate anywhere: one union and one id anti-join against the
    * (delta-sized) accumulated tombstones. Row-identical to the
    * from-scratch recount over the surviving sketch (the spec-pinned
    * equivalence). */
  def servingView(sp: SparkSession, artDir: String, initName: String,
      upTo: Long,
      docId: org.apache.spark.sql.Column = col("id")): DataFrame = {
    val idx = readFace(sp, Seq(s"$artDir/$initName/index"))
    val res = readFace(sp,
      facePaths(sp, artDir, "resurrect", 0L to upTo))
    // no broadcast hint: per-batch tombs are tiny but the ACCUMULATED
    // history is unbounded over a chain's lifetime — let AQE promote
    // the anti-join to broadcast while it fits instead of forcing it
    idx.unionByName(res.select(idx.columns.map(col): _*))
      .join(tombstones(sp, artDir, upTo), docId === col("rid"),
        "left_anti")
  }

  /** COMPACTION of a delta chain into a fresh base snapshot — the LSM
    * fold: every probe of [[servingView]] pays a union over the
    * accumulated resurrect faces and an anti-join over the accumulated
    * tombstones, so after enough takedown batches the history itself
    * becomes the cost. Compaction rewrites the three base faces over
    * the SURVIVORS (sketch ∖ tombstones; stats and serving index
    * re-derived through [[initBase]] — the ONE amortized
    * archive-proportional recount the delta algebra saves per batch),
    * and the chain restarts from batch 0 against the new base dir
    * (a FRESH artifact dir + checkpoint, per the refuse-stale-chain
    * lifetime contract). By construction the compacted base equals the
    * family's deltaBase over the surviving corpus — the same
    * derivations run on the same survivor rows — and the d61 gate
    * certifies the full cycle: deltas → compact → more deltas ≡ the
    * one-shot recount over all takedowns. Family faces beyond the
    * generic three (shingle `sizes`, video `counts`) compact in the
    * family wrappers ([[Dedup.shingleDeltaCompact]],
    * [[Multimodal.videoDeltaCompact]]) — both are per-doc-intrinsic,
    * so their compaction is one tombstone anti-join, no recount; the
    * phash and winnow chains have no extra face and compact through
    * this generic fold directly (spec-certified cycles in
    * DeltaRetractSpec; the video two-face cycle is gate d62). */
  def compact(sp: SparkSession, artDir: String, initName: String,
      upTo: Long, newBaseDir: String, keyCols: Seq[String],
      docId: org.apache.spark.sql.Column = col("id"),
      extraFaces: Seq[DataFrame => Unit] = Nil)(
      serveIndex: DataFrame => DataFrame): DataFrame = {
    val sketch = readFace(sp, Seq(s"$artDir/$initName/sketch"))
    val surv = sketch.join(tombstones(sp, artDir, upTo),
      docId === col("rid"), "left_anti")
    initBase(sp, newBaseDir, surv, keyCols, extraFaces)(serveIndex)
  }

  /** One batch of an AUTO-COMPACTED retract chain — the retract twin
    * of [[DeltaUpdate.autoStep]] (same generation addressing, same
    * idempotence argument: the mapping is a pure function of the
    * checkpoint's batchId, the threshold batch folds the SEALED
    * predecessor generation into this one's base through the family
    * compact before stepping as local batch 0, and a replay re-derives
    * the identical base from the same persisted faces). Bounds the
    * serving view's accumulated-history cost at `compactEvery` faces
    * by mechanism. Callers build the initial base at
    * `DeltaUpdate.genDir(artDir, 0)/initName`. */
  def autoStep(sp: SparkSession, artDir: String, initName: String,
      batchId: Long, takedownIds: DataFrame, keyCols: Seq[String],
      maxCnt: Int, compactEvery: Int,
      decorate: DataFrame => DataFrame,
      docId: org.apache.spark.sql.Column = col("id"))(
      compactFn: (String, Long, String) => Unit): Unit = {
    require(compactEvery >= 1,
      s"autoStep: compactEvery must be >= 1, got $compactEvery")
    val g = batchId / compactEvery
    val l = batchId % compactEvery
    if (l == 0L && g > 0L)
      compactFn(DeltaUpdate.genDir(artDir, g - 1),
        (compactEvery - 1).toLong,
        s"${DeltaUpdate.genDir(artDir, g)}/$initName")
    step(sp, DeltaUpdate.genDir(artDir, g), initName, l, takedownIds,
      keyCols, maxCnt, decorate, docId)
  }

  /** [[servingView]] of an auto-compacted retract chain at GLOBAL
    * batch `upTo`. */
  def autoServingView(sp: SparkSession, artDir: String,
      initName: String, upTo: Long, compactEvery: Int,
      docId: org.apache.spark.sql.Column = col("id")): DataFrame =
    servingView(sp, DeltaUpdate.genDir(artDir, upTo / compactEvery),
      initName, upTo % compactEvery, docId)

  /** The accumulated tombstones through batch `upTo` — exposed for
    * family faces the generic view does not assemble (the video
    * family's per-doc scene counts are maintained as base counts ∖
    * tombstones at view time, the same algebra as the index face). */
  def tombstones(sp: SparkSession, artDir: String,
      upTo: Long): DataFrame =
    readFace(sp, facePaths(sp, artDir, "tombs", 0L to upTo))

  /** The per-batch face paths for a contiguous id range,
    * existence-checked UP FRONT through the same Hadoop FileSystem
    * resolver the reads use: the chain contract assumes contiguous
    * batch dirs, and a trigger that commits a batch id without
    * invoking the sink (or a manually deleted id) would otherwise
    * surface as an unhelpful mid-read parquet error naming one shard —
    * this names the missing batch and the dir instead (ADVICE r16,
    * mirroring `lastBatchId`'s message discipline). */
  private[pipeline] def facePaths(sp: SparkSession, artDir: String,
      face: String, ids: Seq[Long]): Seq[String] = {
    val conf = sp.sparkContext.hadoopConfiguration
    ids.map { i =>
      val p = new org.apache.hadoop.fs.Path(s"$artDir/$i/$face")
      require(p.getFileSystem(conf).exists(p),
        s"missing batch $i face '$face' under $artDir — the delta " +
          "chain has a gap (a batch id was skipped or its artifacts " +
          "deleted); recover the missing batch or restart the chain " +
          "from a fresh compacted base")
      p.toString
    }
  }
}
