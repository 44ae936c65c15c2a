package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** O(delta) maintenance of a CAPPED serving index under continuous
  * re-crawl UPDATES and TAKEDOWNS — the engine's one maintenance
  * chain, replacing the per-batch full-sketch rewrite (VERDICT r16
  * "what's wrong" item 2: an archive-wide df recount every
  * micro-batch).
  *
  * A changed document removes its old postings and adds its new ones,
  * so key counts move both ways and cap crossings happen in both
  * directions. What stays decidable: a key's CURRENT count is its
  * build count plus the accumulated SIGNED deltas, and only keys some
  * batch touched can differ from their build count — so "which keys
  * sit under the cap now" is a delta-sized question.
  *
  * A TAKEDOWN is an update to an EMPTY version ([[emptyVersion]]),
  * the reference's own mutation rule (a write to a key replaces the
  * row): zero newrows retract the doc's current postings, a
  * re-submitted takedown finds the empty version and subtracts
  * nothing, and a later re-crawl brings the doc back. One chain is
  * also the only sound routing for mixed streams — a separate
  * takedown chain over the same base would be blind to this chain's
  * statsdelta, and a key touched from both sides would get cap
  * decisions from stale counts. Pure takedowns are gate-certified in
  * s27–s30 and d61/d62, interleavings in d64/s35.
  *
  * The artifact is the [[DeltaRetract.initBase]] snapshot plus
  * PER-BATCH faces, each delta-sized:
  *
  *   artDir/<b>/updids     this batch's updated or taken-down ids (rid)
  *   artDir/<b>/newrows    the new versions' uncapped sketch rows —
  *                         empty for a takedown; the decrement source
  *                         for a LATER batch on the same doc
  *   artDir/<b>/statsdelta (key…, delta) SIGNED count moves: plus the
  *                         new postings, minus the touched docs'
  *                         current (pre-batch) postings
  *
  * and the serving view at batch b assembles from base faces plus
  * delta-sized aggregates only ([[servingView]]):
  *
  *   A: base index rows of never-touched docs whose key is not
  *      currently over the cap;
  *   B: base sketch rows of keys over the cap at build but at-or-below
  *      it now (re-admission — skipped when no key qualifies);
  *   C: the touched docs' LATEST version rows whose key is under the
  *      cap now.
  *
  * Every base-face join broadcasts the delta side and the only
  * aggregates group delta-sized frames (measured in
  * `ScaleProbe updelta`); the residual archive-proportional cost is
  * map-side base scans, prunable under an id-/key-bucketed layout.
  *
  * Equivalence contract (spec-pinned in DeltaUpdateSpec and
  * DeltaRetractSpec, gates s27–s35 and d61–d65): after every batch
  * [[servingView]] is row-identical to the family's capped serving
  * view over the recount-maintained sketch, both cap directions
  * included. Read-predecessor discipline (s16/s22): batch b reads only
  * base faces and batches 0..b-1 and overwrites only its own faces, so
  * a replayed batch re-derives identical output. */
object DeltaUpdate {

  /** The `newRows` face of a TAKEDOWN batch: zero rows shaped like the
    * base sketch at `baseDir`, so a takedown is an update to an empty
    * version (header). No scan is planned behind it. */
  def emptyVersion(sp: SparkSession, baseDir: String): DataFrame =
    DeltaRetract.emptyFace(sp, s"$baseDir/sketch")

  /** One batch of the delta chain (re-crawls, takedowns or both):
    * write this batch's three delta faces from the base faces, batches
    * 0..batchId-1, and the batch's own (updatedIds, newRows) — never a
    * maintained full sketch (there isn't one; that is the point).
    * `updatedIds` is EXPLICIT rather than derived from `newRows`' doc
    * ids: a takedown ([[emptyVersion]]) or a re-crawl whose new payload
    * yields ZERO rows (an emptied document, a truncated media file)
    * must still retract the old postings or its stale rows serve
    * forever (the ADVICE r16 phash/video update-face hazard, fixed
    * structurally here). Idempotent per batch: inputs
    * are persisted faces of strictly earlier batches plus the batch's
    * own rows, outputs overwrite, and each derived frame is
    * materialized once (written, then read back) before being
    * consumed. */
  def step(sp: SparkSession, artDir: String, initName: String,
      batchId: Long, updatedIds: DataFrame, newRows: DataFrame,
      keyCols: Seq[String],
      docId: Column = col("id")): Unit = {
    val base = s"$artDir/$initName"
    val keyCs = keyCols.map(col)
    // write-then-read-back (round 19, guide §1.2 job-count cut): the
    // face write IS the one materialization — every in-step consumer
    // reads the persisted face, which carries the same
    // computed-exactly-once determinism the localCheckpoint+write pair
    // gave at one job per face instead of two (a chain gate runs ~90
    // jobs of ~1 task each; job count is its wall). The two input
    // faces are independent (disjoint paths, neither reads the other)
    // and overlap as concurrent jobs (guide §2.6); both are persisted
    // before anything reads either back.
    DeltaRetract.inParallel(
      () => Dedup.normalizeRemovedIds(updatedIds)
        .write.mode("overwrite").parquet(s"$artDir/$batchId/updids"),
      () => newRows.write.mode("overwrite")
        .parquet(s"$artDir/$batchId/newrows"))
    // face reads pass the footer schema (DeltaRetract.readFace) — no
    // per-call footer-inference job
    val rids = DeltaRetract.readFace(sp, Seq(s"$artDir/$batchId/updids"))
    val rows = DeltaRetract.readFace(sp, Seq(s"$artDir/$batchId/newrows"))
    // at most ONE pinned frame survives the refactor: the batch>0
    // lastBid checkpoint (faces are persisted parquet now)
    var pinnedLastBid: Option[DataFrame] = None
    try {

      // a fully-empty (replayed upstream) batch moves nothing: write a
      // schema-only delta face without touching either base scan
      val deltaSchema = DeltaRetract.emptyLike(sp,
        rows.groupBy(keyCs: _*).agg(lit(0L).as("delta")))
      // footer-count guard (round 19): the persisted updids face's
      // parquet footers already record the row count — reading them
      // driver-side replaces the `rids.isEmpty` job every step paid.
      // The count also feeds the broadcast-size guard below (lastBid
      // has at most one row per updated id).
      val ridsN = DeltaRetract.faceRowCount(sp,
        s"$artDir/$batchId/updids")
      val delta =
        if (ridsN == 0L) deltaSchema
        else {
          // the updated docs' CURRENT postings: base rows for docs
          // never updated before, else their latest prior newrows face
          // — every base-face join broadcasts the delta side. Batch 0
          // has no prior faces to read: everything decrements from
          // base rows.
          // Batch 0 has no prior faces: lastBid degenerates to "every
          // rid decrements from base", and the null-lb projection of
          // the (already persisted) rids face needs no checkpoint of
          // its own — skipping it saves one job on every chain's first
          // step and every generation's local batch 0 (round 19).
          // Batches > 0 keep the checkpoint: the aggregate is consumed
          // by both fromBase and fromPrior.
          val lastBid =
            if (batchId == 0L)
              rids.withColumn("lb", lit(null).cast("long"))
            else {
              val lb = rids
                .join(priorUpdatedWithBid(sp, artDir, batchId),
                  col("rid") === col("prid"), "left")
                .groupBy("rid").agg(max(col("pbid")).as("lb"))
                .localCheckpoint(true)
              pinnedLastBid = Some(lb)
              lb
            }
          val fromBase = DeltaRetract.readFace(sp, Seq(s"$base/sketch"))
            .join(DeltaRetract.broadcastIfSmall(
              lastBid.filter(col("lb").isNull).select("rid"), ridsN),
              docId === col("rid"))
          val fromPrior =
            if (batchId == 0L) DeltaRetract.emptyLike(sp, rows)
            else priorNewWithBid(sp, artDir, batchId)
              .join(DeltaRetract.broadcastIfSmall(
                lastBid.filter(col("lb").isNotNull), ridsN),
                docId === col("rid") && col("nbid") === col("lb"))
          val dec = fromBase.select(keyCs: _*)
            .unionByName(fromPrior.select(keyCs: _*))
            .groupBy(keyCs: _*).agg(count(lit(1)).as("dec"))
          val inc = rows.groupBy(keyCs: _*).agg(count(lit(1)).as("inc"))
          // keep net-ZERO keys: a key the updated doc carries across the
          // re-crawl (inc == dec) must still enter currentCounts, or a
          // BUILD-capped key it kept never reaches overNow and leg C of
          // servingView serves the doc's rows for a still-capped key
          // (ADVICE r17). Still delta-sized — bounded by keys the batch
          // touched either way.
          inc.join(dec, keyCols, "full_outer")
            .na.fill(0L, Seq("inc", "dec"))
            .select(keyCs :+ (col("inc") - col("dec")).as("delta"): _*)
        }
      delta.write.mode("overwrite")
        .parquet(s"$artDir/$batchId/statsdelta")
    } finally {
      pinnedLastBid.foreach(_.unpersist(blocking = false))
    }
    ()
  }

  /** The serving view after batch `upTo` — assembled from the base
    * faces plus delta-sized aggregates only; no archive-wide recount
    * anywhere (scaladoc above for the A/B/C decomposition). `decorate`
    * maps surviving SKETCH-shaped rows (re-admitted base rows plus the
    * updated docs' latest rows) to serving-index-shaped rows — the
    * shingle family joins its CURRENT per-doc sizes on; families whose
    * sketch rows are serving-shaped pass identity. Row-identical to
    * the family recount (the spec-pinned equivalence).
    *
    * The two delta-sized frames the legs SHARE — the updated-doc set
    * (consumed by legs A and B) and the touched-key current counts
    * (overNow feeds legs A and C, readmit feeds leg B and its
    * skip-guard) — are materialized ONCE as eager localCheckpoints
    * (round 20, guide §1.2): the previous pure-lazy shape re-ran each
    * frame's whole sub-plan per consumer, and the assembled probe paid
    * ~3× the delta aggregates plus a dedicated isEmpty job tree —
    * ~44 of s31's 106 jobs were this one probe. The readmit
    * cardinality now rides the counts checkpoint via
    * [[graft.ObservedProbe]], so the leg-B skip decision costs no job
    * at all. Pinned footprint: two delta-sized frames per probe,
    * released by the caller's session sweep (the Verify/Bench
    * contract) — a long-running serving process issuing unbounded
    * probes should unpersist between probes the same way.
    *
    * A family whose decoration also reads the updated-doc set (the
    * shingle sizes, the video scene counts) passes the checkpoint it
    * took with [[touchedDocs]] as `touched`, so one probe derives the
    * set once; without it the view takes its own. */
  def servingView(sp: SparkSession, artDir: String, initName: String,
      upTo: Long, keyCols: Seq[String], maxCnt: Int,
      docId: Column = col("id"), touched: Option[DataFrame] = None)(
      decorate: DataFrame => DataFrame): DataFrame = {
    val base = s"$artDir/$initName"
    val idx = DeltaRetract.readFace(sp, Seq(s"$base/index"))
    val idxCols = idx.columns.toSeq
    val keyCs = keyCols.map(col)
    val updDocs = touched.getOrElse(touchedDocs(sp, artDir, upTo))
    val (cur, readmitN) = graft.ObservedProbe.checkpointWithCount(
      currentCounts(sp, artDir, initName, upTo, keyCols),
      count(when(col("cnt") > maxCnt && col("curCnt") <= maxCnt,
        lit(1))))(cp =>
      cp.filter(col("cnt") > maxCnt && col("curCnt") <= maxCnt).count())
    val overNow = cur.filter(col("curCnt") > maxCnt).select(keyCs: _*)
    val readmit = cur
      .filter(col("cnt") > maxCnt && col("curCnt") <= maxCnt)
      .select(keyCs: _*)

    // a USING-key anti-join moves the key columns first — re-select
    // the index order so the view is column-POSITION-identical to the
    // base index (unionAll/exceptAll consumers are positional)
    val a = idx
      .join(overNow, keyCols, "left_anti")
      .join(updDocs, docId === col("rid"), "left_anti")
      .select(idxCols.map(col): _*)
    // the one base-sketch scan, skipped when no key re-admits (the
    // common case — re-admission needs an update that DROPS enough
    // carriers of a build-capped key); the skip decision is the
    // observed readmit cardinality above — no probe job
    val b =
      if (readmitN == 0L)
        DeltaRetract.emptyFace(sp, s"$base/sketch")
      else DeltaRetract.readFace(sp, Seq(s"$base/sketch"))
        .join(broadcast(readmit), keyCols)
        .join(updDocs, docId === col("rid"), "left_anti")
    val c = latestRows(sp, artDir, upTo, docId)
      .join(overNow, keyCols, "left_anti")
    a.unionByName(
      decorate(b.unionByName(c)).select(idxCols.map(col): _*))
  }

  /** Current count per TOUCHED key — build count plus accumulated
    * signed deltas; untouched keys equal their build count by
    * construction and are not in this frame. (keys…, cnt, curCnt);
    * the build-stats join BROADCASTS the delta side (inner + appended
    * never-at-build keys at cnt 0), so the stats face is only ever
    * scanned map-side. */
  private def currentCounts(sp: SparkSession, artDir: String,
      initName: String, upTo: Long, keyCols: Seq[String]): DataFrame = {
    val keyCs = keyCols.map(col)
    val dd = DeltaRetract.readFace(sp,
        DeltaRetract.facePaths(sp, artDir, "statsdelta", 0L to upTo))
      .groupBy(keyCs: _*).agg(sum("delta").as("dd"))
    val known = broadcast(dd)
      .join(DeltaRetract.readFace(sp, Seq(s"$artDir/$initName/stats")),
        keyCols)
    // keys with no build count (introduced by a new version): cnt 0 —
    // the anti-join's right side is the already-small `known`
    val fresh = dd.join(known.select(keyCs: _*), keyCols, "left_anti")
      .withColumn("cnt", lit(0L))
    known.unionByName(fresh)
      .select(keyCs :+ col("cnt") :+
        (col("cnt") + col("dd")).as("curCnt"): _*)
  }

  /** COMPACTION of a delta chain into a fresh base snapshot — the LSM
    * fold: every probe
    * of [[servingView]] pays the accumulated updids/newrows/statsdelta
    * history (delta-sized per batch but unbounded over a chain's
    * lifetime), so after enough batches the history itself
    * becomes the cost. The current corpus sketch is assembled ONCE —
    * base rows of never-updated docs plus every updated doc's latest
    * version rows — and the base faces re-derive over it through
    * [[DeltaRetract.initBase]] (the one amortized archive-proportional
    * recount the per-batch algebra saves); the chain restarts from
    * batch 0 against the new base dir (fresh artifact dir +
    * checkpoint, the refuse-stale-chain lifetime contract). By
    * construction the compacted base equals the family's deltaBase
    * over the corpus-with-all-latest-versions (taken-down docs have
    * an empty latest version, so they are simply absent) — the d58
    * rebuild contract. The compact cycle (batches → compact → more
    * batches ≡ the one-shot rebuild) is spec-pinned in DeltaUpdateSpec
    * and DeltaRetractSpec and gate-certified for takedowns in d61
    * (shingle) and d62 (video). Family faces beyond the generic three
    * compact in the family wrappers ([[Dedup.shingleUpdateCompact]] re-derives
    * `sizes`, [[Multimodal.videoUpdateCompact]] re-derives `counts` —
    * both from the returned compacted sketch, one aggregate each). */
  def compact(sp: SparkSession, artDir: String, initName: String,
      upTo: Long, newBaseDir: String, keyCols: Seq[String],
      docId: Column = col("id"),
      extraFaces: Seq[DataFrame => Unit] = Nil)(
      serveIndex: DataFrame => DataFrame): DataFrame = {
    val cur = DeltaRetract.readFace(sp, Seq(s"$artDir/$initName/sketch"))
      .join(updatedDocs(sp, artDir, upTo), docId === col("rid"),
        "left_anti")
      .unionByName(latestRows(sp, artDir, upTo, docId))
    DeltaRetract.initBase(sp, newBaseDir, cur, keyCols, extraFaces)(
      serveIndex)
  }

  /** Generation dir of an AUTO-compacted chain ([[autoStep]]). */
  def genDir(artDir: String, gen: Long): String = s"$artDir/gen$gen"

  /** One batch of an AUTO-COMPACTED chain — [[step]] with the
    * compaction trigger as MECHANISM instead of operator discipline
    * (VERDICT r17 item 6: the serving view pays O(chain-length) face
    * reads, and a bound enforced by convention is no bound). Global
    * batch b maps to generation g = b / compactEvery and local batch
    * l = b % compactEvery; the FIRST batch of each generation g > 0
    * first folds generation g−1 — its base plus its compactEvery delta
    * faces — into gen g's base through the family's compact wrapper,
    * then steps as local batch 0 against the fresh base. The mapping
    * is a pure function of the checkpoint's batchId, so the trigger
    * needs no driver state and REPLAY stays idempotent: a re-run
    * threshold batch re-reads the sealed predecessor generation's
    * persisted faces (generations are never deleted by the chain) and
    * re-derives the identical base before overwriting its own delta
    * faces. Serving reads [[autoServingView]] — base of gen g plus at
    * most compactEvery delta faces, the bounded cost the trigger
    * exists to guarantee. Callers build the initial family base at
    * `genDir(artDir, 0)/initName`; `compactFn(prevGenDir, upTo,
    * newBaseDir)` is the family compact (e.g. a partially-applied
    * [[Dedup.shingleUpdateCompact]], which re-derives `sizes`). */
  def autoStep(sp: SparkSession, artDir: String, initName: String,
      batchId: Long, updatedIds: DataFrame, newRows: DataFrame,
      keyCols: Seq[String], compactEvery: Int,
      docId: Column = col("id"))(
      compactFn: (String, Long, String) => Unit): Unit = {
    require(compactEvery >= 1,
      s"autoStep: compactEvery must be >= 1, got $compactEvery")
    val g = batchId / compactEvery
    val l = batchId % compactEvery
    if (l == 0L && g > 0L)
      compactFn(genDir(artDir, g - 1), (compactEvery - 1).toLong,
        s"${genDir(artDir, g)}/$initName")
    step(sp, genDir(artDir, g), initName, l, updatedIds, newRows,
      keyCols, docId)
  }

  /** [[servingView]] of an auto-compacted chain at GLOBAL batch `upTo`
    * — resolves the generation and reads its base plus at most
    * `compactEvery` delta faces. */
  def autoServingView(sp: SparkSession, artDir: String, initName: String,
      upTo: Long, keyCols: Seq[String], maxCnt: Int, compactEvery: Int,
      docId: Column = col("id"))(
      decorate: DataFrame => DataFrame): DataFrame =
    servingView(sp, genDir(artDir, upTo / compactEvery), initName,
      upTo % compactEvery, keyCols, maxCnt, docId)(decorate)

  /** Every doc id updated in batches 0..upTo (distinct, column `rid`)
    * — the set whose BASE rows are superseded. */
  def updatedDocs(sp: SparkSession, artDir: String,
      upTo: Long): DataFrame =
    DeltaRetract.readFace(sp,
        DeltaRetract.facePaths(sp, artDir, "updids", 0L to upTo))
      .distinct()

  /** [[updatedDocs]] materialized once (an eager localCheckpoint): the
    * delta-sized set a serving probe's legs and its family decoration
    * share ([[servingView]]'s `touched`). */
  def touchedDocs(sp: SparkSession, artDir: String,
      upTo: Long): DataFrame =
    updatedDocs(sp, artDir, upTo).localCheckpoint(true)

  /** The updated docs' CURRENT sketch rows: each doc's newrows face
    * from its LATEST update batch (a doc updated twice serves its
    * second version; a doc whose latest version emitted zero rows
    * serves nothing). Delta-sized — bounded by total updates, never
    * archive size. When every newrows face so far is empty (a
    * takedown-only chain) the footers say so without a job, and the
    * latest-batch aggregate and its broadcast are skipped. */
  def latestRows(sp: SparkSession, artDir: String, upTo: Long,
      docId: Column = col("id")): DataFrame = {
    val paths = DeltaRetract.facePaths(sp, artDir, "newrows", 0L to upTo)
    if (paths.forall(DeltaRetract.faceRowCount(sp, _) == 0L))
      sp.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        DeltaRetract.facesSchema(sp, paths))
    else {
      val last = priorUpdatedWithBid(sp, artDir, upTo + 1L)
        .groupBy(col("prid").as("rid")).agg(max(col("pbid")).as("lb"))
      priorNewWithBid(sp, artDir, upTo + 1L)
        .join(broadcast(last),
          docId === col("rid") && col("nbid") === col("lb"))
        .drop("rid", "lb", "nbid")
    }
  }

  // the per-batch id/row faces of batches 0..before-1, each tagged
  // with its batch id (a parquet multi-path read loses provenance, and
  // "latest version per doc" needs it). Callers guarantee before >= 1;
  // step's batch-0 path never reads prior faces.
  // The schema comes from the footers, checked across every path
  // (DeltaRetract.facesSchema: a takedown's empty newrows face sits
  // next to tokenizer-written ones, and drift must fail loudly here):
  // the per-batch `sp.read.parquet` calls here each paid a
  // footer-inference job, ×2 face kinds × every serving-view consumer
  // — the single largest scheduled-job source the round-20 census
  // found in the chains.
  private def priorUpdatedWithBid(sp: SparkSession, artDir: String,
      before: Long): DataFrame = {
    val paths = DeltaRetract.facePaths(sp, artDir, "updids",
      0L until before)
    val schema = DeltaRetract.facesSchema(sp, paths)
    paths.zipWithIndex.map { case (p, i) =>
      sp.read.schema(schema).parquet(p)
        .select(col("rid").as("prid"), lit(i.toLong).as("pbid"))
    }.reduce(_ unionByName _)
  }

  private def priorNewWithBid(sp: SparkSession, artDir: String,
      before: Long): DataFrame = {
    val paths = DeltaRetract.facePaths(sp, artDir, "newrows",
      0L until before)
    val schema = DeltaRetract.facesSchema(sp, paths)
    paths.zipWithIndex.map { case (p, i) =>
      sp.read.schema(schema).parquet(p).withColumn("nbid", lit(i.toLong))
    }.reduce(_ unionByName _)
  }
}
