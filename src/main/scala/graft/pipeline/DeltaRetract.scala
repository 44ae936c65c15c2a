package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Formats

/** Shared face I/O and base-snapshot helpers of the O(delta) chain
  * ([[DeltaUpdate]] — takedowns included, as updates to an empty
  * version) and the recount retract sinks:
  *
  *   baseDir/sketch   uncapped (id, key…) postings — written once
  *   baseDir/stats    (key…, cnt) build counts — written once
  *   baseDir/index    the capped serving view at build — written once
  *   baseDir/meta     the family's build parameters ([[writeMeta]])
  *
  * ([[initBase]] writes them), plus footer row counts, the
  * broadcast-size guard and the batch-dir existence check. */
object DeltaRetract {

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
      val persisted = Formats.readParquet(sp, s"$baseDir/meta").collect()
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
          Formats.readParquet(sp, s"$fromBaseDir/meta").collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
        else Map.empty[String, Long]
      } catch {
        case scala.util.control.NonFatal(_) => Map.empty[String, Long]
      }
    writeMeta(sp, toBaseDir, prior ++ params)
  }

  /** Write the base (build-time) faces: the uncapped sketch, its
    * per-key build counts, and the capped serving view — the latter
    * through the FAMILY's own serving function so delta maintenance
    * cannot drift from the batch faces on cap semantics. The sketch is
    * persisted first and every derived face computed from the re-read
    * persisted rows (one upstream materialization, and what the chain
    * later reads is byte-identical to what the derivations saw).
    * Returns the re-read sketch so family wrappers can derive extra
    * faces (the shingle family's `sizes`) without re-tokenizing. */
  def initBase(sp: SparkSession, baseDir: String, sketch: DataFrame,
      keyCols: Seq[String], extraFaces: Seq[DataFrame => Unit] = Nil)(
      serveIndex: DataFrame => DataFrame): DataFrame = {
    sketch.write.mode("overwrite").parquet(s"$baseDir/sketch")
    val sk = Formats.readParquet(sp, s"$baseDir/sketch")
    // stats, index, and the family's extra faces (shingle `sizes`,
    // video `counts`, the `meta` params — each handed the persisted
    // sketch) are INDEPENDENT derivations of it (disjoint output
    // paths, none reads another) — run them as concurrent jobs
    // (guide §2.6) so each write's tasks back-fill cores another's
    // tail leaves idle; chain walls are job-latency-bound, not
    // byte-bound, at every scale the probes measured
    graft.Graft.inParallel(Seq(
      () => sk.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("cnt"))
        .write.mode("overwrite").parquet(s"$baseDir/stats"),
      () => serveIndex(sk).write.mode("overwrite")
        .parquet(s"$baseDir/index")) ++
      extraFaces.map(f => () => f(sk)): _*)
    sk
  }

  /** A zero-row no-scan frame shaped like the face at `path` —
    * [[emptyLike]] without a scan of the face. */
  private[graft] def emptyFace(sp: SparkSession, path: String): DataFrame =
    sp.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      Formats.parquetSchema(sp, path))

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
  private[pipeline] val maxBroadcastRows: Long = 4000000L

  private[pipeline] def broadcastIfSmall(df: DataFrame,
      rows: Long): DataFrame =
    if (rows <= maxBroadcastRows) broadcast(df) else df

  /** A zero-row DataFrame with `of`'s schema that plans NO scan —
    * `df.limit(0)` still carries the source in its plan and a write of
    * it can launch the whole scan job just to emit nothing. */
  private[pipeline] def emptyLike(sp: SparkSession, of: DataFrame): DataFrame =
    sp.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      of.schema)

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
