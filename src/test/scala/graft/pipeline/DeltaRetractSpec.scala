package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Takedowns on the one O(delta) chain ([[DeltaUpdate]]): a takedown
  * batch is an update to an EMPTY version ([[DeltaUpdate.emptyVersion]]),
  * and after every batch the family serving view is row-identical to
  * the full recount over the surviving sketch
  * ([[Dedup.shingleIndexRetract]] / [[Multimodal.phashIndexRetract]] /
  * … — the round-15 implementation, which stays on as the oracle), cap
  * re-admission included. The recount shuffles the whole sketch per
  * batch; the delta chain writes only delta faces — same rows, by
  * construction here, not by luck. Also pins [[DeltaUpdate]]'s face
  * helpers (`faceRowCount`, `broadcastIfSmall`). */
class DeltaRetractSpec extends SparkSpec {

  private def shingleRows(d: DataFrame) = d.collect()
    .map(r => (r.getAs[Long]("id"), r.getAs[Long]("shingle_k5"),
      r.getAs[Long]("n_c"))).toSet

  private def chunkRows(d: DataFrame) = d.collect()
    .map(r => (r.getAs[Long]("id"), r.getAs[Int]("chunk"),
      r.getAs[Long]("chunk_val"))).toSet

  private def fpRows(d: DataFrame) = d.collect()
    .map(r => (r.getAs[Long]("id"), r.getAs[Long]("fp"))).toSet

  private def countRows(d: DataFrame) = d.collect()
    .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_scenes")))
    .toSet

  private val docHalf = org.apache.spark.sql.functions.expr("id div 65536")

  /** One takedown batch `b` of the chain at `dir` (base `dir/init`). */
  private def takedown(dir: String, b: Long, ids: Seq[Long],
      keyCols: Seq[String], docId: Column = col("id")): Unit = {
    import spark.implicits._
    DeltaUpdate.step(spark, dir, "init", b, ids.toDF("doc_id"),
      DeltaUpdate.emptyVersion(spark, s"$dir/init"), keyCols, docId)
  }

  test("shingle delta chain: serving view ≡ recount after every batch " +
      "(cap resurrection, retract-of-resurrected, duplicate takedown)") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, shared), (2L, shared), (3L, shared), (4L, shared),
      (8L, "first wholly unrelated content that overlaps with nobody"),
      (9L, "second wholly unrelated content that overlaps with nothing"))
      .toDF("doc_id", "text")
    val maxDf = 2
    val art = tmpDir("graft_deltaspec")
    Dedup.shingleDeltaBase(spark, docs, "text", "doc_id",
      s"$art/init", k = 5, maxDf = maxDf)
    val sketch = spark.read.parquet(s"$art/init/sketch")
    assert(spark.read.parquet(s"$art/init/index")
        .filter(col("id").isin(1L, 2L, 3L, 4L)).count() === 0,
      "precondition: the quad's shared shingles must be capped out (df 4)")
    val sizes = spark.read.parquet(s"$art/init/sizes")
      .as[(Long, Long)].collect().toMap

    // batch 0: retract an unrelated doc — no cap crossing (the
    // no-readmit skip), view drops only its own rows
    // batch 1: retract carrier 4 — df 4→3, still over the cap
    // batch 2: retract carrier 3 AND re-submit 8 (already taken down;
    //          its current version is empty, so it must not decrement
    //          twice) — df 3→2 RE-ADMITS the survivors' postings
    // batch 3: retract carrier 1 — a re-admitted doc leaves the view
    //          (and df 2→1 must not re-admit anything twice)
    val batches = Seq(Seq(8L), Seq(4L), Seq(3L, 8L), Seq(1L))
    var removed = Seq.empty[Long]
    batches.zipWithIndex.foreach { case (b, i) =>
      takedown(art, i.toLong, b, Seq("shingle_k5"))
      removed = removed ++ b
      val got = shingleRows(Dedup.shingleUpdateServing(spark, art, "init",
        i.toLong, k = 5, maxDf = maxDf))
      val want = shingleRows(Dedup.shingleIndexRetract(sketch,
        removed.toDF("doc_id"), k = 5, maxDf = maxDf))
      assert(got === want, s"batch $i diverged from the recount")
      if (i == 2) {
        assert(got.exists(_._1 == 1L),
          "batch 2 must RESURRECT the now-under-cap survivors")
        // re-admitted rows carry the doc's intrinsic pre-cap n_c
        got.foreach { case (id, _, n) => assert(n === sizes(id)) }
      }
      if (i == 3) assert(!got.exists(_._1 == 1L),
        "a resurrected doc retracted later must leave the view")
    }
  }

  test("shingle delta chain: a replayed batch overwrites its own faces " +
      "with identical rows (read-predecessor idempotence)") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq((1L, shared), (2L, shared), (3L, shared),
      (9L, "wholly unrelated content that overlaps with nobody at all"))
      .toDF("doc_id", "text")
    val art = tmpDir("graft_deltareplay")
    Dedup.shingleDeltaBase(spark, docs, "text", "doc_id",
      s"$art/init", k = 5, maxDf = 2)
    def run(b: Long, ids: Seq[Long]): Set[(Long, Long, Long)] = {
      takedown(art, b, ids, Seq("shingle_k5"))
      shingleRows(Dedup.shingleUpdateServing(spark, art, "init", b,
        k = 5, maxDf = 2))
    }
    run(0L, Seq(9L))
    val first = run(1L, Seq(3L)) // df 3→2: resurrection batch
    val faces = Seq("updids", "newrows", "statsdelta").map(f =>
      spark.read.parquet(s"$art/1/$f").collect().map(_.toString).sorted
        .toSeq)
    val replay = run(1L, Seq(3L)) // crash-before-checkpoint replay
    assert(first === replay)
    assert(Seq("updids", "newrows", "statsdelta").map(f =>
      spark.read.parquet(s"$art/1/$f").collect().map(_.toString).sorted
        .toSeq) === faces, "the replay must rewrite identical faces")
  }

  test("winnow delta chain: serving view ≡ recount incl. df-cap " +
      "resurrection (fingerprint family)") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, s"$shared plus some trailing words here"),
      (2L, s"$shared plus some trailing words here"),
      (3L, s"$shared plus some trailing words here"),
      (9L, "wholly unrelated content that overlaps with nobody at all ever"))
      .toDF("doc_id", "text")
    val maxDf = 2
    val art = tmpDir("graft_deltawinnow")
    TextAnalysis.winnowDeltaBase(spark, docs, "text", "doc_id",
      s"$art/init", k = 5, w = 4, maxDf = maxDf)
    val sketch = spark.read.parquet(s"$art/init/sketch")
    assert(spark.read.parquet(s"$art/init/index")
        .filter(col("id").isin(1L, 2L, 3L)).count() === 0,
      "precondition: the triplet's shared fingerprints must be capped out")
    // batch 0: retract carrier 3 — df 3→2 resurrects the survivors
    val batches = Seq(Seq(3L), Seq(9L))
    var removed = Seq.empty[Long]
    batches.zipWithIndex.foreach { case (b, i) =>
      takedown(art, i.toLong, b, Seq("fp"))
      removed = removed ++ b
      val got = fpRows(DeltaUpdate.servingView(spark, art, "init",
        i.toLong, Seq("fp"), maxDf)(identity))
      val want = fpRows(TextAnalysis.winnowIndexRetract(sketch,
        removed.toDF("doc_id"), maxDf))
      assert(got === want, s"batch $i diverged from the recount")
      if (i == 0) assert(got.exists(_._1 == 1L),
        "batch 0 must RESURRECT the now-under-cap fingerprints")
    }
  }

  test("video delta chain: serving VideoIndex ≡ recount on BOTH faces " +
      "(packed-id tombstone matching; counts as base ∖ tombstones)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "identical payload bytes"), (2L, "identical payload bytes"),
      (3L, "identical payload bytes"), (4L, "identical payload bytes"),
      (9L, "a different payload that buckets elsewhere entirely"))
      .toDF("doc_id", "text")
    val media = Multimodal.withPayload(docs, "text")
      .select(col("doc_id"), col("payload"), col("media_type"))
      .as[Multimodal.MediaRow]
    val kf = Multimodal.keyframeHashes(media, frameBytes = 72,
      cutPm = 8L).toDF().localCheckpoint(true)
    val maxBucket = 2
    val art = tmpDir("graft_deltavideo")
    Multimodal.videoDeltaBase(spark, kf, s"$art/init", maxBucket)
    val persisted = Multimodal.VideoIndex(
      spark.read.parquet(s"$art/init/sketch"),
      spark.read.parquet(s"$art/init/counts"))
    // batch 0: two carriers — bucket n 4→2 resurrects the survivors;
    // batch 1: one more carrier
    val batches = Seq(Seq(1L, 2L), Seq(3L))
    var removed = Seq.empty[Long]
    batches.zipWithIndex.foreach { case (b, i) =>
      takedown(art, i.toLong, b, Seq("chunk", "chunk_val"), docHalf)
      removed = removed ++ b
      val got = Multimodal.videoUpdateServing(spark, art, "init",
        i.toLong, maxBucket)
      val want = Multimodal.videoIndexRetract(persisted,
        removed.toDF("doc_id"), maxBucket)
      assert(chunkRows(got.chunks) === chunkRows(want.chunks),
        s"batch $i chunk face diverged from the recount")
      assert(countRows(got.counts) === countRows(want.counts),
        s"batch $i counts face diverged from the recount")
    }
  }

  test("compact: folds the chain into a fresh base ≡ family base over " +
      "survivors; the restarted chain keeps the recount equivalence") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, shared), (2L, shared), (3L, shared), (4L, shared),
      (8L, "first wholly unrelated content that overlaps with nobody"),
      (9L, "second wholly unrelated content that overlaps with nothing"))
      .toDF("doc_id", "text")
    val maxDf = 2
    val art = tmpDir("graft_deltacompact")
    Dedup.shingleDeltaBase(spark, docs, "text", "doc_id",
      s"$art/a/init", k = 5, maxDf = maxDf)
    // chain a: retract carrier 4 (df 4→3, still capped)
    takedown(s"$art/a", 0L, Seq(4L), Seq("shingle_k5"))
    // fold into base b — must equal the family base over the survivors
    Dedup.shingleUpdateCompact(spark, s"$art/a", "init", 0L,
      s"$art/b/init", k = 5, maxDf = maxDf)
    Dedup.shingleDeltaBase(spark, docs.filter(col("doc_id") =!= 4L),
      "text", "doc_id", s"$art/ref/init", k = 5, maxDf = maxDf)
    for (face <- Seq("sketch", "stats", "index", "sizes")) {
      val got = spark.read.parquet(s"$art/b/init/$face")
        .collect().map(_.toString).sorted.toSeq
      val want = spark.read.parquet(s"$art/ref/init/$face")
        .collect().map(_.toString).sorted.toSeq
      assert(got === want, s"compacted $face diverged from the " +
        "family base over survivors")
    }
    // the restarted chain: retract carrier 3 on the COMPACTED base —
    // df 3→2 must RESURRECT through the new base's stats
    takedown(s"$art/b", 0L, Seq(3L), Seq("shingle_k5"))
    val got = shingleRows(Dedup.shingleUpdateServing(spark, s"$art/b",
      "init", 0L, k = 5, maxDf = maxDf))
    val want = shingleRows(Dedup.shingleIndexRetract(
      spark.read.parquet(s"$art/a/init/sketch"),
      Seq(4L, 3L).toDF("doc_id"), k = 5, maxDf = maxDf))
    assert(got === want)
    assert(got.exists(_._1 == 1L),
      "the post-compaction step must resurrect through the new base")
  }

  test("phash + winnow delta chains: the GENERIC compact cycle " +
      "(deltas → compact → deltas) ≡ one-shot recount — no extra face " +
      "(VERDICT r16 missing item 2; the video two-face cycle is d62)") {
    import spark.implicits._
    // phash leg: the quad's shared bucket (n 4) is capped at build;
    // the post-compaction step must resurrect through the NEW base's
    // stats (n 4→... a's step drops 4 → compacted stats say 3; b's
    // step drops 3 → n 2, under maxBucket)
    val docs = Seq(
      (1L, "identical payload bytes"), (2L, "identical payload bytes"),
      (3L, "identical payload bytes"), (4L, "identical payload bytes"),
      (9L, "a different payload that buckets elsewhere entirely"))
      .toDF("doc_id", "text")
    val media = Multimodal.withPayload(docs, "text")
      .select(col("doc_id"), col("payload"), col("media_type"))
      .as[Multimodal.MediaRow]
    val hashes = Multimodal.dHash(media).localCheckpoint(true)
    val maxBucket = 2
    val art = tmpDir("graft_deltacompactph")
    val chunkKey = Seq("chunk", "chunk_val")
    Multimodal.phashDeltaBase(spark, hashes, s"$art/a/init", maxBucket)
    takedown(s"$art/a", 0L, Seq(4L), chunkKey)
    DeltaUpdate.compact(spark, s"$art/a", "init", 0L, s"$art/b/init",
      chunkKey, Map("max_bucket" -> 2L))(
      Multimodal.phashServingIndex(_, maxBucket))
    takedown(s"$art/b", 0L, Seq(3L), chunkKey)
    val gotPh = chunkRows(DeltaUpdate.servingView(spark, s"$art/b",
      "init", 0L, chunkKey, maxBucket)(identity))
    val wantPh = chunkRows(Multimodal.phashIndexRetract(
      spark.read.parquet(s"$art/a/init/sketch"),
      Seq(4L, 3L).toDF("doc_id"), maxBucket))
    assert(gotPh === wantPh,
      "phash compact cycle diverged from the one-shot recount")
    assert(gotPh.exists(_._1 == 1L),
      "the post-compaction step must resurrect through the new base")

    // winnow leg: same cycle through the same generic fold
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val wdocs = Seq(
      (1L, s"$shared plus some trailing words here"),
      (2L, s"$shared plus some trailing words here"),
      (3L, s"$shared plus some trailing words here"),
      (4L, s"$shared plus some trailing words here"),
      (9L, "wholly unrelated content that overlaps with nobody at all ever"))
      .toDF("doc_id", "text")
    val maxDf = 2
    val wart = tmpDir("graft_deltacompactwn")
    TextAnalysis.winnowDeltaBase(spark, wdocs, "text", "doc_id",
      s"$wart/a/init", k = 5, w = 4, maxDf = maxDf)
    takedown(s"$wart/a", 0L, Seq(4L), Seq("fp"))
    DeltaUpdate.compact(spark, s"$wart/a", "init", 0L, s"$wart/b/init",
      Seq("fp"), Map("max_df" -> 2L))(
      TextAnalysis.winnowServingIndex(_, maxDf))
    takedown(s"$wart/b", 0L, Seq(3L), Seq("fp"))
    val gotWn = fpRows(DeltaUpdate.servingView(spark, s"$wart/b", "init",
      0L, Seq("fp"), maxDf)(identity))
    val wantWn = fpRows(TextAnalysis.winnowIndexRetract(
      spark.read.parquet(s"$wart/a/init/sketch"),
      Seq(4L, 3L).toDF("doc_id"), maxDf))
    assert(gotWn === wantWn,
      "winnow compact cycle diverged from the one-shot recount")
    assert(gotWn.exists(_._1 == 1L),
      "the post-compaction step must resurrect through the new base")
  }

  test("video delta chain: videoUpdateCompact carries the counts face " +
      "into the new base (ADVICE r16 — a counts-less base fails the " +
      "restarted chain's first serving read)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "identical payload bytes"), (2L, "identical payload bytes"),
      (3L, "identical payload bytes"), (4L, "identical payload bytes"),
      (9L, "a different payload that buckets elsewhere entirely"))
      .toDF("doc_id", "text")
    val media = Multimodal.withPayload(docs, "text")
      .select(col("doc_id"), col("payload"), col("media_type"))
      .as[Multimodal.MediaRow]
    val kf = Multimodal.keyframeHashes(media, frameBytes = 72,
      cutPm = 8L).toDF().localCheckpoint(true)
    val maxBucket = 2
    val art = tmpDir("graft_deltacompactvid")
    val chunkKey = Seq("chunk", "chunk_val")
    Multimodal.videoDeltaBase(spark, kf, s"$art/a/init", maxBucket)
    takedown(s"$art/a", 0L, Seq(4L), chunkKey, docHalf)
    Multimodal.videoUpdateCompact(spark, s"$art/a", "init", 0L,
      s"$art/b/init", maxBucket)
    takedown(s"$art/b", 0L, Seq(3L), chunkKey, docHalf)
    val got = Multimodal.videoUpdateServing(spark, s"$art/b", "init", 0L,
      maxBucket)
    val want = Multimodal.videoIndexRetract(
      Multimodal.VideoIndex(
        spark.read.parquet(s"$art/a/init/sketch"),
        spark.read.parquet(s"$art/a/init/counts")),
      Seq(4L, 3L).toDF("doc_id"), maxBucket)
    assert(chunkRows(got.chunks) === chunkRows(want.chunks),
      "video compact cycle diverged on the chunk face")
    assert(countRows(got.counts) === countRows(want.counts),
      "video compact cycle diverged on the counts face")
  }

  test("phash delta chain: serving view ≡ recount incl. bucket " +
      "resurrection (image/audio hash family)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "identical payload bytes"), (2L, "identical payload bytes"),
      (3L, "identical payload bytes"), (4L, "identical payload bytes"),
      (9L, "a different payload that buckets elsewhere entirely"))
      .toDF("doc_id", "text")
    val media = Multimodal.withPayload(docs, "text")
      .select(col("doc_id"), col("payload"), col("media_type"))
      .as[Multimodal.MediaRow]
    val hashes = Multimodal.dHash(media).localCheckpoint(true)
    val maxBucket = 2
    val art = tmpDir("graft_deltaphash")
    Multimodal.phashDeltaBase(spark, hashes, s"$art/init", maxBucket)
    val sketch = spark.read.parquet(s"$art/init/sketch")
    assert(spark.read.parquet(s"$art/init/index")
        .filter(col("id").isin(1L, 2L, 3L, 4L)).count() === 0,
      "precondition: the quad's buckets must be capped out (n 4)")
    // batch 0: two carriers at once — n 4→2 crosses in ONE batch
    // batch 1: another carrier — no second resurrection, view shrinks
    val batches = Seq(Seq(1L, 2L), Seq(3L))
    var removed = Seq.empty[Long]
    batches.zipWithIndex.foreach { case (b, i) =>
      takedown(art, i.toLong, b, Seq("chunk", "chunk_val"))
      removed = removed ++ b
      val got = chunkRows(DeltaUpdate.servingView(spark, art, "init",
        i.toLong, Seq("chunk", "chunk_val"), maxBucket)(identity))
      val want = chunkRows(Multimodal.phashIndexRetract(sketch,
        removed.toDF("doc_id"), maxBucket))
      assert(got === want, s"batch $i diverged from the recount")
    }
  }

  // round-19 step internals: the empty-batch guard reads the persisted
  // face's parquet FOOTERS driver-side instead of scheduling an
  // isEmpty job — the two must agree exactly, including on the empty
  // and multi-file shapes the chain writes
  test("faceRowCount: footer row count ≡ df count for written faces " +
      "(empty, single-file, multi-partition)") {
    import spark.implicits._
    val dir = tmpDir("graft_facecount")
    Seq.empty[Long].toDF("rid")
      .write.mode("overwrite").parquet(s"$dir/empty")
    assert(DeltaUpdate.faceRowCount(spark, s"$dir/empty") === 0L)
    Seq(1L, 2L, 3L).toDF("rid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/one")
    assert(DeltaUpdate.faceRowCount(spark, s"$dir/one") === 3L)
    spark.range(0, 100, 1, 7).select(col("id").as("rid"))
      .write.mode("overwrite").parquet(s"$dir/many")
    assert(DeltaUpdate.faceRowCount(spark, s"$dir/many") === 100L)
  }

  // round-20 hardening (ADVICE r19): zero matching data files must fail
  // loudly — summing an empty listing to 0 would flip the empty-batch
  // guard into a fail-open takedown on a face written with an
  // unexpected layout
  test("faceRowCount: refuses a face dir with no top-level .parquet " +
      "files instead of reading it as empty") {
    val dir = tmpDir("graft_facecount_refuse")
    new java.io.File(s"$dir/noface").mkdirs()
    val e = intercept[IllegalArgumentException] {
      DeltaUpdate.faceRowCount(spark, s"$dir/noface")
    }
    assert(e.getMessage.contains("no .parquet data files"))
  }

  // round-20: the broadcast-size guard keeps the delta-side hint while
  // the persisted face is provably small and drops it above the
  // threshold (adversarially large takedown batches must not be forced
  // through a driver-collected broadcast)
  test("broadcastIfSmall: hints at or under the row threshold, plans " +
      "unhinted above it") {
    import spark.implicits._
    val df = Seq(1L, 2L).toDF("rid")
    def hinted(d: org.apache.spark.sql.DataFrame): Boolean =
      d.queryExecution.logical.collectFirst {
        case h: org.apache.spark.sql.catalyst.plans.logical.UnresolvedHint
          => h
        case j: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
          => j
      }.nonEmpty
    assert(hinted(DeltaUpdate.broadcastIfSmall(df, 2L)))
    assert(!hinted(
      DeltaUpdate.broadcastIfSmall(df, DeltaUpdate.maxBroadcastRows + 1)))
  }
}
