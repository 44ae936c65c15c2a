package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.pipeline.{DeltaUpdate, Multimodal, TextAnalysis}

/** Generation-fold coverage for every family chain sink that accepts
  * `compactEvery` (VERDICT r18 missing item 1: the mechanism was
  * family-generic but only the SHINGLE sinks plumbed it — the shingle
  * fold itself is covered by CurationStreamSpec's auto-sink test and
  * gate d65). Per family: build the base at `gen0/init`, stream three
  * micro-batches at compactEvery = 2 so batch 2 is the threshold batch
  * folding generation 0 into generation 1 INSIDE the sink, then assert
  * the serving view equals the from-scratch rebuild over the latest
  * corpus (update direction) or the survivors (retract direction).
  * Plus the ADVICE r18 guard: a sink whose cap parameter disagrees
  * with the base artifact's recorded build params must REFUSE at fold
  * time, not silently compact at the wrong cap. */
class DeltaAutoCompactSinkSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def gen1Exists(art: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"${DeltaUpdate.genDir(art, 1L)}/init/sketch"))

  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x =>
      String.valueOf(x.getMessage) +: messages(x.getCause))

  // synthetic text fixtures: five distinct 5-shingle documents
  private val texts = (1 to 6).map(i =>
    s"fold${i}a fold${i}b fold${i}c fold${i}d fold${i}e")

  test("winnow UPDATE sink folds generations; serving == rebuild over " +
      "latest versions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq((1L, texts(0)), (2L, texts(1)), (9L, texts(2)))
      .toDF("doc_id", "text")
    val art = tmpDir("graft_wupauto")
    TextAnalysis.winnowDeltaBase(spark, docs, "text", "doc_id",
      s"${DeltaUpdate.genDir(art, 0L)}/init", k = 5, w = 4, maxDf = 100)
    val input = MemoryStream[(Long, String)]
    val q = CurationStream.winnowDeltaUpdateSink(
      input.toDF().toDF("doc_id", "text"), art, "init", s"$art/_cp",
      compactEvery = 2).start()
    try {
      Seq(Seq((1L, texts(3))), Seq((2L, texts(4))),
        Seq((1L, texts(5)))).foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      }
    } finally q.stop()
    assert(gen1Exists(art), "threshold batch must fold gen 0 into gen 1")
    val latest = Seq((1L, texts(5)), (2L, texts(4)), (9L, texts(2)))
      .toDF("doc_id", "text")
    assert(rows(DeltaUpdate.autoServingView(spark, art, "init", 2L,
        Seq("fp"), 100, compactEvery = 2)(identity)) ===
      rows(TextAnalysis.winnowServingIndex(
        TextAnalysis.winnowSketch(latest, "text", "doc_id", 5, 4), 100)),
      "winnow auto-compacted update serving diverged from the rebuild")
  }

  test("winnow RETRACT sink folds generations; serving == rebuild over " +
      "survivors; build params carry across the fold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq((1L, texts(0)), (2L, texts(1)), (3L, texts(2)),
      (9L, texts(3))).toDF("doc_id", "text")
    val art = tmpDir("graft_wretauto")
    TextAnalysis.winnowDeltaBase(spark, docs, "text", "doc_id",
      s"${DeltaUpdate.genDir(art, 0L)}/init", k = 5, w = 4, maxDf = 100)
    val input = MemoryStream[Long]
    val q = CurationStream.winnowDeltaRetractSink(
      input.toDF().toDF("doc_id"), art, "init", s"$art/_cp",
      compactEvery = 2).start()
    try {
      Seq(1L, 2L, 3L).foreach { id =>
        input.addData(id); q.processAllAvailable()
      }
    } finally q.stop()
    assert(gen1Exists(art), "threshold batch must fold gen 0 into gen 1")
    val survivors = Seq((9L, texts(3))).toDF("doc_id", "text")
    assert(rows(DeltaUpdate.autoServingView(spark, art, "init", 2L,
        Seq("fp"), 100, compactEvery = 2)(identity)) ===
      rows(TextAnalysis.winnowServingIndex(
        TextAnalysis.winnowSketch(survivors, "text", "doc_id", 5, 4),
        100)),
      "winnow auto-compacted retract serving diverged from the rebuild")
    // the fold must carry k/w (which the retract sink never sees)
    // into gen 1, merged with the cap it checked
    val meta = spark.read
      .parquet(s"${DeltaUpdate.genDir(art, 1L)}/init/meta")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(meta === Map("k" -> 5L, "w" -> 4L, "max_df" -> 100L),
      s"fold dropped base build params: $meta")
  }

  test("winnow RETRACT sink: the threshold batch reads the base's " +
      "build params once for the check and the carry") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq((1L, texts(0)), (2L, texts(1)), (3L, texts(2)),
      (9L, texts(3))).toDF("doc_id", "text")
    val art = tmpDir("graft_wretcensus")
    TextAnalysis.winnowDeltaBase(spark, docs, "text", "doc_id",
      s"${DeltaUpdate.genDir(art, 0L)}/init", k = 5, w = 4, maxDf = 100)
    val input = MemoryStream[Long]
    val q = CurationStream.winnowDeltaRetractSink(
      input.toDF().toDF("doc_id"), art, "init", s"$art/_cp",
      compactEvery = 2).start()
    val foldJobs = try {
      Seq(1L, 2L).foreach { id => input.addData(id); q.processAllAvailable() }
      jobsStarted { input.addData(3L); q.processAllAvailable() }._2.size
    } finally q.stop()
    assert(gen1Exists(art), "threshold batch must fold gen 0 into gen 1")
    // batch 2 = the gen-0 fold plus gen 1's local batch 0; the fold
    // reads the base's meta face once (18 jobs when the check and the
    // carry each read it)
    assert(foldJobs === 17, s"jobs in the threshold batch: $foldJobs")
  }

  test("phash UPDATE sink folds generations; serving == rebuild over " +
      "latest payloads") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def media(c: DataFrame) = Multimodal.withPayload(c, "text")
      .select(col("doc_id"), col("payload"), col("media_type"))
      .as[Multimodal.MediaRow]
    val docs = Seq((1L, texts(0)), (2L, texts(1)), (9L, texts(2)))
      .toDF("doc_id", "text")
    val art = tmpDir("graft_pupauto")
    Multimodal.phashDeltaBase(spark, Multimodal.dHash(media(docs)),
      s"${DeltaUpdate.genDir(art, 0L)}/init", maxBucket = 100)
    val input = MemoryStream[(Long, String)]
    val q = CurationStream.phashDeltaUpdateSink(
      Multimodal.withPayload(input.toDF().toDF("doc_id", "text"), "text")
        .select(col("doc_id"), col("payload"), col("media_type")),
      art, "init", s"$art/_cp", compactEvery = 2).start()
    try {
      Seq(Seq((1L, texts(3))), Seq((2L, texts(4))),
        Seq((1L, texts(5)))).foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      }
    } finally q.stop()
    assert(gen1Exists(art), "threshold batch must fold gen 0 into gen 1")
    val latest = Seq((1L, texts(5)), (2L, texts(4)), (9L, texts(2)))
      .toDF("doc_id", "text")
    assert(rows(DeltaUpdate.autoServingView(spark, art, "init", 2L,
        Seq("chunk", "chunk_val"), 100, compactEvery = 2)(identity)) ===
      rows(Multimodal.phashServingIndex(
        Multimodal.phashChunkSketch(Multimodal.dHash(media(latest))),
        100)),
      "phash auto-compacted update serving diverged from the rebuild")
  }

  test("phash RETRACT sink folds generations; serving == rebuild over " +
      "survivors") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def media(c: DataFrame) = Multimodal.withPayload(c, "text")
      .select(col("doc_id"), col("payload"), col("media_type"))
      .as[Multimodal.MediaRow]
    val docs = Seq((1L, texts(0)), (2L, texts(1)), (3L, texts(2)),
      (9L, texts(3))).toDF("doc_id", "text")
    val art = tmpDir("graft_pretauto")
    Multimodal.phashDeltaBase(spark, Multimodal.dHash(media(docs)),
      s"${DeltaUpdate.genDir(art, 0L)}/init", maxBucket = 100)
    val input = MemoryStream[Long]
    val q = CurationStream.hashDeltaRetractSink(
      input.toDF().toDF("doc_id"), art, "init", s"$art/_cp",
      compactEvery = 2).start()
    try {
      Seq(1L, 2L, 3L).foreach { id =>
        input.addData(id); q.processAllAvailable()
      }
    } finally q.stop()
    assert(gen1Exists(art), "threshold batch must fold gen 0 into gen 1")
    val survivors = Seq((9L, texts(3))).toDF("doc_id", "text")
    assert(rows(DeltaUpdate.autoServingView(spark, art, "init", 2L,
        Seq("chunk", "chunk_val"), 100, compactEvery = 2)(identity)) ===
      rows(Multimodal.phashServingIndex(
        Multimodal.phashChunkSketch(Multimodal.dHash(media(survivors))),
        100)),
      "phash auto-compacted retract serving diverged from the rebuild")
  }

  test("video UPDATE sink folds generations; both serving faces == " +
      "rebuild over latest cuts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def media(c: DataFrame) = Multimodal.withPayload(c, "text")
      .select(col("doc_id"), col("payload"), col("media_type"))
      .as[Multimodal.MediaRow]
    def kf(c: DataFrame) = Multimodal.keyframeHashes(media(c),
      frameBytes = 72, cutPm = 8L).toDF()
    // longer texts so every payload segments into multiple keyframes
    val vt = texts.map(t => (t + " ") * 20)
    val docs = Seq((1L, vt(0)), (2L, vt(1)), (9L, vt(2)))
      .toDF("doc_id", "text")
    val art = tmpDir("graft_vupauto")
    Multimodal.videoDeltaBase(spark, kf(docs),
      s"${DeltaUpdate.genDir(art, 0L)}/init", maxBucket = 100)
    val input = MemoryStream[(Long, String)]
    val q = CurationStream.videoDeltaUpdateSink(
      Multimodal.withPayload(input.toDF().toDF("doc_id", "text"), "text")
        .select(col("doc_id"), col("payload"), col("media_type")),
      art, "init", s"$art/_cp", compactEvery = 2).start()
    try {
      Seq(Seq((1L, vt(3))), Seq((2L, vt(4))),
        Seq((1L, vt(5)))).foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      }
    } finally q.stop()
    assert(gen1Exists(art), "threshold batch must fold gen 0 into gen 1")
    val latest = Seq((1L, vt(5)), (2L, vt(4)), (9L, vt(2)))
      .toDF("doc_id", "text")
    val served = Multimodal.videoUpdateServing(spark,
      DeltaUpdate.genDir(art, 1L), "init", 0L, maxBucket = 100)
    val rebuilt = Multimodal.videoKeyframeIndex(kf(latest), 100)
    assert(rows(served.chunks) === rows(rebuilt.chunks),
      "video auto-compacted update chunks diverged from the rebuild")
    assert(rows(served.counts) === rows(rebuilt.counts),
      "video auto-compacted update counts diverged from the rebuild")
  }

  test("video RETRACT sink folds generations; both serving faces == " +
      "rebuild over survivors") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def media(c: DataFrame) = Multimodal.withPayload(c, "text")
      .select(col("doc_id"), col("payload"), col("media_type"))
      .as[Multimodal.MediaRow]
    def kf(c: DataFrame) = Multimodal.keyframeHashes(media(c),
      frameBytes = 72, cutPm = 8L).toDF()
    val vt = texts.map(t => (t + " ") * 20)
    val docs = Seq((1L, vt(0)), (2L, vt(1)), (3L, vt(2)),
      (9L, vt(3))).toDF("doc_id", "text")
    val art = tmpDir("graft_vretauto")
    Multimodal.videoDeltaBase(spark, kf(docs),
      s"${DeltaUpdate.genDir(art, 0L)}/init", maxBucket = 100)
    val input = MemoryStream[Long]
    val q = CurationStream.videoDeltaRetractSink(
      input.toDF().toDF("doc_id"), art, "init", s"$art/_cp",
      compactEvery = 2).start()
    try {
      Seq(1L, 2L, 3L).foreach { id =>
        input.addData(id); q.processAllAvailable()
      }
    } finally q.stop()
    assert(gen1Exists(art), "threshold batch must fold gen 0 into gen 1")
    val survivors = Seq((9L, vt(3))).toDF("doc_id", "text")
    val served = Multimodal.videoUpdateServing(spark,
      DeltaUpdate.genDir(art, 1L), "init", 0L, maxBucket = 100)
    val rebuilt = Multimodal.videoKeyframeIndex(kf(survivors), 100)
    assert(rows(served.chunks) === rows(rebuilt.chunks),
      "video auto-compacted retract chunks diverged from the rebuild")
    assert(rows(served.counts) === rows(rebuilt.counts),
      "video auto-compacted retract counts diverged from the rebuild")
  }

  test("a cap parameter disagreeing with the base artifact's recorded " +
      "build params REFUSES at fold time (ADVICE r18)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq((1L, texts(0)), (2L, texts(1)), (9L, texts(2)))
      .toDF("doc_id", "text")
    val art = tmpDir("graft_metamismatch")
    graft.pipeline.Dedup.shingleDeltaBase(spark, docs, "text", "doc_id",
      s"${DeltaUpdate.genDir(art, 0L)}/init", k = 5, maxDf = 100)
    val input = MemoryStream[(Long, String)]
    // maxDf = 7 vs the base's recorded 100: batches 0 and 1 step fine
    // (maxDf is only consumed by the fold), batch 2 must refuse rather
    // than compact the serving index at the wrong cap
    val q = CurationStream.shingleDeltaUpdateSink(
      input.toDF().toDF("doc_id", "text"), art, "init", s"$art/_cp",
      compactEvery = 2, maxDf = 7).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try {
        Seq(Seq((1L, texts(3))), Seq((2L, texts(4))),
          Seq((1L, texts(5)))).foreach { b =>
          input.addData(b: _*); q.processAllAvailable()
        }
      } finally q.stop()
    }
    assert(messages(e).exists(_.contains("does not match the base artifact")),
      s"expected the recorded-params refusal, got: ${
        messages(e).mkString(" | ")}")
  }
}
