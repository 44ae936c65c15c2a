package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, lit}

import graft.SparkSpec

/** The UPDATE (re-crawl edit) faces for the winnow, image/audio hash,
  * and video index families — d58's contract replicated per family:
  * update ≡ rebuild-with-the-new-versions on every artifact face, the
  * upsert composes cleanly, and the REVERSED composition
  * (append-before-retract) demonstrably loses the document — the
  * ordering bug the fixed retract-then-append encoding exists to
  * prevent. */
class UpdateFacesSpec extends SparkSpec {

  private def rows(d: DataFrame): Seq[String] =
    d.collect().map(_.toString).sorted.toSeq

  test("winnowSketchUpdate: ≡ rebuild-with-the-new-versions through " +
      "the serving view; append-before-retract loses the doc") {
    import spark.implicits._
    val df = Seq(
      (1L, "one two three four five six seven eight nine ten"),
      (2L, "red orange yellow green blue indigo violet cyan teal pink"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val sketch = TextAnalysis.winnowSketch(df, "text", "doc_id",
      k = 5, w = 4)
    val newV = Seq(
      (2L, "red orange yellow fresh green blue indigo violet cyan teal"),
      (4L, "an upserted document never seen before right here at all"))
      .toDF("doc_id", "text")
    val updatedCorpus = df.filter(col("doc_id") =!= 2L).unionAll(newV)
    val upd = TextAnalysis.winnowSketchUpdate(sketch, newV, "text",
      "doc_id", k = 5, w = 4)
    assert(rows(upd) === rows(TextAnalysis.winnowSketch(updatedCorpus,
      "text", "doc_id", k = 5, w = 4)))
    assert(rows(TextAnalysis.winnowServingIndex(upd, maxDf = 100)) ===
      rows(TextAnalysis.winnowIndex(updatedCorpus, "text", "doc_id",
        k = 5, w = 4, maxDf = 100)))
    // the ordering hazard: append first, then retract "the updated
    // ids" — the anti-join removes BOTH versions' fingerprints
    val wrong = TextAnalysis.winnowSketchRetract(
      sketch.unionByName(TextAnalysis.winnowSketch(newV, "text",
        "doc_id", k = 5, w = 4)),
      newV.select("doc_id"))
    assert(wrong.filter(col("id").isin(2L, 4L)).count() === 0,
      "reversed composition must demonstrate the vanished-doc bug")
    assert(upd.filter(col("id") === 2L).count() > 0)
  }

  test("phashSketchUpdate: ≡ rebuild-with-the-new-payloads through " +
      "the serving view; reversed composition loses the doc") {
    import spark.implicits._
    def media(c: DataFrame) = Multimodal.withPayload(c, "text")
      .select(col("doc_id"), col("payload"), col("media_type"))
      .as[Multimodal.MediaRow]
    val df = Seq(
      (1L, "first archive payload with its own distinct bytes"),
      (2L, "second archive payload that is about to be re-encoded"),
      (3L, "third archive payload sitting quietly unchanged"))
      .toDF("doc_id", "text")
    val sketch = Multimodal.phashChunkSketch(Multimodal.dHash(media(df)))
    val newV = Seq(
      (2L, "second archive payload re-encoded with different bytes now"),
      (4L, "a brand new upserted payload never fingerprinted before"))
      .toDF("doc_id", "text")
    val updatedCorpus = df.filter(col("doc_id") =!= 2L).unionAll(newV)
    val upd = Multimodal.phashSketchUpdate(sketch,
      Multimodal.dHash(media(newV)))
    assert(rows(upd) === rows(Multimodal.phashChunkSketch(
      Multimodal.dHash(media(updatedCorpus)))))
    assert(rows(Multimodal.phashServingIndex(upd, maxBucket = 100)) ===
      rows(Multimodal.phashChunkIndex(
        Multimodal.dHash(media(updatedCorpus)), maxBucket = 100)))
    val wrong = Multimodal.phashSketchRetract(
      sketch.unionByName(Multimodal.phashChunkSketch(
        Multimodal.dHash(media(newV)))),
      newV.select("doc_id"))
    assert(wrong.filter(col("id").isin(2L, 4L)).count() === 0,
      "reversed composition must demonstrate the vanished-doc bug")
    assert(upd.filter(col("id") === 2L).count() > 0)
  }

  test("componentsUpdate: splits the old group, re-links through the " +
      "new evidence ≡ from-scratch CC; reversed composition loses the doc") {
    import spark.implicits._
    // archive: component {1,2,3} (2 is the bridge) and component {5,6}
    val oldPairs = Seq((1L, 2L), (2L, 3L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val allIds = Seq(1L, 2L, 3L, 5L, 6L).toDF("id")
    def ccOver(pairs: DataFrame): DataFrame =
      Dedup.componentsAltStar(
        pairs.unionByName(allIds.select(col("id").as("doc_a"),
          col("id").as("doc_b"))), "doc_a", "doc_b")
    val labels0 = ccOver(oldPairs)
    // doc 2 re-crawled: its evidence is now (2,6) — the old bridge
    // dissolves ({1},{3} split off) and 2 joins {5,6}
    val newPairs = Seq((2L, 6L)).toDF("doc_a", "doc_b")
    val upd = Dedup.componentsUpdate(
      Dedup.GroupsArtifact(labels0, oldPairs),
      Seq(2L).toDF("doc_id"), newPairs, "doc_a", "doc_b")
    val survPairs = oldPairs.filter(col("doc_a") =!= 2L &&
      col("doc_b") =!= 2L).unionByName(newPairs)
    assert(rows(upd.labels) === rows(ccOver(survPairs)))
    assert(rows(upd.pairs.orderBy("doc_a", "doc_b")) ===
      rows(survPairs.orderBy("doc_a", "doc_b")))
    // the ordering hazard: appending the new evidence first and then
    // retracting "the updated ids" removes doc 2 from the labelling
    // entirely (and its new evidence with it)
    val wrong = Dedup.componentsRetract(
      Dedup.componentsAppend(labels0, newPairs, "doc_a", "doc_b"),
      oldPairs.unionByName(newPairs), Seq(2L).toDF("doc_id"),
      "doc_a", "doc_b")
    assert(wrong.filter(col("id") === 2L).count() === 0,
      "reversed composition must demonstrate the vanished-doc bug")
    assert(upd.labels.filter(col("id") === 2L).count() === 1)
  }

  test("updateNndIndex: ≡ frozen-quantizer rebuild over the updated " +
      "corpus on both faces; anchor update refused") {
    import org.apache.spark.sql.functions.{reverse, when}
    val e = graft.Tables.load(spark, sf(), "embeddings")
    val idx = Similarity.buildNndIndex(e, "vec_id", "embedding")
    val anchorIds = idx.quant.reps.select(col("rep_id")).collect()
      .map(_.getLong(0)).toSet ++ idx.quant.centroids.ids
    val isUpd = (c: org.apache.spark.sql.Column) =>
      c % 9 === 4 && !c.isInCollection(anchorIds.toSeq)
    val updated = e.select(col("vec_id"),
      when(isUpd(col("vec_id")), reverse(col("embedding")))
        .otherwise(col("embedding")).as("embedding"))
      .localCheckpoint(true)
    assert(updated.filter(isUpd(col("vec_id"))).count() > 0,
      "fixture must yield a non-empty update batch")
    val upd = Similarity.updateNndIndex(idx, updated, "vec_id",
      "embedding", isUpd)
    val scratch = Similarity.buildNndIndexWith(updated, "vec_id",
      "embedding", idx.quant, idx.degree)
    assert(rows(upd.seed) === rows(scratch.seed))
    assert(rows(upd.refined) === rows(scratch.refined))
    // load-bearing: the refined face actually moved
    assert(rows(upd.refined) !== rows(idx.refined))
    // an anchor update invalidates the frozen quantizer — refused
    val anAnchor = anchorIds.head
    val err = intercept[IllegalArgumentException] {
      Similarity.updateNndIndex(idx, updated, "vec_id", "embedding",
        c => c === anAnchor || isUpd(c))
    }
    assert(err.getMessage.contains("re-train"))
  }

  test("videoSketchUpdate: ≡ rebuild-with-the-new-payloads on BOTH " +
      "faces (a re-edit moves the scene counts with the postings)") {
    import spark.implicits._
    def media(c: DataFrame) = Multimodal.withPayload(c, "text")
      .select(col("doc_id"), col("payload"), col("media_type"))
      .as[Multimodal.MediaRow]
    def kf(c: DataFrame) = Multimodal.keyframeHashes(media(c),
      frameBytes = 72, cutPm = 8L).toDF()
    val base = Seq(
      (1L, "first video payload with its own distinct byte stream " +
        "padded out to span several seventy-two byte stub frames aaaa"),
      (2L, "second video payload that is about to be re-edited ZZZZZZZZ " +
        "quiet low energy tail                                      ."),
      (3L, "third video payload left entirely alone this crawl " +
        "also padded to cover more than one frame of stub bytes zzzz"))
      .toDF("doc_id", "text")
    val sketch = Multimodal.videoKeyframeSketch(kf(base))
    // the re-edit doubles the payload: more frames, MORE SCENES — the
    // counts face must move with the postings
    val newV = base.filter(col("doc_id") === 2L)
      .withColumn("text", concat(col("text"), lit(" "), col("text")))
    val updatedCorpus = base.filter(col("doc_id") =!= 2L).unionAll(newV)
    val upd = Multimodal.videoSketchUpdate(sketch, kf(newV))
    val want = Multimodal.videoKeyframeSketch(kf(updatedCorpus))
    assert(rows(upd.chunks) === rows(want.chunks))
    assert(rows(upd.counts) === rows(want.counts))
    val oldN = sketch.counts.filter(col("doc_id") === 2L)
      .head.getAs[Long]("n_scenes")
    val newN = upd.counts.filter(col("doc_id") === 2L)
      .head.getAs[Long]("n_scenes")
    assert(newN > oldN,
      "fixture must actually change the scene segmentation")
  }
}
