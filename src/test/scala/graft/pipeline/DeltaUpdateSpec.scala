package graft.pipeline

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, expr, lit}
import org.scalatest.concurrent.Eventually.{eventually, timeout}
import org.scalatest.time.SpanSugar._

import graft.SparkSpec

/** The O(delta) UPDATE chain's equivalence contract: after every
  * re-crawl batch, [[DeltaUpdate.servingView]] is row-identical to the
  * capped serving view over the recount-maintained sketch — the
  * cumulative [[Dedup.shingleSketchUpdate]] /
  * [[Multimodal.videoSketchUpdate]] composition, which stays on as the
  * oracle (exactly the DeltaRetractSpec template, signed). The fixture
  * engineers BOTH cap-crossing directions the retract chain cannot
  * exhibit — an update that DROPS carriers of a build-capped key
  * (re-admission) and one that PUSHES a key over the cap (eviction) —
  * plus re-update-of-an-updated-doc (decrements must come from the
  * LATEST prior version, not the build rows) and the ADVICE r16
  * hazard: an update to an EMPTY version must vanish the doc, not
  * leave its stale postings serving. */
class DeltaUpdateSpec extends SparkSpec {

  private def shingleRows(d: DataFrame) = d.collect()
    .map(r => (r.getAs[Long]("id"), r.getAs[Long]("shingle_k5"),
      r.getAs[Long]("n_c"))).toSet

  test("shingle update delta chain: view ≡ recount after every batch " +
      "(re-admit, evict, re-update, empty-version vanish)") {
    import spark.implicits._
    // one 5-word text = exactly one k=5 shingle, so per-key dfs are
    // scriptable: S (docs 1,2,3, df 3 > maxDf 2 — capped at build),
    // T (doc 4, df 1), V (doc 9, df 1)
    val sharedS = "alpha beta gamma delta epsilon"
    val sharedT = "one two three four five"
    val docs = Seq(
      (1L, sharedS), (2L, sharedS), (3L, sharedS),
      (4L, sharedT),
      (5L, "uno dos tres quatro cinco"),
      (9L, "first wholly unrelated content words"))
      .toDF("doc_id", "text")
    val maxDf = 2
    val art = tmpDir("graft_updeltaspec")
    Dedup.shingleDeltaBase(spark, docs, "text", "doc_id",
      s"$art/init", k = 5, maxDf = maxDf)
    assert(spark.read.parquet(s"$art/init/index")
        .filter(col("id").isin(1L, 2L, 3L)).count() === 0,
      "precondition: the trio's shared shingle must be capped out (df 3)")

    // batch 0: doc 3 re-crawls to T's text — S df 3→2 RE-ADMITS docs
    //          1,2 (base rows through the readmit scan); T df 1→2
    // batch 1: doc 5 re-crawls to T's text too — T df 2→3 EVICTS doc
    //          4's base row and docs 3,5's latest rows
    // batch 2: doc 3 re-crawls AGAIN, to an EMPTY version — it must
    //          vanish (zero newrows), its decrement must come from its
    //          batch-0 version (T), and T df 3→2 re-returns docs 4,5
    val batches = Seq(
      Seq((3L, sharedT)), Seq((5L, sharedT)), Seq((3L, "")))
    var upd = Map.empty[Long, String]
    batches.zipWithIndex.foreach { case (b, i) =>
      val bdf = b.toDF("doc_id", "text")
      DeltaUpdate.step(spark, art, "init", i.toLong,
        bdf.select("doc_id"),
        Dedup.hashedShingleSketch(bdf, "text", "doc_id", k = 5),
        Seq("shingle_k5"))
      upd = upd ++ b
      // recount oracle: rebuild the whole corpus with every doc's
      // LATEST version and cap it — the d58 rebuild contract
      val corpusNow = docs.as[(Long, String)].collect()
        .map { case (id, t) => (id, upd.getOrElse(id, t)) }
        .toSeq.toDF("doc_id", "text")
      val want = shingleRows(Dedup.shingleServingIndex(
        Dedup.hashedShingleSketch(corpusNow, "text", "doc_id", k = 5),
        k = 5, maxDf = maxDf))
      val got = shingleRows(Dedup.shingleUpdateServing(
        spark, art, "init", i.toLong, k = 5, maxDf = maxDf))
      assert(got === want, s"batch $i diverged from the recount")
      if (i == 0) {
        assert(got.exists(_._1 == 1L) && got.exists(_._1 == 2L),
          "batch 0 must RE-ADMIT the now-under-cap build-capped key")
        assert(got.exists(_._1 == 3L),
          "batch 0 must serve the updated doc's new version")
      }
      if (i == 1) assert(!got.exists(_._1 == 4L),
        "batch 1 must EVICT every carrier of the now-over-cap key")
      if (i == 2) {
        assert(!got.exists(_._1 == 3L),
          "an empty re-crawl must VANISH the doc (ADVICE r16)")
        assert(got.exists(_._1 == 4L) && got.exists(_._1 == 5L),
          "batch 2 must re-return the key's carriers once back under")
      }
    }
    // the empty-version batch still wrote its updids face (the retract
    // leg must not depend on the new version having any rows)
    assert(spark.read.parquet(s"$art/2/updids").count() === 1)
    assert(spark.read.parquet(s"$art/2/newrows").count() === 0)
  }

  test("shingle update delta chain: an update that KEEPS a build-capped " +
      "shingle must not re-serve it (net-zero delta, ADVICE r17)") {
    import spark.implicits._
    // docs 1,2,3 share S (df 3 > maxDf 2 — capped at build); doc 3
    // re-crawls KEEPING S and adding one word (6 words = 2 k=5
    // shingles), so S's statsdelta is net ZERO (inc 1, dec 1) — the
    // serving view must still know S is over the cap
    val sharedS = "alpha beta gamma delta epsilon"
    val docs = Seq((1L, sharedS), (2L, sharedS), (3L, sharedS))
      .toDF("doc_id", "text")
    val maxDf = 2
    val art = tmpDir("graft_updeltacapkeep")
    Dedup.shingleDeltaBase(spark, docs, "text", "doc_id",
      s"$art/init", k = 5, maxDf = maxDf)
    val newText = sharedS + " zeta"
    val bdf = Seq((3L, newText)).toDF("doc_id", "text")
    DeltaUpdate.step(spark, art, "init", 0L, bdf.select("doc_id"),
      Dedup.hashedShingleSketch(bdf, "text", "doc_id", k = 5),
      Seq("shingle_k5"))
    val want = shingleRows(Dedup.shingleServingIndex(
      Dedup.hashedShingleSketch(
        Seq((1L, sharedS), (2L, sharedS), (3L, newText))
          .toDF("doc_id", "text"), "text", "doc_id", k = 5),
      k = 5, maxDf = maxDf))
    val got = shingleRows(Dedup.shingleUpdateServing(
      spark, art, "init", 0L, k = 5, maxDf = maxDf))
    assert(got === want,
      "kept-capped-key update diverged from the recount")
    val cappedKey = Dedup.hashedShingleSketch(
        Seq((0L, sharedS)).toDF("doc_id", "text"), "text", "doc_id",
        k = 5)
      .select("shingle_k5").as[Long].head()
    assert(!got.exists(_._2 == cappedKey),
      "the still-capped shingle must stay excluded from the serving view")
    assert(got.exists(t => t._1 == 3L && t._2 != cappedKey),
      "the updated doc's NEW shingle must serve")
  }

  test("shingle update delta chain: a replayed batch overwrites its " +
      "own faces with identical rows (read-predecessor idempotence)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five"),
      (9L, "first wholly unrelated content words"))
      .toDF("doc_id", "text")
    val art = tmpDir("graft_updeltareplay")
    Dedup.shingleDeltaBase(spark, docs, "text", "doc_id",
      s"$art/init", k = 5, maxDf = 2)
    def run(bid: Long, rows: Seq[(Long, String)]): Unit = {
      val bdf = rows.toDF("doc_id", "text")
      DeltaUpdate.step(spark, art, "init", bid, bdf.select("doc_id"),
        Dedup.hashedShingleSketch(bdf, "text", "doc_id", k = 5),
        Seq("shingle_k5"))
    }
    run(0L, Seq((1L, "one two three four five")))
    run(1L, Seq((2L, "alpha beta gamma delta epsilon")))
    def faces() = Seq("updids", "newrows", "statsdelta").map { f =>
      spark.read.parquet(s"$art/1/$f").collect().map(_.toString).sorted
        .toSeq
    }
    val first = faces()
    run(1L, Seq((2L, "alpha beta gamma delta epsilon"))) // replay
    assert(faces() === first,
      "a replayed batch must re-derive identical faces from identical " +
        "persisted input")
  }

  test("MIXED update+takedown interleaving (the d64 routing): a " +
      "takedown's decrement comes from the doc's LATEST version, and a " +
      "taken-down doc re-crawls back (ordering contract)") {
    import spark.implicits._
    // one 5-word text = one shingle; maxDf 1 so any shared key evicts.
    // Build: doc 4 = T (df 1, serves), doc 6 = W (df 1, serves).
    val tT = "one two three four five"
    val tW = "alpha beta gamma delta epsilon"
    val tX = "uno dos tres quatro cinco"
    val tU = "first wholly unrelated content words"
    val docs = Seq((4L, tT), (6L, tW), (9L, tU)).toDF("doc_id", "text")
    val maxDf = 1
    val art = tmpDir("graft_mixedchain")
    Dedup.shingleDeltaBase(spark, docs, "text", "doc_id", s"$art/init",
      k = 5, maxDf = maxDf)
    def step(bid: Long, ids: Seq[Long],
        rows: Seq[(Long, String)]): Unit =
      DeltaUpdate.step(spark, art, "init", bid, ids.toDF("doc_id"),
        Dedup.hashedShingleSketch(rows.toDF("doc_id", "text"), "text",
          "doc_id", k = 5),
        Seq("shingle_k5"))
    def view(b: Long) = shingleRows(Dedup.shingleUpdateServing(
      spark, art, "init", b, k = 5, maxDf = maxDf))
    def recount(corpus: Seq[(Long, String)]) = shingleRows(
      Dedup.shingleServingIndex(Dedup.hashedShingleSketch(
          corpus.toDF("doc_id", "text"), "text", "doc_id", k = 5),
        k = 5, maxDf = maxDf))

    // batch 0: doc 4 re-crawls to doc 6's text — W df 1→2 evicts both
    step(0L, Seq(4L), Seq((4L, tW)))
    assert(view(0L) === recount(Seq((4L, tW), (6L, tW), (9L, tU))))
    assert(!view(0L).exists(r => r._1 == 4L || r._1 == 6L),
      "the re-crawl must evict every carrier of the now-over-cap key")
    // batch 1: TAKEDOWN doc 4 (empty version). Its decrement must come
    // from the batch-0 W version — W df 2→1 re-serves doc 6's base row.
    // A decrement wrongly sourced from doc 4's BASE T row would leave
    // W's count at 2 and doc 6 evicted forever.
    step(1L, Seq(4L), Seq.empty)
    assert(view(1L) === recount(Seq((6L, tW), (9L, tU))))
    assert(view(1L).exists(_._1 == 6L),
      "the takedown must re-serve the surviving carrier — its " +
        "decrement must be sourced from the LATEST version's postings")
    // batch 2: the taken-down doc re-crawls BACK with fresh text — the
    // decrement leg finds the empty batch-1 version, subtracts nothing
    step(2L, Seq(4L), Seq((4L, tX)))
    assert(view(2L) === recount(Seq((4L, tX), (6L, tW), (9L, tU))))
    assert(view(2L).exists(_._1 == 4L),
      "a re-crawl after a takedown must bring the doc back")
  }

  test("update-chain COMPACTION (shingle + video): updates → compact → " +
      "more updates ≡ the one-shot rebuild with every latest version; " +
      "compacted base ≡ the family deltaBase over that corpus") {
    import spark.implicits._
    // shingle leg — the sizes face must RE-DERIVE (updates move n_c;
    // unlike the retract fold it cannot anti-join through)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five"),
      (3L, "uno dos tres quatro cinco"),
      (9L, "first wholly unrelated content words"))
      .toDF("doc_id", "text")
    val maxDf = 2
    val art = tmpDir("graft_updcompact")
    Dedup.shingleDeltaBase(spark, docs, "text", "doc_id",
      s"$art/a/init", k = 5, maxDf = maxDf)
    def step(dir: String, bid: Long, rows: Seq[(Long, String)]): Unit = {
      val bdf = rows.toDF("doc_id", "text")
      DeltaUpdate.step(spark, dir, "init", bid, bdf.select("doc_id"),
        Dedup.hashedShingleSketch(bdf, "text", "doc_id", k = 5),
        Seq("shingle_k5"))
    }
    val upd1 = (1L, "one two three four five six seven")
    val upd2 = (2L, "alpha beta gamma delta epsilon")
    step(s"$art/a", 0L, Seq(upd1))
    Dedup.shingleUpdateCompact(spark, s"$art/a", "init", 0L,
      s"$art/b/init", k = 5, maxDf = maxDf)
    // the compacted base ≡ the family deltaBase over the updated corpus
    Dedup.shingleDeltaBase(spark,
      Seq((1L, upd1._2), (2L, "one two three four five"),
        (3L, "uno dos tres quatro cinco"),
        (9L, "first wholly unrelated content words"))
        .toDF("doc_id", "text"),
      "text", "doc_id", s"$art/ref/init", k = 5, maxDf = maxDf)
    for (face <- Seq("sketch", "stats", "index", "sizes")) {
      val got = spark.read.parquet(s"$art/b/init/$face")
        .collect().map(_.toString).sorted.toSeq
      val want = spark.read.parquet(s"$art/ref/init/$face")
        .collect().map(_.toString).sorted.toSeq
      assert(got === want, s"compacted $face diverged from the family " +
        "base over the updated corpus")
    }
    // the restarted chain keeps the rebuild equivalence
    step(s"$art/b", 0L, Seq(upd2))
    val got = shingleRows(Dedup.shingleUpdateServing(spark, s"$art/b",
      "init", 0L, k = 5, maxDf = maxDf))
    val want = shingleRows(Dedup.shingleServingIndex(
      Dedup.hashedShingleSketch(
        Seq((1L, upd1._2), (2L, upd2._2),
          (3L, "uno dos tres quatro cinco"),
          (9L, "first wholly unrelated content words"))
          .toDF("doc_id", "text"),
        "text", "doc_id", k = 5), k = 5, maxDf = maxDf))
    assert(got === want,
      "post-compaction update diverged from the one-shot rebuild")

    // video leg — the counts face must re-derive from the compacted
    // sketch (a re-edit moves scene counts)
    import graft.pipeline.{Multimodal => MM}
    def media(df: org.apache.spark.sql.DataFrame) =
      MM.withPayload(df, "text")
        .select(col("doc_id"), col("payload"), col("media_type"))
        .as[MM.MediaRow]
    def kf(df: org.apache.spark.sql.DataFrame) =
      MM.keyframeHashes(media(df), frameBytes = 72, cutPm = 8L).toDF()
    val vdocs = Seq((1L, ("v " * 300).trim), (2L, ("w " * 300).trim))
      .toDF("doc_id", "text")
    val vart = tmpDir("graft_updcompactvid")
    val docHalf = org.apache.spark.sql.functions.expr("id div 65536")
    MM.videoDeltaBase(spark, kf(vdocs), s"$vart/a/init", maxBucket = 100)
    val vupd = (1L, ("x y " * 200).trim)
    val vbdf = Seq(vupd).toDF("doc_id", "text")
    DeltaUpdate.step(spark, s"$vart/a", "init", 0L,
      vbdf.select("doc_id"), MM.videoChunkRows(kf(vbdf)),
      Seq("chunk", "chunk_val"), docHalf)
    MM.videoUpdateCompact(spark, s"$vart/a", "init", 0L,
      s"$vart/b/init", maxBucket = 100)
    val refCorpus = Seq((1L, vupd._2), (2L, ("w " * 300).trim))
      .toDF("doc_id", "text")
    val refIdx = MM.videoKeyframeSketch(kf(refCorpus))
    assert(spark.read.parquet(s"$vart/b/init/sketch")
        .collect().map(_.toString).sorted.toSeq ===
      refIdx.chunks.collect().map(_.toString).sorted.toSeq,
      "video compacted sketch diverged from the rebuild")
    assert(spark.read.parquet(s"$vart/b/init/counts")
        .collect().map(_.toString).sorted.toSeq ===
      refIdx.counts.collect().map(_.toString).sorted.toSeq,
      "video compacted counts diverged from the rebuild")
  }

  test("AUTO-compacted chains (update + retract): the threshold batch " +
      "folds the previous generation as MECHANISM, serving stays ≡ " +
      "recount across generations, and a replayed threshold batch is " +
      "idempotent") {
    import spark.implicits._
    val texts = (1 to 6).map(i =>
      s"word${i}a word${i}b word${i}c word${i}d word${i}e")
    // ---- update leg: compactEvery = 2, five re-crawl batches --------
    val docs = Seq((1L, texts(0)), (2L, texts(1)), (9L, texts(2)))
      .toDF("doc_id", "text")
    val every = 2
    val art = tmpDir("graft_autoupd")
    Dedup.shingleDeltaBase(spark, docs, "text", "doc_id",
      s"${DeltaUpdate.genDir(art, 0L)}/init", k = 5, maxDf = 100)
    def step(bid: Long, doc: Long, text: String): Unit = {
      val bdf = Seq((doc, text)).toDF("doc_id", "text")
      DeltaUpdate.autoStep(spark, art, "init", bid,
        bdf.select("doc_id"),
        Dedup.hashedShingleSketch(bdf, "text", "doc_id", k = 5),
        Seq("shingle_k5"), every)(
        (gd: String, upTo: Long, nb: String) =>
          Dedup.shingleUpdateCompact(spark, gd, "init", upTo, nb,
            k = 5, maxDf = 100))
    }
    def view(b: Long) = shingleRows(Dedup.shingleUpdateServing(spark,
      DeltaUpdate.genDir(art, b / every), "init", b % every, k = 5,
      maxDf = 100))
    def recount(corpus: Seq[(Long, String)]) = shingleRows(
      Dedup.shingleServingIndex(Dedup.hashedShingleSketch(
          corpus.toDF("doc_id", "text"), "text", "doc_id", k = 5),
        k = 5, maxDf = 100))
    val plan = Seq( // (batch, doc, new text, corpus after)
      (0L, 1L, texts(3)), (1L, 2L, texts(4)), (2L, 1L, texts(5)),
      (3L, 2L, texts(0)), (4L, 1L, texts(1)))
    var cur = Map(1L -> texts(0), 2L -> texts(1), 9L -> texts(2))
    plan.foreach { case (bid, doc, t) =>
      step(bid, doc, t)
      cur = cur + (doc -> t)
      assert(view(bid) === recount(cur.toSeq),
        s"auto chain diverged from the recount at global batch $bid")
    }
    // generations materialized at every threshold, bounding the chain
    for (g <- 1 to 2)
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
          s"${DeltaUpdate.genDir(art, g.toLong)}/init/sketch")),
        s"generation $g base was not written at its threshold batch")
    // replay the last threshold batch: the compact re-derives the same
    // base from the sealed gen-1 faces and the view is unchanged
    val before = view(4L)
    step(4L, 1L, texts(1))
    assert(view(4L) === before, "a replayed threshold batch must " +
      "re-derive the identical generation base and serving view")

    // ---- retract leg: compactEvery = 2, three takedown batches ------
    val rdocs = Seq((1L, texts(0)), (2L, texts(1)), (3L, texts(2)),
      (4L, texts(3)), (9L, texts(4))).toDF("doc_id", "text")
    val rart = tmpDir("graft_autoret")
    Dedup.shingleDeltaBase(spark, rdocs, "text", "doc_id",
      s"${DeltaUpdate.genDir(rart, 0L)}/init", k = 5, maxDf = 100)
    // a takedown is an update to an EMPTY version on the same chain,
    // folded by the same family compact
    def rstep(bid: Long, doc: Long): Unit =
      DeltaUpdate.autoStep(spark, rart, "init", bid,
        Seq(doc).toDF("doc_id"),
        DeltaUpdate.emptyVersion(spark,
          s"${DeltaUpdate.genDir(rart, 0L)}/init"),
        Seq("shingle_k5"), every)(
        (gd: String, upTo: Long, nb: String) =>
          Dedup.shingleUpdateCompact(spark, gd, "init", upTo, nb,
            k = 5, maxDf = 100))
    var alive = Map(1L -> texts(0), 2L -> texts(1), 3L -> texts(2),
      4L -> texts(3), 9L -> texts(4))
    Seq((0L, 1L), (1L, 2L), (2L, 3L)).foreach { case (bid, doc) =>
      rstep(bid, doc)
      alive = alive - doc
      val got = shingleRows(Dedup.shingleUpdateServing(spark,
        DeltaUpdate.genDir(rart, bid / every), "init", bid % every, k = 5,
        maxDf = 100))
      assert(got === recount(alive.toSeq),
        s"auto retract chain diverged at global batch $bid")
    }
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
        s"${DeltaUpdate.genDir(rart, 1L)}/init/sketch")),
      "retract generation 1 base was not written at its threshold")
  }

  test("video update delta chain: view ≡ recount per batch; an emptied " +
      "payload vanishes the video AND its scene counts (ADVICE r16)") {
    import spark.implicits._
    import graft.pipeline.{Multimodal => MM}
    def media(df: DataFrame) = MM.withPayload(df, "text")
      .select(col("doc_id"), col("payload"), col("media_type"))
      .as[MM.MediaRow]
    def kf(df: DataFrame) = MM.keyframeHashes(media(df),
      frameBytes = 72, cutPm = 8L).toDF()
    val docs = Seq(
      (1L, ("v " * 300).trim), (2L, ("w " * 300).trim),
      (3L, ("v " * 300).trim))
      .toDF("doc_id", "text")
    val art = tmpDir("graft_updeltavid")
    MM.videoDeltaBase(spark, kf(docs), s"$art/init", maxBucket = 100)
    // batch 0: re-edit video 1 (different cut pattern); batch 1:
    // video 1 re-crawls to an EMPTY payload — zero keyframes
    val batches = Seq(
      Seq((1L, ("x y " * 200).trim)), Seq((1L, "")))
    var upd = Map.empty[Long, String]
    val docHalf = org.apache.spark.sql.functions.expr("id div 65536")
    batches.zipWithIndex.foreach { case (b, i) =>
      val bdf = b.toDF("doc_id", "text")
      DeltaUpdate.step(spark, art, "init", i.toLong,
        bdf.select("doc_id"), MM.videoChunkRows(kf(bdf)),
        Seq("chunk", "chunk_val"), docHalf)
      upd = upd ++ b
      val corpusNow = docs.as[(Long, String)].collect()
        .map { case (id, t) => (id, upd.getOrElse(id, t)) }
        .toSeq.toDF("doc_id", "text")
      val oracle = MM.videoKeyframeSketch(kf(corpusNow))
      val wantChunks = MM.phashServingIndex(oracle.chunks, 100)
        .collect().map(_.toString).sorted.toSeq
      val wantCounts = oracle.counts.collect().map(_.toString).sorted
        .toSeq
      val got = MM.videoUpdateServing(spark, art, "init", i.toLong,
        maxBucket = 100)
      assert(got.chunks.collect().map(_.toString).sorted.toSeq ===
        wantChunks, s"batch $i chunk face diverged from the recount")
      assert(got.counts.collect().map(_.toString).sorted.toSeq ===
        wantCounts, s"batch $i counts face diverged from the recount")
      if (i == 1) {
        assert(got.counts.filter(col("doc_id") === 1L).count() === 0,
          "an emptied video must drop out of the coverage denominators")
        assert(got.chunks.filter(docHalf === 1L).count() === 0,
          "an emptied video must leave no chunk postings")
      }
    }
  }

  /** Spark jobs started by `body`, bracketed by two marker jobs: the
    * listener bus delivers in order, so the count starts at the first
    * marker and is complete once the second has been seen. */
  private def jobsRun(body: => Unit): Int = {
    val sc = spark.sparkContext
    val (open, closed) = ("graft-jobs-open", "graft-jobs-closed")
    val (started, done) = (new AtomicBoolean, new AtomicBoolean)
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.job.description"))
          .orNull match {
          case `open` => started.set(true)
          case `closed` => done.set(true)
          case _ => if (started.get && !done.get) n.incrementAndGet()
        }
    }
    def marker(d: String): Unit = {
      sc.setJobDescription(d)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      ()
    }
    sc.addSparkListener(listener)
    try {
      marker(open)
      body
      marker(closed)
      eventually(timeout(30.seconds))(assert(done.get))
    } finally sc.removeSparkListener(listener)
    n.get
  }

  test("a takedown-chain serving probe derives the touched-doc set once " +
      "(shingle and video decorations share the view's checkpoint)") {
    import spark.implicits._
    import graft.pipeline.{Multimodal => MM}
    val docs = Seq((1L, "one two three four five"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "uno dos tres quatro cinco")).toDF("doc_id", "text")
    val art = tmpDir("graft_probejobs")
    Dedup.shingleDeltaBase(spark, docs, "text", "doc_id", s"$art/init",
      k = 5, maxDf = 2)
    Seq(1L, 3L).zipWithIndex.foreach { case (id, b) =>
      DeltaUpdate.step(spark, art, "init", b.toLong, Seq(id).toDF("doc_id"),
        DeltaUpdate.emptyVersion(spark, s"$art/init"), Seq("shingle_k5"))
    }
    val shingleJobs = jobsRun {
      Dedup.shingleUpdateServing(spark, art, "init", 1L, k = 5, maxDf = 2)
        .collect(); ()
    }

    val kf = MM.keyframeHashes(MM.withPayload(
        Seq((1L, ("v " * 300).trim), (2L, ("w " * 300).trim))
          .toDF("doc_id", "text"), "text")
        .select(col("doc_id"), col("payload"), col("media_type"))
        .as[MM.MediaRow], frameBytes = 72, cutPm = 8L).toDF()
    val vart = tmpDir("graft_probejobs_video")
    MM.videoDeltaBase(spark, kf, s"$vart/init", maxBucket = 100)
    DeltaUpdate.step(spark, vart, "init", 0L, Seq(1L).toDF("doc_id"),
      DeltaUpdate.emptyVersion(spark, s"$vart/init"),
      Seq("chunk", "chunk_val"), expr("id div 65536"))
    val videoJobs = jobsRun {
      val v = MM.videoUpdateServing(spark, vart, "init", 0L, maxBucket = 100)
      v.chunks.collect()
      v.counts.collect(); ()
    }
    // the video probe's scene counts re-derived the set beside the
    // view's checkpoint for one more job (15); the shingle sizes'
    // anti-join already planned its copy without a job of its own
    assert((shingleJobs, videoJobs) === ((12, 14)),
      s"jobs per probe: shingle $shingleJobs, video $videoJobs")
  }

  test("face reads check every path's footer schema: a drifted newrows " +
      "face fails loudly naming its path; a mixed takedown/update chain " +
      "(empty and tokenizer-written faces) passes") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"),
      (9L, "first wholly unrelated content words here"))
      .toDF("doc_id", "text")
    def sketchOf(rows: Seq[(Long, String)]) = Dedup.hashedShingleSketch(
      rows.toDF("doc_id", "text"), "text", "doc_id", k = 5)
    def recount(corpus: Seq[(Long, String)]) = shingleRows(
      Dedup.shingleServingIndex(sketchOf(corpus), k = 5, maxDf = 100))

    // mixed chain: re-crawl, takedown (empty version), re-crawl — the
    // newrows faces are tokenizer-written, empty, tokenizer-written
    val art = tmpDir("graft_facedrift_ok")
    Dedup.shingleDeltaBase(spark, docs, "text", "doc_id", s"$art/init",
      k = 5, maxDf = 100)
    val upd = (1L, "uno dos tres quatro cinco seis")
    DeltaUpdate.step(spark, art, "init", 0L, Seq(1L).toDF("doc_id"),
      sketchOf(Seq(upd)), Seq("shingle_k5"))
    DeltaUpdate.step(spark, art, "init", 1L, Seq(2L).toDF("doc_id"),
      DeltaUpdate.emptyVersion(spark, s"$art/init"), Seq("shingle_k5"))
    val back = (2L, "one two three four five six seven")
    DeltaUpdate.step(spark, art, "init", 2L, Seq(2L).toDF("doc_id"),
      sketchOf(Seq(back)), Seq("shingle_k5"))
    assert(shingleRows(Dedup.shingleUpdateServing(spark, art, "init", 2L,
        k = 5, maxDf = 100)) ===
      recount(Seq(upd, back, (9L, "first wholly unrelated content words here"))),
      "the mixed chain diverged from the recount")

    // drifted chain: batch 1's newrows face carries the key as DOUBLE —
    // the next step's prior-version read and the serving view must
    // both refuse, naming the drifted face
    val bad = tmpDir("graft_facedrift_bad")
    Dedup.shingleDeltaBase(spark, docs, "text", "doc_id", s"$bad/init",
      k = 5, maxDf = 100)
    DeltaUpdate.step(spark, bad, "init", 0L, Seq(1L).toDF("doc_id"),
      sketchOf(Seq(upd)), Seq("shingle_k5"))
    DeltaUpdate.step(spark, bad, "init", 1L, Seq(2L).toDF("doc_id"),
      sketchOf(Seq(back)).select(col("id"),
        col("shingle_k5").cast("double").as("shingle_k5")),
      Seq("shingle_k5"))
    val drifted = s"$bad/1/newrows"
    val e1 = intercept[IllegalArgumentException] {
      DeltaUpdate.step(spark, bad, "init", 2L, Seq(1L).toDF("doc_id"),
        sketchOf(Seq(upd)), Seq("shingle_k5"))
    }
    assert(e1.getMessage.contains(drifted), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      DeltaRetract.readFace(spark, Seq(s"$bad/0/newrows", drifted))
    }
    assert(e2.getMessage.contains(drifted), e2.getMessage)
    // nullability alone is not drift: the empty version's footer says
    // what the base sketch's says, the tokenizer's may differ
    DeltaRetract.readFace(spark, Seq(s"$art/0/newrows", s"$art/1/newrows",
      s"$art/2/newrows")).collect()
  }
}
