package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Multimodal}
import graft.queries.Graph
import graft.streaming.CurationStream

/** Pins the checkpoint lifecycle the convergence loops share
  * ([[ObservedProbe.fixpoint]]) and every pinned checkpoint's release
  * ([[ObservedProbe.release]]).
  *
  * Residency: a call leaves stored only the checkpoints its returned
  * frame reads; every superseded round, edge list and per-batch
  * checkpoint is freed by the code, not by a later GC. Measured as the
  * RDDs `getRDDStorageInfo` reports with cached partitions, before and
  * after each case.
  *
  * Census: the jobs one call of each loop starts. Each round is one
  * checkpoint job with its convergence probe observed in it, and a lazy
  * seed stays lazy, so the counts are pinned exactly: a change that adds
  * a job (an eager seed, a probe job of its own) fails here. */
class CheckpointLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def sc = spark.sparkContext

  /** Ids of the RDDs holding stored blocks. The status store behind
    * `getRDDStorageInfo` is fed by the listener bus, so the set is read
    * until two reads 200 ms apart agree. */
  private def stored(): Set[Int] = {
    def read() = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
      .map(_.id).toSet
    var prev = read()
    var cur = { Thread.sleep(200); read() }
    var tries = 0
    while (cur != prev && tries < 50) {
      prev = cur
      Thread.sleep(200)
      cur = read()
      tries += 1
    }
    cur
  }

  /** The RDDs `body` left stored, freed again once counted. */
  private def leftStored(body: => Unit): Set[Int] = {
    val before = stored()
    body
    val left = stored() -- before
    left.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
    left
  }

  // a 41-node path, both directions: BFS from node 1 needs 40 rounds,
  // so every cap below stops it early with a checkpoint per round run
  private def path41: DataFrame = {
    val und = (1L to 40L).map(i => (i, i + 1))
    (und ++ und.map(_.swap)).toDF("src", "dst")
  }

  test("bfsLevels leaves stored only the checkpoint its result reads, " +
      "at every round cap") {
    val left = Seq(2, 6, 12).map { cap =>
      cap -> leftStored {
        val out = Graph.bfsLevels(path41, Seq(1L).toDF("id"), cap)
        assert(out.count() === cap + 1L)
      }.size
    }
    info(left.map { case (cap, n) => s"maxRounds $cap: $n stored" }
      .mkString(", "))
    assert(left.forall(_._2 == 1), s"stored per call: $left")
  }

  test("labelPropagateFixpoint leaves stored only the checkpoint its " +
      "result reads") {
    val left = leftStored {
      val out = Graph.labelPropagateFixpoint(path41,
        (1L to 41L).toDF("id"), 6)
      assert(out.count() === 41L)
    }
    info(s"${left.size} stored")
    assert(left.size === 1, s"left $left stored")
  }

  test("videoDedupSink frees every per-batch keyframe checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val media = Multimodal.withPayload(
        Tables.load(spark, sf(), "documents"), "text")
      .select(col("doc_id"), col("payload"), col("media_type"))
    val isNew = col("doc_id") % 10 === 0
    val idx0 = Multimodal.videoKeyframeIndex(
      Multimodal.keyframeHashes(media.filter(!isNew).as[Multimodal.MediaRow])
        .toDF())
    // the static archive index: pinned by the test, outside the count
    val idx = Multimodal.VideoIndex(idx0.chunks.localCheckpoint(true),
      idx0.counts.localCheckpoint(true))
    val incr = media.filter(isNew).as[(Long, Array[Byte], String)]
      .collect().sortBy(_._1)
    assert(incr.length >= 3, "the fixture must feed three micro-batches")
    val out = tmpDir("graft_vres")
    val left = leftStored {
      val input = MemoryStream[(Long, Array[Byte], String)]
      val q = CurationStream.videoDedupSink(
        input.toDF().toDF("doc_id", "payload", "media_type"), idx, out,
        s"$out/_cp").start()
      try incr.grouped((incr.length + 2) / 3).foreach { b =>
        input.addData(b.toIndexedSeq: _*)
        q.processAllAvailable()
      } finally q.stop()
      assert(q.recentProgress.count(_.numInputRows > 0) === 3)
    }
    info(s"${left.size} per-batch checkpoints stored after 3 micro-batches")
    assert(left.isEmpty, s"per-batch checkpoints left stored: $left")
  }

  test("release frees exactly one checkpoint: a checkpoint derived from " +
      "it and a sibling of it stay stored and readable") {
    val before = stored()
    val src = spark.range(0, 1000, 1, 4).toDF("id")
    val a = src.localCheckpoint(true)
    val derived = a.select((col("id") * 2).as("id")).localCheckpoint(true)
    val sibling = src.filter(col("id") % 2 === 0).localCheckpoint(true)
    assert((stored() -- before).size === 3)
    ObservedProbe.release(a)
    assert((stored() -- before).size === 2)
    assert(derived.agg(sum("id")).head().getLong(0) === 999000L)
    assert(sibling.count() === 500L)
    assert((stored() -- before).size === 2, "the reads recomputed nothing")
    ObservedProbe.release(derived)
    ObservedProbe.release(sibling)
    assert((stored() -- before).isEmpty)
    intercept[IllegalArgumentException](ObservedProbe.release(src))
  }

  /** Jobs one call of `body` starts. */
  private def jobs(body: => Any): Int = jobsStarted(body)._2.size

  test("job census: each loop's call starts the jobs it always did") {
    val pr = jobs(Graph.pageRankFixpoint(
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
        .toDF("src", "dst"), (1L to 6L).toDF("id"), 8))
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val core = jobs(Graph.kCore((tri ++ tri.map(_.swap)).toDF("src", "dst"),
      k = 2, maxRounds = 8))
    val bfs = jobs(Graph.bfsLevels(path41, Seq(1L).toDF("id"), 6))
    val cc = jobs(Dedup.components(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
        .toDF("doc_a", "doc_b"), "doc_a", "doc_b"))
    info(s"pageRankFixpoint $pr, kCore $core, bfsLevels $bfs, " +
      s"components $cc jobs")
    // components ran 23 jobs before its rounds moved onto the driver:
    // each round's probe was a count() of its own, two jobs (the count
    // shuffles to one partition); observed in the checkpoint job it
    // costs none, one job fewer in each of the 4 rounds
    assert((pr, core, bfs, cc) === ((52, 13, 30, 19)))
  }
}
