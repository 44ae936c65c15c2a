package graft

import org.apache.spark.sql.functions._

/** Dev scratch profiler (not part of the engine surface — lives in
  * TEST scope since round 17, VERDICT r16 task 5: a profiler main with
  * fixture paths baked in does not belong in the shipped tree). Run
  * via `sbt "Test/runMain graft.Scratch ..."`. */
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = Graft.sessionBuilder("scratch", "local[16]", 16).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docs = Tables.load(spark, dir, "documents")
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[scratch] $name%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s  rows=$n")
    }
    // Healthy-band probe for the graph-ANN recall instruments (e33/e34
    // calibration): recall@5 of graphServeTopK over the FULL corpus
    // with a fresh full-corpus index — no takedown, no drift.
    if (args.headOption.contains("nndrecall")) {
      // optional args: nlist (default 16) and beam (default 8), so the
      // geometry levers can be swept for the e35 calibration notes
      import graft.pipeline.Similarity
      val nlist = args.lift(1).map(_.toInt).getOrElse(16)
      val beam = args.lift(2).map(_.toInt).getOrElse(8)
      val e = Tables.load(spark, dir, "embeddings").localCheckpoint(false)
      val idx = Similarity.buildNndIndex(e, "vec_id", "embedding",
        nlist = nlist)
      val approx = Similarity.graphServeTopK(e, "vec_id", "embedding",
          idx, _ < 20, k = 5, beam = beam, hops = 2)
        .select("q_id", "nn_id")
      val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding",
          _ < 20, k = 5)
        .select("q_id", "nn_id")
      val hits = exact.join(approx, Seq("q_id", "nn_id")).count()
      val total = exact.count()
      println(f"[scratch] nnd recall@5 nlist=$nlist beam=$beam = ${
        hits * 100.0 / total}%.1f%% ($hits/$total)")
      spark.stop()
      return
    }
    // Solo-residency probe for a single registered query (bench config:
    // local[32], 32 shuffle partitions): min-of-N in a JVM that has run
    // nothing else, to separate real plan cost from bench-JVM residency.
    if (args.headOption.contains("solo")) {
      val name = args(1)
      val reps = if (args.length > 2) args(2).toInt else 3
      spark.stop()
      val s32 = Graft.sessionBuilder("scratch-solo", "local[32]", 32)
        .getOrCreate()
      s32.sparkContext.setLogLevel("WARN")
      val fn = SparkEntry.queries(name)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val n = fn(s32, dir).count()
        val t = (System.nanoTime() - t0) / 1e9
        println(f"[scratch] solo $name rep: $t%6.2f s  rows=$n")
        s32.catalog.clearCache()
        t
      }
      println(f"[scratch] solo $name min=${times.min}%6.2f s spread=${times.max - times.min}%6.2f s")
      s32.stop()
      return
    }
    // Per-job profile of one registered query (round 19): run it
    // `reps` times on the bench config and record every Spark job's
    // wall + task count via a listener, so "where does an 8 s gate row
    // spend its seconds" decomposes into (a) job count, (b) in-job
    // time, (c) driver gaps (planning/IO between jobs). Top jobs by
    // duration are printed with their job-group descriptions.
    if (args.headOption.contains("jobprof")) {
      val name = args(1)
      val reps = args.lift(2).map(_.toInt).getOrElse(2)
      spark.stop()
      val s32 = Graft.sessionBuilder("scratch-jobprof", "local[32]", 32)
        .config("spark.sql.adaptive.enabled",
          (!args.contains("noaqe")).toString)
        .getOrCreate()
      s32.sparkContext.setLogLevel("WARN")
      val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      val done = java.util.Collections.synchronizedList(
        new java.util.ArrayList[(Int, Long, Long, String)]())
      val tasks = new java.util.concurrent.atomic.AtomicLong(0L)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val desc = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(Option(j.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            .filter(_.nonEmpty)
            .orElse(j.stageInfos.lastOption.map(_.name.take(120)))
            .getOrElse("")
          jobs.put(j.jobId, (j.time, desc))
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(jobs.get(j.jobId)).foreach { case (t0, desc) =>
            done.add((j.jobId, t0, j.time, desc))
          }
        }
        override def onStageCompleted(
            st: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = tasks.addAndGet(st.stageInfo.numTasks.toLong)
      }
      s32.sparkContext.addSparkListener(listener)
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { rep =>
        done.clear(); tasks.set(0L)
        val t0 = System.nanoTime()
        val n = fn(s32, dir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let the listener bus drain
        import scala.jdk.CollectionConverters._
        val ds = done.asScala.toSeq.sortBy(_._2)
        // interval-UNION, not sum: AQE runs jobs concurrently, and a
        // plain sum over overlapping [start, end) windows exceeds the
        // wall and drives "gaps" negative (review r19)
        val jobS = {
          var cover = 0L
          var curA = 0L
          var curB = -1L // sentinel: no open interval yet
          ds.map(d => (d._2, d._3)).sortBy(_._1).foreach { case (a, b) =>
            if (curB < 0) { curA = a; curB = b }
            else if (a > curB) { cover += curB - curA; curA = a; curB = b }
            else if (b > curB) curB = b
          }
          if (curB >= 0) cover += curB - curA
          cover / 1e3
        }
        println(f"[scratch] jobprof $name rep$rep: wall $wall%6.2f s, " +
          f"${ds.size} jobs, in-job ${jobS}%6.2f s, " +
          f"gaps ${wall - jobS}%6.2f s, tasks ${tasks.get()}, rows=$n")
        val toShow =
          if (args.contains("all")) ds.sortBy(_._1)
          else ds.sortBy(d => -(d._3 - d._2)).take(12)
        toShow.foreach { case (id, a, b, desc) =>
          println(f"[scratch]   job $id%4d ${(b - a) / 1e3}%6.2f s  ${desc.replace('\n', ' ').take(110)}")
        }
        s32.catalog.clearCache()
        s32.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
      s32.stop()
      return
    }
    // q55 derivation A/B (round 14): the round-13 refactor re-derived
    // userCoEdges through the weighted groupBy; time the census over
    // both edge derivations, plus the raw edge materialization alone,
    // to locate the q55 regression the r13 driver bench flagged (1.29 →
    // 2.62 s round-over-round).
    if (args.headOption.contains("q55ab")) {
      val s32 = Graft.sessionBuilder("scratch-q55", "local[32]", 32)
        .getOrCreate()
      s32.sparkContext.setLogLevel("WARN")
      val ev = Tables.load(s32, dir, "events")
      def evd = ev.select(col("user_id"),
        date_trunc("minute", col("ts")).as("h"), col("event_type"))
      (1 to 3).foreach { rep =>
        time(s"A(distinct) edges rep$rep") {
          val e = evd.distinct()
          e.as("a").join(e.as("b"),
              col("a.h") === col("b.h") &&
                col("a.event_type") === col("b.event_type") &&
                col("a.user_id") =!= col("b.user_id"))
            .select(col("a.user_id").as("src"), col("b.user_id").as("dst"))
            .distinct().count()
        }
        time(s"B(current)  edges rep$rep") {
          graft.queries.Graph.userCoEdges(ev, grain = "minute").count()
        }
        time(s"A census rep$rep") {
          val e = evd.distinct()
          graft.queries.Graph.triangleCensus(
            e.as("a").join(e.as("b"),
                col("a.h") === col("b.h") &&
                  col("a.event_type") === col("b.event_type") &&
                  col("a.user_id") =!= col("b.user_id"))
              .select(col("a.user_id").as("src"),
                col("b.user_id").as("dst"))).count()
        }
        time(s"B census rep$rep") {
          graft.queries.Graph.triangleCensus(
            graft.queries.Graph.userCoEdges(ev, grain = "minute")).count()
        }
      }
      s32.stop()
      return
    }
    // Decomposed ANN marginal-cost experiment (round 10): at `times`×
    // corpus and nq queries, materialize the encoded index ONCE, then
    // time each stage of the candidate pipeline separately for three
    // scoring kernels — hoisted-LUT ADC, direct ADC, and the two-level
    // family's cosine — so "which part of the 2× IVF-PQ-vs-IVF2 gap is
    // scoring" stops being a hypothesis. join* = scored pairs counted,
    // no window; full* = + top-k window.
    if (args.headOption.contains("annparts")) {
      val t = args.lift(1).map(_.toInt).getOrElse(500)
      val nq = args.lift(2).map(_.toLong).getOrElse(500L)
      val emb = Tables.load(spark, dir, "embeddings")
      val n = emb.count()
      val corpus = emb.crossJoin(
          spark.range(t.toLong).select(col("id").as("rep")))
        .select((col("vec_id") + col("rep") * n).as("nn_id"),
          col("embedding").cast("array<double>").as("nn_vec"))
        .localCheckpoint(true)
      val (nlist, nprobe, m, ksub, dim) = (16, 4, 8, 16, 64)
      val sub = dim / m
      val sample = pipeline.Similarity.Centroids.sample(corpus,
        math.max(nlist, ksub))
      val cents = pipeline.Similarity.Centroids(sample.ids.take(nlist),
        sample.vecs.take(nlist))
      val cb = Array.tabulate(m, ksub)((j, c) =>
        sample.vecs(c).slice(j * sub, (j + 1) * sub))
      import functions.PqAdc.{pq_adc, pq_encode, pq_lut, pq_lut_adc}
      val listed = corpus.withColumn("cell", cents.cellOf(col("nn_vec")))
        .select(col("cell"), col("nn_id"),
          pq_encode(col("nn_vec"), cb, dim).as("codes"),
          col("nn_vec"))
        .localCheckpoint(true)   // index build EXCLUDED from all timings
      val probes = corpus.filter(col("nn_id") < nq)
        .select(col("nn_id").as("q_id"), col("nn_vec").as("q_vec"),
          explode(cents.topCells(col("nn_vec"), nprobe)).as("pc"))
        .select(col("q_id"), col("q_vec"),
          pq_lut(col("q_vec"), cb, dim).as("q_lut"),
          col("pc.c").as("cell"))
        .localCheckpoint(true)
      def joined = broadcast(probes).join(listed, Seq("cell"))
        .filter(col("q_id") =!= col("nn_id"))
      def topk(scored: org.apache.spark.sql.DataFrame) = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("q_id")).orderBy(col("adist"), col("nn_id"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("q_id"), col("rank"), col("nn_id"), col("adist"))
      }
      def lutScored = joined.select(col("q_id"), col("nn_id"),
        round(pq_lut_adc(col("q_lut"), col("codes"), cb), 6).as("adist"))
      def adcScored = joined.select(col("q_id"), col("nn_id"),
        round(pq_adc(col("q_vec"), col("codes"), cb, dim), 6).as("adist"))
      def cosScored = joined.select(col("q_id"), col("nn_id"),
        round(functions.CosineSim.cosine_sim(col("q_vec"), col("nn_vec")), 6)
          .as("adist"))
      // the round-10 bounded-top-k aggregation face (the operators' shape)
      def aggTopk(scored: org.apache.spark.sql.DataFrame) = scored
        .groupBy(col("q_id"))
        .agg(functions.TopK.topk_pairs(col("adist"), col("nn_id"), 5,
          asc = true).as("tk"))
        .select(col("q_id"), posexplode(col("tk")))
      // CAVEAT: count() legs measure the JOIN FAN-OUT ONLY — Catalyst
      // prunes the scoring projection under count(), so "join+X" timing
      // differences between kernels are noise. Kernel cost is only
      // visible in the agg/window legs, whose consumer needs the score.
      time("pairs only")(joined.select(col("q_id")).count())
      time("join+LUT adc")(lutScored.count())
      time("join+direct adc")(adcScored.count())
      time("join+cosine")(cosScored.count())
      time("agg LUT")(aggTopk(lutScored).count())
      time("agg direct")(aggTopk(adcScored).count())
      time("agg cosine")(aggTopk(cosScored).count())
      time("agg LUT (rep2)")(aggTopk(lutScored).count())
      time("window LUT")(topk(lutScored).count())
      time("window cosine")(topk(cosScored).count())
      spark.stop()
      return
    }
    // Physical-plan dump for the ANN candidate→window pipelines: what
    // actually rides the window exchange (the round-10 ADC-hoisting
    // question: does the per-query LUT/vector column get pruned below
    // the rank window or does it ship per candidate row?).
    if (args.headOption.contains("plan")) {
      val emb = Tables.load(spark, dir, "embeddings")
      val df = args.lift(1).getOrElse("ivfpq") match {
        case "ivfpq" =>
          pipeline.Similarity.ivfPqTopK(emb, "vec_id", "embedding", _ < 20, 5)
        case "ivf2" =>
          pipeline.Similarity.ivfTopK(emb, "vec_id", "embedding", _ < 20, 5,
            nlist = 256, nprobe = 64, superProbe = 4)
        case "pq" =>
          pipeline.Similarity.pqTopK(emb, "vec_id", "embedding", _ < 20, 5)
      }
      println(df.queryExecution.executedPlan.toString)
      spark.stop()
      return
    }
    time("warm scan")(docs.count())
    val hashed = pipeline.TextAnalysis.hashedShingleRows(docs, "text", "doc_id", 5)
    time("hashed shingle rows")(hashed.count())
    time("shingle rows+agg")(
      hashed.groupBy("id").agg(max("shingle")).count())
    time("groupBy 64 mins")(
      pipeline.MinHashLSH.signatures(docs, "text", "doc_id", 5, 64)
        .agg(max(element_at(col("sig"), 1))).count())
    time("sigs+banded")(
      pipeline.MinHashLSH.banded(
        pipeline.MinHashLSH.signatures(docs, "text", "doc_id", 5, 64), 16, 4)
        .count())
    time("full candidatePairs")(
      pipeline.MinHashLSH.candidatePairs(docs, "text", "doc_id").count())
    spark.stop()
  }
}
