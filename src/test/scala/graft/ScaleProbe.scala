package graft

import org.apache.spark.sql.functions._

/** Dev scale probe (not part of the engine surface; test scope, run with
  * `sbt "Test/runMain graft.ScaleProbe [mode] [args]"`): ANN paths at 10×
  * the sf0.1 corpus — replicates the embeddings table with id offsets to
  * 50k vectors and times brute-force vs LSH vs IVF top-k for the same 20
  * queries. Mode `dedup [times]` instead probes the composed near-dup
  * pipeline (d15) at times× the documents table. Results recorded in
  * BASELINE.md. */
object ScaleProbe {

  /** Documents replicated `times`× with per-replica DISJOINT vocabularies
    * (replica i > 0 prefixes every token with r{i}_): corpus and planted
    * duplication both grow exactly times× while no cross-replica
    * shingles/windows/near-dups appear — the shared construction behind
    * the dedup / incremental / curation / substr probes. */
  private def replicatedDocs(spark: org.apache.spark.sql.SparkSession,
      dir: String, times: Int, checkpoint: Boolean = true)
      : org.apache.spark.sql.DataFrame = {
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val n = docs.count()
    val c = (0 until times).map { i =>
      docs.select((col("doc_id") + lit(i * n)).as("doc_id"),
        (if (i == 0) col("text")
         else regexp_replace(col("text"), "(\\S+)", s"r${i}_$$1")).as("text"))
    }.reduce(_ unionAll _)
    if (checkpoint) c.localCheckpoint(true) else c
  }

  /** Near-dup pipeline at scale: replicate documents `times`× with every
    * replica's vocabulary made disjoint (each word prefixed with the
    * replica index), so the corpus grows times× while the PLANTED
    * duplicate fraction stays constant — replicas share no shingles, so
    * no cross-replica candidates appear. That is the 100 TB shape the
    * flagged-slice claim has to survive: input grows, the LSH-flagged
    * slice must grow only linearly with it. */
  private def dedupProbe(spark: org.apache.spark.sql.SparkSession,
      dir: String, times: Int): Unit = {
    def corpus(t: Int) = replicatedDocs(spark, dir, t)

    def probe(tag: String, c: org.apache.spark.sql.DataFrame): Unit = {
      val rows = c.count()
      // flagged slice = distinct ids in the LSH candidate list (production
      // xxhash64 family, production caps — the 100 TB configuration)
      val cands = pipeline.MinHashLSH
        .candidatePairs(c, "text", "doc_id").select("doc_a", "doc_b")
      val nPairs = cands.count()
      val nFlagged = cands
        .select(explode(array(col("doc_a"), col("doc_b"))).as("id"))
        .distinct().count()
      def run(label: String): Long = {
        val t0 = System.nanoTime()
        val dups = pipeline.Dedup.nearDupPipeline(c, "text", "doc_id")
          .filter(col("keep_id") =!= col("doc_id")).count()
        println(f"[probe] d15/$tag/$label%-6s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
        dups
      }
      val d1 = run("cold") // fresh plan: JIT + checkpoint materialization
      val d2 = run("warm") // answers whether the bench spread is cold-start
      assert(d1 == d2)
      println(s"[probe] d15/$tag rows=$rows candPairs=$nPairs " +
        s"flagged=$nFlagged (${"%.1f".format(100.0 * nFlagged / rows)}%) dups=$d1")
    }
    probe("1x", corpus(1))
    probe(s"${times}x", corpus(times))
  }

  /** Incremental-dedup cost model at scale: corpus grows `times`×
    * (disjoint replica vocabularies, as in [[dedupProbe]]), the
    * increment stays FIXED (10% of the base table, id-shifted, matching
    * only replica 0 — constant true-pair count). Measures (a) the
    * one-time index snapshot build+persist, which may grow linearly,
    * and (b) the per-increment query against the persisted index, whose
    * only corpus-dependent term is a map-side scan of the 16-byte-row
    * index — no archive-wide shuffle or aggregate (d21's design claim). */
  private def incrProbe(spark: org.apache.spark.sql.SparkSession,
      dir: String, times: Int): Unit = {
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
    val n = docs.count()
    def corpus(t: Int) = replicatedDocs(spark, dir, t, checkpoint = false)
    // two increment sizes (10% and 100% of the base table, id-shifted,
    // still matching only replica 0) × two corpus scales: the grid
    // separates the increment-proportional term from the index-scan term
    val incSmall = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"), col("text"))
      .localCheckpoint(true)
    val incBig = docs
      .select((col("doc_id") + lit(10000000L)).as("doc_id"), col("text"))
      .localCheckpoint(true)
    Seq(1, times).foreach { t =>
      val idxPath = TmpHygiene.scratchDir(s"graft_incridx_$t")
      val t0 = System.nanoTime()
      pipeline.Dedup.hashedShingleIndex(corpus(t), "text", "doc_id")
        .write.mode("overwrite").parquet(idxPath)
      val buildS = (System.nanoTime() - t0) / 1e9
      val idx = spark.read.parquet(idxPath)
      def query(tag: String, inc: org.apache.spark.sql.DataFrame,
          label: String): Long = {
        val q0 = System.nanoTime()
        val pairs = pipeline.Dedup
          .incrementalPairsFromIndex(idx, inc, "text", "doc_id").count()
        println(f"[probe] incr/${t}x/$tag/$label%-5s ${(System.nanoTime() - q0) / 1e9}%7.2f s  pairs=$pairs")
        pairs
      }
      Seq("small" -> incSmall, "big" -> incBig).foreach { case (tag, inc) =>
        val p1 = query(tag, inc, "cold")
        val p2 = query(tag, inc, "warm")
        assert(p1 == p2)
      }
      println(s"[probe] incr/${t}x corpus=${t * n} idxRows=${idx.count()} " +
        f"build=$buildS%.2f s")
    }
  }

  /** Time-series operators at scale: replicate events `times`× with
    * user_id offsets — the ENTITY COUNT grows times× while every
    * entity's history (span, density, per-key state) stays constant.
    * That is the claim the family makes for 100 TB: all shuffles key on
    * the entity, so wall time scales with entities × per-entity span,
    * and nothing cross-entity ever materializes. */
  private def tsProbe(spark: org.apache.spark.sql.SparkSession,
      dir: String, times: Int): Unit = {
    val ev = Tables.load(spark, dir, "events")
      .select("user_id", "ts", "value")
    val n = ev.agg(max("user_id")).first().getLong(0) + 1
    def corpus(t: Int) = (0 until t).map { i =>
      ev.select((col("user_id") + lit(i * n)).as("user_id"), col("ts"),
        col("value"))
    }.reduce(_ unionAll _).localCheckpoint(true)
    def probe(tag: String, c: org.apache.spark.sql.DataFrame): Unit = {
      val rows = c.count()
      def time(label: String)(f: => Long): Unit = {
        val t0 = System.nanoTime()
        val out = f
        println(f"[probe] ts/$tag/$label%-10s " +
          f"${(System.nanoTime() - t0) / 1e9}%7.2f s  rows=$out")
      }
      println(s"[probe] ts/$tag events=$rows")
      time("ffill")(queries.TimeSeries
        .gapFillHourly(c, "user_id", "ts", count(lit(1)).cast("long"))
        .count())
      time("interp")(queries.TimeSeries
        .gapFillInterp(c, "user_id", "ts",
          (sum(col("value").cast("decimal(18,2)")) * 100).cast("long"))
        .count())
      time("sessionize")(queries.TimeSeries
        .sessionize(c, "user_id", "ts", gapUs = 12L * 3600 * 1000000)
        .groupBy("user_id", "session_id").count().count())
    }
    probe("1x", corpus(1))
    probe(s"${times}x", corpus(times))
    // 1× again, post-JIT: the honest denominator for the scaling ratio
    probe("1x-warm", corpus(1))
  }

  /** SymSpell fuzzy-join cost at vocabulary scale: the 31-word fixture
    * vocabulary cannot exercise the O(vocab·len²) claim, so the probe
    * synthesizes `n` random 7-char tokens (left) and plants a dist-1
    * partner for each by rotating the first character (right). Cost
    * should scale ~linearly in vocab (each token contributes 1+L+L(L−1)/2
    * = 29 variant keys); the planted n pairs give the output a known
    * floor. */
  private def fuzzyProbe(spark: org.apache.spark.sql.SparkSession,
      times: Int): Unit = {
    val letters = "abcdefghijklmnopqrstuvwxyz"
    def vocab(n: Long) = spark.range(n).select(
      concat_ws("", transform(sequence(lit(1), lit(7)),
        i => lit(letters).substr(
          pmod(hash(col("id"), i), lit(26)).cast("int") + lit(1),
          lit(1)))).as("tok"))
    def probe(tag: String, n: Long): Unit = {
      val left = vocab(n).localCheckpoint(true)
      val right = left.select(concat(
          lit(letters).substr(
            pmod(ascii(substring(col("tok"), 1, 1)) - lit(96), lit(26))
              + lit(1), lit(1)),
          col("tok").substr(lit(2), length(col("tok")))).as("tok"))
        .localCheckpoint(true)
      val t0 = System.nanoTime()
      val out = pipeline.Curation.fuzzyTokenJoin(left, right, "tok").count()
      println(f"[probe] fuzzy/$tag%-7s n=$n%-8d " +
        f"${(System.nanoTime() - t0) / 1e9}%7.2f s  pairs=$out")
    }
    val base = 20000L
    probe("1x", base)
    probe(s"${times}x", base * times)
    probe("1x-warm", base)
  }

  /** Composed curation pipeline (d31's shape) at scale: documents
    * replicated `times`× with disjoint vocabularies (the [[dedupProbe]]
    * construction — planted duplicate/contamination structure constant
    * per replica), run through dedup → decontaminate → quality → pack.
    * The claim under test: every stage is shuffle-bounded by keys/
    * shingle-hashes (never text), the packing prefix sum is bucket-
    * distributed, so wall scales ~linearly with corpus. */
  private def curationProbe(spark: org.apache.spark.sql.SparkSession,
      dir: String, times: Int): Unit = {
    def corpus(t: Int) = replicatedDocs(spark, dir, t)
    def probe(tag: String, c: org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val isEval = col("doc_id") % 50 === 0
      val base = c.filter(!isEval)
      val keepIds = pipeline.Dedup.exact(base, "text", "doc_id")
        .select(col("keep_id").as("doc_id"))
      val deduped = base.join(keepIds, Seq("doc_id"), "left_semi")
      val contaminated = pipeline.Curation.contamination(
          deduped, c.filter(isEval), "text", "doc_id", k = 5)
        .select(col("id").as("doc_id"))
      val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
      val kept = pipeline.Curation.repetitionStats(clean, "text", "doc_id")
        .filter(col("keep") === 1).select("doc_id")
      val survivors = clean.join(kept, Seq("doc_id"), "left_semi")
      val packed = pipeline.Curation
        .sequencePack(survivors, "text", "doc_id", budget = 512L)
      val rows = packed.count()
      val bins = packed.agg(max("bin")).first().getLong(0) + 1
      println(f"[probe] curation/$tag%-7s ${(System.nanoTime() - t0) / 1e9}%7.2f s" +
        f"  survivors=$rows bins=$bins")
    }
    probe("1x", corpus(1))
    probe(s"${times}x", corpus(times))
    probe("1x-warm", corpus(1))
  }

  /** ANN at 1M vectors with a measured build/query split. The operator
    * APIs fuse index build (centroid/codebook sample + corpus encode)
    * with querying, so the split is measured differentially: a warmed
    * run with ONE query ≈ build + one scan, and the nq-query run minus
    * it = the marginal cost of the other nq-1 queries. That turns the
    * "build cost amortizes over queries" argument into two numbers per
    * family instead of a claim. Configs match the 100k ANN-refresh table
    * (BASELINE.md) so the 1M row is comparable, except LSH gets
    * bits = 10 — at 1M vectors 6 bits is 64 buckets of ~16k vectors and
    * the probe neighborhood would approach a brute scan. */
  private def annSplitProbe(spark: org.apache.spark.sql.SparkSession,
      dir: String, times: Int, nq: Long, only: Option[String] = None): Unit = {
    val emb = Tables.load(spark, dir, "embeddings")
    val n = emb.count()
    val big = emb.crossJoin(
        spark.range(times.toLong).select(col("id").as("rep")))
      .select((col("vec_id") + col("rep") * n).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    println(s"[probe] annsplit corpus = ${big.count()} vectors, $nq queries")
    def t(f: => Long): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def split(name: String)(
        run: Long => org.apache.spark.sql.DataFrame): Unit = {
      if (only.exists(_ != name)) return
      run(1L).count() // warm: JIT + codegen, off the clock
      val b = t(run(1L).count())
      val q = t(run(nq).count())
      println(f"[probe] annsplit/$name%-10s build+1q $b%7.2f s   " +
        f"build+${nq}q $q%8.2f s   marginal ${q - b}%7.2f s")
    }
    split("brute")(m => pipeline.Similarity
      .bruteForceTopK(big, "vec_id", "embedding", _ < m, 5))
    split("lsh10")(m => pipeline.Similarity
      .lshTopK(big, "vec_id", "embedding", _ < m, 5, bits = 10))
    split("ivf256x2")(m => pipeline.Similarity
      .ivfTopK(big, "vec_id", "embedding", _ < m, 5,
        nlist = 256, nprobe = 64, superProbe = 4))
    split("ivfpq")(m => pipeline.Similarity
      .ivfPqTopK(big, "vec_id", "embedding", _ < m, 5))
    split("ivfpq-res")(m => pipeline.Similarity
      .ivfPqResidualTopK(big, "vec_id", "embedding", _ < m, 5))
    split("hamming")(m => pipeline.Similarity
      .hammingRerankTopK(big, "vec_id", "embedding", _ < m, 5))
    // graph ANN: run at times=50 (100k vectors), not 500 — the literal-
    // path build is per-cell all-pairs ((n/nlist)²·nlist at nlist ≤ 64),
    // feasible at 100k and probe-relevant because the QUERY side is the
    // claim: marginal cost is hops×beam×degree per query, constant in
    // corpus size.
    split("graphann")(m => pipeline.Similarity
      .graphTopK(big, "vec_id", "embedding", _ < m, 5, nlist = 64))
  }

  /** ExactSubstr span removal at scale: replicate the documents `times`×
    * with per-replica disjoint vocabularies (the d15 construction), so
    * corpus AND planted duplication both grow exactly times× while no
    * cross-replica windows collide. The operator's scale claim is that
    * the coverage explode is DUPLICATION-proportional (k rows per
    * duplicated window start), not corpus-proportional — so removed
    * tokens must grow exactly linearly and wall sublinearly. */
  private def substrProbe(spark: org.apache.spark.sql.SparkSession,
      dir: String, times: Int): Unit = {
    def corpus(t: Int) = replicatedDocs(spark, dir, t)
    def probe(tag: String, c: org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val agg = pipeline.Curation.substrDedup(c, "text", "doc_id")
        .agg(sum("n_tokens").as("nt"), sum("n_removed").as("nr"))
        .collect()(0)
      println(f"[probe] substr/$tag%-5s ${(System.nanoTime() - t0) / 1e9}%7.2f s  " +
        s"tokens=${agg.getLong(0)} removed=${agg.getLong(1)}")
    }
    probe("1x", corpus(1))
    probe(s"${times}x", corpus(times))
  }

  /** Graph family at scale, two deliberately different replications of
    * the events table, both with DISJOINT user-id spaces per replica:
    *
    *   - `sparse`: each replica's timestamps are also shifted by i×10
    *     years, so replicas share no (hour, type) buckets — the graph
    *     is `times` disjoint copies and |E| must grow EXACTLY linearly.
    *     This is the corpus-growth axis (more tenants/days of data).
    *   - `dense`: timestamps unshifted, so all replicas' users land in
    *     the SAME buckets — bucket density ×times drives |E| ≈ ×times²,
    *     the Σ k_b² worst case `userCoEdges` documents. This is the
    *     bucket-densification axis; the probe certifies wall grows
    *     SUBLINEARLY in |E| (the pipeline is edge-bound, not worse).
    *
    * Each variant times the q51 shape: edge derivation, then 2 unrolled
    * integer PageRank iterations (per iteration one src-keyed join +
    * one dst-keyed BIGINT sum). */
  private def graphProbe(spark: org.apache.spark.sql.SparkSession,
      dir: String, times: Int): Unit = {
    def probe(tag: String, t: Int, shiftTime: Boolean,
        cap: Int = 64): Unit = {
      val c = replicatedEvents(spark, dir, t, shiftTime)
      val t0 = System.nanoTime()
      val edges = queries.Graph.userCoEdges(c, cap = cap).localCheckpoint(true)
      val ne = edges.count()
      val tEdge = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val agg = queries.Graph
        .pageRankInt(edges, c.select(col("user_id").as("id")), iters = 2)
        .agg(count(lit(1)), sum("pr2")).head
      val tPr = (System.nanoTime() - t1) / 1e9
      println(f"[probe] graph/$tag%-4s edges=$ne nodes=${agg.getLong(0)} " +
        f"mass2=${agg.getLong(1)} edge_s=$tEdge%6.2f pr_s=$tPr%6.2f")
      // each leg releases its pinned corpus + edges before the next —
      // the replicatedEvents contract; the dense legs would otherwise
      // pin several times×-replicated corpora simultaneously
      edges.unpersist(blocking = false)
      c.unpersist(blocking = false)
    }
    probe("1x", 1, shiftTime = false)
    probe(s"${times}x-sparse", times, shiftTime = true)
    // The dense axis is the hot-bucket worst case the round-9 verdict
    // flagged: ×times replicas land in the SAME (hour, type) buckets, so
    // uncapped |E| grows ≈ ×times² (measured 23× wall in round 9). The
    // capped default must hold edge count AND wall roughly flat vs 1x —
    // that contrast is the enforcement evidence. The contrast leg runs
    // at the 4096 buffer-budget maximum, NOT uncapped (the aggregate
    // enforces ≤4096) — honest up to ~82 replicas (50·times members per
    // bucket); past that this leg UNDERSTATES the truly-uncapped cost.
    probe(s"${times}x-dense", times, shiftTime = false)
    probe(s"${times}x-dense-cap4096", times, shiftTime = false,
      cap = 4096)
  }

  /** NN-descent at scale: seed-vs-refinement cost split, at TWO corpus
    * scales. The claim under test is the round-11 build asymptotics:
    * the sampled-representative seed is LINEAR (n·2·reps scored pairs
    * against a broadcast rep table — the round-10 probe measured the
    * old in-cell all-pairs seed at ~100% of build cost and Θ(n²/nlist)
    * at fixed nlist), and each refinement round is linear too
    * (degree-bounded forward + reverse edges, ≤ 4·degree² wedge
    * candidates per node). Evidence wanted: seed wall and round-1
    * MARGINAL wall both growing ~×2 when the corpus doubles — at fixed
    * nlist, where the old seed grew ~×4. */
  private def nndProbe(spark: org.apache.spark.sql.SparkSession,
      dir: String, times: Int): Unit = {
    val emb = Tables.load(spark, dir, "embeddings")
    val n = emb.count()
    def corpus(t: Int) = emb.crossJoin(
        spark.range(t.toLong).select(col("id").as("rep")))
      .select((col("vec_id") + col("rep") * n).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    def leg(scaleTag: String, big: org.apache.spark.sql.DataFrame,
        rounds: Int, nlist: Int = 64): Unit = {
      val t0 = System.nanoTime()
      val q = pipeline.Similarity
        .nnDescentAdj(big, "vec_id", "embedding", rounds = rounds,
          nlist = nlist)
        .agg(count(lit(1)), sum("nsim")).head
      println(f"[probe] nnd/$scaleTag/nlist=$nlist/rounds=$rounds " +
        f"${(System.nanoTime() - t0) / 1e9}%7.2f s" +
        f"  edges=${q.getLong(0)} quality=${q.getDouble(1)}%.1f")
    }
    for (t <- Seq(times / 2, times)) {
      val big = corpus(t)
      println(s"[probe] nnd corpus = ${big.count()} vectors, degree=6")
      leg(s"${t}x", big, 0)
      leg(s"${t}x", big, 1)
      // the production routing: nlist > 64 switches cell assignment to
      // the fixed-size IvfCellsExpr kernel (more cells AND cheaper
      // per-row than 64 literal-centroid struct sorts)
      leg(s"${t}x", big, 1, nlist = 128)
      big.unpersist()
    }
  }

  /** Incremental-vs-rebuild cost for the graph index: archive at
    * `times`× replication, delta = one extra sf0.1 replica (~2% of the
    * archive at times=50). The claim under test is nnDescentAppend's
    * O(|delta| + touched frontier) — append wall must sit far below
    * the from-scratch rebuild over the combined corpus, and the two
    * must agree on edge count + quality (the spec proves row equality
    * on the fixture; the probe proves the COST asymmetry at scale). */
  private def nndAppendProbe(spark: org.apache.spark.sql.SparkSession,
      dir: String, times: Int): Unit = {
    val emb = Tables.load(spark, dir, "embeddings")
    val n = emb.count()
    val combined = emb.crossJoin(
        spark.range(times.toLong + 1).select(col("id").as("rep")))
      .select((col("vec_id") + col("rep") * n).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    val cut = times.toLong * n   // ids >= cut are the delta replica
    val archive = combined.filter(col("vec_id") < cut).localCheckpoint(true)
    println(s"[probe] nndappend archive=${archive.count()} delta=$n " +
      "nlist=64 degree=6")
    val t0 = System.nanoTime()
    val built = pipeline.Similarity.buildNndIndex(archive, "vec_id",
      "embedding", nlist = 64)
    val builtIdx = built.copy(
      seed = built.seed.localCheckpoint(true),
      refined = built.refined.localCheckpoint(true))
    println(f"[probe] nndappend/archive-build ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    for (d <- Seq(n / 10, n)) {
      val comb = combined.filter(col("vec_id") < cut + d)
      val t1 = System.nanoTime()
      val app = pipeline.Similarity.appendNndIndex(builtIdx, comb,
        "vec_id", "embedding", _ >= cut)
      val aAgg = app.refined.agg(count(lit(1)), sum("nsim")).head
      println(f"[probe] nndappend/append-$d ${(System.nanoTime() - t1) / 1e9}%7.2f s" +
        f"  edges=${aAgg.getLong(0)} quality=${aAgg.getDouble(1)}%.1f")
    }
    val t2 = System.nanoTime()
    val sAgg = pipeline.Similarity
      .nnDescentAdjWith(combined, "vec_id", "embedding", builtIdx.quant)
      .agg(count(lit(1)), sum("nsim")).head
    println(f"[probe] nndappend/rebuild       ${(System.nanoTime() - t2) / 1e9}%7.2f s" +
      f"  edges=${sAgg.getLong(0)} quality=${sAgg.getDouble(1)}%.1f")
  }

  /** Replicated events fixture shared by the graph-family probes
    * ([[graphProbe]], [[lpaProbe]]): user ids shifted per replica
    * (always disjoint); `shiftTime` additionally shifts each replica a
    * decade, so SPARSE replicas share no (bucket, type) with each other
    * while DENSE replicas pile into the same buckets. Materialized —
    * callers unpersist between legs. */
  private def replicatedEvents(spark: org.apache.spark.sql.SparkSession,
      dir: String, t: Int, shiftTime: Boolean)
      : org.apache.spark.sql.DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select("user_id", "ts", "event_type")
    val maxU = ev.agg(max("user_id")).head.getLong(0) + 1
    val decadeUs = 10L * 366 * 24 * 3600 * 1000000
    (0 until t).map { i =>
      ev.select((col("user_id") + lit(i * maxU)).as("user_id"),
        (if (shiftTime)
           timestamp_micros(unix_micros(col("ts")) + lit(i * decadeUs))
         else col("ts")).as("ts"),
        col("event_type"))
    }.reduce(_ unionAll _).localCheckpoint(true)
  }

  /** Label propagation at scale, on the q61 derivation: each LPA round
    * is one src-keyed equi-join + one (dst, label) count shuffle
    * (≤ |E| narrow rows) + one per-node min(struct) hash argmax — no
    * per-node sort anywhere, so wall should track EDGE COUNT across
    * legs. Sparse replicas are disjoint (community count must scale
    * ~×times); the dense leg lands replicas in the same buckets (the
    * capped q60 derivation bounds |E|). */
  private def lpaProbe(spark: org.apache.spark.sql.SparkSession,
      dir: String, times: Int): Unit = {
    def probe(tag: String, t: Int, shiftTime: Boolean): Unit = {
      val c = replicatedEvents(spark, dir, t, shiftTime)
      val edges = queries.Graph.userCoEdges(c).localCheckpoint(true)
      val ne = edges.count()
      val t0 = System.nanoTime()
      val lp = queries.Graph.labelPropagate(edges,
        c.select(col("user_id").as("id")), rounds = 2)
      val agg = lp.agg(count(lit(1)),
        countDistinct(col("lbl2"))).head
      println(f"[probe] lpa/$tag%-10s edges=$ne nodes=${agg.getLong(0)} " +
        f"communities=${agg.getLong(1)} lpa_s=${(System.nanoTime() - t0) / 1e9}%6.2f")
      // the convergence-driven face on the same graph: measures what the
      // per-round fixpoint machinery (localCheckpoint + short-circuit
      // change probe) costs on top of the unrolled plan, and how the
      // convergence round count behaves as the graph densifies — the
      // budget is the q62 contract's ceiling, so a non-converging
      // topology runs 16 rounds and says so instead of spinning
      val t1 = System.nanoTime()
      val fx = queries.Graph.labelPropagateFixpoint(edges,
        c.select(col("user_id").as("id")), maxRounds = 16)
      val fagg = fx.agg(max("rounds_run"),
        max(col("converged").cast("int")), countDistinct("community")).head
      println(f"[probe] lpa/$tag%-10s FIXPOINT rounds=${fagg.getInt(0)} " +
        f"converged=${fagg.getInt(1) == 1} communities=${fagg.getLong(2)} " +
        f"fix_s=${(System.nanoTime() - t1) / 1e9}%6.2f")
      // each leg releases EVERYTHING it pinned before the next (the
      // dense leg is the memory-heavy one — see userCoEdges' scaladoc):
      // a full persistent-RDD sweep, not targeted unpersists, because
      // the fixpoint operators internally checkpoint their own edge
      // copy, seed, and per-round label tables (all consumed by now)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    probe("1x", 1, shiftTime = false)
    probe(s"${times}x-sparse", times, shiftTime = true)
    probe(s"${times}x-dense", times, shiftTime = false)
  }

  /** The round-13 fixpoint faces at scale: k-truss peeling on the
    * minute-grain graph and multi-source BFS on the hour-grain graph,
    * over SPARSE replicas (disjoint edge sets, so |E| scales ×times and
    * a scale-safe implementation should track it ~linearly — the truss
    * wedge join is bounded by Σ out-deg² which replication leaves
    * per-replica-constant, and each BFS round is frontier-join +
    * anti-join work proportional to the edges touched). Round counts
    * must stay REPLICA-INVARIANT (disjoint copies peel/expand in
    * lockstep); the probe prints them so a divergence is visible. */
  private def trussProbe(spark: org.apache.spark.sql.SparkSession,
      dir: String, times: Int): Unit = {
    def probe(tag: String, t: Int): Unit = {
      val c = replicatedEvents(spark, dir, t, shiftTime = true)
      // empty-result-safe: max() over zero rows is null
      def gi(r: org.apache.spark.sql.Row, i: Int): Int =
        if (r.isNullAt(i)) -1 else r.getInt(i)
      val edges = queries.Graph.userCoEdges(c, grain = "minute")
        .localCheckpoint(true)
      val ne = edges.count()
      val t0 = System.nanoTime()
      val kt = queries.Graph.kTruss(edges, k = 3, maxRounds = 8)
      val ka = kt.agg(count(lit(1)), max("rounds_run"),
        max(col("converged").cast("int"))).head
      println(f"[probe] truss/$tag%-4s edges=$ne " +
        f"survivors=${ka.getLong(0)} rounds=${gi(ka, 1)} " +
        f"converged=${gi(ka, 2) == 1} truss_s=${(System.nanoTime() - t0) / 1e9}%6.2f")
      val hedges = queries.Graph.userCoEdges(c).localCheckpoint(true)
      val nhe = hedges.count()
      // seed on the BASE residue: replicatedEvents shifts replica i's
      // ids by i·maxU, so `id % 16` alone would pick a different
      // residue class per replica whenever maxU % 16 ≠ 0 — the
      // ×times reached-invariant must not depend on that accident
      val maxU = Tables.load(spark, dir, "events")
        .agg(max("user_id")).head.getLong(0) + 1
      val seeds = c.select(col("user_id").as("id"))
        .filter(col("id") % lit(maxU) % 16 === 0)
      val t1 = System.nanoTime()
      val bfs = queries.Graph.bfsLevels(hedges, seeds, maxRounds = 16)
      val ba = bfs.agg(count(lit(1)), max("level"), max("rounds_run"),
        max(col("converged").cast("int"))).head
      println(f"[probe] bfs/$tag%-4s edges=$nhe reached=${ba.getLong(0)} " +
        f"maxLevel=${gi(ba, 1)} rounds=${gi(ba, 2)} " +
        f"converged=${gi(ba, 3) == 1} bfs_s=${(System.nanoTime() - t1) / 1e9}%6.2f")
      // full sweep between legs — the fixpoint operators checkpoint
      // their own per-round state internally (the lpaProbe rationale)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    probe("1x", 1)
    probe(s"${times}x", times)
  }

  /** CC algorithm face-off: the DEEP leg (a pathN-node path, diameter
    * pathN−1 — the topology min-label propagation is worst at: one round
    * per hop) vs the BULK leg (8·pathN random edges, shallow components
    * — the near-dup regime both algorithms handle). Wall times + label
    * agreement printed; the alt-star round count is O(log²) by
    * construction, so the path leg merely DOUBLES its maxIter to 40 as
    * headroom for the diameter-2047 topology (vs the min-label leg's
    * maxIter ≈ pathN just to close the path at all). */
  private def ccProbe(spark: org.apache.spark.sql.SparkSession,
      pathN: Int): Unit = {
    def run(tag: String, f: => org.apache.spark.sql.DataFrame)
        : Map[Long, Long] = {
      val t0 = System.nanoTime()
      val m = f.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      println(f"[probe] cc/$tag%-22s ${(System.nanoTime() - t0) / 1e9}%7.2f s" +
        f"  nodes=${m.size}")
      m
    }
    val path = spark.range(1, pathN.toLong)
      .select(col("id").as("doc_a"), (col("id") + lit(1L)).as("doc_b"))
      .localCheckpoint(true)
    val ps = run(s"path$pathN/altstar",
      pipeline.Dedup.componentsAltStar(path, "doc_a", "doc_b", maxIter = 40))
    println(s"[probe] cc/path$pathN/altstar correct=" +
      ps.values.forall(_ == 1L))
    // min-label needs ~pathN rounds to close the path; 256 rounds bounds
    // the probe's wall while measuring the per-round cost and showing
    // the non-convergence (correct=false expected for pathN > ~512)
    val pl = run(s"path$pathN/minlabel256",
      pipeline.Dedup.components(path, "doc_a", "doc_b", maxIter = 256))
    println(s"[probe] cc/path$pathN/minlabel256 correct=" +
      pl.values.forall(_ == 1L))
    val bulkE = pathN * 8
    val bulk = spark.range(0, bulkE.toLong)
      .select((pmod(xxhash64(col("id")), lit(pathN.toLong)) + 1).as("doc_a"),
        (pmod(xxhash64(col("id") + 1000000L), lit(pathN.toLong)) + 1)
          .as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      .localCheckpoint(true)
    val bs = run(s"bulk$bulkE/altstar",
      pipeline.Dedup.componentsAltStar(bulk, "doc_a", "doc_b"))
    val bl = run(s"bulk$bulkE/minlabel",
      pipeline.Dedup.components(bulk, "doc_a", "doc_b"))
    println(s"[probe] cc/bulk$bulkE equal=${bs == bl}")
  }

  /** Multimodal dedup at scale: documents replicated `times`× with
    * byte-disjoint replica payloads (the [[dedupProbe]] construction),
    * measuring (a) the mm8 batch self-join — whose cost model is one
    * map-side decode pass plus df-cap-bounded bucket pairing, so wall
    * should track corpus size roughly linearly — and (b) the mm10
    * split: the archive VideoIndex built once (allowed to grow with
    * the corpus) vs a FIXED 10%-of-base increment probed against it,
    * whose cost must stay O(increment + bounded bucket fan-out) as the
    * archive grows. */
  private def videoProbe(spark: org.apache.spark.sql.SparkSession,
      dir: String, times: Int): Unit = {
    import spark.implicits._
    def media(c: org.apache.spark.sql.DataFrame) =
      pipeline.Multimodal.withPayload(c, "text")
        .select(col("doc_id"), col("payload"), col("media_type"))
        .as[pipeline.Multimodal.MediaRow]
    def sweep(): Unit = spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    Seq(("1x", 1), (s"${times}x", times)).foreach { case (tag, t) =>
      val c = replicatedDocs(spark, dir, t)
      val rows = c.count()
      val kf = () => pipeline.Multimodal
        .keyframeHashes(media(c), frameBytes = 72, cutPm = 8L).toDF()
      val t0 = System.nanoTime()
      val pairs = pipeline.Multimodal.videoDupPairs(kf()).count()
      val t1 = System.nanoTime()
      // the mm10 split: archive index build (may grow with corpus) vs
      // the fixed-increment probe (must not). The index faces are
      // MATERIALIZED inside the build window — VideoIndex returns lazy
      // plans (the production path persists them to parquet, the mm10
      // spec's round-trip), and an un-pinned plan would re-derive the
      // O(archive) chunk explode + cap inside the probe timing
      val idx0 = pipeline.Multimodal.videoKeyframeIndex(kf())
      val idx = pipeline.Multimodal.VideoIndex(
        idx0.chunks.localCheckpoint(true), idx0.counts.localCheckpoint(true))
      val idxRows = idx.chunks.count() + idx.counts.count()
      val t2 = System.nanoTime()
      val incr = Tables.load(spark, dir, "documents")
        .filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(100000000L)).as("doc_id"),
          col("text"))
      val hits = pipeline.Multimodal.videoProbePairs(
        pipeline.Multimodal.keyframeHashes(media(incr),
          frameBytes = 72, cutPm = 8L).toDF(), idx).count()
      val t3 = System.nanoTime()
      println(f"[probe] video/$tag%-4s rows=$rows mm8_s=${(t1 - t0) / 1e9}%7.2f " +
        f"pairs=$pairs build_s=${(t2 - t1) / 1e9}%6.2f idxRows=$idxRows " +
        f"probe_s=${(t3 - t2) / 1e9}%6.2f hits=$hits")
      sweep()
    }
  }

  /** Retraction-vs-rebuild cost asymmetry for the round-14 delete
    * faces. The claim under test is O(touched) retraction: the retract
    * wall must sit far below the from-scratch rebuild at the SAME
    * archive scale, and the gap must WIDEN as the archive grows (the
    * specs prove row equality on the fixture; this proves the COST
    * shape at scale).
    *
    * Leg 1 — dedup groups (`Dedup.componentsRetract`): a synthetic
    * archive of `n` path-of-4 components (labels + pairs materialized,
    * the persisted artifacts), takedown = the bridge node of 0.1% of
    * components. Retract re-clusters only touched components;
    * the comparison leg is alt-star CC over ALL surviving pairs.
    *
    * Leg 2 — graph ANN (`Similarity.retractNndIndex`): archive at
    * `times`× embedding replicas, takedown = ~2% non-anchor vectors;
    * comparison leg is the frozen-quantizer rebuild over the
    * survivors. Edge counts + quality sums printed from both so the
    * equality contract is visible at scale, not just on fixtures. */
  private def retractProbe(spark: org.apache.spark.sql.SparkSession,
      dir: String, times: Int): Unit = {
    // ---- leg 1: dedup groups ----
    for (n <- Seq(times * 20000L, times * 80000L)) {
      val base = spark.range(n).select((col("id") * 4).as("b"))
        .localCheckpoint(true)
      val pairs = base.select(col("b").as("doc_a"), (col("b") + 1).as("doc_b"))
        .unionAll(base.select((col("b") + 1).as("doc_a"), (col("b") + 2).as("doc_b")))
        .unionAll(base.select((col("b") + 2).as("doc_a"), (col("b") + 3).as("doc_b")))
        .localCheckpoint(true)
      val labels = base.select(explode(array(col("b"), col("b") + 1,
          col("b") + 2, col("b") + 3)).as("id"),
          col("b").as("component"))
        .localCheckpoint(true)
      val removed = base.filter(col("b") % 4000 === 0)
        .select((col("b") + 1).as("rid"))
      val t0 = System.nanoTime()
      val r = pipeline.Dedup.componentsRetract(labels, pairs, removed,
        "doc_a", "doc_b")
      val rc = r.agg(count(lit(1)), sum("component")).head
      val tRetract = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      // the comparison leg must label the SAME node universe: surviving
      // pairs plus self-pairs for every surviving labelled node, so a
      // bridge removal's isolated neighbours (pairless survivors) keep
      // a label row in both legs
      val surv = pairs
        .join(removed, col("doc_a") === col("rid"), "left_anti")
        .join(removed, col("doc_b") === col("rid"), "left_anti")
        .unionAll(labels
          .join(removed, col("id") === col("rid"), "left_anti")
          .select(col("id").as("doc_a"), col("id").as("doc_b")))
      val s = pipeline.Dedup.componentsAltStar(surv, "doc_a", "doc_b")
      val sc = s.agg(count(lit(1)), sum("component")).head
      val tRebuild = (System.nanoTime() - t1) / 1e9
      println(f"[probe] retract/groups n=${4 * n} retract=$tRetract%6.2f s " +
        f"rebuild=$tRebuild%6.2f s  rows=${rc.getLong(0)}/${sc.getLong(0)} " +
        f"sum=${rc.getLong(1)}/${sc.getLong(1)}")
      Seq(base, pairs, labels).foreach(_.unpersist(false))
    }
    // ---- leg 2: graph ANN ----
    val emb = Tables.load(spark, dir, "embeddings")
    val n0 = emb.count()
    val archive = emb.crossJoin(
        spark.range(times.toLong).select(col("id").as("rep")))
      .select((col("vec_id") + col("rep") * n0).as("vec_id"),
        col("embedding"))
      .localCheckpoint(true)
    println(s"[probe] retract/nnd archive=${archive.count()} nlist=64")
    val t0 = System.nanoTime()
    val built = pipeline.Similarity.buildNndIndex(archive, "vec_id",
      "embedding", nlist = 64)
    val idx = built.copy(
      seed = built.seed.localCheckpoint(true),
      refined = built.refined.localCheckpoint(true))
    println(f"[probe] retract/nnd-build   ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    val removable = archive.filter(col("vec_id") % 53 === 4)
      .select("vec_id")
      .join(idx.quant.reps.select(col("rep_id").as("vec_id")),
        Seq("vec_id"), "left_anti")
      .filter(!col("vec_id").isInCollection(idx.quant.centroids.ids.toSeq))
      .localCheckpoint(true)
    println(s"[probe] retract/nnd takedown=${removable.count()}")
    val t1 = System.nanoTime()
    val ret = pipeline.Similarity.retractNndIndex(idx, archive, "vec_id",
      "embedding", removable)
    val rAgg = ret.refined.agg(count(lit(1)), sum("nsim")).head
    println(f"[probe] retract/nnd-retract ${(System.nanoTime() - t1) / 1e9}%7.2f s" +
      f"  edges=${rAgg.getLong(0)} quality=${rAgg.getDouble(1)}%.1f")
    val t2 = System.nanoTime()
    val surv = archive.join(removable, Seq("vec_id"), "left_anti")
    val sAgg = pipeline.Similarity
      .buildNndIndexWith(surv, "vec_id", "embedding", idx.quant)
      .refined.agg(count(lit(1)), sum("nsim")).head
    println(f"[probe] retract/nnd-rebuild ${(System.nanoTime() - t2) / 1e9}%7.2f s" +
      f"  edges=${sAgg.getLong(0)} quality=${sAgg.getDouble(1)}%.1f")
    // ---- leg 3: flat hash index (mm12/mm13's shared face) ----
    // The asymmetry claim here is BYTES TOUCHED, not wall time on the
    // stub: the retract leg reads only the persisted uncapped sketch
    // (24 B/row: one anti-join + one bucket recount), while an honest
    // rebuild must re-read and re-fingerprint every surviving PAYLOAD
    // before it can re-chunk and re-cap. The stub decoder makes
    // re-hashing nearly free (a byte stripe over tiny text payloads),
    // so wall time alone cannot show the production gap — real corpora
    // carry MB-scale image/audio payloads and a real decode, so the
    // printed byte volumes are the honest 100 TB signal. Row counts
    // printed from both legs so the equality contract is visible at
    // scale.
    locally {
      import spark.implicits._
      def media(c: org.apache.spark.sql.DataFrame) =
        pipeline.Multimodal.withPayload(c, "text")
          .select(col("doc_id"), col("payload"), col("media_type"))
          .as[pipeline.Multimodal.MediaRow]
      Seq(("1x", 1), (s"${times}x", times)).foreach { case (tag, t) =>
        val c = replicatedDocs(spark, dir, t)
        val sketch = pipeline.Multimodal.phashChunkSketch(
          pipeline.Multimodal.dHash(media(c))).localCheckpoint(true)
        val removed = c.filter(col("doc_id") % 97 === 3).select("doc_id")
          .localCheckpoint(true)
        val payloadB = c.agg(sum(octet_length(col("text")))).head.getLong(0)
        val sketchRows = sketch.count()
        val t0 = System.nanoTime()
        val rRows = pipeline.Multimodal
          .phashIndexRetract(sketch, removed).count()
        val tRet = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val bRows = pipeline.Multimodal.phashChunkIndex(
          pipeline.Multimodal.dHash(media(
            c.join(removed, Seq("doc_id"), "left_anti")))).count()
        val tReb = (System.nanoTime() - t1) / 1e9
        println(f"[probe] retract/phash $tag%-4s sketch=$sketchRows " +
          f"retract=$tRet%6.2f s rebuild=$tReb%6.2f s rows=$rRows/$bRows " +
          f"sketchMB=${sketchRows * 24 / 1e6}%.1f payloadMB=${payloadB / 1e6}%.1f")
        Seq(sketch, removed, c).foreach(_.unpersist(false))
      }
    }
    // ---- leg 4: IVF-PQ codes index (e28's face) ----
    // Here the wall-time gap IS honest even on the fixture: the retract
    // leg anti-joins the (cell, id, codes) table — never touches a
    // vector — while the rebuild must re-route and re-encode every
    // surviving vector through the codebook (dim FMAs × m subspaces ×
    // ksub candidates per row). Both legs run under the SAME frozen
    // quantizer (the certified equivalence), so the printed row counts
    // must agree.
    locally {
      val emb2 = Tables.load(spark, dir, "embeddings")
      val m0 = emb2.count()
      // 10× the other legs' multiplier: at 100k rows both legs sit on
      // the ~0.2 s per-job floor and the wall gap is invisible; at 1M
      // the rebuild's per-row re-encode (nlist cosines + m·ksub
      // subspace distances over dim doubles) dominates and the
      // asymmetry the face exists for is measurable, not asserted.
      Seq(("1x", 1), (s"${10 * times}x", 10 * times)).foreach { case (tag, t) =>
        val arch = emb2.crossJoin(
            spark.range(t.toLong).select(col("id").as("rep")))
          .select((col("vec_id") + col("rep") * m0).as("vec_id"),
            col("embedding"))
          .localCheckpoint(true)
        val built = pipeline.Similarity.buildIvfPqIndex(arch, "vec_id",
          "embedding")
        val idx = built.copy(listed = built.listed.localCheckpoint(true))
        val removed = arch.filter(col("vec_id") % 97 === 3)
          .select("vec_id").localCheckpoint(true)
        val t0 = System.nanoTime()
        val rRows = pipeline.Similarity.ivfPqIndexRetract(idx, removed)
          .listed.count()
        val tRet = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        // rebuild under the SAME frozen quantizer: survivors re-routed
        // + re-encoded from raw vectors (what a takedown without the
        // retract face would cost a serving tier)
        val surv = arch.join(removed, Seq("vec_id"), "left_anti")
          .select(col("vec_id").as("nn_id"),
            col("embedding").cast("array<double>").as("nn_vec"))
        val bRows = surv.withColumn("cell",
            idx.centroids.cellOf(col("nn_vec")))
          .select(col("cell"), col("nn_id"),
            graft.functions.PqAdc.pq_encode(col("nn_vec"), idx.cb,
              idx.dim).as("codes"))
          .count()
        val tReb = (System.nanoTime() - t1) / 1e9
        println(f"[probe] retract/ivfpq $tag%-4s listed=${idx.listed.count()} " +
          f"retract=$tRet%6.2f s rebuild=$tReb%6.2f s rows=$rRows/$bRows")
        Seq(arch, idx.listed, removed).foreach(_.unpersist(false))
      }
    }
  }

  /** Update-vs-rebuild cost asymmetry for the round-16 UPDATE faces
    * (the d58/d59 re-crawl edit path): a FIXED 200-doc update batch
    * against a growing archive, update = `shingleSketchUpdate` over
    * the persisted sketch (one broadcast anti-join + the increment's
    * own tokenize), rebuild = `hashedShingleSketch` over the whole
    * updated corpus (archive-wide tokenize + distinct shuffle). Both
    * legs persist the resulting sketch face, so the write cost is
    * shared and the measured gap is the COMPUTE asymmetry the face
    * claims: O(|updated docs|) vs O(|corpus|). min-of-3 (steal-burst
    * hygiene); shuffle-write bytes
    * printed beside walls; row equality asserted in-probe. */
  private def updateProbe(spark: org.apache.spark.sql.SparkSession,
      dir: String, times: Int): Unit = {
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          shuffleBytes.addAndGet(
            sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
          ()
        }
      })
    def measured(f: => Unit): (Double, Long) = {
      var best = Double.MaxValue
      var bytes = 0L
      for (_ <- 1 to 3) {
        Thread.sleep(300)
        shuffleBytes.set(0L)
        val t0 = System.nanoTime()
        f
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        Thread.sleep(300)
        bytes = shuffleBytes.get()
      }
      (best, bytes)
    }
    val newVersions = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 97 === 3).limit(200)
      .select(col("doc_id"),
        concat(col("text"), lit(" "), col("text")).as("text"))
      .localCheckpoint(true)
    for (t <- Seq(1, math.max(2, times / 2), times)) {
      val art = TmpHygiene.scratchDir("graft_updprobe")
      try {
        val c = replicatedDocs(spark, dir, t)
        pipeline.Dedup.hashedShingleSketch(c, "text", "doc_id", k = 5)
          .write.parquet(s"$art/sketch")
        val sketch = spark.read.parquet(s"$art/sketch")
        val updatedCorpus = c
          .join(newVersions.select(col("doc_id").as("uid")),
            col("doc_id") === col("uid"), "left_anti")
          .unionByName(newVersions)
        val (wUpd, bUpd) = measured {
          pipeline.Dedup.shingleSketchUpdate(sketch, newVersions,
              "text", "doc_id", k = 5)
            .write.mode("overwrite").parquet(s"$art/upd")
        }
        val (wReb, bReb) = measured {
          pipeline.Dedup.hashedShingleSketch(updatedCorpus,
              "text", "doc_id", k = 5)
            .write.mode("overwrite").parquet(s"$art/reb")
        }
        val u = spark.read.parquet(s"$art/upd")
        val r = spark.read.parquet(s"$art/reb")
        val nU = u.count()
        val nR = r.count()
        require(nU == nR && u.unionAll(r).groupBy("id", "shingle_k5")
            .agg(count(lit(1)).as("n")).filter(col("n") =!= 2).isEmpty,
          s"update diverged from rebuild at ${t}x ($nU vs $nR rows)")
        val tag = s"${t}x"
        println(f"[probe] update/$tag%-4s sketch=$nU " +
          f"rebuild=$wReb%6.2f s ${bReb / 1e6}%8.1f MB-shuffled  " +
          f"update=$wUpd%6.2f s ${bUpd / 1e6}%8.1f MB-shuffled")
      } finally graft.TmpHygiene.rmTree(art)
    }
  }

  /** Per-update-batch cost of the STREAMING update column: the
    * round-16 rewrite sink shape (read the predecessor's FULL sketch,
    * apply the update face, REWRITE the whole sketch, re-derive the
    * serving index by an archive-wide df recount — exactly what
    * s31–s34 shipped with) vs the round-17 O(delta) chain
    * ([[pipeline.DeltaUpdate.step]]: three delta-sized faces), at a
    * FIXED 200-doc update batch while the archive grows `times`×. The
    * claim under test is VERDICT r16 "wrong" item 2: per-batch WRITTEN
    * bytes — the number that was archive-proportional — must be flat
    * in archive size for the delta chain, alongside the shuffle-bytes
    * claim the retract probe established. Output bytes come from the
    * task output metrics (parquet write volume), shuffle bytes from
    * the shuffle-write metrics; min-of-3 walls (steal-burst hygiene).
    * Row equality of the two serving views asserted in-probe. */
  private def upDeltaProbe(spark: org.apache.spark.sql.SparkSession,
      dir: String, times: Int): Unit = {
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val outBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          shuffleBytes.addAndGet(
            sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
          outBytes.addAndGet(
            sc.stageInfo.taskMetrics.outputMetrics.bytesWritten)
          ()
        }
      })
    def measured(f: => Unit): (Double, Long, Long) = {
      var best = Double.MaxValue
      var sb = 0L
      var ob = 0L
      for (_ <- 1 to 3) {
        Thread.sleep(300)
        shuffleBytes.set(0L)
        outBytes.set(0L)
        val t0 = System.nanoTime()
        f
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        Thread.sleep(300)
        sb = shuffleBytes.get()
        ob = outBytes.get()
      }
      (best, sb, ob)
    }
    val newVersions = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 97 === 3).limit(200)
      .select(col("doc_id"),
        concat(col("text"), lit(" "), col("text")).as("text"))
      .localCheckpoint(true)
    for (t <- Seq(1, math.max(2, times / 2), times)) {
      val art = TmpHygiene.scratchDir("graft_updeltaprobe")
      try {
        val c = replicatedDocs(spark, dir, t)
        pipeline.Dedup.shingleDeltaBase(spark, c, "text", "doc_id",
          s"$art/init", k = 5, maxDf = 100)
        val skRows = spark.read.parquet(s"$art/init/sketch").count()
        // the superseded per-batch shape: full-sketch rewrite + index
        // recount (both writes, exactly what the r16 sink persisted)
        val (wRw, sRw, oRw) = measured {
          val upd = pipeline.Dedup.shingleSketchUpdate(
            spark.read.parquet(s"$art/init/sketch"), newVersions,
            "text", "doc_id", k = 5).localCheckpoint(false)
          try {
            upd.write.mode("overwrite").parquet(s"$art/rw/sketch")
            pipeline.Dedup.shingleServingIndex(upd, k = 5, maxDf = 100)
              .write.mode("overwrite").parquet(s"$art/rw/index")
          } finally { upd.unpersist(blocking = false); () }
        }
        val (wDl, sDl, oDl) = measured {
          pipeline.DeltaUpdate.step(spark, art, "init", 0L,
            newVersions.select("doc_id"),
            pipeline.Dedup.hashedShingleSketch(newVersions, "text",
              "doc_id", k = 5),
            Seq("shingle_k5"))
        }
        val rw = spark.read.parquet(s"$art/rw/index")
        val view = pipeline.Dedup.shingleUpdateServing(spark, art,
          "init", 0L, k = 5, maxDf = 100)
        val nR = rw.count()
        val nD = view.count()
        require(nD == nR && view.unionAll(rw)
            .groupBy("id", "shingle_k5", "n_c")
            .agg(count(lit(1)).as("n")).filter(col("n") =!= 2)
            .isEmpty,
          s"update view diverged from rewrite at ${t}x ($nD vs $nR rows)")
        val tag = s"${t}x"
        println(f"[probe] updelta/$tag%-4s sketch=$skRows idx=$nR " +
          f"rewrite=$wRw%6.2f s ${sRw / 1e6}%7.1f MB-shuffled " +
          f"${oRw / 1e6}%7.1f MB-written  " +
          f"delta=$wDl%6.2f s ${sDl / 1e6}%7.1f MB-shuffled " +
          f"${oDl / 1e6}%7.1f MB-written")
      } finally graft.TmpHygiene.rmTree(art)
    }
  }

  /** AUTO-COMPACTION probe (round 18, the mechanism's cost claim): a
    * serving probe of an UNCOMPACTED update chain reads every batch's
    * updids/newrows/statsdelta faces 0..b — O(chain length) bytes and
    * files per probe, unbounded over a chain's life — while the
    * auto-compacted chain ([[pipeline.DeltaUpdate.autoStep]],
    * compactEvery = 8 here) reads one generation base plus at most 8
    * delta faces, FLAT in chain length by construction. Fixed 50-doc
    * re-crawl batches; at each probe point the full serving view is
    * counted (min-of-3 walls, bytes-read from the task input metrics)
    * on both chains, with row-count equality asserted in-probe (full
    * row equivalence across generations is spec-pinned in
    * DeltaUpdateSpec — the probe's job is the cost curve). The
    * load-independent signal is the bytes-read column (probe-wall
    * convention of the retract/update probes); the threshold batches'
    * fold cost is the d61/d63-certified amortized recount, once per
    * compactEvery batches. */
  private def autoCompactProbe(spark: org.apache.spark.sql.SparkSession,
      dir: String, nBatches: Int): Unit = {
    val inBytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
          : Unit = {
        inBytes.addAndGet(
          sc.stageInfo.taskMetrics.inputMetrics.bytesRead)
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // Bytes are recorded PER iteration and the reported pair comes from
    // the min-wall run (ADVICE r18: the old shape paired min-of-3 wall
    // with last-iteration bytes — a mismatched pair whenever the last
    // run wasn't the fastest, e.g. a cache-state or listener-lag skew).
    def probed(f: => Long): (Double, Long, Long) = {
      var best = Double.MaxValue
      var bestBytes = 0L
      var rows = 0L
      for (_ <- 1 to 3) {
        Thread.sleep(300)
        inBytes.set(0L)
        val t0 = System.nanoTime()
        rows = f
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let stage-completed events drain
        if (wall < best) { best = wall; bestBytes = inBytes.get() }
      }
      (best, bestBytes, rows)
    }
    val every = 8
    val d = Tables.load(spark, dir, "documents")
    val arch = d.filter(col("doc_id") % 10 =!= 0).localCheckpoint(true)
    // scratchDir (round 19): the probes must pay the same scratch
    // placement the gates pay, or their walls stop tracking gate
    // behavior (review r19)
    val plainArt = TmpHygiene.scratchDir("graft_acplain")
    val autoArt = TmpHygiene.scratchDir("graft_acauto")
    try {
      pipeline.Dedup.shingleDeltaBase(spark, arch, "text", "doc_id",
        s"$plainArt/init", k = 5, maxDf = 100)
      pipeline.Dedup.shingleDeltaBase(spark, arch, "text", "doc_id",
        s"${pipeline.DeltaUpdate.genDir(autoArt, 0L)}/init",
        k = 5, maxDf = 100)
      val compactFn = (gd: String, upTo: Long, nb: String) =>
        pipeline.Dedup.shingleUpdateCompact(spark, gd, "init", upTo,
          nb, k = 5, maxDf = 100)
      for (b <- 0L until nBatches.toLong) {
        val batch = arch.filter(col("doc_id") % 41 === b % 41)
          .limit(50)
          .select(col("doc_id"),
            concat(col("text"), lit(s" v$b")).as("text"))
          .localCheckpoint(true)
        val ids = batch.select("doc_id")
        val sk = pipeline.Dedup.hashedShingleSketch(batch, "text",
          "doc_id", k = 5)
        pipeline.DeltaUpdate.step(spark, plainArt, "init", b, ids, sk,
          Seq("shingle_k5"))
        pipeline.DeltaUpdate.autoStep(spark, autoArt, "init", b, ids,
          sk, Seq("shingle_k5"), every)(compactFn)
        batch.unpersist(blocking = false)
        if ((b + 1) % every == 0 || b == nBatches - 1) {
          val (wP, iP, nP) = probed(
            pipeline.Dedup.shingleUpdateServing(spark, plainArt,
              "init", b, k = 5, maxDf = 100).count())
          val (wA, iA, nA) = probed(
            pipeline.Dedup.shingleUpdateServing(spark,
              pipeline.DeltaUpdate.genDir(autoArt, b / every), "init",
              b % every, k = 5, maxDf = 100).count())
          require(nP == nA,
            s"auto serving diverged from plain at batch $b ($nA vs $nP)")
          println(f"[probe] autocompact b=${b + 1}%-3d rows=$nP " +
            f"plain=$wP%6.2f s ${iP / 1e6}%7.1f MB-read  " +
            f"auto=$wA%6.2f s ${iA / 1e6}%7.1f MB-read")
        }
      }
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      graft.TmpHygiene.rmTree(plainArt)
      graft.TmpHygiene.rmTree(autoArt)
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = Graft.sessionBuilder("scaleprobe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if (args.headOption.contains("autocompact")) {
      autoCompactProbe(spark, dir, args.lift(1).map(_.toInt).getOrElse(24))
      spark.stop()
      return
    }
    if (args.headOption.contains("updelta")) {
      upDeltaProbe(spark, dir, args.lift(1).map(_.toInt).getOrElse(8))
      spark.stop()
      return
    }
    if (args.headOption.contains("update")) {
      updateProbe(spark, dir, args.lift(1).map(_.toInt).getOrElse(8))
      spark.stop()
      return
    }
    if (args.headOption.contains("retract")) {
      retractProbe(spark, dir, args.lift(1).map(_.toInt).getOrElse(10))
      spark.stop()
      return
    }
    if (args.headOption.contains("cc")) {
      ccProbe(spark, args.lift(1).map(_.toInt).getOrElse(2048))
      spark.stop()
      return
    }
    if (args.headOption.contains("lpa")) {
      lpaProbe(spark, dir, args.lift(1).map(_.toInt).getOrElse(10))
      spark.stop()
      return
    }
    if (args.headOption.contains("truss")) {
      trussProbe(spark, dir, args.lift(1).map(_.toInt).getOrElse(10))
      spark.stop()
      return
    }
    if (args.headOption.contains("nndappend")) {
      nndAppendProbe(spark, dir, args.lift(1).map(_.toInt).getOrElse(50))
      spark.stop()
      return
    }
    if (args.headOption.contains("nnd")) {
      nndProbe(spark, dir, args.lift(1).map(_.toInt).getOrElse(50))
      spark.stop()
      return
    }
    if (args.headOption.contains("graph")) {
      graphProbe(spark, dir, args.lift(1).map(_.toInt).getOrElse(10))
      spark.stop()
      return
    }
    if (args.headOption.contains("substr")) {
      substrProbe(spark, dir, args.lift(1).map(_.toInt).getOrElse(20))
      spark.stop()
      return
    }
    if (args.headOption.contains("annsplit")) {
      annSplitProbe(spark, dir, args.lift(1).map(_.toInt).getOrElse(500),
        args.lift(2).map(_.toLong).getOrElse(500L), args.lift(3))
      spark.stop()
      return
    }
    if (args.headOption.contains("curation")) {
      curationProbe(spark, dir, args.lift(1).map(_.toInt).getOrElse(10))
      spark.stop()
      return
    }
    if (args.headOption.contains("fuzzy")) {
      fuzzyProbe(spark, args.lift(1).map(_.toInt).getOrElse(10))
      spark.stop()
      return
    }
    if (args.headOption.contains("dedup")) {
      dedupProbe(spark, dir, args.lift(1).map(_.toInt).getOrElse(10))
      spark.stop()
      return
    }
    if (args.headOption.contains("video")) {
      videoProbe(spark, dir, args.lift(1).map(_.toInt).getOrElse(10))
      spark.stop()
      return
    }
    if (args.headOption.contains("incr")) {
      incrProbe(spark, dir, args.lift(1).map(_.toInt).getOrElse(10))
      spark.stop()
      return
    }
    if (args.headOption.contains("ts")) {
      tsProbe(spark, dir, args.lift(1).map(_.toInt).getOrElse(10))
      spark.stop()
      return
    }
    val emb = Tables.load(spark, dir, "embeddings")
    val n = emb.count()
    val times = args.headOption.map(_.toInt).getOrElse(10)
    val nq = args.lift(1).map(_.toLong).getOrElse(20L)
    val big = (0 until times).map { i =>
      emb.select((col("vec_id") + lit(i * n)).as("vec_id"),
        col("embedding"), col("label"))
    }.reduce(_ unionAll _).localCheckpoint(true)
    println(s"[probe] corpus = ${big.count()} vectors")
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"[probe] $name%-16s ${(System.nanoTime() - t0) / 1e9}%7.2f s  rows=$rows")
    }
    time("brute")(pipeline.Similarity
      .bruteForceTopK(big, "vec_id", "embedding", _ < nq, 5).count())
    // PQ all-pairs: same candidate count as brute but the scored scan
    // reads 8 codes per row instead of 64 doubles; ivfpq adds the
    // nprobe/nlist = 1/4 cell filter on top of the same codes.
    time("pq")(pipeline.Similarity
      .pqTopK(big, "vec_id", "embedding", _ < nq, 5).count())
    time("ivfpq")(pipeline.Similarity
      .ivfPqTopK(big, "vec_id", "embedding", _ < nq, 5).count())
    time("ivfpq-res")(pipeline.Similarity
      .ivfPqResidualTopK(big, "vec_id", "embedding", _ < nq, 5).count())
    time("pq-rerank")(pipeline.Similarity
      .pqRerankTopK(big, "vec_id", "embedding", _ < nq, 5).count())
    time("lsh")(pipeline.Similarity
      .lshTopK(big, "vec_id", "embedding", _ < nq, 5).count())
    time("ivf")(pipeline.Similarity
      .ivfTopK(big, "vec_id", "embedding", _ < nq, 5).count())
    // kernel path (nlist > 64): same nprobe/nlist = 1/4 scan fraction as
    // nlist=16/nprobe=4, but through the fixed-size-codegen IvfCellsExpr —
    // the configuration the literal path cannot compile.
    time("ivf256")(pipeline.Similarity
      .ivfTopK(big, "vec_id", "embedding", _ < nq, 5,
        nlist = 256, nprobe = 64).count())
    // two-level assignment at the same nlist/scan fraction: per-row
    // arithmetic ~(1+superProbe)·√nlist·d instead of nlist·d — the
    // kernel for nlist ≫ 10³.
    time("ivf256x2")(pipeline.Similarity
      .ivfTopK(big, "vec_id", "embedding", _ < nq, 5,
        nlist = 256, nprobe = 64, superProbe = 4).count())
    time("ivf1024x2")(pipeline.Similarity
      .ivfTopK(big, "vec_id", "embedding", _ < nq, 5,
        nlist = 1024, nprobe = 256, superProbe = 6).count())
    spark.stop()
  }
}
