package graft.pipeline

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Behavioral tests for the hash-based pipeline operators that have no SQL
  * oracle (xxhash64-dependent), plus the multimodal decode plumbing. */
class PipelineSpec extends SparkSpec {

  private def docs = Tables.load(spark, sf(), "documents")

  test("minhash: identical texts get identical signatures; estimate tracks exact jaccard") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "a completely different document about spark query engines at scale"))
      .toDF("doc_id", "text")
    val sigs = MinHashLSH.signatures(df, "text", "doc_id", k = 3, numHashes = 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L) !== sigs(3L))
    val pairs = MinHashLSH.candidatePairs(df, "text", "doc_id",
      k = 3, numHashes = 64, bands = 8)
      .collect()
    assert(pairs.length === 1)
    assert(pairs(0).getLong(0) === 1L && pairs(0).getLong(1) === 2L)
    assert(pairs(0).getDouble(2) === 1.0)
  }

  test("minhash on fixtures recovers the exact-jaccard pair set") {
    val exact = Dedup.jaccardPairs(docs, "text", "doc_id", k = 5,
      threshold = 0.6, maxDf = 100)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = MinHashLSH.candidatePairs(docs, "text", "doc_id")
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // high-threshold exact pairs must all be found by LSH (recall), and LSH
    // shouldn't wildly over-generate (precision sanity)
    assert(exact.subsetOf(lsh) || (exact -- lsh).isEmpty)
    assert(lsh.size <= exact.size * 3 + 10)
  }

  test("containment pairs: a short doc quoted inside a long one scores " +
    "~1.0 where jaccard misses it") {
    import spark.implicits._
    val short = "alpha beta gamma delta epsilon zeta eta theta"
    val long = ("one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen " + short +
      " seventeen eighteen nineteen twenty twentyone twentytwo " +
      "twentythree twentyfour twentyfive twentysix twentyseven")
    val df = Seq((1L, short), (2L, long), (3L, "unrelated words only here"))
      .toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(df, "text", "doc_id",
      k = 5, threshold = 0.8, maxDf = 100).collect()
    assert(cont.length === 1)
    assert(cont(0).getLong(0) === 1L && cont(0).getLong(1) === 2L)
    assert(cont(0).getDouble(3) === 1.0) // every short-doc shingle contained
    // the same pair is INVISIBLE to symmetric jaccard at any useful bar
    val jac = Dedup.jaccardPairs(df, "text", "doc_id",
      k = 5, threshold = 0.6, maxDf = 100).collect()
    assert(jac.isEmpty)
  }

  test("nearDupPipeline (production xxhash64 path) composes candidates→verify→components→survivors") {
    // Survivors from the composed pipeline must agree with the reference
    // composition computed the long way: exact Jaccard restricted to the
    // LSH candidate set, closed into components.
    val cands = MinHashLSH.candidatePairs(docs, "text", "doc_id")
      .select("doc_a", "doc_b")
    val exact = Dedup.jaccardPairs(docs, "text", "doc_id", k = 5,
      threshold = 0.6, maxDf = 100)
    // NOTE: the pipeline computes the df-cap over the FLAGGED slice; on
    // these fixtures (small corpus, caps not binding) the verified pair
    // sets coincide, which is what makes this reference comparison valid.
    val verifiedRef = exact.join(cands, Seq("doc_a", "doc_b"))
    val expected = Dedup.survivors(docs, verifiedRef, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Dedup.nearDupPipeline(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === expected.size)
    assert(got === expected)
    // and it actually deduplicates something on the fixtures
    assert(got.exists { case (id, keep) => keep < id })
  }

  test("simhash: hamming 0 for identical, small for near-dup, large for unrelated") {
    import spark.implicits._
    val df = Seq(
      (1L, "spark streaming engine with watermark support for late data"),
      (2L, "spark streaming engine with watermark support for late events"),
      (3L, "unrelated text entirely about cooking pasta recipes tonight yes"))
      .toDF("doc_id", "text")
    val fp = df.select(col("doc_id"), SimHash.simhash(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(fp(1L) >= 0L)
    assert(ham(fp(1L), fp(1L)) === 0)
    assert(ham(fp(1L), fp(2L)) < ham(fp(1L), fp(3L)))
  }

  test("simhash pairs finds planted near-dups on fixtures") {
    val pairs = SimHash.pairs(docs, "text", "doc_id", maxHamming = 3)
    val exact = Dedup.exact(docs, "text", "doc_id")
      .filter(col("n_copies") > 1)
    // every exact dup pair is hamming 0 → must be found
    assert(pairs.filter(col("hamming") === 0).count() >=
      exact.count())
  }

  test("lsh signature: fused codegen kernel equals composed HOF form") {
    val emb = Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val mismatches = emb.select(
      Similarity.lshSignature(col("v"), 64, 6).as("fused"),
      Similarity.lshSignatureHof(col("v"), 64, 6).as("hof"))
      .filter(col("fused") =!= col("hof")).count()
    assert(mismatches === 0)
  }

  test("lsh ann achieves decent recall@5 vs brute force") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", _ < 20, 5)
      .select("q_id", "nn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.lshTopK(emb, "vec_id", "embedding", _ < 20, 5)
      .select("q_id", "nn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf intersect ann).size.toDouble / bf.size
    assert(recall > 0.2, s"recall@5 was $recall") // multi-probe 1-bit, 12 bits
  }

  test("hamming rerank: full-corpus shortlist degenerates to brute force") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val n = emb.count().toInt
    // shortlist >= corpus-1 means the prefilter filters nothing, so the
    // exact re-rank must reproduce bruteForceTopK bit-for-bit.
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", _ < 20, 5)
      .select("q_id", "rank", "nn_id", "sim").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val hr = Similarity.hammingRerankTopK(emb, "vec_id", "embedding", _ < 20,
        k = 5, shortlist = n)
      .select("q_id", "rank", "nn_id", "sim").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(hr === bf)
  }

  test("hamming rerank: 10%-selectivity shortlist keeps useful recall@5") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", _ < 20, 5)
      .select("q_id", "nn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hr = Similarity.hammingRerankTopK(emb, "vec_id", "embedding", _ < 20,
        k = 5, shortlist = 50)
      .select("q_id", "nn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf intersect hr).size.toDouble / bf.size
    // 1 bit/dimension is a coarse sketch; the floor certifies the
    // shortlist is correlated with cosine, not that it's tight.
    assert(recall > 0.3, s"hamming-shortlist recall@5 was $recall")
  }

  test("filtered ANN: label membership exact, pre-filter never loses to " +
      "post-filter") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val labels = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val filtered = Similarity.filteredIvfTopK(emb, "vec_id", "embedding",
        "label", _ < 20, k = 5)
      .select("q_id", "nn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // every served neighbour carries the query's own label
    assert(filtered.nonEmpty)
    assert(filtered.forall { case (q, nn) => labels(q) == labels(nn) })
    // post-filtering an UNCONSTRAINED top-5 can only ever keep a subset
    // of what the scan-level filter retrieves (same routing, same k)
    val unfiltered = Similarity.ivfTopK(emb, "vec_id", "embedding",
        _ < 20, k = 5)
      .select("q_id", "nn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val post = unfiltered.filter { case (q, nn) => labels(q) == labels(nn) }
    val perQ = filtered.groupBy(_._1).view.mapValues(_.length).toMap
    val postQ = post.groupBy(_._1).view.mapValues(_.length).toMap
    assert(postQ.forall { case (q, n) => perQ.getOrElse(q, 0) >= n })
    // and on this fixture the filter genuinely bites: post-filtering
    // loses results somewhere
    assert(post.length < filtered.length,
      s"expected post-filter starvation on the fixture: " +
        s"post=${post.length} filtered=${filtered.length}")
  }

  test("sq8 rerank: full-corpus shortlist degenerates to the exact-L2 " +
      "ranking (pqRerank's own degenerate face)") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val n = emb.count().toInt
    // With shortlist >= corpus-1 both operators rank the WHOLE corpus
    // by the same exact-L2 re-rank contract, so they must agree
    // bit-for-bit — the shared degenerate face certifies sq8's
    // integer-shortlist plumbing cannot perturb served results.
    val pq = Similarity.pqRerankTopK(emb, "vec_id", "embedding", _ < 20,
        k = 5, shortlist = n)
      .select("q_id", "rank", "nn_id", "dist").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val sq = Similarity.sq8RerankTopK(emb, "vec_id", "embedding", _ < 20,
        k = 5, shortlist = n)
      .select("q_id", "rank", "nn_id", "dist").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(sq === pq)
  }

  test("sq8 rerank: 10%-selectivity integer shortlist keeps high recall@5") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val n = emb.count().toInt
    val exact = Similarity.sq8RerankTopK(emb, "vec_id", "embedding", _ < 20,
        k = 5, shortlist = n)
      .select("q_id", "nn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq = Similarity.sq8RerankTopK(emb, "vec_id", "embedding", _ < 20,
        k = 5, shortlist = 50)
      .select("q_id", "nn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect sq).size.toDouble / exact.size
    // 8 bits/dimension on a trained per-dimension grid is a tight
    // approximation — materially better than 1-bit sketches (e14's 0.3
    // floor); the integer shortlist should rarely miss a true neighbor.
    assert(recall > 0.6, s"sq8-shortlist recall@5 was $recall")
  }

  test("matryoshka rerank: full-corpus shortlist degenerates to brute " +
    "force; 16-dim prefix shortlist keeps useful recall@5") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val n = emb.count().toInt
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", _ < 20, 5)
      .select("q_id", "rank", "nn_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val full = Similarity.prefixRerankTopK(emb, "vec_id", "embedding",
        _ < 20, k = 5, prefixDim = 16, shortlist = n)
      .select("q_id", "rank", "nn_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(full === bf)
    val pr = Similarity.prefixRerankTopK(emb, "vec_id", "embedding",
        _ < 20, k = 5, prefixDim = 16, shortlist = 50)
      .select("q_id", "nn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bfPairs = bf.map(t => (t._1, t._3))
    val recall = (bfPairs intersect pr).size.toDouble / bfPairs.size
    // generic (non-Matryoshka-trained) embeddings: the floor certifies
    // prefix-cosine correlates with full cosine, not that it's tight
    assert(recall > 0.3, s"prefix-shortlist recall@5 was $recall")
  }

  test("bounded top-k aggregation ≡ the row_number window formulation, row-for-row") {
    // the round-10 plan change: every ANN top-k now runs as
    // TopKPairsAgg instead of sort+window. Same (val, nn_id) total
    // order ⇒ identical rows — asserted here against an inline window
    // replica of the old formulation, both directions (sim desc for the
    // cosine faces, adist asc via the PQ operator below).
    val emb = Tables.load(spark, sf(), "embeddings")
    val corpus = emb.select(col("vec_id").as("nn_id"),
      col("embedding").cast("array<double>").as("nn_vec"))
    val queries = corpus.filter(col("nn_id") < 20)
      .select(col("nn_id").as("q_id"), col("nn_vec").as("q_vec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("sim").desc, col("nn_id"))
    val windowed = broadcast(queries)
      .join(corpus, col("q_id") =!= col("nn_id"))
      .withColumn("sim", round(Similarity.cosineFast(col("q_vec"), col("nn_vec")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 7)
      .select(col("q_id"), col("rank"), col("nn_id"), col("sim"))
    val agged = Similarity.bruteForceTopK(emb, "vec_id", "embedding", _ < 20, 7)
    assert(agged.exceptAll(windowed).isEmpty &&
      windowed.exceptAll(agged).isEmpty,
      "aggregated top-k diverged from the window formulation")
    // the plan must actually BE an aggregation — no Window/Sort node
    // consuming the candidate join
    val plan = agged.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"expected ObjectHashAggregate in:\n$plan")
    assert(!plan.contains("WindowGroupLimit"),
      "sort-based window top-k is back in the ANN plan")
  }

  test("ANN joins keep an exchange between the index projection and the join") {
    // Guards fix 2 of the round-10 ANN work (BASELINE.md): in a fused
    // codegen broadcast join, non-key stream-side columns evaluate
    // lazily INSIDE the match loop — per matched pair. The encoded-index
    // projection (cell assignment + pq_encode) must therefore sit below
    // an Exchange so it runs once per corpus row. A refactor that drops
    // the repartition re-fuses it silently, with a green gate and a
    // ~30× marginal-query regression — this assertion is the tripwire.
    val emb = Tables.load(spark, sf(), "embeddings")
    for ((name, df) <- Seq(
        "ivfPqTopK" -> Similarity.ivfPqTopK(emb, "vec_id", "embedding", _ < 20, 5),
        "pqTopK" -> Similarity.pqTopK(emb, "vec_id", "embedding", _ < 20, 5))) {
      val plan = df.queryExecution.executedPlan.toString
      val joinAt = plan.indexOf("Join")
      val encodeBelowJoin = plan.indexOf("pqencodeexpr", joinAt)
      val exchangeBelowJoin = plan.indexOf("Exchange", joinAt)
      assert(joinAt >= 0 && encodeBelowJoin >= 0,
        s"$name: expected a join above a pq_encode projection:\n$plan")
      assert(exchangeBelowJoin >= 0 && exchangeBelowJoin < encodeBelowJoin,
        s"$name: pq_encode projection fused into the join stage (no " +
          s"Exchange between them) — per-match re-evaluation is back:\n$plan")
    }
  }

  test("graph ann: walk contract holds, deterministic, recall correlated with brute") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val rows = Similarity.graphTopK(emb, "vec_id", "embedding", _ < 20, k = 5)
      .collect()
    // contract: exactly k per query (the final candidate set is at least
    // the beam minus self), ranks 1..k, self excluded
    assert(rows.length === 20 * 5)
    assert(rows.forall(r => r.getLong(0) != r.getLong(2)))
    val ranks = rows.groupBy(_.getLong(0)).values
    assert(ranks.forall(_.map(_.getInt(1)).sorted.toSeq == (1 to 5)))
    // deterministic: the walk re-runs bit-identically
    val again = Similarity.graphTopK(emb, "vec_id", "embedding", _ < 20, k = 5)
      .collect()
    assert(rows.map(_.toString).sorted.toSeq === again.map(_.toString).sorted.toSeq)
    // recall vs brute force: greedy beam search over a degree-6 in-cell
    // graph from 16 entries is approximate BY DESIGN; on uniform random
    // 64-d vectors (ANN's worst case) the floor certifies the walk is
    // correlated with true similarity, not that it is tight
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", _ < 20, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ga = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (bf intersect ga).size.toDouble / bf.size
    assert(recall > 0.2, s"graph-ann recall@5 vs brute was $recall")
    // beam widening can only help: beam = corpus degenerate case is not
    // available (entries bound the reachable set), but beam 16 must do
    // at least as well as beam 8 on the shared entry set
    val wide = Similarity.graphTopK(emb, "vec_id", "embedding", _ < 20,
        k = 5, beam = 16)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val wideRecall = (bf intersect wide).size.toDouble / bf.size
    assert(wideRecall >= recall,
      s"widening the beam reduced recall: $recall -> $wideRecall")
  }

  test("nn-descent: refinement is elementwise non-decreasing and strictly improves the seed") {
    val emb = Tables.load(spark, sf(), "embeddings")
    def quality(adj: org.apache.spark.sql.DataFrame) = adj
      .select(col("node"), col("rank"), col("nsim")).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val q0 = quality(Similarity.nnDescentAdj(emb, "vec_id", "embedding", rounds = 0))
    val q1 = quality(Similarity.nnDescentAdj(emb, "vec_id", "embedding", rounds = 1))
    val q2 = quality(Similarity.nnDescentAdj(emb, "vec_id", "embedding", rounds = 2))
    // each round keeps the top-M of a SUPERSET of the previous edges, so
    // every (node, rank) slot's similarity is non-decreasing — the
    // convergence argument, checked slot by slot
    assert(q0.forall { case (k, v) => q1.get(k).forall(_ >= v) },
      "round 1 degraded a kept edge")
    assert(q1.forall { case (k, v) => q2.get(k).forall(_ >= v) },
      "round 2 degraded a kept edge")
    // and on the fixture the refinement actually finds better
    // neighbours, not just ties
    assert(q1.values.sum > q0.values.sum,
      s"round 1 found no better edges: ${q0.values.sum} -> ${q1.values.sum}")
    // degree/ordering contract: ranks 1..degree per node, descending sims
    val adj1 = Similarity.nnDescentAdj(emb, "vec_id", "embedding", rounds = 1)
      .collect()
    val byNode = adj1.groupBy(_.getLong(0))
    assert(byNode.values.forall { rows =>
      val sorted = rows.sortBy(_.getInt(1))
      val sims = sorted.map(_.getDouble(3)).toSeq
      sorted.map(_.getInt(1)).toSeq == (1 to sorted.length) &&
        sims.zip(sims.drop(1)).forall { case (a, b) => a >= b }
    })
  }

  test("ivf-pq index artifact: build/save/load in a fresh session serves e9 identically") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val idx = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding")
    val dir = tmpDir("graft_idx")
    try {
      Similarity.saveIvfPqIndex(idx, dir)
      // quantizer artifacts round-trip exactly
      val fresh = spark.newSession()
      val loaded = Similarity.loadIvfPqIndex(fresh, dir)
      assert(loaded.centroids.ids.toSeq === idx.centroids.ids.toSeq)
      assert(loaded.centroids.vecs.flatten.toSeq ===
        idx.centroids.vecs.flatten.toSeq)
      assert(loaded.cb.flatten.flatten.toSeq === idx.cb.flatten.flatten.toSeq)
      assert(loaded.dim === idx.dim &&
        loaded.centroids.nlist === idx.centroids.nlist)
      // serving from the loaded artifact in the fresh session is
      // row-identical to e9's build-and-query gate path
      val gate = Similarity.ivfPqTopK(emb, "vec_id", "embedding", _ < 20, k = 5)
        .collect().map(_.toString).sorted.toSeq
      val embF = Tables.load(fresh, sf(), "embeddings")
      val served = Similarity
        .ivfPqQuery(loaded, embF, "vec_id", "embedding", _ < 20, k = 5)
        .collect().map(_.toString).sorted.toSeq
      assert(served === gate)
    } finally rmTree(dir)
  }

  test("ivf-pq retract: anti-joined artifact equals survivors re-encoded " +
      "under the frozen quantizer; serve-after-retract excludes retracted ids") {
    import graft.functions.PqAdc.pq_encode
    val emb = Tables.load(spark, sf(), "embeddings")
    val idx = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding")
    val dir = tmpDir("graft_pqret")
    try {
      // the takedown-against-serving-artifact shape: save → load →
      // retract the LOADED index (not the in-session build)
      Similarity.saveIvfPqIndex(idx, dir)
      val loaded = Similarity.loadIvfPqIndex(spark, dir)
      val removed = emb.filter(col("vec_id") % 7 === 3).select("vec_id")
        .localCheckpoint(true)
      assert(removed.count() > 0, "fixture must yield a non-empty takedown")
      val ret = Similarity.ivfPqIndexRetract(loaded, removed)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      // estimator survives: quantizer + codebook untouched by design
      assert(ret.centroids.ids.toSeq === idx.centroids.ids.toSeq)
      assert(ret.cb.flatten.flatten.toSeq === idx.cb.flatten.flatten.toSeq)
      // retract ≡ rebuild (frozen quantizer): the anti-joined stored
      // codes equal the SURVIVORS re-encoded from raw vectors through
      // the same frozen centroids/codebook — the from-scratch evidence
      // table a rebuild-without-them would store
      val surv = emb.join(removed, Seq("vec_id"), "left_anti")
        .select(col("vec_id").as("nn_id"),
          col("embedding").cast("array<double>").as("nn_vec"))
      val reenc = surv.withColumn("cell", idx.centroids.cellOf(col("nn_vec")))
        .select(col("cell"), col("nn_id"),
          pq_encode(col("nn_vec"), idx.cb, idx.dim).as("codes"))
      assert(rows(ret.listed) === rows(reenc))
      // the retraction is load-bearing and per-cell membership shrank
      val cellsBefore = loaded.listed.groupBy("cell").count()
        .collect().map(r => r.get(0) -> r.getLong(1)).toMap
      val cellsAfter = ret.listed.groupBy("cell").count()
        .collect().map(r => r.get(0) -> r.getLong(1)).toMap
      assert(cellsAfter.values.sum < cellsBefore.values.sum)
      assert(cellsAfter.keySet.subsetOf(cellsBefore.keySet))
      // serve-after-retract: a retracted id is never returned
      val removedSet = removed.collect().map(_.getLong(0)).toSet
      val served = Similarity
        .ivfPqQuery(ret, emb, "vec_id", "embedding", _ < 20, k = 5)
        .collect().map(_.getLong(2))
      assert(served.nonEmpty && !served.exists(removedSet.contains),
        "a retracted id leaked out of the probed serve")
    } finally rmTree(dir)
  }

  test("ivf-pq update: retract-then-append ≡ frozen-quantizer re-encode " +
      "of the updated corpus; append-before-retract loses the vector") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val idx = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding")
    val newV = emb.filter(col("vec_id") % 7 === 3)
      .withColumn("embedding", reverse(col("embedding")))
      .localCheckpoint(true)
    val nUpd = newV.count()
    assert(nUpd > 0, "fixture must yield a non-empty update batch")
    val upd = Similarity.ivfPqIndexUpdate(idx, newV, "vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // estimator survives: a re-crawl must not silently re-train
    assert(upd.centroids.ids.toSeq === idx.centroids.ids.toSeq)
    assert(upd.cb.flatten.flatten.toSeq === idx.cb.flatten.flatten.toSeq)
    // update ≡ the UPDATED corpus freshly routed + encoded under the
    // frozen quantizer (kept archive rows' stored codes included —
    // the e28 re-encode identity, now on the update path)
    val updatedCorpus = emb.filter(col("vec_id") % 7 =!= 3).unionAll(newV)
    val expected = Similarity.ivfPqIndexAppend(
      idx.copy(listed = idx.listed.limit(0)), updatedCorpus,
      "vec_id", "embedding")
    assert(rows(upd.listed) === rows(expected.listed))
    // load-bearing: at least one changed vector moved cell or codes
    assert(rows(upd.listed) !== rows(idx.listed))
    // THE ORDERING HAZARD: append the new encoding first, then retract
    // "the updated ids" — the anti-join removes BOTH versions' rows and
    // the vector vanishes instead of serving its new embedding
    val wrong = Similarity.ivfPqIndexRetract(
      Similarity.ivfPqIndexAppend(idx, newV, "vec_id", "embedding"),
      newV.select("vec_id"))
    assert(wrong.listed.filter(col("nn_id") % 7 === 3).count() === 0,
      "reversed composition must demonstrate the vanished-vector bug")
    assert(upd.listed.filter(col("nn_id") % 7 === 3).count() === nUpd)
  }

  test("ivf-pq migrate: re-trains both quantizers on the survivors ≡ " +
      "fresh build; serve-after-migrate never returns a retracted id") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val idx = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding")
    val removed = emb
      .filter(col("vec_id") >= 20 && col("vec_id") % 3 =!= 0)
      .select("vec_id").localCheckpoint(true)
    assert(removed.count() > 0, "fixture must yield a non-empty takedown")
    val surv = emb.join(removed, Seq("vec_id"), "left_anti")
    val mig = Similarity.migrateIvfPqIndex(idx, emb, "vec_id",
      "embedding", removed)
    val fresh = Similarity.buildIvfPqIndex(surv, "vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // migrate ≡ fresh-build-over-survivors on EVERY face
    assert(mig.centroids.ids.toSeq === fresh.centroids.ids.toSeq)
    assert(mig.centroids.vecs.flatten.toSeq ===
      fresh.centroids.vecs.flatten.toSeq)
    assert(mig.cb.flatten.flatten.toSeq === fresh.cb.flatten.flatten.toSeq)
    assert(rows(mig.listed) === rows(fresh.listed))
    // the re-train is load-bearing at a 2/3 takedown: the survivor
    // sample diverges from the frozen quantizer's (this is the drift
    // e30's recall row instruments and migration repairs)
    assert(mig.centroids.ids.toSeq !== idx.centroids.ids.toSeq,
      "a 2/3 takedown left the quantizer sample unchanged — the " +
        "fixture no longer exercises the re-train")
    // serve-after-migrate: a retracted id is never returned
    val removedSet = removed.collect().map(_.getLong(0)).toSet
    val served = Similarity
      .ivfPqQuery(mig, surv, "vec_id", "embedding", _ < 20, k = 5)
      .collect().map(_.getLong(2))
    assert(served.nonEmpty && !served.exists(removedSet.contains),
      "a retracted id leaked out of the migrated serve")
  }

  test("pq adc kernels reject out-of-range codes (cross-subspace read guard)") {
    import spark.implicits._
    import graft.functions.PqAdc.{pq_adc, pq_lut, pq_lut_adc}
    // dim 16, m 2, ksub 2 toy codebook; code 2 at subspace 0 keeps the
    // flat offset in bounds (reads subspace 1's slice) — must throw
    val cb = Array.tabulate(2, 2)((j, c) =>
      Array.fill(8)(j * 10.0 + c))
    val df = Seq((Seq.fill(16)(1.0), Seq(2, 0))).toDF("v", "k")
    val direct = intercept[Exception] {
      df.select(pq_adc(col("v"), col("k"), cb, 16)).collect()
    }
    assert(direct.getMessage.contains("outside [0, 2)") ||
      direct.getCause.getMessage.contains("outside [0, 2)"))
    val lut = intercept[Exception] {
      df.select(pq_lut_adc(pq_lut(col("v"), cb, 16), col("k"), cb))
        .collect()
    }
    assert(lut.getMessage.contains("outside [0, 2)") ||
      lut.getCause.getMessage.contains("outside [0, 2)"))
  }

  test("nn-descent append: touched-neighbourhood maintenance equals the frozen-quantizer from-scratch build") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val archive = emb.filter(col("vec_id") >= 5)
    // the lifecycle: train the quantizer ONCE on the archive, build
    // seed + refined adjacencies, then append vectors 0..4
    val quant = Similarity.nndQuantizer(archive, "vec_id", "embedding")
    val seedA = Similarity.nnDescentAdjWith(archive, "vec_id", "embedding",
      quant, rounds = 0)
    val refinedA = Similarity.nnDescentAdjWith(archive, "vec_id", "embedding",
      quant, rounds = 1)
    val appended = Similarity.nnDescentAppend(emb, "vec_id", "embedding",
      quant, seedA, refinedA, _ < 5)
    // contract: row-identical to rebuilding from scratch over the
    // combined corpus under the SAME frozen quantizer
    val scratch = Similarity.nnDescentAdjWith(emb, "vec_id", "embedding",
      quant, rounds = 1)
    val a = appended.collect().map(_.toString).sorted.toSeq
    val s = scratch.collect().map(_.toString).sorted.toSeq
    assert(a === s)
    // the append path really is incremental: archive rows outside the
    // touched frontier are carried VERBATIM (reference equality of the
    // plan branch is not observable, but any untouched node's rows must
    // also appear in refinedA — and on this fixture some nodes are
    // untouched)
    val refinedRows = refinedA.collect().map(_.toString).toSet
    val preserved = a.count(refinedRows.contains)
    assert(preserved > 0, "no archive rows survived the append untouched")
  }

  test("nn-descent retract: equals the frozen-quantizer rebuild over " +
      "survivors; serve excludes retracted ids; anchor takedown refuses") {
    import spark.implicits._
    val emb = Tables.load(spark, sf(), "embeddings")
    val idx = Similarity.buildNndIndex(emb, "vec_id", "embedding")
    // takedown batch: every 9th vector that is not a quantizer anchor
    // (the documented fast-path contract)
    val removable = emb.filter(col("vec_id") % 9 === 4).select("vec_id")
      .join(idx.quant.reps.select(col("rep_id").as("vec_id")),
        Seq("vec_id"), "left_anti")
      .filter(!col("vec_id").isInCollection(idx.quant.centroids.ids.toSeq))
      .localCheckpoint(true)
    assert(removable.count() > 0, "fixture must yield a non-empty takedown")
    val surv = emb.join(removable, Seq("vec_id"), "left_anti")
    val ret = Similarity.retractNndIndex(idx, emb, "vec_id", "embedding",
      removable)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // contract: BOTH faces row-identical to a from-scratch build over
    // the survivors under the same frozen quantizer
    val scratch = Similarity.buildNndIndexWith(surv, "vec_id", "embedding",
      idx.quant, idx.degree)
    assert(rows(ret.seed) === rows(scratch.seed))
    assert(rows(ret.refined) === rows(scratch.refined))
    // the retraction is load-bearing: the refined face actually changed
    assert(rows(ret.refined) !== rows(idx.refined))
    // ... and incremental: some archive rows survive verbatim
    val archRows = idx.refined.collect().map(_.toString).toSet
    assert(rows(ret.refined).count(archRows.contains) > 0,
      "no archive rows survived the retraction untouched")
    // serve-after-retract: no retracted id is ever returned
    val removedSet = removable.collect().map(_.getLong(0)).toSet
    val served = Similarity.graphServeTopK(surv, "vec_id", "embedding",
        ret, _ < 25, k = 5, beam = 8, hops = 2)
      .collect().map(r => r.getLong(2))
    assert(served.nonEmpty && !served.exists(removedSet.contains),
      "a retracted id leaked out of the serve walk")
    // anchor takedowns must refuse loudly, not silently corrupt
    val repId = idx.quant.reps.select("rep_id").head.getLong(0)
    val eRep = intercept[IllegalArgumentException] {
      Similarity.retractNndIndex(idx, emb, "vec_id", "embedding",
        Seq(repId).toDF("vec_id"))
    }
    assert(eRep.getMessage.contains("REPRESENTATIVE"))
    val centId = idx.quant.centroids.ids.head.asInstanceOf[Long]
    val eCent = intercept[IllegalArgumentException] {
      Similarity.retractNndIndex(idx, emb, "vec_id", "embedding",
        Seq(centId).toDF("vec_id"))
    }
    // a centroid is usually also a rep of its own cell — either refusal
    // message is correct; what matters is that it refuses
    assert(eCent.getMessage.contains("quantizer"))
  }

  test("anchor takedown routes to migrate: re-trained rebuild equals the " +
      "fresh build over survivors; non-anchor routes to the fast path") {
    import spark.implicits._
    val emb = Tables.load(spark, sf(), "embeddings")
    val idx = Similarity.buildNndIndex(emb, "vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // a takedown batch that HITS an anchor: one rep + ordinary ids —
    // the case retractNndIndex refuses and round 14 left unroutable
    val repId = idx.quant.reps.select("rep_id").head.getLong(0)
    val takedown = emb.filter(col("vec_id") % 11 === 5).select("vec_id")
      .union(Seq(repId).toDF("vec_id")).distinct().localCheckpoint(true)
    assert(Similarity.hitsNndAnchor(idx, takedown))
    val migrated = Similarity.retractOrMigrateNndIndex(idx, emb,
      "vec_id", "embedding", takedown)
    // contract: the migrated artifact IS the fresh build over the
    // survivors — re-trained quantizer, both faces row-identical
    val surv = emb.join(takedown, Seq("vec_id"), "left_anti")
    val fresh = Similarity.buildNndIndex(surv, "vec_id", "embedding")
    assert(rows(migrated.seed) === rows(fresh.seed))
    assert(rows(migrated.refined) === rows(fresh.refined))
    // the re-trained quantizer no longer anchors on the retracted rep
    assert(migrated.quant.reps.filter(col("rep_id") === repId).count() === 0)
    assert(!migrated.quant.centroids.ids.contains(repId))
    // the takedown is honored: serve never returns a retracted id
    val removedSet = takedown.collect().map(_.getLong(0)).toSet
    val served = Similarity.graphServeTopK(surv, "vec_id", "embedding",
        migrated, _ < 25, k = 5, beam = 8, hops = 2)
      .collect().map(_.getLong(2))
    assert(served.nonEmpty && !served.exists(removedSet.contains),
      "a retracted id leaked out of the migrated serve")
    // a non-anchor batch routes to the INCREMENTAL fast path (same
    // result as calling retractNndIndex directly — the quantizer stays
    // frozen, nothing re-trains)
    val plain = emb.filter(col("vec_id") % 9 === 4).select("vec_id")
      .join(idx.quant.reps.select(col("rep_id").as("vec_id")),
        Seq("vec_id"), "left_anti")
      .filter(!col("vec_id").isInCollection(idx.quant.centroids.ids.toSeq))
      .localCheckpoint(true)
    assert(!Similarity.hitsNndAnchor(idx, plain))
    val routed = Similarity.retractOrMigrateNndIndex(idx, emb,
      "vec_id", "embedding", plain)
    assert(routed.quant.centroids.ids.toSeq === idx.quant.centroids.ids.toSeq,
      "fast path must keep the frozen quantizer")
    val fast = Similarity.retractNndIndex(idx, emb, "vec_id", "embedding",
      plain)
    assert(rows(routed.refined) === rows(fast.refined))
  }

  test("graph index artifact: build/save/load lifecycle — serve and append from the loaded index") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val archive = emb.filter(col("vec_id") >= 5)
    val idx = Similarity.buildNndIndex(archive, "vec_id", "embedding")
    val dir = tmpDir("graft_gidx")
    try {
      Similarity.saveNndIndex(idx, dir)
      val fresh = spark.newSession()
      val loaded = Similarity.loadNndIndex(fresh, dir)
      assert(loaded.quant.centroids.ids.toSeq === idx.quant.centroids.ids.toSeq)
      assert(loaded.quant.centroids.vecs.flatten.toSeq ===
        idx.quant.centroids.vecs.flatten.toSeq)
      // serving from the loaded artifact in a fresh session matches the
      // in-session build (both walk the same persisted adjacency)
      val archF = Tables.load(fresh, sf(), "embeddings")
        .filter(col("vec_id") >= 5)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      val servedLoaded = rows(Similarity.graphServeTopK(archF, "vec_id",
        "embedding", loaded, _ < 25, k = 5, beam = 8, hops = 2))
      val servedBuilt = rows(Similarity.graphServeTopK(archive, "vec_id",
        "embedding", idx, _ < 25, k = 5, beam = 8, hops = 2))
      assert(servedLoaded === servedBuilt)
      // appending through the loaded artifact equals the from-scratch
      // frozen-quantizer rebuild over the combined corpus
      val embF = Tables.load(fresh, sf(), "embeddings")
      val appended = Similarity.appendNndIndex(loaded, embF, "vec_id",
        "embedding", _ < 5)
      val scratch = Similarity.nnDescentAdjWith(embF, "vec_id", "embedding",
        loaded.quant, rounds = 1)
      assert(rows(appended.refined) === rows(scratch))
      // and the appended SEED face equals the from-scratch seed too
      // (what the NEXT append will consume)
      val scratchSeed = Similarity.nnDescentAdjWith(embF, "vec_id",
        "embedding", loaded.quant, rounds = 0)
      assert(rows(appended.seed) === rows(scratchSeed))
      // serving quality over the production-built graph: the e23 path
      // (nnd adjacency + beam walk) stays correlated with true
      // similarity — same floor contract as the e21 in-cell graph
      val bf = Similarity.bruteForceTopK(embF, "vec_id", "embedding",
          _ < 20, 5)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      val ga = Similarity.graphServeTopK(embF, "vec_id", "embedding",
          appended, _ < 20, k = 5, beam = 8, hops = 2)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      val recall = (bf intersect ga).size.toDouble / bf.size
      assert(recall > 0.2,
        s"graph-serve recall@5 vs brute over the appended index: $recall")
    } finally rmTree(dir)
  }

  test("e26 geometry: two-batch append chain serves at fresh-build " +
      "recall and clears the IVF-PQ (e18) floor") {
    val e = Tables.load(spark, sf(), "embeddings")
    // the s16 train/freeze contract: quantizer from the FULL table,
    // archive over a third, two appends absorb the rest
    val quant = Similarity.nndQuantizer(e, "vec_id", "embedding")
    val fresh = Similarity.buildNndIndexWith(e, "vec_id", "embedding",
      quant)
    val archive = Similarity.buildNndIndexWith(
      e.filter(col("vec_id") % 3 === 0), "vec_id", "embedding", quant)
    val appended = Similarity.appendNndIndex(
      Similarity.appendNndIndex(archive,
        e.filter(col("vec_id") % 3 <= 1), "vec_id", "embedding",
        _ % 3 === 1),
      e, "vec_id", "embedding", _ % 3 === 2)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "nn_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def served(idx: Similarity.NndIndex): Set[(Long, Long)] =
      pairs(Similarity.graphServeTopK(e, "vec_id", "embedding", idx,
        _ < 20, k = 5, beam = 8, hops = 2))
    val sApp = served(appended)
    // zero recall drift: the double-append artifact serves the fresh
    // build's exact result set (the equality face, across TWO batches)
    assert(sApp === served(fresh))
    // the quality face: recall@5 vs brute force from the appended
    // artifact must clear what the e18 gate certifies for IVF-PQ
    val bf = pairs(Similarity.bruteForceTopK(e, "vec_id", "embedding",
      _ < 20, 5))
    val recallApp = (bf intersect sApp).size * 100 / bf.size
    val recallIvf = (bf intersect pairs(Similarity.ivfPqTopK(e,
      "vec_id", "embedding", _ < 20, k = 5))).size * 100 / bf.size
    assert(recallApp >= recallIvf, s"append-served recall $recallApp% " +
      s"fell below the e18 IVF-PQ floor $recallIvf%")
  }

  test("nn-descent kernel quantizer: nlist > 64 routes through IvfCellsExpr and keeps every contract") {
    val emb = Tables.load(spark, sf(), "embeddings")
    // 128 cells over 500 vectors — the production configuration shape
    // (nlist grows with the corpus; literal centroids stop at 64)
    val quant = Similarity.nndQuantizer(emb, "vec_id", "embedding",
      nlist = 128, reps = 4)
    assert(quant.centroids.nlist === 128)
    val adj0 = Similarity.nnDescentAdjWith(emb, "vec_id", "embedding",
      quant, rounds = 0)
    val adj1 = Similarity.nnDescentAdjWith(emb, "vec_id", "embedding",
      quant, rounds = 1)
    def slots(df: org.apache.spark.sql.DataFrame) = df
      .select(col("node"), col("rank"), col("nsim")).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val q0 = slots(adj0)
    val q1 = slots(adj1)
    // same contract as the literal path: ranks contiguous, sims
    // non-increasing per node, refinement elementwise non-decreasing
    assert(q0.forall { case (k, v) => q1.get(k).forall(_ >= v) },
      "kernel-path refinement degraded a kept edge")
    assert(q1.values.sum > q0.values.sum,
      "kernel-path refinement found no better edges")
    val byNode = adj1.collect().groupBy(_.getLong(0))
    assert(byNode.values.forall { rows =>
      val sorted = rows.sortBy(_.getInt(1))
      val sims = sorted.map(_.getDouble(3)).toSeq
      sorted.map(_.getInt(1)).toSeq == (1 to sorted.length) &&
        sims.zip(sims.drop(1)).forall { case (a, b) => a >= b }
    })
    // and the walk serves from it
    val entries = emb
      .orderBy(sha2(col("vec_id").cast("string"), 256), col("vec_id"))
      .limit(16).select(col("vec_id"))
    val served = Similarity.graphServeTopK(emb, "vec_id", "embedding",
      adj1, entries, _ < 10, k = 3, beam = 8, hops = 2)
    assert(served.count() === 30)
  }

  test("pq kernels bit-match the HOF reference forms") {
    val emb = Tables.load(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // same deterministic codebook construction as pqTopK
    val cbRows = emb.orderBy(sha2(col("vec_id").cast("string"), 256),
      col("vec_id")).limit(16).collect()
    val cb = Array.tabulate(8, 16)((j, c) =>
      cbRows(c).getSeq[Double](1).slice(j * 8, (j + 1) * 8).toArray)
    import graft.functions.PqAdc.{pq_adc, pq_encode, pq_lut, pq_lut_adc}
    val enc = emb.select(col("vec_id"), col("v"),
      pq_encode(col("v"), cb, 64).cast("array<int>").as("k"),
      Similarity.pqEncodeHof(col("v"), cb).cast("array<int>").as("h"))
    assert(enc.filter(col("k") =!= col("h")).count() === 0,
      "fused encode diverged from the HOF argmin")
    val adc = enc.select(col("v"), col("k"))
      .withColumn("dk", pq_adc(col("v"), col("k"), cb, 64))
      .withColumn("dh", Similarity.pqAdcHof(col("v"), col("k"), cb))
      .withColumn("dl", pq_lut_adc(pq_lut(col("v"), cb, 64), col("k"), cb))
    // bit-exact, not approximately equal: same fold order by design
    assert(adc.filter(col("dk") =!= col("dh")).count() === 0,
      "fused ADC diverged from the HOF fold")
    // the hoisted-LUT path (the serving layout the operators use) must
    // reproduce the direct kernel bit-for-bit: each LUT entry IS the
    // per-subspace partial, both fold partials j-ascending
    assert(adc.filter(col("dl") =!= col("dk")).count() === 0,
      "hoisted-LUT ADC diverged from the direct kernel")
  }

  test("pq ann: recall@5 vs exact L2 is nontrivial, contract holds") {
    val emb = Tables.load(spark, sf(), "embeddings")
    // exact-L2 ground truth, computed directly (PQ approximates L2 —
    // comparing against the cosine brute force would measure the
    // metric mismatch, not the quantization error)
    val vecs = emb.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    def l2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val exact = (for {
      (q, qv) <- vecs if q < 20
      top = vecs.filter(_._1 != q)
        .sortBy { case (id, v) => (l2(qv, v), id) }.take(5)
      (nn, _) <- top
    } yield (q, nn)).toSet
    val rows = Similarity.pqTopK(emb, "vec_id", "embedding", _ < 20, 5)
      .collect()
    // exact contract pieces: k results per query, ranks 1..5, self excluded
    assert(rows.length === 20 * 5)
    assert(rows.forall(r => r.getLong(0) != r.getLong(2)))
    val got = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall5 = (exact intersect got).size.toDouble / exact.size
    // Uniform random 64-dim vectors are PQ's provable worst case
    // (distance concentration: the neighbor gap shrinks below the
    // quantization error), so top-5-vs-top-5 recall is only held above
    // chance (5/499 ≈ 0.01) here — real embedding manifolds do far
    // better. The production contract is PQ as a SHORTLIST: the exact
    // top-5 must survive into the PQ top-50 (shortlist → exact re-rank),
    // which is how IVF-PQ deployments actually use the codes.
    assert(recall5 > 0.03, s"PQ recall@5 vs exact L2 was $recall5")
    val short = Similarity.pqTopK(emb, "vec_id", "embedding", _ < 20, 50)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall50 = (exact intersect short).size.toDouble / exact.size
    assert(recall50 > 0.3,
      s"exact-L2 top-5 recall into the PQ top-50 shortlist was $recall50")
    // shortlist → exact re-rank (the serving pattern, e11): whatever of
    // the exact top-5 survives into the shortlist must surface into the
    // final top-5 — re-rank recall EQUALS shortlist recall and dominates
    // the raw PQ head
    val rr = Similarity.pqRerankTopK(emb, "vec_id", "embedding", _ < 20, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val rerankRecall = (exact intersect rr).size.toDouble / exact.size
    assert(rerankRecall === recall50,
      s"re-rank recall $rerankRecall != shortlist recall $recall50")
    assert(rerankRecall > recall5,
      s"re-rank $rerankRecall did not beat raw PQ head $recall5")
  }

  test("ivf-pq: composes e5 routing over e8 codes — adist identical, scan bounded") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val n = emb.count().toInt
    val e9 = Similarity.ivfPqTopK(emb, "vec_id", "embedding", _ < 20, 5)
      .collect()
    // contract shape: k per query, ranks 1..5, self excluded
    assert(e9.length === 20 * 5)
    assert(e9.forall(r => r.getLong(0) != r.getLong(2)))
    // composition: same codebook ⇒ the ADC distance for any (q, nn) pair
    // must equal the standalone-PQ distance bit-for-bit — IVF may only
    // RESTRICT the candidate set, never rescore it
    val fullAdc = Similarity.pqTopK(emb, "vec_id", "embedding", _ < 20, n)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    e9.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      assert(fullAdc(key) === r.getDouble(3),
        s"ivf-pq rescored pair $key: ${r.getDouble(3)} vs ${fullAdc(key)}")
    }
    // scan fraction: unlimited-k row count IS the candidate count; with
    // nprobe/nlist = 4/16 it must be well under the all-pairs scan
    val cand = Similarity.ivfPqTopK(emb, "vec_id", "embedding", _ < 20, n)
      .count()
    assert(cand < 0.6 * 20L * (n - 1),
      s"ivf-pq scanned $cand of ${20L * (n - 1)} pairs — cells not pruning")
  }

  test("residual ivf-pq: candidate set identical to the no-residual path") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val n = emb.count().toInt
    // routing is shared with the no-residual path → identical candidate
    // sets at the same nlist/nprobe (distances differ, membership not)
    def candSet(f: => org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val candRes = candSet(
      Similarity.ivfPqResidualTopK(emb, "vec_id", "embedding", _ < 20, n))
    val candRaw = candSet(
      Similarity.ivfPqTopK(emb, "vec_id", "embedding", _ < 20, n))
    assert(candRes === candRaw, "residual path changed the candidate set")
    // end-to-end: top-5 contract shape
    val top = Similarity.ivfPqResidualTopK(
      emb, "vec_id", "embedding", _ < 20, 5).collect()
    assert(top.length === 20 * 5)
    assert(top.forall(r => r.getLong(0) != r.getLong(2)))
    assert(top.forall(r => r.getDouble(3) >= 0))
  }

  test("lsh ann at a non-64 embedding width: dim probed from data, recall holds") {
    import spark.implicits._
    // deterministic 16-dim embeddings: 10 cluster centers + small offsets,
    // so true neighbors share a cluster and LSH must find them
    val dim = 16
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(10)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
    val rows = (0L until 300L).map { i =>
      val c = centers((i % 10).toInt)
      val v = c.map(x => (x + (rnd.nextDouble() - 0.5) * 0.1).toFloat)
      (i, v)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", _ < 10, 5)
      .select("q_id", "nn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // probed path (dim = 0 default) and explicit-width path must agree
    val probed = Similarity.lshTopK(emb, "vec_id", "embedding", _ < 10, 5)
      .select("q_id", "nn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val explicit = Similarity.lshTopK(emb, "vec_id", "embedding", _ < 10, 5,
      dim = dim)
      .select("q_id", "nn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probed == explicit)
    val recall = (bf intersect probed).size.toDouble / bf.size
    assert(recall > 0.5, s"recall@5 at dim=$dim was $recall")
  }

  test("ivf ann achieves decent recall@5 vs brute force, scans a fraction") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", _ < 20, 5)
      .select("q_id", "nn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", _ < 20, 5,
      nlist = 16, nprobe = 4)
      .select("q_id", "nn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf intersect ivf).size.toDouble / bf.size
    assert(recall > 0.3, s"recall@5 was $recall") // 4/16 cells probed
    // every query must still return a full top-5
    assert(ivf.groupBy(_._1).forall(_._2.size == 5))
  }

  test("one centroid: ivfTopK is brute force, clusterBalancedSample one cell") {
    val emb = Tables.load(spark, sf(), "embeddings")
    // nlist = 1 lists every vector in the one cell, so probing it scores
    // exactly the pairs brute force scores
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", _ < 20, 5)
      .select("q_id", "nn_id", "sim")
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", _ < 20, 5,
      nlist = 1, nprobe = 1).select("q_id", "nn_id", "sim")
    assert(ivf.count() === 20 * 5)
    assert(ivf.exceptAll(bf).isEmpty && bf.exceptAll(ivf).isEmpty)
    val cb = Similarity.clusterBalancedSample(emb, "vec_id", "embedding",
      nlist = 1, cap = 7)
    assert(cb.select("cell").distinct().count() === 1)
    assert(cb.agg(sum("kept")).head().getLong(0) === 7L)
  }

  test("ivf kernel path (nlist > 64): assignment matches reference, decent recall") {
    val emb = Tables.load(spark, sf(), "embeddings")
    // nlist=100 > 64 routes through the fused IvfCellsExpr kernel; probe a
    // quarter of the cells so every query still fills its top-5.
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", _ < 20, 5,
      nlist = 100, nprobe = 25)
      .select("q_id", "nn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", _ < 20, 5)
      .select("q_id", "nn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf intersect ivf).size.toDouble / bf.size
    assert(recall > 0.3, s"kernel-path recall@5 was $recall")
    assert(ivf.groupBy(_._1).forall(_._2.size == 5))
    // the kernel's nprobe=1 assignment must agree with independent Scala
    // math (argmax cosine, larger id on ties) for every corpus vector
    val cents = emb
      .orderBy(sha2(col("vec_id").cast("string"), 256), col("vec_id"))
      .limit(100).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val assigned = emb.select(col("vec_id"),
        graft.functions.IvfCells.ivf_cells(
          col("embedding").cast("array<double>"),
          cents.map(_._2), cents.map(_._1), 1).getItem(0).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    assigned.foreach { case (id, cell) =>
      val want = cents.map { case (cid, cv) => (cos(vecs(id), cv), cid) }
        .maxBy { case (s, cid) => (s, cid) }._2
      assert(cell === want, s"vec $id assigned to $cell, reference says $want")
    }
  }

  test("connected components: chains, cliques, singletons resolve to min id") {
    import spark.implicits._
    // components: chain 1-2-3-4 (diameter 3), clique {10,11,12}, pair {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (11L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val comp = Dedup.components(pairs, "doc_a", "doc_b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comp(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(comp(_) == 10L))
    assert(Seq(20L, 21L).forall(comp(_) == 20L))
    // survivors: docs 1..4,10..12,20,21 plus unpaired 99 keeps itself
    val docs = (Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L, 21L, 99L))
      .toDF("doc_id")
    val surv = Dedup.survivors(docs, pairs, "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(surv(99L) == 99L && surv(4L) == 1L && surv(12L) == 10L)
    assert(surv.values.toSet == Set(1L, 10L, 20L, 99L))
  }

  test("two-level ivf (superProbe) keeps decent recall at a fraction of assignment cost") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", _ < 20, 5)
      .select("q_id", "nn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val two = Similarity.ivfTopK(emb, "vec_id", "embedding", _ < 20, 5,
      nlist = 100, nprobe = 25, superProbe = 4)
      .select("q_id", "nn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf intersect two).size.toDouble / bf.size
    assert(recall > 0.2, s"two-level recall@5 was $recall")
    assert(two.groupBy(_._1).forall(_._2.size == 5))
  }

  test("ivf k-means refinement improves the quantization objective") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val corpus = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    // initial quantizer exactly as ivfTopK builds it
    val sampled =
      Similarity.Centroids.sample(corpus.toDF("nn_id", "nn_vec"), 16)
    val init = sampled.vecs
    val refined = Similarity.kmeansRefine(corpus, "v", init, sampled.labels,
      iters = 2)
    // objective: mean best-centroid cosine, computed with independent math
    val vecs = corpus.collect().map(_.getSeq[Double](1).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def obj(cs: Array[Array[Double]]): Double =
      vecs.map(v => cs.map(cos(v, _)).max).sum / vecs.length
    val (o0, o1) = (obj(init), obj(refined))
    assert(o1 > o0, s"refinement did not improve objective: $o0 -> $o1")
    // end-to-end: refined quantizer still serves full top-k
    val r = Similarity.ivfTopK(emb, "vec_id", "embedding", _ < 20, 5,
      nlist = 16, nprobe = 4, refineIters = 1)
    assert(r.count() === 100)
  }

  test("ivfTopK refine rejects non-integral ids instead of merging cells") {
    // DOUBLE ids x.25/x.75 and every row a centroid: truncated to longs,
    // each pair of centroids would share one label and kmeansRefine
    // would average the two cells into one
    val emb = Tables.load(spark, sf(), "embeddings")
      .filter(col("vec_id") < 8)
      .select(((col("vec_id") / 2).cast("long") +
        when(col("vec_id") % 2 === 0, 0.25).otherwise(0.75)).as("id"),
        col("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfTopK(emb, "id", "embedding", _ < 1.0, k = 2,
        nlist = 8, nprobe = 2, refineIters = 1)
    }
    assert(e.getMessage.contains("java.lang.Double"), e.getMessage)
  }

  test("groupSafeSplit: near-dup groups never straddle a split boundary") {
    import spark.implicits._
    val fixture = Tables.load(spark, sf(), "documents")
    val pairs = Dedup.jaccardPairs(fixture, "text", "doc_id",
      k = 5, threshold = 0.6, maxDf = 100)
    val out = Dedup.groupSafeSplit(fixture, pairs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    // the certified invariant: one split per group
    val straddling = out.groupBy("group_id")
      .agg(countDistinct(col("split")).as("k"))
      .filter(col("k") > 1)
    assert(straddling.count() === 0)
    // non-vacuous: the fixture has multi-document groups, and a NAIVE
    // per-doc split of the same corpus separates at least one of them —
    // i.e. the operator prevents real leakage, not hypothetical leakage
    val naive = Sampling.splitByHash(fixture, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("split").as("naive_split"))
    val naiveLeaks = out.join(naive, "doc_id")
      .groupBy("group_id")
      .agg(countDistinct(col("naive_split")).as("k"))
      .filter(col("k") > 1)
    assert(naiveLeaks.count() > 0,
      "fixture has no naive-split leakage — the test is vacuous")
    // every document is assigned, none fall to 'rest'
    assert(out.filter(col("split") === "rest").count() === 0)
    assert(out.count() === fixture.count())
  }

  test("kmeansRefineExact matches kmeansRefine within summation-order noise") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val corpus = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val sampled = Similarity.Centroids.sample(corpus.toDF("nn_id", "nn_vec"), 8)
    val (labels, init) = (sampled.labels, sampled.vecs)
    // production face: kernel assignment, free-order partial sums
    val prod = Similarity.kmeansRefine(corpus, "v", init, labels, iters = 1)
    // certification face: literal round-9 assignment, ascending-id fold,
    // 9-dp rounded components (the e13 gate construction)
    val exact = Similarity.kmeansRefineExact(emb, "vec_id", "embedding",
      init, labels, iters = 1)
    // same Lloyd semantics: with no assignment ties on the fixture the two
    // differ only by per-cell summation order (+ the 9-dp round), so every
    // component must agree to ~1e-9
    prod.zip(exact).zipWithIndex.foreach { case ((p, x), c) =>
      p.zip(x).zipWithIndex.foreach { case ((pv, xv), d) =>
        assert(math.abs(pv - xv) < 1e-8,
          s"centroid $c dim $d: production $pv vs exact $xv")
      }
    }
  }

  test("componentsAltStar: equals min-label components on mixed topologies") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (11L, 12L), (20L, 21L),
      // a duplicate and a reversed duplicate — canonicalization fodder —
      // and a self-pair-only node (30), which components() labels as a
      // singleton and canon() would otherwise silently drop
      (2L, 1L), (1L, 2L), (30L, 30L)).toDF("doc_a", "doc_b")
    val byStar = Dedup.componentsAltStar(pairs, "doc_a", "doc_b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    val byLabel = Dedup.components(pairs, "doc_a", "doc_b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(byStar === byLabel)
    // seeded random graph: 60 nodes, ~90 edges (multiple components)
    val rnd = new scala.util.Random(7)
    val rpairs = Seq.fill(90)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(p => p._1 != p._2).toDF("doc_a", "doc_b")
    val rs = Dedup.componentsAltStar(rpairs, "doc_a", "doc_b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    val rl = Dedup.components(rpairs, "doc_a", "doc_b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(rs === rl)
  }

  test("componentsAltStar: converges on a long path where default-round " +
      "min-label propagation cannot") {
    import spark.implicits._
    // 64-node path, diameter 63: min-label needs ~32 rounds to drag 1 to
    // the far end (components' default maxIter=20 stops EARLY there —
    // the documented shallow-cluster tradeoff); star contraction must
    // land every node on 1 well inside 20 alternating rounds.
    val path = (1L until 64L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val byStar = Dedup.componentsAltStar(path, "doc_a", "doc_b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byStar.size === 64 && byStar.values.forall(_ == 1L))
    val truncated = Dedup.components(path, "doc_a", "doc_b").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(truncated.exists(_._2 != 1L),
      "expected the min-label loop to stop before closing a 63-diameter " +
        "path at its default round budget — if this starts passing, " +
        "components' contract changed and this spec should be revisited")
  }

  test("componentsAppend: bridge-merges archive components, carries " +
      "singletons, equals from-scratch") {
    import spark.implicits._
    // archive: components {1,2} and {5,6}; 9 is a labelled singleton
    val oldLabels = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L), (9L, 9L))
      .toDF("id", "component")
    // increment: 7 bridges both archive components; (10,11) is a fresh
    // delta-only component; 9 untouched
    val inc = Seq((2L, 7L), (5L, 7L), (10L, 11L)).toDF("doc_a", "doc_b")
    val out = Dedup.componentsAppend(oldLabels, inc, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 5L, 6L, 7L).forall(out(_) == 1L),
      s"bridge must merge both archive components through 7: $out")
    assert(out(10L) == 10L && out(11L) == 10L)
    assert(out(9L) == 9L, "untouched singleton must carry through")
    // row-identical to from-scratch CC over the full edge set (modulo
    // the singleton, which from-scratch never sees)
    val full = Seq((1L, 2L), (5L, 6L), (2L, 7L), (5L, 7L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val scratch = Dedup.componentsAltStar(full, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out - 9L === scratch)
  }

  test("componentsRetract: cut-vertex removal SPLITS its group; untouched " +
      "labels carry through; equals from-scratch over surviving pairs") {
    import spark.implicits._
    // archive graph: path 1-2-3 (2 is a cut vertex), clique {5,6,7},
    // pair {10,11}, labelled singleton 9
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (6L, 7L), (5L, 7L),
      (10L, 11L)).toDF("doc_a", "doc_b")
    val oldLabels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L),
      (7L, 5L), (10L, 10L), (11L, 10L), (9L, 9L)).toDF("id", "component")
    // retract the bridge 2 AND clique member 5 (its component's CENTER —
    // the label itself goes away) in one batch
    val removed = Seq(2L, 5L).toDF("rid")
    val out = Dedup.componentsRetract(oldLabels, pairs, removed,
        "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // bridge removal splits {1,2,3} into singletons {1} and {3}
    assert(out(1L) === 1L && out(3L) === 3L,
      s"cut-vertex removal must SPLIT the path component: $out")
    // center removal relabels the surviving clique edge {6,7} to min 6
    assert(out(6L) === 6L && out(7L) === 6L,
      s"removed center must hand the label to the surviving min: $out")
    // untouched component and singleton carry through verbatim
    assert(out(10L) === 10L && out(11L) === 10L && out(9L) === 9L)
    // no removed id may appear in the output
    assert(!out.contains(2L) && !out.contains(5L))
    // row-identical to from-scratch CC over the surviving pair set plus
    // surviving singletons
    val survPairs = Seq((6L, 7L), (10L, 11L), (1L, 1L), (3L, 3L),
      (9L, 9L)).toDF("doc_a", "doc_b")
    val scratch = Dedup.componentsAltStar(survPairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === scratch)
  }

  test("componentsRetract composes over the MAINTAINED evidence chain; " +
      "stale evidence resurrects removed docs (the s22 contract)") {
    import spark.implicits._
    // path 1-2-3; takedown stream: batch 1 removes 3, batch 2 removes 1
    val pairs0 = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val labels0 = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "component")
    val l1 = Dedup.componentsRetract(labels0, pairs0, Seq(3L).toDF("rid"),
      "doc_a", "doc_b").localCheckpoint(true)
    val pairs1 = pairs0.filter(col("doc_a") =!= 3L && col("doc_b") =!= 3L)
    // sequential retraction over the maintained (labels, pairs) chain
    // equals the one-shot retraction of both ids — retraction COMPOSES
    val l2 = Dedup.componentsRetract(l1, pairs1, Seq(1L).toDF("rid"),
        "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oneShot = Dedup.componentsRetract(labels0, pairs0,
        Seq(1L, 3L).toDF("rid"), "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l2 === Map(2L -> 2L) && oneShot === l2)
    // the hazard the chain exists to prevent: retracting batch 2
    // against the STALE batch-0 evidence lets the already-removed doc
    // 3's edge (2,3) re-enter the re-clustering and RESURRECT it
    val stale = Dedup.componentsRetract(l1, pairs0, Seq(1L).toDF("rid"),
        "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stale.contains(3L),
      "expected the stale-evidence hazard to reproduce — if this stops " +
        "resurrecting doc 3, componentsRetract's contract changed and " +
        "the s22 evidence-chain rationale should be revisited")
  }

  test("componentsRetract: retracting every member of a component, and " +
      "ids the labelling never saw, is clean") {
    import spark.implicits._
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val oldLabels = Seq((1L, 1L), (2L, 1L), (9L, 9L)).toDF("id", "component")
    // remove the whole {1,2} component plus an id that was never labelled
    val removed = Seq(1L, 2L, 777L).toDF("rid")
    val out = Dedup.componentsRetract(oldLabels, pairs, removed,
        "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(9L -> 9L))
  }

  test("components releases its per-round checkpoint blocks (r2 leak regression)") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    // chain forces ≥2 propagation rounds, so intermediate checkpoints exist
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val comp = Dedup.components(pairs, "doc_a", "doc_b")
    val got = comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(5L) === 1L && got(11L) === 10L)
    val pinned = sc.getPersistentRDDs.keySet.toSet -- before
    // only the RETURNED labels' final checkpoint may stay pinned — every
    // intermediate round and the edge list must have been unpersisted
    assert(pinned.size <= 1, s"leaked persistent RDDs: $pinned")
    pinned.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
  }

  test("int8 quantization: small cosine error, top-5 mostly preserved") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val deq = emb.select(col("vec_id"),
      Similarity.dequantize(
        Similarity.quantizeInt8(col("embedding").cast("array<double>")))
        .as("embedding"))
    // fused codegen kernel (what e6 runs) is bit-identical to the composed
    // HOF form, component by component
    val fused = emb.select(col("vec_id"),
      graft.functions.QuantizeRoundtrip.quantize_roundtrip(
        col("embedding").cast("array<double>")).as("embedding"))
    assert(deq.exceptAll(fused).count() === 0)
    assert(fused.exceptAll(deq).count() === 0)
    // pointwise cosine between original and its dequantized self ≈ 1
    val selfCos = emb.join(deq.withColumnRenamed("embedding", "deq"), "vec_id")
      .select(Similarity.cosineFast(col("embedding").cast("array<double>"),
        col("deq")).as("c"))
      .agg(min("c")).head.getDouble(0)
    assert(selfCos > 0.999, s"quantization distorted vectors: min cos $selfCos")
    // end-to-end: top-5 neighbors from quantized storage overlap >= 80%
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", _ < 20, 5)
      .select("q_id", "nn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val qq = Similarity.bruteForceTopK(deq, "vec_id", "embedding", _ < 20, 5)
      .select("q_id", "nn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = (bf intersect qq).size.toDouble / bf.size
    assert(overlap >= 0.8, s"top-5 overlap after quantization: $overlap")
  }

  test("multimodal decode: deterministic stub, feature shape, byte counts") {
    val feats = Multimodal.featureTable(spark, docs)
    val r = feats.orderBy("doc_id").limit(1).collect()(0)
    val txt = docs.orderBy("doc_id").limit(1).collect()(0).getAs[String]("text")
    assert(r.getAs[Int]("n_bytes") === txt.getBytes("UTF-8").length)
    assert(r.getAs[Seq[Float]]("features").length === 8)
    // run twice → identical (stub is deterministic)
    val again = Multimodal.featureTable(spark, docs)
    assert(feats.exceptAll(again).count() === 0)
  }

  test("multimodal decoder seam: a custom ImageDecoder flows through decode/resize") {
    import spark.implicits._
    // the seam contract: swapping the codec touches NOTHING else — same
    // schema, same plumbing, decoder-determined values
    object FixedDecoder extends Multimodal.ImageDecoder {
      def decode(payload: Array[Byte]): (Int, Int, Array[Float]) =
        (7, 9, Array.tabulate(8)(i => i * 0.5f + payload.length))
      def grayGrid(payload: Array[Byte]): Array[Int] =
        Array.tabulate(72)(_ % 256)
    }
    val media = Multimodal.withPayload(docs.limit(5), "text")
      .select(col("doc_id"), col("payload"), col("media_type"))
      .as[Multimodal.MediaRow]
    val out = Multimodal.decode(media, FixedDecoder).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.width == 7 && r.height == 9 &&
      r.features.length == 8 && r.features(0) == r.n_bytes.toFloat))
    val rz = Multimodal.resize(media, 2, 2, FixedDecoder).collect()
    assert(rz.forall(r => r.width == 7 && r.height == 9 &&
      r.pixels.length == 4))
  }

  test("multimodal real decoder: javax.imageio PNGs decode through the same plumbing") {
    import spark.implicits._
    // real bytes through the round-10 seam: in-memory PNGs (the JDK's
    // own codec — no external library) with known geometry and content
    def png(id: Long, w: Int, h: Int, rgb: Int): (Long, Array[Byte], String) = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      (id, bos.toByteArray, "image/png")
    }
    val media = Seq(
        png(1L, 12, 8, 0x000000),   // black → luma 0, bin 0
        png(2L, 5, 7, 0xffffff),    // white → luma 255, bin 7
        png(3L, 20, 10, 0x808080))  // mid grey → luma 128, bin 4
      .toDF("doc_id", "payload", "media_type")
      .as[Multimodal.MediaRow]
    val out = Multimodal.decode(media, Multimodal.ImageIoDecoder)
      .collect().map(r => r.doc_id -> r).toMap
    assert(out(1L).width == 12 && out(1L).height == 8)
    assert(out(2L).width == 5 && out(2L).height == 7)
    assert(out(3L).width == 20 && out(3L).height == 10)
    // L1-normalized single-color histograms: all mass in one bin
    assert(out(1L).features(0) == 1.0f && out(1L).features.sum == 1.0f)
    assert(out(2L).features(7) == 1.0f)
    assert(out(3L).features(4) == 1.0f)
    // resize plumbing is decoder-agnostic (true dims, bounded grid out)
    val rz = Multimodal.resize(media, 2, 2, Multimodal.ImageIoDecoder)
      .collect().map(r => r.doc_id -> r).toMap
    assert(rz(1L).width == 12 && rz(1L).pixels.length == 4)
    // corrupt payloads surface as errors, not fabricated features
    val bad = Seq((9L, Array[Byte](1, 2, 3), "image/png"))
      .toDF("doc_id", "payload", "media_type").as[Multimodal.MediaRow]
    val err = intercept[Exception] {
      Multimodal.decode(bad, Multimodal.ImageIoDecoder).collect()
    }
    assert(err.getMessage.contains("unrecognized image payload") ||
      Option(err.getCause).exists(_.getMessage.contains("unrecognized image payload")))
  }

  test("dHash: gradient/flat/brightness-shift geometry over real PNGs") {
    import spark.implicits._
    def png(id: Long, w: Int, h: Int, lumaOfX: Int => Int):
        (Long, Array[Byte], String) = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = lumaOfX(x) & 0xff
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      (id, bos.toByteArray, "image/png")
    }
    val media = Seq(
        // 18×16, brightness strictly increasing by grid column (each
        // 2-px-wide box is one grid cell) → every gradient bit set
        png(1L, 18, 16, x => (x / 2) * 20),
        // same gradient shifted +40 luma → dHash invariant
        png(2L, 18, 16, x => (x / 2) * 20 + 40),
        // flat grey → no strict increase anywhere → zero hash
        png(3L, 18, 16, _ => 128))
      .toDF("doc_id", "payload", "media_type").as[Multimodal.MediaRow]
    val h = Multimodal.dHash(media, Multimodal.ImageIoDecoder)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(h(1L) === ((0xffffffffL, 0xffffffffL)))
    assert(h(2L) === h(1L), "dHash must be brightness-shift invariant")
    assert(h(3L) === ((0L, 0L)))
  }

  test("phashPairs: pigeonhole recall to hamming 3, df-cap drops a " +
      "degenerate bucket") {
    import spark.implicits._
    // hand-built hashes: 10 ~ 11 identical (hamming 0); 12 flips 3 bits
    // of 10 inside chunk 0 (hamming 3, shares chunks 1-3); 13 flips one
    // bit in each chunk (hamming 4 → over threshold)
    val base = 0x0f0f0f0fL
    val hashes = Seq(
      (10L, base, base),
      (11L, base, base),
      (12L, base ^ 0x7L, base),
      (13L, base ^ 0x1L ^ (0x1L << 16), base ^ 0x1L ^ (0x1L << 16)))
      .toDF("doc_id", "ph_lo", "ph_hi")
    val pairs = Multimodal.phashPairs(hashes, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs === Set((10L, 11L, 0), (10L, 12L, 3), (11L, 12L, 3)))
    // df-cap: 5 identical hashes with maxBucket = 3 → every bucket
    // exceeds the cap, all candidates dropped
    val flat = (1L to 5L).map(i => (i, base, base))
      .toDF("doc_id", "ph_lo", "ph_hi")
    assert(Multimodal.phashPairs(flat, maxHamming = 3, maxBucket = 3)
      .count() === 0)
  }

  test("phashProbePairs: probe matches archive through capped buckets only") {
    import spark.implicits._
    val base = 0x0f0f0f0fL
    val archive = Seq(
      (1L, base, base),
      (2L, base ^ 0x7L, base)) // hamming 3 from base, shares chunks 1-3
      .toDF("doc_id", "ph_lo", "ph_hi")
    val probe = Seq(
      (100L, base, base),               // exact dup of 1, near-dup of 2
      (101L, ~base, ~base))             // far from everything
      .toDF("doc_id", "ph_lo", "ph_hi")
    val got = Multimodal.phashProbePairs(probe,
        Multimodal.phashChunkIndex(archive), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === Set((100L, 1L, 0), (100L, 2L, 3)))
    // the df-cap is an INDEX-BUILD property: cap 1 with two archive rows
    // in the shared chunks 1-3 drops those buckets at build time; chunk
    // 0 buckets hold one row each and survive, so the exact-dup pair
    // remains reachable through archive 1's unique chunk-0 value while
    // 2's chunk-0 differs
    val capped = Multimodal.phashProbePairs(probe,
        Multimodal.phashChunkIndex(archive, maxBucket = 1), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(capped === Set((100L, 1L, 0)))
  }

  test("audioFingerprints: sign-of-delta bit layout, 65-frame prefix " +
      "bound, pairing through the image machinery") {
    import spark.implicits._
    // frameBytes = 1: every byte is its own frame, energy strictly
    // tracks the byte value (consecutive floors differ by >= 3)
    val inc = Array.tabulate(9)(i => (i * 10 + 33).toByte)   // 8 rising deltas
    val dec = Array.tabulate(9)(i => (113 - i * 10).toByte)  // 8 falling
    val long70 = Array.tabulate(70)(i => (i + 33).toByte)    // > 65 frames
    // identical first 65 frames, then falling — frames past the prefix
    // bound must not touch the hash
    val long70b = long70.take(65) ++ Array.tabulate(5)(i => (40 - i).toByte)
    val media = Seq(
      Multimodal.MediaRow(1L, inc, "stub"),
      Multimodal.MediaRow(2L, dec, "stub"),
      Multimodal.MediaRow(3L, long70, "stub"),
      Multimodal.MediaRow(4L, long70b, "stub")).toDS()
    val h = Multimodal.audioFingerprints(media, frameBytes = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(h(1L) === ((0xffL, 0L)), "8 rising deltas set bits 0..7")
    assert(h(2L) === ((0L, 0L)), "falling deltas set nothing")
    assert(h(3L) === ((0xffffffffL, 0xffffffffL)),
      "65 rising frames fill all 64 bits")
    assert(h(4L) === h(3L), "frames past the 65-frame prefix are ignored")
    // the unchanged image pairing stack serves audio: only the
    // identical-prefix pair survives the hamming verify
    val pairs = Multimodal.phashPairs(
        Multimodal.audioFingerprints(media, frameBytes = 1),
        maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs === Set((3L, 4L, 0)))
  }

  test("keyframeHashes: fused map-side pass ≡ sceneCuts segmentation + " +
      "dHash of each keyframe slice") {
    import spark.implicits._
    val media = Multimodal.withPayload(docs, "text")
      .select(col("doc_id"), col("payload"), col("media_type"))
      .as[Multimodal.MediaRow]
    val kf = Multimodal.keyframeHashes(media, frameBytes = 72, cutPm = 8L)
      .toDF()
    // segmentation: the fused fold lands on the exact (doc, scene)
    // partition the generic sceneCuts face computes over 72-byte frames
    val scenes = Multimodal.sceneCuts(
      Multimodal.sampleAudioFrames(media, frameBytes = 72).toDF(),
      cutPm = 8L)
    val a = kf.select("doc_id", "scene_id")
    val b = scenes.select("doc_id", "scene_id")
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
    // hashes: each scene's hash is dHash of the keyframe's 72-byte slice
    val joined = kf.join(scenes, Seq("doc_id", "scene_id"))
      .select("doc_id", "scene_id", "ph_lo", "ph_hi", "start_idx")
      .collect()
    assert(joined.nonEmpty)
    val pay = media.collect().map(r => r.doc_id -> r.payload).toMap
    val slices = joined.map { r =>
      val p = pay(r.getLong(0))
      val lo = r.getLong(4).toInt * 72
      Multimodal.MediaRow(r.getLong(0) * 100000L + r.getLong(1),
        java.util.Arrays.copyOfRange(p, lo, math.min(p.length, lo + 72)),
        "stub")
    }
    val expected = Multimodal.dHash(spark.createDataset(slices.toSeq))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    joined.foreach { r =>
      val key = r.getLong(0) * 100000L + r.getLong(1)
      assert((r.getLong(2), r.getLong(3)) === expected(key),
        s"keyframe hash mismatch for doc ${r.getLong(0)} scene ${r.getLong(1)}")
    }
  }

  test("videoDupPairs: containment coverage, within-video exclusion, " +
      "hamming-3 verify") {
    import spark.implicits._
    val h1 = (0x0f0f0f0fL, 0x0f0f0f0fL)
    val h2 = (0x12345678L, 0x0a0b0c0dL)
    val h3 = (0x7777aaaaL, 0x5555eeeeL)
    // B scene 2 flips 3 bits of h2 inside one chunk → hamming 3 (kept);
    // C scenes 2-4 are far from everything
    val keyframes = Seq(
      (1L, 1L, h1._1, h1._2),            // video A: 4 scenes, two of them
      (1L, 2L, h2._1, h2._2),            // identical keyframes (3 and 4)
      (1L, 3L, h3._1, h3._2),
      (1L, 4L, h3._1, h3._2),
      (2L, 1L, h1._1, h1._2),            // video B: a 2-scene clip of A
      (2L, 2L, h2._1 ^ 0x7L, h2._2),
      (3L, 1L, h1._1, h1._2),            // video C: 1 of 4 scenes shared
      (3L, 2L, 0xdeadbeefL, 0x0badf00dL),
      (3L, 3L, 0xcafe1234L, 0x8642fdb9L),
      (3L, 4L, 0x13572468L, 0x0fedc0deL))
      .toDF("doc_id", "scene_id", "ph_lo", "ph_hi")
    val got = Multimodal.videoDupPairs(keyframes, maxHamming = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // A~B: both of B's scenes matched (half of A's side too: scenes 1, 2)
    assert(got((1L, 2L)) === ((4L, 2L, 2L, 2L)))
    // B~C: C carries h1 = half of B's 2 scenes (containment face)
    assert(got((2L, 3L)) === ((2L, 4L, 1L, 1L)))
    // A~C: 1 matched scene on each side, under half of both → dropped;
    // A's identical scenes 3/4 never self-pair (within-video excluded)
    assert(got.size === 2)
    // the pigeonhole bound is a hard precondition
    assertThrows[IllegalArgumentException] {
      Multimodal.videoDupPairs(keyframes, maxHamming = 4)
    }
  }

  test("videoProbePairs: increment probes the persisted archive index; " +
      "coverage matches the self-join geometry") {
    import spark.implicits._
    // the videoDupPairs fixture split d21-style: B (doc 2) is the
    // increment, A (doc 1) and C (doc 3) are the archive
    val h1 = (0x0f0f0f0fL, 0x0f0f0f0fL)
    val h2 = (0x12345678L, 0x0a0b0c0dL)
    val h3 = (0x7777aaaaL, 0x5555eeeeL)
    val archive = Seq(
      (1L, 1L, h1._1, h1._2), (1L, 2L, h2._1, h2._2),
      (1L, 3L, h3._1, h3._2), (1L, 4L, h3._1, h3._2),
      (3L, 1L, h1._1, h1._2),
      (3L, 2L, 0xdeadbeefL, 0x0badf00dL),
      (3L, 3L, 0xcafe1234L, 0x8642fdb9L),
      (3L, 4L, 0x13572468L, 0x0fedc0deL))
      .toDF("doc_id", "scene_id", "ph_lo", "ph_hi")
    val probe = Seq(
      (2L, 1L, h1._1, h1._2), (2L, 2L, h2._1 ^ 0x7L, h2._2))
      .toDF("doc_id", "scene_id", "ph_lo", "ph_hi")
    val idx = Multimodal.videoKeyframeIndex(archive)
    def run(i: Multimodal.VideoIndex) =
      Multimodal.videoProbePairs(probe, i)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val got = run(idx)
    // B~A: both probe scenes land (exact + hamming-3), half of A covered
    assert(got((2L, 1L)) === ((2L, 4L, 2L, 2L)))
    // B~C: the shared h1 covers half of B (the containment face)
    assert(got((2L, 3L)) === ((2L, 4L, 1L, 1L)))
    assert(got.size === 2)
    // the index is parquet-persistable state: probing the reloaded
    // artifact is row-identical (the NndIndex save/load convention)
    val dir = tmpDir("graft_vidx")
    try {
      idx.chunks.write.parquet(s"$dir/chunks")
      idx.counts.write.parquet(s"$dir/counts")
      val reloaded = Multimodal.VideoIndex(
        spark.read.parquet(s"$dir/chunks"),
        spark.read.parquet(s"$dir/counts"))
      assert(run(reloaded) === got)
    } finally rmTree(dir)
  }

  test("videoIndexRetract: ≡ rebuild-without-them on both faces, " +
      "including bucket resurrection of a capped-out chunk") {
    import spark.implicits._
    // three videos sharing one keyframe hash (h1) → its four chunk
    // buckets hold 3 occupants each; a fourth video is unrelated
    val h1 = (0x0f0f0f0fL, 0x0f0f0f0fL)
    val kf = Seq(
      (1L, 1L, h1._1, h1._2), (1L, 2L, 0x12345678L, 0x0a0b0c0dL),
      (2L, 1L, h1._1, h1._2),
      (3L, 1L, h1._1, h1._2),
      (9L, 1L, 0xdeadbeefL, 0x0badf00dL))
      .toDF("doc_id", "scene_id", "ph_lo", "ph_hi")
    val maxBucket = 2
    val sketch = Multimodal.videoKeyframeSketch(kf)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // at build, h1's buckets (3 occupants) are capped out at 2
    val built = Multimodal.videoKeyframeIndex(kf, maxBucket)
    assert(built.chunks.filter(col("ph_lo") === h1._1 &&
      col("ph_hi") === h1._2).count() === 0,
      "precondition: the shared buckets must be capped out at 3 occupants")
    // retract video 3 → h1's buckets fall to 2 occupants: a rebuild
    // re-admits them, and the sketch-based retract must match exactly
    val ret = Multimodal.videoIndexRetract(sketch, Seq(3L).toDF("doc_id"),
      maxBucket)
    val rebuilt = Multimodal.videoKeyframeIndex(
      kf.filter(col("doc_id") =!= 3L), maxBucket)
    assert(rows(ret.chunks) === rows(rebuilt.chunks))
    assert(rows(ret.counts) === rows(rebuilt.counts))
    assert(ret.chunks.filter(col("ph_lo") === h1._1 &&
      col("ph_hi") === h1._2).count() > 0,
      "retraction must RESURRECT the now-under-cap shared buckets")
    // retracted video's rows are gone from BOTH faces
    assert(ret.chunks.filter(expr("id div 65536") === 3L).count() === 0)
    assert(ret.counts.filter(col("doc_id") === 3L).count() === 0)
    // and with no cap pressure, retract ≡ plain anti-join rebuild
    val r2 = Multimodal.videoIndexRetract(sketch, Seq(9L).toDF("doc_id"),
      maxBucket = 100)
    val b2 = Multimodal.videoKeyframeIndex(
      kf.filter(col("doc_id") =!= 9L), maxBucket = 100)
    assert(rows(r2.chunks) === rows(b2.chunks))
    assert(rows(r2.counts) === rows(b2.counts))
  }

  test("phashIndexRetract: ≡ rebuild-without-them, including bucket " +
      "resurrection — and the one face serves the audio hash layout too") {
    import spark.implicits._
    // three docs share hash h1 → its four chunk buckets hold 3
    // occupants each; doc 9 is unrelated (the flat-id twin of the
    // videoIndexRetract fixture — doc ids, not packed keyframe ids)
    val h1 = (0x0f0f0f0fL, 0x0f0f0f0fL)
    val hashes = Seq(
      (1L, h1._1, h1._2), (2L, h1._1, h1._2), (3L, h1._1, h1._2),
      (9L, 0xdeadbeefL, 0x0badf00dL))
      .toDF("doc_id", "ph_lo", "ph_hi")
    val maxBucket = 2
    val sketch = Multimodal.phashChunkSketch(hashes)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // at build, h1's buckets (3 occupants) are capped out at 2
    val built = Multimodal.phashChunkIndex(hashes, maxBucket)
    assert(built.filter(col("ph_lo") === h1._1 &&
      col("ph_hi") === h1._2).count() === 0,
      "precondition: the shared buckets must be capped out at 3 occupants")
    // retract doc 3 → h1's buckets fall to 2: a rebuild re-admits
    // them, and the sketch-based retract must match exactly
    val ret = Multimodal.phashIndexRetract(sketch, Seq(3L).toDF("doc_id"),
      maxBucket)
    assert(rows(ret) === rows(Multimodal.phashChunkIndex(
      hashes.filter(col("doc_id") =!= 3L), maxBucket)))
    assert(ret.filter(col("ph_lo") === h1._1 &&
      col("ph_hi") === h1._2).count() > 0,
      "retraction must RESURRECT the now-under-cap shared buckets")
    assert(ret.filter(col("id") === 3L).count() === 0)
    // no cap pressure: retract ≡ plain anti-join rebuild
    assert(rows(Multimodal.phashIndexRetract(sketch, Seq(9L).toDF("doc_id"),
        maxBucket = 100))
      === rows(Multimodal.phashChunkIndex(
        hashes.filter(col("doc_id") =!= 9L), maxBucket = 100)))
    // audio face: the SAME retract over audioFingerprints rows equals
    // the rebuilt audio index (one face, both modalities)
    val media = Multimodal.withPayload(docs, "text")
      .select(col("doc_id"), col("payload"), col("media_type"))
      .as[Multimodal.MediaRow]
    val afp = Multimodal.audioFingerprints(media, frameBytes = 8)
      .localCheckpoint(true)
    val rem = Seq(afp.select("doc_id").as[Long].head).toDF("doc_id")
    assert(rows(Multimodal.phashIndexRetract(
        Multimodal.phashChunkSketch(afp), rem, maxBucket = 100))
      === rows(Multimodal.phashChunkIndex(
        afp.join(rem.select(col("doc_id").as("r")),
          col("doc_id") === col("r"), "left_anti"),
        maxBucket = 100)))
  }

  test("multimodal resize and frame-sampling: shapes, determinism, 1→N") {
    import spark.implicits._
    val media = Multimodal.withPayload(docs, "text")
      .select(col("doc_id"), col("payload"), col("media_type"))
      .as[Multimodal.MediaRow]
    val resized = Multimodal.resize(media, 4, 3).collect()
    assert(resized.length == docs.count())
    assert(resized.forall(r => r.pixels.length == 12 &&
      r.out_w == 4 && r.out_h == 3))
    val frames = Multimodal.sampleFrames(media, everyMs = 500)
    val perDoc = frames.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every doc yields at least ceil(1000/500)+1 = 3 frames; counts are a
    // pure function of payload size (deterministic across runs)
    assert(perDoc.values.forall(_ >= 3))
    val again = Multimodal.sampleFrames(media, everyMs = 500)
    assert(frames.toDF().exceptAll(again.toDF()).count() == 0)
  }

  test("audio framing + VAD segmentation: energies, run-lengths, partial frames") {
    import spark.implicits._
    // 'z' = 122 → 478 pm (active at 390); ' ' = 32 → 125 pm (silent)
    val loud = "z" * 16; val quiet = " " * 16
    val d = Seq(
      (1L, loud + quiet + loud),   // active / silent / active
      (2L, quiet + quiet),         // one silent segment (run-length merge)
      (3L, loud + "z" * 8)         // partial last frame, same energy
    ).toDF("doc_id", "text")
    val media = Multimodal.withPayload(d, "text")
      .select(col("doc_id"), col("payload"), col("media_type"))
      .as[Multimodal.MediaRow]
    val frames = Multimodal.sampleAudioFrames(media, frameBytes = 16,
      activePm = 390L).toDF()
    val e = frames.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(3)).toMap
    assert(e((1L, 0)) === 478L && e((1L, 1)) === 125L && e((1L, 2)) === 478L)
    assert(e((3L, 1)) === 478L) // partial 8-byte frame: same per-mille
    val segs = Multimodal.audioSegments(frames).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(segs((1L, 1L)) === ((1, 0L, 0L, 1L)))  // active frame 0
    assert(segs((1L, 2L)) === ((0, 1L, 1L, 1L)))  // silent frame 1
    assert(segs((1L, 3L)) === ((1, 2L, 2L, 1L)))  // active frame 2
    assert(segs((2L, 1L)) === ((0, 0L, 1L, 2L)))  // both frames merged
    assert(segs((3L, 1L)) === ((1, 0L, 1L, 2L)))  // full + partial merged
    assert(segs.size === 5)
  }

  test("quality score is bounded and keep-flag consistent") {
    val q = docs.select(TextAnalysis.qualityScore(col("text")).as("q"))
    val rows = q.agg(min("q"), max("q")).collect()(0)
    assert(rows.getDouble(0) >= 0.0 && rows.getDouble(1) <= 1.0000001)
  }

  test("tripletMine: hand-built geometry, semi-hard band, singleton label") {
    import spark.implicits._
    // 2-D geometry around anchor 1 = (1, 0), label 0:
    //   id 2 label 0 at  0°  → cos 1.0        (hardest positive)
    //   id 3 label 1 at 30°  → cos ≈ 0.866025 (hardest negative)
    //   id 4 label 1 at 90°  → cos 0          (easy negative, ignored)
    //   id 5 label 9 is a singleton → NULL positive side, no flags
    val e = Seq(
      (1L, Seq(1.0, 0.0), 0L),
      (2L, Seq(1.0, 0.0), 0L),
      (3L, Seq(math.sqrt(3) / 2, 0.5), 1L),
      (4L, Seq(0.0, 1.0), 1L),
      (5L, Seq(-1.0, 0.0), 9L)).toDF("vec_id", "embedding", "label")
    val out = Similarity.tripletMine(e, "vec_id", "embedding", "label",
        id => id === 1 || id === 5, alphaU = 200000L)
      .collect().map(r => r.getLong(0) -> r).toMap
    val a1 = out(1L)
    assert(a1.getLong(2) === 2L && a1.getDouble(3) === 1.0)     // pos
    assert(a1.getLong(4) === 3L && a1.getDouble(5) === 0.866025) // neg
    assert(a1.getLong(6) === 1000000L - 866025L)                 // margin_u
    // margin 133975 ≤ α=200000 → semi-hard, not a violation
    assert(a1.getInt(7) === 1 && a1.getInt(8) === 0)
    // singleton label: positive side NULL, both flags 0
    val a5 = out(5L)
    assert(a5.isNullAt(2) && a5.isNullAt(3) && a5.isNullAt(6))
    assert(!a5.isNullAt(4), "negatives exist for the singleton")
    assert(a5.getInt(7) === 0 && a5.getInt(8) === 0)
  }

  test("clusterBalancedSample: partition of the corpus, cap honored, " +
      "kept = min(cap, cell_n) per cell") {
    val e = graft.Tables.load(spark, sf(), "embeddings")
    val n = e.count()
    val out = Similarity.clusterBalancedSample(e, "vec_id", "embedding",
      nlist = 8, cap = 30).cache()
    try {
      // every vector appears exactly once (the cells partition the corpus)
      assert(out.count() === n)
      assert(out.select("id").distinct().count() === n)
      val perCell = out.groupBy("cell")
        .agg(count(lit(1)).as("m"), max("cell_n").as("cn"),
          min("cell_n").as("cn2"), sum("kept").as("k"))
        .collect()
      assert(perCell.length <= 8)
      perCell.foreach { r =>
        val (m, cn, cn2, k) = (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))
        assert(cn === m && cn2 === m, "cell_n is the true cell size")
        assert(k === math.min(30L, m), "kept = min(cap, cell_n)")
      }
      // deterministic: a second run keeps the identical id set
      val again = Similarity.clusterBalancedSample(e, "vec_id",
        "embedding", nlist = 8, cap = 30)
      assert(out.filter(col("kept") === 1).select("id")
        .except(again.filter(col("kept") === 1).select("id")).count() === 0)
    } finally out.unpersist()
  }

  test("centroidOutliers: exact integer scores, per-group ranking, " +
      "centroid side broadcast") {
    import spark.implicits._
    // label 0: three vectors at the origin, one at (0.3, 0) — the
    // planted outlier. n=4, S=(30000, 0) at scale 1e5.
    // label 1: two identical vectors — every distance is the same (0).
    val df = Seq(
      (1L, Array(0.0f, 0.0f), 0),
      (2L, Array(0.0f, 0.0f), 0),
      (3L, Array(0.0f, 0.0f), 0),
      (4L, Array(0.3f, 0.0f), 0),
      (10L, Array(0.5f, 0.5f), 1),
      (11L, Array(0.5f, 0.5f), 1)).toDF("vec_id", "embedding", "label")
    val res = Similarity.centroidOutliers(df, "vec_id", "embedding",
      "label", topK = 2)
    // dist²·n² : origin rows (4·0 − 30000)² = 9e8; outlier
    // (4·30000 − 30000)² = 8.1e9
    val out = res.orderBy("label", "rank").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.toSeq === Seq(
      (0, 1, 4L, 8100000000L, 4L),
      (0, 2, 1L, 900000000L, 4L), // ties below rank 1 break by vec_id asc
      (1, 1, 10L, 0L, 2L),
      (1, 2, 11L, 0L, 2L)))
    // the centroid table must come back as a broadcast join — the
    // corpus side computes its distance map-side
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast centroid join, got:\n$plan")
  }

  test("learnBpeMerges: hand-traced merges; adjacent occurrences both " +
      "rewrite (the two-space encoding contract)") {
    import spark.implicits._
    // vocab: abab×3, ab×2 (+1 via lowercased AB), cd×5; "x9" filtered.
    // iter1: (a,b) = 2·3 + 1·3 = 9  beats (b,a)=3, (c,d)=5 → merge
    // iter2: (ab,ab) = 3 < (c,d) = 5 → merge (c,d)
    // iter3: (ab,ab) = 3 — ONLY exists if both (a,b) pairs inside
    //        "abab" merged in one pass
    val df = Seq(
      (1L, "abab abab abab ab ab AB x9 cd cd cd cd cd"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.learnBpeMerges(df, "text", steps = 3)
      .orderBy("step")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      (1, "a b", 9L), (2, "c d", 5L), (3, "ab ab", 3L)))
  }

  test("d48 accuracy shape: identical docs estimate 1.0 and exact " +
      "1000000; unrelated doc produces no pair") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words about other topics entirely here"))
      .toDF("doc_id", "text")
    val cands = MinHashLSH.candidatePairs(df, "text", "doc_id",
      k = 5, numHashes = 64, bands = 16, estThreshold = 0.5,
      maxBucket = Int.MaxValue, shingleRows = TextAnalysis.shaShingleRows)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cands.toSeq === Seq((1L, 2L, 1.0)))
    val shing = TextAnalysis.shaShingleRows(df, "text", "doc_id", 5)
      .select(col("id"), col("shingle")).distinct()
    val n1 = shing.filter(col("id") === 1L).count()
    val common = shing.filter(col("id") === 1L).select("shingle")
      .intersect(shing.filter(col("id") === 2L).select("shingle")).count()
    // identical text → identical shingle sets → exact Jaccard 1
    assert(n1 === 5L && common === n1)
  }

  test("rrfFuse: hand-computed integer fusion, one-list docs surface, " +
      "full-outer semantics") {
    import spark.implicits._
    val lex = Seq((1L, 1), (2L, 2)).toDF("doc_id", "lex_rank")
    val sem = Seq((2L, 1), (3L, 2)).toDF("doc_id", "sem_rank")
    val out = Similarity.rrfFuse(lex, sem, k = 60, topN = 10)
      .orderBy("rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(4)))
    // doc2: 1e6 div 62 + 1e6 div 61 = 16129 + 16393; doc1: 16393 (lex
    // only); doc3: 16129 (sem only) — both single-list docs surface.
    assert(out.toSeq === Seq(
      (2L, 1, 32522L), (1L, 2, 16393L), (3L, 3, 16129L)))
  }
}
