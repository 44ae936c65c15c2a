package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ObservedProbe
import graft.ObservedProbe.NoneChanged

/** Deduplication operators for a 100 TB training-data pipeline.
  *
  * Exact dedup is a hash-groupBy (one shuffle on the content hash — at scale
  * the hash is 32 bytes/row regardless of document size, so the shuffle is
  * cheap relative to the data). Near-dup comes in two flavors:
  *
  *   - [[jaccardPairs]]: exact n-gram Jaccard via a shingle-inverted-index
  *     self-join. Precise but quadratic in the worst case — bounded here by
  *     a document-frequency cap on shingles (a shingle shared by >maxDf docs
  *     is too common to be discriminative and would otherwise create df²
  *     candidate pairs; standard practice in MinHash/LSH systems).
  *   - [[MinHashLSH]]: the scale path — constant-size signatures, banded
  *     bucketing, candidates only within buckets.
  */
object Dedup {

  /** Content hash for exact dedup: sha2-256 of the raw text. */
  def contentHash(c: Column): Column = sha2(c, 256)

  /** Exact dedup: one surviving row (min of `idCol`) per distinct content. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(contentHash(col(textCol)).as("content_sha"))
      .agg(
        min(col(idCol)).as("keep_id"),
        count(lit(1)).as("n_copies"))

  /** Connected components over an undirected near-dup pair list — the step
    * that turns pairwise matches into dedup GROUPS. Iterative min-label
    * propagation: every node adopts the smallest label among itself and its
    * neighbors until fixpoint. Each round is one co-partitioned join + one
    * hash aggregate; rounds needed = component diameter (near-dup clusters
    * are shallow — copies of one document form diameter ≤ 2), so this
    * converges in a handful of rounds even at 100 TB. The driver loop is
    * coordination only (one checkpoint job per round, its changed-row
    * probe observed in that job — [[graft.ObservedProbe.fixpoint]]); all
    * data work is distributed. Returns (id, component) with component =
    * min id reachable; `maxIter` (>= 1) caps the rounds. */
  def components(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    // Each round's localCheckpoint TRUNCATES the logical plan, so
    // per-round analysis/optimization cost stays constant instead of
    // growing with the upstream (pair-mining) lineage times the round
    // number. The edge list and the seed labels are LAZY checkpoints,
    // materialized by the first round's job. Checkpoint LIFECYCLE (r2
    // lesson): each round releases its predecessor and the exit
    // releases the edge list, so only the RETURNED labels' blocks stay
    // (the caller's action reads them).
    // No distinct(): min-label propagation is idempotent to duplicate
    // edges (min over a bag = min over its set), so deduplicating the
    // doubled edge list would be a pure-overhead shuffle of the largest
    // intermediate in the query.
    val edges = pairs
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .localCheckpoint(false)
    // Init folds the first propagation round in: label = min(self, direct
    // neighbors) from one aggregate over edges (also yields the node set,
    // no separate distinct). Duplicate-clique components — the common case
    // in near-dup graphs — are final immediately.
    val fp = ObservedProbe.fixpoint(
        edges.groupBy(col("src").as("id"))
          .agg(min(col("dst")).as("nbr_min"))
          .select(col("id"), least(col("id"), col("nbr_min")).as("component")),
        NoneChanged(col("component") < col("old")), maxIter,
        lazySeed = true)({ (labels, _) =>
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("component")).as("nbr_min"))
      labels.join(viaNeighbors, Seq("id"), "left")
        .select(col("id"), col("component").as("old"),
          least(col("component"),
            coalesce(col("nbr_min"), col("component"))).as("component"))
    }, _.select("id", "component"))
    ObservedProbe.release(edges)
    fp.state
  }

  /** Connected components by alternating Large-Star / Small-Star edge
    * rewrites (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", 2014) — the beyond-diameter scale path beside
    * [[components]]: min-label propagation pays one round per hop of
    * component DIAMETER (fine for near-dup clusters, diameter ≤ 2; a
    * 100 TB web-graph chain would spin [[components]] to its maxIter and
    * silently stop early), while star contraction provably converges in
    * O(log² n) rounds on ANY topology — each round every node hooks
    * directly under its neighborhood minimum, so path lengths roughly
    * halve per round.
    *
    * One round = Large-Star (every strictly-larger neighbor of u
    * re-attaches to m(u) = min(Γ(u) ∪ {u})) then Small-Star (every
    * smaller-or-equal neighbor and u itself attach to the minimum of
    * u's smaller neighborhood). Both are one groupBy-min plus one
    * equi-join over the edge list — the same per-round cost shape as a
    * [[components]] round (nothing materializes adjacency), just far
    * fewer rounds. Edges stay canonical (u < v, distinct); the fixpoint
    * is a star per component centered at its minimum id, read out as
    * (id, component). Convergence is detected EXACTLY (count equality +
    * empty except — both on the shrunken converged set, cheap), and the
    * final labels equal [[components]]' min-reachable-id contract
    * row-for-row (spec-asserted, including on a path graph where the
    * default-maxIter min-label loop would NOT converge). */
  def componentsAltStar(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    def canon(df: DataFrame): DataFrame =
      df.filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("u"),
          greatest(col("u"), col("v")).as("v"))
        .distinct()
    def dir(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))
    // Large-Star: m(u) over the FULL neighborhood; larger neighbors hook
    // to it. (v, m) re-canonicalized — m < v always, but least/greatest
    // keeps the invariant self-evident.
    def largeStar(e: DataFrame): DataFrame = {
      val m = dir(e).groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      canon(dir(e).join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
    }
    // Small-Star: m(u) over the smaller neighborhood only; those
    // neighbors and u itself hook to it.
    def smallStar(e: DataFrame): DataFrame = {
      val down = dir(e).filter(col("v") < col("u"))
      val m = down.groupBy("u").agg(min(col("v")).as("m"))
      canon(
        down.join(m, "u")
          .select(col("v").as("u"), col("m").as("v"))
          .union(m.select(col("u"), col("m").as("v"))))
    }
    val rawPairs = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
    var edges = canon(rawPairs).localCheckpoint(false)
    var iter = 0
    var stable = false
    var prevCount = edges.count()
    while (!stable && iter < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint(false)
      // exact fixpoint test on canonical distinct sets: same cardinality
      // and no row of next outside edges ⟺ equal (the previous round's
      // count is carried, so each round pays two actions, not three)
      val nextCount = next.count()
      stable = nextCount == prevCount &&
        next.exceptAll(edges).limit(1).count() == 0
      ObservedProbe.release(edges)
      edges = next
      prevCount = nextCount
      iter += 1
    }
    // Unlike [[components]] (whose partial labels are still a valid
    // under-approximation worth returning), a non-star edge set is not
    // a labelling AT ALL (nodes would carry several labels) — so a
    // maxIter overrun must be loud. O(log²) convergence makes 20 rounds
    // enough for any physical graph; the probe's 2047-diameter path
    // closed well inside it. The throw releases this call's blocks first
    // (the r2 checkpoint-lifecycle contract holds on the error path).
    if (!stable) {
      ObservedProbe.release(edges)
      throw new IllegalStateException(
        s"componentsAltStar did not reach the star fixpoint in $maxIter " +
          "alternating rounds — raise maxIter")
    }
    // fixpoint is a star per component: u is the center (minimum), every
    // other member appears exactly once as v. Nodes whose only pairs are
    // self-pairs (a, a) vanished in canon() — restore them as singleton
    // components so the output matches [[components]]' row set exactly.
    val labels = edges.select(col("v").as("id"), col("u").as("component"))
      .union(edges.select(col("u")).distinct()
        .select(col("u").as("id"), col("u").as("component")))
    val selfOnly = rawPairs.filter(col("u") === col("v"))
      .select(col("u").as("id")).distinct()
      .join(labels.select("id"), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    labels.union(selfOnly)
  }

  /** Incremental connected components — the APPEND face of the
    * dedup-groups artifact, completing [[incrementalPairsFromIndex]]'s
    * story (archive never re-PAIRED) one level up: the archive is never
    * re-CLUSTERED either. A component labelling IS a lossless
    * contraction of the archive graph for connectivity (its star edges
    * id—component reach exactly the same components), so appending a
    * crawl increment = running CC over (archive labels as edges) ∪
    * (increment pairs) — the archive's full edge set, its pair mining,
    * and its own CC rounds never re-run. New bridges that merge two
    * archive components resolve naturally (both stars join through the
    * bridge; the smaller min wins), and the result is row-identical to
    * a from-scratch CC over the full pair set (spec + gate-certified).
    *
    * `oldLabels` is any (id, component) output of [[components]] /
    * [[componentsAltStar]] / this function; singleton archive ids
    * (component = self, no edges) are carried through unchanged unless
    * the increment touches them. Contraction makes the append cost
    * O(|archive nodes| + |increment pairs|) per batch — independent of
    * the archive's edge count, the same shape the nnDescentAppend /
    * s15 index-maintenance family certifies for ANN artifacts. */
  def componentsAppend(oldLabels: DataFrame, newPairs: DataFrame,
      aCol: String, bCol: String, maxIter: Int = 20): DataFrame = {
    val labelEdges = oldLabels
      .select(col("id").as("doc_a"), col("component").as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    val merged = componentsAltStar(
      newPairs.select(col(aCol).as("doc_a"), col(bCol).as("doc_b"))
        .unionByName(labelEdges),
      "doc_a", "doc_b", maxIter)
    // singletons (archive ids with component = self and untouched by the
    // increment) have no edge above — carry them through verbatim
    val untouched = oldLabels.join(merged.select(col("id")), Seq("id"),
      "left_anti")
    merged.unionByName(untouched.select(col("id"), col("component")))
  }

  /** Normalize a caller-supplied removed-ids frame to the retract
    * family's contract: exactly ONE column (any name), deduplicated,
    * aliased `rid`. Held once for every retract face
    * ([[componentsRetract]], [[shingleIndexRetract]],
    * `TextAnalysis.winnowIndexRetract`, `Multimodal.videoIndexRetract`,
    * `Multimodal.phashIndexRetract`, `Similarity.retractNndIndex`) so
    * the convention cannot drift per family; a multi-column frame is
    * an error, not a silent head-column guess. */
  private[graft] def normalizeRemovedIds(removedIds: DataFrame): DataFrame = {
    require(removedIds.columns.length == 1,
      s"removedIds must be a single id column, got " +
        s"(${removedIds.columns.mkString(", ")})")
    removedIds.select(col(removedIds.columns.head).as("rid")).distinct()
  }

  /** RETRACTION face of the dedup-groups artifact — the delete twin of
    * [[componentsAppend]] (VERDICT r13 item 5): remove documents
    * (takedowns, robots changes) from a persisted labelling and return
    * labels row-identical to a from-scratch CC over the surviving pair
    * set. Unlike append, retraction cannot work from the labels alone:
    * a component labelling is a lossless contraction for CONNECTIVITY
    * but not for cut structure — removing a bridge node must SPLIT its
    * group, and which survivors stay connected is decided by the
    * surviving pair evidence, not the star. So this face takes the pair
    * artifact too (the same persisted evidence [[componentsAppend]]'s
    * callers already keep, d21's index-family contract).
    *
    * Only components TOUCHED by a removal re-cluster: untouched
    * components pass their labels through verbatim (their pair set is
    * unchanged and their label is already the min member id, so the
    * from-scratch result is identical for them — what makes the
    * equivalence exact, not approximate). A removed center (the label
    * IS a member) always marks its component touched. Cost is one
    * labels-scan + one pairs-scan (semi/anti joins) + CC over the
    * affected slice only — O(touched components), independent of the
    * archive's component count, the retract twin of append's
    * O(increment) shape.
    *
    * `removedIds`: one-column DataFrame of ids to retract (ids absent
    * from the labelling are ignored). `pairs` must be the evidence set
    * the labelling was built from, minus nothing — a pair between two
    * different old components would mean `oldLabels` was not a CC of
    * `pairs` in the first place. */
  def componentsRetract(oldLabels: DataFrame, pairs: DataFrame,
      removedIds: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    val rem = normalizeRemovedIds(removedIds)
    val affectedComps = oldLabels
      .join(rem, col("id") === col("rid"), "left_semi")
      .select("component").distinct()
    val untouched = oldLabels
      .join(affectedComps, Seq("component"), "left_anti")
    val affectedSurvivors = oldLabels
      .join(affectedComps, Seq("component"), "left_semi")
      .join(rem, col("id") === col("rid"), "left_anti")
      .select("id")
    // Surviving evidence among affected members: both endpoints must
    // survive; the membership semi-join needs only ONE endpoint — a
    // pair's endpoints share a component by CC's definition.
    val survPairs = pairs
      .select(col(aCol).as("u"), col(bCol).as("v"))
      .join(rem, col("u") === col("rid"), "left_anti")
      .join(rem, col("v") === col("rid"), "left_anti")
      .join(affectedSurvivors.select(col("id").as("u")), Seq("u"),
        "left_semi")
    // Re-cluster the affected slice only; self-pairs restore pairless
    // survivors (including split-off leaves) as singletons.
    val relabeled = componentsAltStar(
      survPairs.unionByName(affectedSurvivors
        .select(col("id").as("u"), col("id").as("v"))),
      "u", "v", maxIter)
    untouched.select(col("id"), col("component"))
      .unionByName(relabeled.select(col("id"), col("component")))
  }

  /** The dedup-groups artifact pair every incremental face maintains:
    * the labelling plus the pair EVIDENCE it was clustered from
    * ([[componentsRetract]]'s documented requirement — cut structure
    * lives in the pairs, not the labels). */
  final case class GroupsArtifact(labels: DataFrame, pairs: DataFrame)

  /** UPDATE face of the dedup-groups artifact — the re-crawl edit path
    * (d58's contract at the GROUPS grain): a changed document's pair
    * EVIDENCE changes, so the update retracts the old versions from
    * both faces ([[componentsRetract]] + a pair anti-join) and appends
    * the re-mined evidence ([[componentsAppend]], with self-pairs so a
    * now-pairless updated doc re-enters as a singleton instead of
    * vanishing). Composition order fixed HERE, retract-then-append:
    * the reverse clusters the new evidence in and then anti-joins the
    * updated ids out of the labelling — the documents vanish instead
    * of serving their new groups (spec-pinned, UpdateFacesSpec).
    *
    * `newPairs` is the changed docs' re-mined near-dup evidence —
    * against the archive AND among themselves — e.g.
    * [[incrementalPairsFromIndex]] probed at the d58-updated serving
    * index (self-pairs filtered); the archive is never re-mined
    * (labels contract + O(touched) retract + O(increment) append).
    * Returns both maintained faces; labels ≡ a from-scratch CC over
    * the updated corpus's full pair set (gate d60). */
  def componentsUpdate(art: GroupsArtifact, updatedIds: DataFrame,
      newPairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): GroupsArtifact = {
    val rem = normalizeRemovedIds(updatedIds).localCheckpoint(false)
    val labels1 = componentsRetract(art.labels, art.pairs,
      rem.select(col("rid")), aCol, bCol, maxIter)
    val pairs1 = art.pairs
      .join(rem, col(aCol) === col("rid"), "left_anti")
      .join(rem, col(bCol) === col("rid"), "left_anti")
    val np = newPairs.select(col(aCol), col(bCol))
    val withSelf = np
      .unionByName(rem.select(col("rid").as(aCol), col("rid").as(bCol)))
    GroupsArtifact(
      componentsAppend(labels1, withSelf, aCol, bCol, maxIter),
      pairs1.unionByName(np))
  }

  /** End-to-end near-dup dedup: every document keeps its component's
    * minimum id as `keep_id` (documents in no pair keep themselves). */
  def survivors(docs: DataFrame, pairs: DataFrame, idCol: String,
      aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    val comp = components(pairs, aCol, bCol)
    docs.select(col(idCol).as("id"))
      .join(comp, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("component"), col("id")).as("keep_id"))
  }

  /** Leakage-safe train/val/test split: assignment is keyed on the
    * near-dup GROUP (each component's minimum id via [[survivors]]), not
    * the document — so two near-duplicate documents can never land on
    * opposite sides of a train/test boundary, the contamination that
    * silently inflates eval scores when splitting hashes raw ids.
    * `pairs` is whatever near-dup evidence the caller trusts (exact
    * [[jaccardPairs]] here; [[MinHashLSH]] candidates verified by the
    * composed pipeline at scale). Returns (idCol, group_id, split).
    *
    * 100 TB shape: [[survivors]]' distributed CC over the (bounded)
    * pair set + one hash-bucket projection — the split adds NO shuffle
    * beyond what group discovery already paid. */
  def groupSafeSplit(docs: DataFrame, pairs: DataFrame, idCol: String,
      fractions: Seq[(String, Double)], seed: Long = 42L,
      bucketFn: (Column, Long) => Column = Sampling.hashBucket)
      : DataFrame =
    Sampling.splitByHash(survivors(docs, pairs, idCol), "keep_id",
        fractions, seed, bucketFn)
      .select(col(idCol), col("keep_id").as("group_id"), col("split"))

  /** The composed end-to-end near-dup dedup pipeline — the query a
    * training-data user actually runs (SURVEY §2b): MinHash-LSH candidate
    * generation → EXACT Jaccard verification restricted to the candidate
    * set → connected components → survivors.
    *
    * Scale shape: the expensive exact verification (inverted-index
    * self-join) never sees the full corpus — the corpus is first
    * semi-joined down to documents the LSH flagged (at realistic near-dup
    * rates a few percent of 100 TB), so the quadratic-ish exact step runs
    * on the small flagged slice while the full corpus is touched only by
    * the constant-size-signature LSH pass and the final survivors
    * left-join. Verified pairs are then the candidate∩exact set (the
    * est_jaccard screen can overshoot; exact Jaccard has the final say),
    * closed into components, and every document maps to its component's
    * minimum id. Note the df-cap inside the exact step is computed over
    * the flagged slice, not the corpus — more faithful anyway, since the
    * cap exists to bound THIS join's bucket blow-up.
    *
    * Returns (idCol, keep_id) for EVERY input document (unflagged or
    * unverified documents keep themselves).
    */
  def nearDupPipeline(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, threshold: Double = 0.6, numHashes: Int = 64,
      bands: Int = 16, estThreshold: Double = 0.5, maxBucket: Int = 200,
      maxDf: Int = 100,
      shingleRows: (DataFrame, String, String, Int) => DataFrame =
        TextAnalysis.hashedShingleRows): DataFrame = {
    // The candidate list is tiny relative to the corpus (that is the point
    // of LSH), but its PLAN is the whole signature pipeline — and three
    // consumers reference it (member set, exact-verify restriction, final
    // pair screen). Checkpoint it once so the LSH pass runs once, not
    // three times. Scoped lifecycle (r2 lesson): survivors() → components()
    // materializes everything downstream eagerly during this call, after
    // which the candidate blocks are dead — freed in the finally; the
    // returned DataFrame reads only the corpus scan and the components
    // labels checkpoint.
    val cands = MinHashLSH.candidatePairs(df, textCol, idCol, k, numHashes,
        bands, estThreshold, maxBucket, shingleRows)
      .select(col("doc_a"), col("doc_b")).localCheckpoint(false)
    try {
      val candIds = cands
        .select(explode(array(col("doc_a"), col("doc_b"))).as("cid"))
        .distinct()
      val flagged = df.join(candIds, col(idCol) === col("cid"), "left_semi")
      val verified = jaccardPairs(flagged, textCol, idCol, k, threshold, maxDf)
        .join(cands, Seq("doc_a", "doc_b"))
      survivors(df, verified, idCol)
    } finally ObservedProbe.release(cands)
  }

  /** Exact n-gram Jaccard similar pairs: J(a,b) >= threshold, a < b.
    *
    * Plan shape: shingles are HASHED at the tokenizer (xxhash64 over the k
    * word columns — see TextAnalysis.hashedShingleRows), so every
    * downstream shuffle/join keys on 8-byte longs instead of ~40-byte
    * shingle strings; set semantics come from one dropDuplicates hash
    * aggregate (map-side partial dedup), which also yields sizes and the
    * df-cap with no re-tokenization. Jaccard over hashed shingles equals
    * Jaccard over string shingles up to xxhash64 collisions (~n²/2⁶⁴).
    * No driver-side loops; every stage is a hash agg or hash join.
    */
  /** Shingle-CONTAINMENT pairs — the asymmetric companion to
    * [[jaccardPairs]]: containment = inter / min(|A|, |B|), so a short
    * document quoted wholesale inside a long one scores ~1.0 where its
    * Jaccard is near zero (the union is dominated by the long side).
    * This is the quote/embedding detector (Broder's containment measure)
    * a dedup pass needs beside symmetric near-dup. Same df-capped
    * inverted-index machinery and 100 TB shape as jaccardPairs — only
    * the final per-pair ratio differs. Returns
    * (doc_a, doc_b, inter, containment). */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, threshold: Double = 0.8, maxDf: Int = 100): DataFrame =
    shinglePairStats(df, textCol, idCol, k, maxDf)
      .withColumn("containment",
        round(col("inter") / least(col("n_a"), col("n_b")), 6))
      .filter(col("containment") >= threshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("inter"), col("containment"))

  /** Shared pair machinery for [[jaccardPairs]]/[[containmentPairs]]:
    * df-capped inverted index → co-occurring pairs with intersection and
    * both shingle-set sizes — (id_a, id_b, inter, n_a, n_b). */
  private def shinglePairStats(df: DataFrame, textCol: String,
      idCol: String, k: Int, maxDf: Int): DataFrame =
    // No .cache(): the index subtree ends in the dropDuplicates
    // hash-aggregate's Exchange, and all three consumers (df-cap, join,
    // sizes) contain that identical Exchange — Spark's ReuseExchange
    // executes the scan→tokenize→hash→dedup stage ONCE and the consumers
    // read its shuffle files. Same recompute-avoidance as caching, but
    // the storage is job-scoped shuffle data that Spark itself reclaims,
    // so a long-lived session (a bench, a notebook, a server) accumulates
    // nothing. (r2 lesson: a library function that persists and never
    // unpersists leaks pinned blocks into every later query.)
    shinglePairStatsOn(
      TextAnalysis.hashedShingleRows(df, textCol, idCol, k)
        .dropDuplicates("id", "shingle"), maxDf)

  /** [[shinglePairStats]] over already-distinct (id, shingle) posting
    * rows — the entry point for callers holding a materialized
    * [[hashedShingleSketch]] (same rows as the from-docs path, since
    * that path's first stage IS this distinct posting set). */
  private def shinglePairStatsOn(idx: DataFrame, maxDf: Int): DataFrame = {
    val dfOk = idx.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select("shingle")
    val filtered = idx.join(dfOk, "shingle")
    val sizes = idx.groupBy(col("id")).agg(count(lit(1)).as("n_shingles"))
    val a = filtered.select(col("shingle"), col("id").as("id_a"))
    val b = filtered.select(col("shingle"), col("id").as("id_b"))
    a.join(b, Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
      // plain joins (not broadcast): sizes is one row per document, which
      // at the 100 TB design point is far too large to broadcast; AQE will
      // still broadcast it when it happens to be small.
      .join(sizes.withColumnRenamed("id", "id_a")
        .withColumnRenamed("n_shingles", "n_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("id", "id_b")
        .withColumnRenamed("n_shingles", "n_b"), Seq("id_b"))
  }

  def jaccardPairs(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, threshold: Double = 0.6, maxDf: Int = 100): DataFrame =
    jaccardScreen(shinglePairStats(df, textCol, idCol, k, maxDf),
      threshold)

  /** [[jaccardPairs]] over an already-materialized uncapped
    * [[hashedShingleSketch]] — row-identical to the from-docs path
    * (whose first stage IS the sketch's distinct posting set), for
    * callers that hold the sketch anyway and must not pay a second
    * corpus tokenization (the d60 update gate derives BOTH its
    * uncapped pair-mine and its d58-update serving index from one
    * checkpointed sketch; VERDICT r16 task 1b). */
  def jaccardPairsFromSketch(sketch: DataFrame, k: Int = 5,
      threshold: Double = 0.6, maxDf: Int = 100): DataFrame = {
    requireShingleK(sketch, k)
    jaccardScreen(shinglePairStatsOn(
      sketch.select(col("id"), col(s"shingle_k$k").as("shingle")),
      maxDf), threshold)
  }

  /** The exact-Jaccard screen shared by both pair entry points. */
  private def jaccardScreen(stats: DataFrame,
      threshold: Double): DataFrame =
    stats
      .withColumn("jaccard",
        round(col("inter") / (col("n_a") + col("n_b") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("inter"), col("jaccard"))

  /** Incremental exact near-dup check — the crawl-update shape: for every
    * document of `newBatch`, its exact-Jaccard matches in the existing
    * `corpus` (J ≥ threshold). A daily increment is deduped against
    * 100 TB of history WITHOUT re-pairing the history against itself:
    * candidate generation joins the increment's shingles against the
    * corpus index, so cost is |increment's shingles| × bounded corpus
    * fan-out, never corpus × corpus.
    *
    * The df-cap applies to the CORPUS side only — a boilerplate shingle
    * present in a million archive documents must not fan every incoming
    * document into a million candidate rows. Same spam-guard rationale
    * (and same exactness caveat) as [[jaccardPairs]]'s maxDf: capped
    * shingles don't contribute to the intersection, sizes stay uncapped.
    */
  def incrementalPairs(corpus: DataFrame, newBatch: DataFrame,
      textCol: String, idCol: String, k: Int = 5,
      threshold: Double = 0.6, maxDf: Int = 100): DataFrame =
    incrementalPairsFromIndex(
      hashedShingleIndex(corpus, textCol, idCol, k, maxDf),
      newBatch, textCol, idCol, k, threshold)

  /** The corpus's reusable dedup index: one row per distinct
    * (id, shingle-hash), RESTRICTED to shingles whose corpus document
    * frequency is ≤ maxDf, with each row carrying `n_c` — the document's
    * PRE-cap distinct shingle count (the Jaccard denominator). A 100 TB
    * archive builds this ONCE per corpus snapshot and persists it
    * (parquet, bucketed by shingle if joins should co-locate); because
    * the df-cap and the sizes are baked in at build time, an increment
    * never triggers an archive-wide aggregate — its cost is the join
    * alone. Rows carry 8-byte shingle hashes, the shape every join
    * keys on. */
  def hashedShingleIndex(corpus: DataFrame, textCol: String,
      idCol: String, k: Int = 5, maxDf: Int = 100): DataFrame =
    // BY CONSTRUCTION the capped view of the uncapped sketch — the
    // same cap tail [[shingleIndexRetract]] re-applies, so the
    // retract ≡ rebuild equivalence the d57 gate certifies cannot
    // drift between parallel copies of the cap logic.
    capShingleRows(
      TextAnalysis.hashedShingleRows(corpus, textCol, idCol, k)
        .dropDuplicates("id", "shingle"),
      shCol = s"shingle_k$k", maxDf = maxDf)

  /** The df-cap + per-doc-size tail shared by [[hashedShingleIndex]]
    * (build) and [[shingleIndexRetract]] (delete): postings whose
    * document frequency exceeds `maxDf` are dropped, and each
    * surviving row carries `n_c`, the doc's PRE-cap distinct shingle
    * count (the Jaccard denominator — intrinsic to the doc, so a
    * recount over any id-complete row set equals the build's).
    * `rows`: distinct (id, shingle) postings.
    *
    * k rides in the output column name: an xxhash64 over k word
    * columns is meaningless against any other k, and a silent
    * mismatch would return zero pairs (every duplicate admitted, no
    * error anywhere). Schema-carried, so it survives the parquet
    * round-trip and incrementalPairsFromIndex can fail fast instead. */
  private def capShingleRows(rows: DataFrame, shCol: String,
      maxDf: Int): DataFrame = {
    val dfOk = rows.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select("shingle")
    val sizes = rows.groupBy(col("id")).agg(count(lit(1)).as("n_c"))
    rows.join(dfOk, "shingle").join(sizes, "id")
      .select(col("id"), col("shingle").as(shCol), col("n_c"))
  }

  /** The UNCAPPED retractable sketch behind [[hashedShingleIndex]] —
    * the shingle-family twin of `TextAnalysis.winnowSketch`, for the
    * same reason: the df-cap destroys information a retraction needs
    * (a stock-phrase shingle past `maxDf` falls back under the cap once
    * its carriers are retracted — a rebuild re-admits its surviving
    * postings, a capped index lost them). Distinct (id, shingle_k<k>)
    * rows only; the per-doc sizes and the cap are derived views
    * ([[shingleIndexRetract]] recounts both). The k-in-column-name
    * contract carries over so a k mismatch still fails fast. */
  def hashedShingleSketch(corpus: DataFrame, textCol: String,
      idCol: String, k: Int = 5): DataFrame =
    TextAnalysis.hashedShingleRows(corpus, textCol, idCol, k)
      .dropDuplicates("id", "shingle")
      .select(col("id"), col("shingle").as(s"shingle_k$k"))

  /** RETRACTION face of the shingle-index artifact — completes the
    * delete lifecycle across every persisted index family (groups d55,
    * winnow d56, ANN e27, video mm11; this is the d21 original): one
    * anti-join dropping the retracted ids, one df recount re-applying
    * the cap, one size recount (n_c is intrinsic to a doc, so the
    * recount equals the rebuild's by construction) — O(|sketch|) per
    * takedown batch, archive text never re-tokenized, and exactly
    * `hashedShingleIndex(corpus ∖ removed)` (spec, including cap
    * resurrection). */
  def shingleIndexRetract(sketch: DataFrame, removedIds: DataFrame,
      k: Int = 5, maxDf: Int = 100): DataFrame =
    shingleServingIndex(shingleSketchRetract(sketch, removedIds, k),
      k, maxDf)

  /** The sketch-maintenance HALF of [[shingleIndexRetract]] — the
    * text-family twin of `Multimodal.phashSketchRetract`: the uncapped
    * survivor sketch a takedown batch leaves behind, persisted by the
    * s24 streaming retract sink as the NEXT batch's retractable
    * artifact. One doc-id anti-join; no cap (the df-cap is a property
    * of the SERVING view, not the artifact — cap resurrection needs
    * the uncapped rows). Keeps the k-in-column-name contract. */
  def shingleSketchRetract(sketch: DataFrame, removedIds: DataFrame,
      k: Int = 5): DataFrame = {
    requireShingleK(sketch, k)
    val rem = normalizeRemovedIds(removedIds)
    sketch.join(rem, sketch("id") === rem("rid"), "left_anti")
  }

  /** APPEND face of the shingle-sketch artifact: the new documents'
    * distinct postings unioned in — nothing existing is touched, so an
    * append is O(|increment|) (the d21 contract; the df-cap and sizes
    * are properties of the SERVING view and re-derive through
    * [[shingleServingIndex]]). PRECONDITION: the appended ids are not
    * already present — an id appended twice would double its postings;
    * the re-crawl upsert is [[shingleSketchUpdate]]. */
  def shingleSketchAppend(sketch: DataFrame, newDocs: DataFrame,
      textCol: String, idCol: String, k: Int = 5): DataFrame = {
    requireShingleK(sketch, k)
    sketch.unionAll(hashedShingleSketch(newDocs, textCol, idCol, k))
  }

  /** UPDATE face of the shingle-sketch artifact — the re-crawl edit
    * path (VERDICT r15 missing item 1): a changed document is a
    * retract of its OLD postings composed with an append of its NEW
    * version's, against the same persisted artifact. The composition
    * order is load-bearing and fixed HERE so no caller re-derives it:
    * retract-then-append. The reverse order (append the new version's
    * postings, then retract "the updated ids") anti-joins the id out
    * of BOTH versions — the document vanishes from the index entirely
    * instead of serving its new text (spec-pinned, CurationSpec).
    * Result ≡ `hashedShingleSketch(corpus with the new versions)` —
    * the d58 gate replays that rebuild as its oracle — at
    * O(|updated docs|) cost: one id anti-join plus the increment's
    * own tokenization; the archive is never re-tokenized. Ids not
    * previously present append cleanly (an upsert). */
  def shingleSketchUpdate(sketch: DataFrame, newVersions: DataFrame,
      textCol: String, idCol: String, k: Int = 5): DataFrame =
    shingleSketchAppend(
      shingleSketchRetract(sketch, newVersions.select(col(idCol)), k),
      newVersions, textCol, idCol, k)

  /** Base-snapshot faces for the shingle family's O(delta) chain
    * ([[DeltaUpdate]] — re-crawls and takedowns alike, a takedown being
    * an update to an empty version): the uncapped sketch, its
    * per-shingle build counts, the capped serving view (derived through
    * the one shared [[shingleServingIndex]] tail so the delta chain
    * cannot drift on cap semantics), plus the family-specific `sizes`
    * face — (id, n_c), the pre-cap per-doc distinct-shingle count a
    * serving row carries ([[shingleUpdateServing]] swaps in the
    * current count for touched docs). One tokenize pass: every derived
    * face reads the persisted sketch. */
  def shingleDeltaBase(sp: SparkSession, corpus: DataFrame,
      textCol: String, idCol: String, baseDir: String, k: Int = 5,
      maxDf: Int = 100): Unit = {
    // sizes rides initBase's concurrent face batch (guide §2.6): it
    // derives from the persisted sketch only
    DeltaUpdate.initBase(sp, baseDir,
      hashedShingleSketch(corpus, textCol, idCol, k),
      Seq(s"shingle_k$k"), shingleParams(k, maxDf), Seq(
        sk => sk.groupBy(col("id")).agg(count(lit(1)).as("n_c"))
          .write.mode("overwrite").parquet(s"$baseDir/sizes")))(
      shingleServingIndex(_, k, maxDf))
  }

  // the build params a shingle base records and every fold checks
  private def shingleParams(k: Int, maxDf: Int): Map[String, Long] =
    Map("k" -> k.toLong, "max_df" -> maxDf.toLong)

  /** The shingle family's serving view over the delta chain
    * ([[DeltaUpdate]]) after batch `upTo` — the O(delta) successor of
    * deriving [[shingleServingIndex]] from a per-batch-rewritten
    * sketch (the s31 gate's serve path). Decoration is the family's
    * one quirk: a serving row carries `n_c`, the doc's CURRENT
    * pre-cap distinct-shingle count, which an update MOVES — so the
    * sizes frame is base sizes for never-updated docs plus counts
    * derived from the updated docs' latest newrows (both delta-sized
    * or map-side; a taken-down doc has no latest rows, so it drops out
    * of both). Base faces from [[shingleDeltaBase]]. */
  def shingleUpdateServing(sp: SparkSession, artDir: String,
      initName: String, upTo: Long, k: Int = 5,
      maxDf: Int = 100): DataFrame = {
    val updDocs = DeltaUpdate.touchedDocs(sp, artDir, upTo)
    val latest = DeltaUpdate.latestRows(sp, artDir, upTo)
    val curSizes = graft.sources.Formats.readParquet(sp, s"$artDir/$initName/sizes")
      .join(updDocs, col("id") === col("rid"), "left_anti")
      .unionByName(latest.groupBy(col("id")).agg(count(lit(1)).as("n_c")))
    DeltaUpdate.servingView(sp, artDir, initName, upTo,
      Seq(s"shingle_k$k"), maxDf, touched = Some(updDocs),
      latest = Some(latest))(_.join(curSizes, "id"))
  }

  /** Shingle-family COMPACTION of the delta chain
    * ([[DeltaUpdate.compact]]): fold the accumulated batch history
    * into a fresh base at `newBaseDir`, including the family's `sizes`
    * face — an update MOVES n_c, so the sizes re-derive from the
    * compacted sketch (one aggregate over rows already being
    * rewritten; taken-down docs are absent from it). The
    * compacted base ≡ [[shingleDeltaBase]] over the corpus with every
    * doc's latest version (spec-pinned, DeltaUpdateSpec). Refuses a
    * `k` or `maxDf` other than the base was built at. */
  def shingleUpdateCompact(sp: SparkSession, artDir: String,
      initName: String, upTo: Long, newBaseDir: String, k: Int = 5,
      maxDf: Int = 100): Unit =
    DeltaUpdate.compact(sp, artDir, initName, upTo, newBaseDir,
      Seq(s"shingle_k$k"), shingleParams(k, maxDf), extraFaces = Seq(
        sk => sk.groupBy(col("id")).agg(count(lit(1)).as("n_c"))
          .write.mode("overwrite").parquet(s"$newBaseDir/sizes")))(
      shingleServingIndex(_, k, maxDf))

  /** The capped SERVING view of an uncapped [[hashedShingleSketch]] —
    * the same cap+size tail [[hashedShingleIndex]] bakes at build
    * ([[capShingleRows]]), exposed so the streaming retract chain
    * derives its probe index through the one shared implementation. */
  def shingleServingIndex(sketch: DataFrame, k: Int = 5,
      maxDf: Int = 100): DataFrame = {
    requireShingleK(sketch, k)
    capShingleRows(
      sketch.select(col("id"), col(s"shingle_k$k").as("shingle")),
      shCol = s"shingle_k$k", maxDf = maxDf)
  }

  private def requireShingleK(sketch: DataFrame, k: Int): Unit =
    require(sketch.columns.contains(s"shingle_k$k"),
      s"sketch carries ${sketch.columns.filter(_.startsWith("shingle_k")).mkString(",")} " +
        s"but k=$k was asked — a silent mismatch would emit a wrong " +
        "index, not an error")

  /** [[incrementalPairs]] against a pre-built [[hashedShingleIndex]] —
    * the production entry point for repeated increments (batch backfills
    * or a streaming foreachBatch). Touches the archive ONLY through the
    * index join: the df-cap and corpus sizes were baked in at index
    * build, so nothing here aggregates over the whole corpus and
    * per-increment cost is |increment shingles| × bounded fan-out. */
  def incrementalPairsFromIndex(corpusIdx: DataFrame, newBatch: DataFrame,
      textCol: String, idCol: String, k: Int = 5,
      threshold: Double = 0.6): DataFrame = {
    require(corpusIdx.columns.contains(s"shingle_k$k"),
      s"corpus index was not built with k=$k (columns: " +
        s"${corpusIdx.columns.mkString(", ")}) — hashes from different " +
        "shingle widths never match and would silently return zero pairs")
    val nIdx = TextAnalysis.hashedShingleRows(newBatch, textCol, idCol, k)
      .dropDuplicates("id", "shingle")
    val nSizes = nIdx.groupBy(col("id")).agg(count(lit(1)).as("n_n"))
    corpusIdx
      .select(col(s"shingle_k$k").as("shingle"), col("id").as("corpus_id"),
        col("n_c"))
      .join(nIdx.select(col("shingle"), col("id").as("new_id")),
        Seq("shingle"))
      .groupBy(col("new_id"), col("corpus_id"))
      // n_c is constant per corpus_id (it rides every index row)
      .agg(count(lit(1)).as("inter"), min(col("n_c")).as("n_c"))
      .join(nSizes.withColumnRenamed("id", "new_id"), Seq("new_id"))
      .withColumn("jaccard",
        round(col("inter") / (col("n_n") + col("n_c") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"), col("inter"), col("jaccard"))
  }
}
