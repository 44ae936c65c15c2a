package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.meter.{GenConfig, MeterGen}

/** Physical-plan shape assertions — the 100 TB design properties that
  * correctness tests can't see: filters reaching the parquet scan, column
  * pruning, broadcast joins where a dimension is small, top-k avoiding a
  * global sort, and shuffle-free generation. */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def run(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf("sf0.001"))

  test("q1: filter pushed to parquet scan, columns pruned") {
    val p = plan(run("q1_agg"))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"no pushed filter in:\n$p")
    // scan must not read money columns the query never touches
    assert(!p.contains("l_tax") && !p.contains("l_partkey"), "column pruning failed")
  }

  test("q4: star dims join via broadcast, not sort-merge") {
    val p = plan(run("q4_star_broadcast"))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected SMJ in:\n$p")
  }

  test("q12: global top-k plans TakeOrderedAndProject (no full sort)") {
    val p = plan(run("q12_topk_global"))
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator in:\n$p")
  }

  test("meter generation is shuffle-free") {
    val df = MeterGen.transmissions(spark, GenConfig(numMeters = 4, ticks = 100))
    val p = plan(df)
    assert(!p.contains("Exchange"), s"generation shuffles:\n$p")
    assert(p.contains("Range"), "expected range source")
  }

  test("reduceToSecond over generated transmissions: joules is a plan " +
    "literal and no watts column survives optimization") {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val cfg = GenConfig(numMeters = 2, ticks = 7200)
    val opt = MeterGen.reduceToSecond(MeterGen.transmissions(spark, cfg))
      .queryExecution.optimizedPlan
    val joules = opt.collect { case p: Project => p.projectList }.flatten
      .filter(_.name == "joules")
    assert(joules.nonEmpty && joules.forall {
      case Alias(Literal(59, _), _) => true
      case _ => false
    }, s"joules is not the literal 59:\n$opt")
    assert(!opt.exists(p => (p.output ++ p.references).exists(_.name == "watts")),
      s"the optimized plan reads watts:\n$opt")
  }

  test("transmissions: no CodegenFallback expression in the executed plan") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val executed = MeterGen.transmissions(spark, GenConfig(numMeters = 2, ticks = 3))
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
        case other => other
      }
    assert(!executed.exists(_.expressions.exists(_.exists(_.isInstanceOf[CodegenFallback]))),
      s"interpreted expression in the generator:\n$executed")
  }

  test("a raw write's plan prints the sample buffer as one literal") {
    import org.apache.spark.sql.functions.{col, to_date}
    // the raw layout adds only dt/said_bucket to the generator's projection
    val plan = MeterGen.transmissions(spark, GenConfig(numMeters = 2, ticks = 3))
      .withColumn("dt", to_date(col("datetime")))
      .queryExecution.optimizedPlan.toString
    assert(plan.length < 2000,
      s"raw write plan is ${plan.length} chars:\n${plan.take(1000)}")
  }

  test("reduceToSecond over parquet raw: the joules fold is the codegen " +
    "kernel inside whole-stage codegen, no interpreted aggregate") {
    import org.apache.spark.sql.catalyst.expressions.ArrayAggregate
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    import graft.functions.FloatArraySumExpr
    val dir = tmpDir("graft_reduce")
    try {
      val cfg = GenConfig(numMeters = 2, ticks = 3)
      MeterGen.transmissions(spark, cfg).write.parquet(s"$dir/raw")
      val df = MeterGen.reduceToSecond(spark.read.parquet(s"$dir/raw"))
      assert(df.collect().forall(_.getInt(2) == 59))
      val executed = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
        case other => other
      }
      assert(!executed.exists(_.expressions.exists(_.exists(_.isInstanceOf[ArrayAggregate]))),
        s"interpreted aggregate fold in the plan:\n$executed")
      val fused = executed.collect { case w: WholeStageCodegenExec => w }
        .exists(_.child.exists {
          case p: ProjectExec => p.projectList.exists(_.exists(_.isInstanceOf[FloatArraySumExpr]))
          case _ => false
        })
      assert(fused, s"joules projection is not inside whole-stage codegen:\n$executed")
    } finally rmTree(dir)
  }

  test("rollup cascade over a parquet second table: one exchange, " +
    "hash-partitioned on said alone, serves dedupe and every grain") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.meter.Rollups
    val dir = tmpDir("graft_cascade")
    try {
      val cfg = GenConfig(numMeters = 3, ticks = 7200)
      MeterGen.secondTable(spark, cfg).write.parquet(s"$dir/second")
      val df = Rollups.day(Rollups.hour(Rollups.minute(
        Rollups.dedupe(spark.read.parquet(s"$dir/second")))))
      assert(df.collect().map(_.getLong(2)).toSeq === Seq.fill(3)(7200L * 59))
      val helper = new AdaptiveSparkPlanHelper {}
      val executed = df.queryExecution.executedPlan
      val exchanges = helper.collect(executed) { case e: ShuffleExchangeExec => e }
      assert(exchanges.size === 1, s"cascade shuffles more than once:\n$executed")
      val keys = exchanges.head.outputPartitioning match {
        case h: HashPartitioning => h.expressions.collect {
          case a: AttributeReference => a.name
          case other => other.sql
        }
        case other => Seq(other.toString)
      }
      assert(keys === Seq("said"), s"exchange is not on said alone:\n$executed")
    } finally rmTree(dir)
  }

  test("rollup chain: partial aggregation before the shuffle") {
    val df = SparkEntry.entry(spark)
    val p = plan(df)
    // HashAggregate(partial) ... Exchange ... HashAggregate(final)
    assert(p.contains("HashAggregate"), p)
    assert("Exchange".r.findAllIn(p).size === 1,
      s"rollup should shuffle exactly once:\n$p")
  }

  test("shingle hashing: tokenize→explode→hash is one codegen span, no shuffle") {
    val docs = graft.Tables.load(spark, sf("sf0.001"), "documents")
    val df = graft.pipeline.TextAnalysis
      .hashedShingleRows(docs, "text", "doc_id", 5)
    df.collect()
    val p = plan(df)
    assert(!p.contains("Exchange"), s"shingle derivation shuffles:\n$p")
    assert(p.contains("Generate"), s"no generator (explode) in:\n$p")
    assert(p.contains("xxhash64"), s"hash not in plan:\n$p")
    // the generate and the hash projection share a codegen span
    assert("\\*\\(\\d+\\) Generate".r.findFirstIn(p).isDefined,
      s"explode fell out of whole-stage codegen:\n$p")
  }

  test("q29 pivot: one scan, pruned columns, no distinct-values job") {
    val df = run("q29_pivot")
    val p = plan(df)
    // explicit value list ⇒ no eager distinct() collect before planning;
    // data passes once: scan → (status,flag) sum → pivotfirst by status.
    // Both shuffles carry pre-aggregated rows (≤ |status×flag| ≈ 6).
    assert("FileScan".r.findAllIn(p).size === 1, s"pivot scanned twice:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 2, p)
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_returnflag:string,l_linestatus:string>"),
      s"column pruning failed:\n$p")
  }

  test("e1: query side broadcast — corpus never shuffles before top-k") {
    val df = run("e1_cosine_topk")
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query set not broadcast:\n$p")
    // the only exchange allowed before the window is the broadcast itself
    assert(!p.contains("SortMergeJoin"), s"corpus-side shuffle join:\n$p")
  }

  test("q35: clustered layout — one exchange, partition-local sort only") {
    val df = run("q35_clustered_layout")
    val p = plan(df)
    assert("Exchange".r.findAllIn(p).size === 1,
      s"clustering must shuffle exactly once (the repartition):\n$p")
    // Sort(global=false) prints without a trailing 'true' (global) flag
    assert(p.contains("Sort ["), s"no sort in:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"global sort snuck in (range exchange):\n$p")
  }

  test("d10: split assignment is a pure projection — one agg shuffle total") {
    val p = plan(run("d10_hash_split"))
    // sha bucket + CASE ranges happen map-side; the only hash exchange is
    // the tiny (split, n) aggregate (plus the output sort's range exchange)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"split derivation should not shuffle:\n$p")
    assert(p.contains("partial_count"), s"no map-side partial agg:\n$p")
  }

  test("e3: signature is codegen, query side broadcast, no corpus SMJ") {
    val df = run("e3_lsh_ann")
    df.collect()
    val p = plan(df)
    // conjunctive: the fused kernel must be present AND no interpreted
    // lambdafunction may remain anywhere in the hot path (the old
    // disjunction passed as long as the kernel name appeared once, even
    // with interpreted lambdas still doing the real work).
    assert(p.contains("lshsignatureexpr") || p.contains("LshSignatureExpr"),
      s"fused signature kernel missing from plan:\n$p")
    assert(!p.contains("lambdafunction"),
      s"interpreted lambda in hot path:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"probe set not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-side shuffle join:\n$p")
  }

  test("q41: z-order layout — one exchange, partition-local sort, codegen z-key") {
    val p = plan(run("q41_zorder_layout"))
    assert("Exchange".r.findAllIn(p).size === 1,
      s"z-order clustering must shuffle exactly once:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"global sort snuck in:\n$p")
    assert(p.contains("Sort ["), s"no sort in:\n$p")
  }

  test("d12: stratified sample — two passes (pruned count + selection), no per-stratum sort") {
    val df = run("d12_stratified_sample")
    val p = plan(df)
    // two-phase exact selection: a counting pass over (stratum, key) and
    // a selection pass — never more (the r4 redesign briefly scanned 4×
    // via a union of filtered joins; this pins the fix)
    assert("FileScan".r.findAllIn(p).size === 2,
      s"expected exactly the counting + selection scans:\n$p")
    // the selection pass ranks within fine-grained (stratum, bucket)
    // groups — a hot stratum must never collapse into one window task
    assert("hashpartitioning\\(lang#\\d+, _bkt".r.findAllIn(p).nonEmpty,
      s"selection window not partitioned by (stratum, bucket):\n$p")
    // threshold rows join back via broadcast, not a shuffled join
    assert(p.contains("BroadcastHashJoin"),
      s"threshold join should broadcast the per-stratum rows:\n$p")
  }

  test("q38: moment sums — single scan, pruned to the three used columns") {
    val df = run("q38_corr_moments")
    val p = plan(df)
    assert("FileScan".r.findAllIn(p).size === 1, s"lineitem scanned twice:\n$p")
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_returnflag:string,l_discount:double>")
      || p.contains("ReadSchema: struct<l_quantity:double,l_discount:double,l_returnflag:string>"),
      s"column pruning failed:\n$p")
  }

  test("s5: interval join is an equi-join with range residual, not a cartesian") {
    val df = run("s5_interval_join")
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval join fell back to a product join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"), s"no hash/merge join in:\n$p")
  }

  test("d6/d7: shared index/signature stage runs once via exchange reuse") {
    // r2 regression lesson: these pipelines used .cache() for the
    // multiply-referenced shingle index / signature table and leaked the
    // blocks forever. The replacement contract is structural: the shared
    // subtree ends in an Exchange that every consumer reuses, so the
    // expensive scan→tokenize→hash stage executes once per query with
    // job-scoped shuffle storage. Assert the plan actually says so.
    for (q <- Seq("d6_jaccard_pairs", "d7_minhash_pairs")) {
      val df = run(q)
      df.collect()
      val p = plan(df)
      assert(p.contains("ReusedExchange"),
        s"$q no longer reuses its shared stage's exchange:\n$p")
      assert(!p.contains("InMemoryTableScan"),
        s"$q reintroduced a cache:\n$p")
    }
  }

  test("q2: selective scan stays inside whole-stage codegen") {
    val df = run("q2_selective_filter")
    df.collect() // finalize the adaptive plan — codegen markers appear then
    val p = plan(df)
    // whole-stage-codegen spans print as "*(n) Op" in the final plan; the
    // scan→filter→project→partial-agg chain must share one span
    assert(p.contains("*(1) Filter") && p.contains("*(1) HashAggregate"),
      s"no codegen span over scan+filter+agg:\n$p")
  }

  test("d16: eval shingles broadcast — corpus text never shuffles") {
    val df = run("d16_contamination")
    df.collect()
    val p = plan(df)
    // decontamination joins a billions-row corpus against a thousands-row
    // eval set: the eval side must broadcast and the corpus side must not
    // enter a shuffle join
    assert(p.contains("BroadcastHashJoin"), s"eval set not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-side shuffle join:\n$p")
    // shuffled bytes are (id, shingle) pairs only — never document text
    assert(!"Exchange hashpartitioning\\(.*text".r.findFirstIn(p).isDefined,
      s"document text reached a shuffle:\n$p")
  }

  test("d17: repetition scoring is a pure map stage — zero shuffles " +
    "before the output sort") {
    val p = plan(run("d17_repetition_quality"))
    // only the final ORDER BY's range exchange may appear
    assert(!p.contains("Exchange hashpartitioning"),
      s"quality scoring shuffled:\n$p")
  }

  test("d20/d21: every shuffle keys on hashes or ids — document text " +
    "never enters an exchange") {
    Seq("d20_dup_shingles", "d21_incremental_dedup").foreach { q =>
      val df = run(q)
      df.collect()
      val p = plan(df)
      // at 100 TB the text column dominates row width; these operators
      // must reduce to (id, 8-byte shingle hash) before any shuffle
      assert(!"Exchange hashpartitioning\\([^)]*text".r.findFirstIn(p)
        .isDefined, s"$q shuffled document text:\n$p")
    }
  }

  test("d23: PII scrub is a pure map stage — zero shuffles before the " +
    "output sort") {
    val p = plan(run("d23_pii_redact"))
    // anonymizing 100 TB must cost exactly one scan+project pass; only
    // the final ORDER BY's range exchange may appear
    assert(!p.contains("Exchange hashpartitioning"),
      s"PII scrub shuffled:\n$p")
  }

  test("d24: banned-line set broadcast — exploded line text never " +
    "enters a shuffle join") {
    val df = run("d24_line_dedup")
    df.collect()
    val p = plan(df)
    // the line document-frequency aggregate shuffles (8-byte hash, id)
    // pairs; the boilerplate set is tiny relative to the corpus, so the
    // anti-join against it must be broadcast, not sort-merge
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"banned-line set not broadcast:\n$p")
    assert(!"SortMergeJoin LeftAnti".r.findFirstIn(p).isDefined,
      s"anti-join shuffled the exploded lines:\n$p")
  }

  test("q46/q47: time-series ops shuffle on the entity key only — " +
    "raw events never explode before aggregation") {
    Seq("q46_gapfill_ffill", "q47_sessionize",
        "q48_gapfill_interp").foreach { q =>
      val df = run(q)
      df.collect()
      val p = plan(df)
      // every hash exchange keys on user_id (+hour for the pre-agg):
      // per-entity window work, never a cross-entity structure
      val badKey = "Exchange hashpartitioning\\((?![^)]*user_id)"
        .r.findFirstIn(p)
      assert(badKey.isEmpty, s"$q shuffled on a non-entity key:\n$p")
    }
  }

  test("e14: hamming shortlist uses WindowGroupLimit (partial top-k " +
    "per partition, not a full per-query sort of the corpus)") {
    val df = run("e14_hamming_rerank")
    df.collect()
    val p = plan(df)
    // InferWindowGroupLimit must rewrite `row_number <= shortlist` into
    // a pre-shuffle group limit: at 1M corpus vectors the shortlist
    // stage sees nq x 1M rows, and only a partial top-50 per partition
    // keeps the exchange input bounded by nq x 50 x partitions.
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$p")
  }

  test("d38: domain blocklist joins via broadcast — the corpus side " +
    "never shuffles for the flag") {
    val df = run("d38_url_filter")
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected SMJ in:\n$p")
  }

  test("q70: triangle attribution — no cartesian, corner counts as a " +
    "HASH aggregate, wedge joins broadcast at this SF") {
    // sf0.01, not the usual sf0.001: the sf0.001 minute-grain graph is
    // (near-)empty and AQE's empty-relation propagation collapses the
    // whole census to a LocalTableScan — nothing left to assert on
    val df = SparkEntry.queries("q70_local_clustering")(spark, sf("sf0.01"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // the wedge join must stay an equi-join (a<b<c closing on keys);
    // a cartesian anywhere here is quadratic in nodes, not edges
    assert(!p.contains("CartesianProduct"), s"cartesian in census:\n$p")
    // per-corner triangle counts are a hash aggregate over the explode
    // — a SortAggregate would re-introduce the per-node sort the family
    // exists to avoid
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"),
      s"corner counts fell back to sort aggregation:\n$p")
    assert(p.contains("Generate explode"), s"no corner explode:\n$p")
    // at sf0.001 the oriented edge list is tiny: AQE must pick
    // broadcast for the wedge/closing joins, proving join-side stats
    // reach the planner (at 100 TB the same joins degrade to SMJ, by
    // design — the assert pins that broadcast IS selected when legal)
    assert(p.contains("BroadcastHashJoin"), s"no broadcast wedge join:\n$p")
  }

  test("q72: weighted contributions combine map-side before the " +
    "dst-keyed shuffle; recurrence is UDF-free") {
    val df = run("q72_weighted_pagerank")
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // (pr·7·w) div (8·wt) sums must show a partial_sum below the
    // exchange — without map-side combine every edge row crosses the
    // wire per iteration
    assert(p.contains("partial_sum"), s"no map-side combine:\n$p")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEval"),
      s"UDF leaked into the recurrence:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in power step:\n$p")
  }

  test("q73: weighted modularity — weight sums combine map-side, the " +
    "only nested-loop is the broadcast single-row total, UDF-free") {
    val df = SparkEntry.queries("q73_weighted_modularity")(spark, sf("sf0.01"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // e_c/d_c/W are all sum(w) hash aggregates — partial_sum below the
    // exchange or every edge row crosses the wire un-combined
    assert(p.contains("partial_sum"), s"no map-side weight combine:\n$p")
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"),
      s"weight sums fell back to sort aggregation:\n$p")
    // the q55-pattern single-row total joins back via broadcast; any
    // OTHER nested loop would be a quadratic accident
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1 && !p.contains("CartesianProduct"),
      s"unexpected non-broadcast product in modularity:\n$p")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEval"),
      s"UDF leaked into modularity:\n$p")
  }

  test("q74: weighted LPA — votes combine map-side, argmax is a hash " +
    "aggregate (no per-node sort/window), UDF-free") {
    val df = SparkEntry.queries("q74_weighted_lpa")(spark, sf("sf0.01"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(p.contains("partial_sum"), s"no map-side vote combine:\n$p")
    // the per-node argmax is min(struct(-votes, label)) — an AGGREGATE
    // with a map-side partial_min, never a Window (a per-node
    // row_number would sort every vote row globally per partition key).
    // Struct-typed min has no hash-aggregate buffer, so Spark plans it
    // as SortAggregate — that fallback is expected; the property pinned
    // here is aggregate-with-partial, not the aggregate's physical kind
    assert(!p.contains("Window"),
      s"argmax fell back to a window sort:\n$p")
    assert(p.contains("partial_min(struct"),
      s"no map-side argmax combine:\n$p")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEval"),
      s"UDF leaked into LPA:\n$p")
  }

  test("winnowIndexRetract over a persisted sketch: pure anti-join + " +
    "recount — archive text machinery never re-enters the plan") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = tmpDir("graft_wret")
    try {
      val docs = Tables.load(spark, sf("sf0.001"), "documents")
      graft.pipeline.TextAnalysis
        .winnowSketch(docs, "text", "doc_id", k = 5, w = 4)
        .write.parquet(s"$dir/sketch")
      val sketch = spark.read.parquet(s"$dir/sketch")
      val df = graft.pipeline.TextAnalysis.winnowIndexRetract(sketch,
        Seq(3L, 7L).toDF("doc_id"), maxDf = 100)
      df.collect()
      val p = plan(df).split("== Initial Plan ==")(0)
      // retraction is the point of the persisted sketch: the plan must
      // be scan + anti-join + df recount + semi-join — any Generate
      // (shingle/window explode) or regexp means the archive text got
      // re-winnowed
      assert(!p.contains("Generate") && !p.toLowerCase.contains("regexp"),
        s"archive text machinery re-entered the retract plan:\n$p")
      assert(p.contains("LeftAnti") && p.contains("LeftSemi"),
        s"expected anti-join + semi-join shape:\n$p")
      // both scans read the persisted sketch, nothing reads documents
      assert(!p.contains("documents.parquet"),
        s"retract plan scans the document table:\n$p")
    } finally rmTree(dir)
  }

  test("m9/CqlBind: the wire encode is pure codegen projection — " +
    "exactly ONE exchange (the partition-key routing), zero UDFs") {
    import org.apache.spark.sql.functions.col
    val sec = MeterGen.secondTable(spark, GenConfig(numMeters = 2, ticks = 60))
    val df = new graft.sources.CassandraSinkShape("disagg")
      .bindRows(sec, "meter_samples_second", Seq("said"), Seq("datetime"))
      .select(col("said"), col("stmt"), col("params"))
    df.collect()
    // count only the executed (final) plan — the AQE string repeats the
    // pre-adaptive plan under "== Initial Plan ==" and would double-count
    val p = plan(df).split("== Initial Plan ==")(0)
    // the routing repartition is the bind's only shuffle; every encoder
    // (hex/lpad/unhex + the IeeeBits expressions) composes inside the
    // projection — a UDF would surface as BatchEvalPython/ScalaUDF
    assert("Exchange".r.findAllIn(p).size === 1,
      s"bind should shuffle exactly once (routing):\n$p")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEval"),
      s"UDF leaked into the bind projection:\n$p")
    // toString marks whole-stage-codegen stages as `*(n)`
    assert(p.contains("*(2) Project") || p.contains("*(1) Project"),
      s"bind projection fell out of whole-stage codegen:\n$p")
  }
}
