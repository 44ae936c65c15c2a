package graft.streaming

import java.sql.Timestamp

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually.{eventually, timeout}
import org.scalatest.time.SpanSugar._

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.meter.{GenConfig, MeterGen, MeterStore, Rollups}

/** Streaming correctness: the streamed rollup pipeline must produce exactly
  * the batch rollup on the same input (SURVEY §5.2 point 5), and the
  * arbitrary-state gap detector must fire on the planted gaps. */
class StreamingSpec extends SparkSpec {

  /** Feed `batches` of `cfg`'s row indices, one micro-batch each, through
    * toSecond → writeRollups into `out`, and return its store. */
  private def streamRollups(cfg: GenConfig, out: String,
      batches: Seq[Long]*): MeterStore = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val q = MeterStream.writeRollups(MeterStream.toSecond(
      MeterGen.fromRowIndex(input.toDF(), "value", cfg)), out, s"$out/_cp")
      .start()
    try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    MeterStore(out)
  }

  test("stream minute rollup == batch minute rollup on same ticks") {
    val cfg = GenConfig(numMeters = 2, ticks = 300)
    // the cut falls inside minute 2, so two batches' partials of that
    // minute must sum on read
    val store = streamRollups(cfg, tmpDir("graft_minute"),
      0L until 250L, 250L until cfg.ticks * cfg.numMeters)
    val streamed = store.energyReport(spark, "minute")
    val batch = Rollups.minute(MeterGen.secondTable(spark, cfg))
    assert(streamed.count() === 10) // 5 full minutes × 2 meters
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("a backfill and a stream share one store") {
    val cfg = GenConfig(numMeters = 2, ticks = 120)
    val out = tmpDir("graft_backfill_stream")
    // seconds [0, 60) by the batch program, [60, 120) by two micro-batches
    graft.Main.writeBatch(spark, cfg.copy(ticks = 60), out)
    val store = streamRollups(cfg, out, 120L until 180L, 180L until 240L)
    for ((g, rows) <- Seq(("second", 240), ("minute", 4), ("hour", 2),
        ("day", 2))) {
      val report = store.energyReport(spark, g)
      assert(report.count() === rows, g)
      val perMeter = report.groupBy("said").agg(sum("joules")).collect()
        .map(_.getLong(1)).toSeq
      assert(perMeter === Seq(120L * 59, 120L * 59), g)
    }
  }

  test("flatMapGroupsWithState gap detection fires on planted gaps") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Ping]
    def ping(u: Long, sec: Long) =
      EventStreams.Ping(u, new Timestamp(1704067200000L + sec * 1000))
    input.addData(ping(1, 0), ping(1, 10), ping(1, 400), // gap 390 s
      ping(2, 0), ping(2, 5)) // no gap
    val gaps = EventStreams.detectGaps(input.toDS(), gapMs = 300000)
    val q = gaps.writeStream.format("memory").queryName("gaps")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // state persists across batches: next ping after silence also fires
      input.addData(ping(2, 1000)) // 995 s after last
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("gaps").as[EventStreams.Gap].collect()
      .sortBy(g => (g.user_id, g.last_seen.getTime))
    assert(got.length === 2)
    assert(got(0).user_id === 1 && got(0).silent_ms === 390000)
    assert(got(1).user_id === 2 && got(1).silent_ms === 995000)
  }

  test("s6 lag-shape gap query ≡ stateful detectGaps on the events fixture") {
    import spark.implicits._
    // The s6 gate query computes gaps declaratively (lag over event time);
    // detectGaps computes the same thing with per-key state. Run both over
    // the real events fixture and demand identical rows. The stateful
    // operator works at Timestamp.getTime (ms) precision, so the batch
    // side here uses unix_millis — the registered s6 query is the same
    // shape at full µs precision, hash-checked by the driver gate.
    val gapMs = 30L * 60 * 1000
    val ev = graft.Tables.load(spark, sf(), "events")
    val pings = ev.select(col("user_id"), col("ts")).as[EventStreams.Ping]
    // The stateful operator's contract is millisecond event time
    // (Timestamp.getTime): within-one-ms ordering is unspecified, and at
    // ms precision the emitted gaps are invariant to it. So the batch side
    // pins a total order with the event_id tiebreak (same as registered
    // s6) and BOTH sides compare last_seen at unix_millis — comparing the
    // raw µs timestamps would make the test flaky on same-ms events.
    val stateful = EventStreams.detectGaps(pings, gapMs).toDF()
      .select(col("user_id"),
        unix_millis(col("last_seen")).as("last_seen_ms"), col("silent_ms"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val batch = ev
      .select(col("user_id"), col("event_id"), col("ts"),
        lag(col("ts"), 1).over(w).as("last_seen"))
      .withColumn("silent_ms",
        unix_millis(col("ts")) - unix_millis(col("last_seen")))
      .filter(col("silent_ms") > gapMs)
      .select(col("user_id"),
        unix_millis(col("last_seen")).as("last_seen_ms"), col("silent_ms"))
    assert(stateful.count() > 0, "fixture has no gaps — test is vacuous")
    assert(stateful.exceptAll(batch).count() === 0 &&
      batch.exceptAll(stateful).count() === 0,
      "stateful and declarative gap detection diverged")
  }

  test("foreachBatch rollup sink: idempotent multi-grain write, golden totals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = tmpDir("graft_fb")
    val cfg = GenConfig(numMeters = 2, ticks = 120)
    val input = MemoryStream[Long]
    val sec = MeterStream.toSecond(
      MeterGen.fromRowIndex(input.toDF(), "value", cfg))
    // jobs per micro-batch, keyed by the batch id the stream sets on
    // every job it runs (write legs inherit it); the listener bus is in
    // order, so seeing a marker job run after the query proves it has
    // seen every earlier job
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    val marker = new java.util.concurrent.atomic.AtomicBoolean(false)
    val markerDesc = "graft-streaming-spec-marker"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        p.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .foreach(b => jobs.merge(b, 1, Integer.sum))
        if (p.exists(_.getProperty("spark.job.description") == markerDesc))
          marker.set(true)
      }
    }
    val q = MeterStream.writeRollups(sec, out, s"$out/_cp").start()
    spark.sparkContext.addSparkListener(listener)
    try {
      // two micro-batches so grain buckets span batch boundaries — the
      // stored partials must re-compose exactly on read
      input.addData(0L until 150L: _*)
      q.processAllAvailable()
      input.addData(150L until (cfg.ticks * cfg.numMeters): _*)
      q.processAllAvailable()
    } finally q.stop()
    try {
      spark.sparkContext.setJobDescription(markerDesc)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      eventually(timeout(30.seconds))(assert(marker.get))
    } finally spark.sparkContext.removeSparkListener(listener)
    // one shuffle on said and one cached frame per batch: six jobs, where
    // re-shuffling the batch at every grain took twelve
    assert(jobs.asScala.toMap === Map("0" -> 6, "1" -> 6))
    // round trip through the read API: partials re-aggregate to goldens
    val store = MeterStore(out)
    val minute = store.energyReport(spark, "minute")
    assert(minute.count() === 4) // 2 meters × 2 minutes
    assert(minute.collect().forall(_.getAs[Long]("joules") === 3540L))
    val day = store.energyReport(spark, "day")
    assert(day.agg(sum("joules")).collect()(0).getLong(0) === 2L * 120 * 59)
    // raw per-second layout is batch-partitioned but complete
    assert(spark.read.parquet(s"$out/meter_samples_second").count() ===
      cfg.ticks * cfg.numMeters)
  }

  test("file stream source: parquet directory drives the same rollup") {
    val dir = tmpDir("graft_fs")
    val out = tmpDir("graft_fs_out")
    val cfg = GenConfig(numMeters = 2, ticks = 60)
    val batchSec = MeterGen.secondTable(spark, cfg)
    batchSec.write.mode("overwrite").parquet(dir)
    val q = MeterStream.writeRollups(
      spark.readStream.schema(batchSec.schema).parquet(dir), out, s"$out/_cp")
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = MeterStore(out).energyReport(spark, "minute")
    assert(got.count() === 2) // 1 minute × 2 meters
    assert(got.collect().forall(_.getAs[Long]("joules") === 3540L))
  }

  test("writeRollups replaces a torn batch dir on replay") {
    val cfg = GenConfig(numMeters = 2, ticks = 120)
    val out = tmpDir("graft_torn")
    // what a crashed, uncommitted attempt at micro-batch 1 leaves behind:
    // every grain's batch=1 dir holds wrong rows (a third meter, 1000 J/s)
    val torn = MeterGen.secondTable(spark, cfg.copy(numMeters = 3))
      .withColumn("joules", lit(1000))
    Rollups.all(torn).foreach { case (g, df) =>
      df.write.parquet(s"$out/meter_samples_$g/batch=1")
    }
    val store = streamRollups(cfg, out,
      0L until 150L, 150L until cfg.ticks * cfg.numMeters)
    // golden rows per grain: 2 meters × 120 s of 59 J
    for ((g, rows, joules) <- Seq(("second", 240, 59L), ("minute", 4, 3540L),
        ("hour", 2, 7080L), ("day", 2, 7080L))) {
      val got = store.energyReport(spark, g).collect()
      assert(got.length === rows, g)
      assert(got.forall(_.getAs[Long]("joules") === joules), g)
    }
  }

  test("stream-stream interval join == batch interval join on same events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1704067200000L // 2024-01-01T00:00:00Z
    def ts(min: Long) = new Timestamp(t0 + min * 60000)
    // clicks at 10/70/200 min; views at 0/5/65/199/201 min for user 1,
    // plus a decoy user-2 view that must never match user-1 clicks.
    val clickRows = Seq((1L, 100L, ts(10)), (1L, 101L, ts(70)),
      (1L, 102L, ts(200)), (2L, 103L, ts(10)))
    val viewRows = Seq((1L, 200L, ts(0)), (1L, 201L, ts(5)),
      (1L, 202L, ts(65)), (1L, 203L, ts(199)), (1L, 204L, ts(201)),
      (2L, 205L, ts(8)))
    def shape(df: org.apache.spark.sql.DataFrame, id: String, t: String) =
      df.toDF("u", "e", "t").select(col("u"), col("e").as(id),
        col("t").as(t))
    val lin = MemoryStream[(Long, Long, Timestamp)]
    val rin = MemoryStream[(Long, Long, Timestamp)]
    lin.addData(clickRows: _*)
    rin.addData(viewRows: _*)
    val joined = EventStreams.intervalJoin(
      shape(lin.toDF().withWatermark("_3", "10 minutes"), "click_id", "click_ts"),
      shape(rin.toDF().withWatermark("_3", "10 minutes"), "view_id", "view_ts")
        .withColumnRenamed("u", "vu"),
      col("u") === col("vu"), col("click_ts"), col("view_ts"), "1 hour")
      .select("u", "click_id", "view_id")
    val q = joined.writeStream.format("memory").queryName("ivj")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ivj").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = EventStreams.intervalJoin(
      shape(clickRows.toDF(), "click_id", "click_ts"),
      shape(viewRows.toDF(), "view_id", "view_ts").withColumnRenamed("u", "vu"),
      col("u") === col("vu"), col("click_ts"), col("view_ts"), "1 hour")
      .select("u", "click_id", "view_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
    // and the batch semantics are what we think: 10-min click sees both
    // early views, 70-min click sees 65-min view only, 200-min click sees
    // 199 (not 201 — future), user 2 isolated.
    assert(batch === Set((1L, 100L, 200L), (1L, 100L, 201L),
      (1L, 101L, 202L), (1L, 102L, 203L), (2L, 103L, 205L)))
  }

  test("stream-stream join pairs rows across micro-batch boundaries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1704067200000L
    def ts(min: Long) = new Timestamp(t0 + min * 60000)
    val vin = MemoryStream[(Long, Long, Timestamp)]
    val cin = MemoryStream[(Long, Long, Timestamp)]
    val vDf = vin.toDF().toDF("v_user", "view_id", "view_ts")
      .withWatermark("view_ts", "2 hours")
    val cDf = cin.toDF().toDF("user_id", "click_id", "click_ts")
      .withWatermark("click_ts", "2 hours")
    val joined = cDf.join(vDf,
      col("user_id") === col("v_user") &&
        col("view_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
        col("view_ts") <= col("click_ts"))
      .select("user_id", "click_id", "view_id")
    val q = joined.writeStream.format("memory").queryName("xbatch")
      .outputMode("append").start()
    try {
      // batch 1: the view only — buffered in join state, nothing emits
      vin.addData((1L, 200L, ts(0)))
      q.processAllAvailable()
      assert(spark.table("xbatch").count() === 0)
      // batch 2: the click, 30 min later — must pair with the BUFFERED
      // view from batch 1 (inside the 1 h band and the 2 h horizon)
      cin.addData((1L, 100L, ts(30)))
      q.processAllAvailable()
      val got = spark.table("xbatch").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === Set((1L, 100L, 200L)))
    } finally q.stop()
  }

  test("RocksDB state store: session state evicts under watermark advance (metrics-asserted)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    StateStores.rocksDb.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val in = MemoryStream[(Long, Timestamp)]
      val t0 = 1704067200000L // 2024-01-01T00:00:00Z
      def ts(sec: Long) = new Timestamp(t0 + sec * 1000)
      val sessions = EventStreams.sessions(
        in.toDF().toDF("user_id", "ts").withWatermark("ts", "10 seconds"),
        "30 seconds")
      val q = sessions.writeStream.format("memory").queryName("rocks_sessions")
        .outputMode("append").start()
      try {
        // 20 users, two pings each → 20 open sessions held in state
        in.addData((0L until 20L).flatMap(u => Seq((u, ts(0)), (u, ts(5)))): _*)
        q.processAllAvailable()
        // jump event time 10 minutes: watermark passes every session's
        // close, all 20 must emit and their state rows must be EVICTED
        in.addData((99L, ts(600)))
        q.processAllAvailable()
        in.addData((99L, ts(1200)))
        q.processAllAvailable()
        val progs = q.recentProgress.filter(_.stateOperators.nonEmpty)
        val totals = progs.map(_.stateOperators(0).numRowsTotal)
        assert(totals.max >= 20L, s"state never held the open sessions: ${totals.toSeq}")
        assert(totals.last <= 2L,
          s"state not evicted after watermark advance: ${totals.toSeq}")
        assert(progs.exists(_.stateOperators(0).numRowsRemoved > 0L),
          "no state removals reported")
        // the provider actually engaged: rocksdb custom metrics present
        import scala.jdk.CollectionConverters._
        assert(progs.last.stateOperators(0).customMetrics.keySet.asScala
          .exists(_.startsWith("rocksdb")), "RocksDB provider not engaged")
        // and the emitted sessions are the right ones: 20 closed sessions
        // of 2 events each for users 0..19, then user 99's first session
        val out = spark.table("rocks_sessions")
          .select("user_id", "n_events").collect()
          .map(r => r.getLong(0) -> r.getLong(1))
        assert(out.count(_._2 == 2L) >= 20)
      } finally q.stop()
    } finally StateStores.rocksDb.keys.foreach(spark.conf.unset)
  }

  test("writeRollups dedups a micro-batch that carries every second twice") {
    val cfg = GenConfig(numMeters = 1, ticks = 60)
    val ids = 0L until cfg.ticks
    val store = streamRollups(cfg, tmpDir("graft_dedup"), ids ++ ids)
    assert(store.table(spark, "second").count() === 60)
    val minute = store.energyReport(spark, "minute").collect()
    assert(minute.length === 1 && minute(0).getAs[Long]("joules") === 3540L)
  }

  test("streaming forward fill == batch gapFillHourly, state carried " +
    "across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.Tables.load(spark, sf(), "events")
    // finalized hourly observations — what an upstream watermarked hourly
    // aggregation emits in append mode, in event-time order
    val hourly = ev
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("v"))
      .select(col("user_id"), unix_millis(col("hour")).as("hour_ms"),
        col("v"))
      .as[EventStreams.HourObs].collect().sortBy(_.hour_ms)
    // split on a mid-corpus hour: per-user hour order is preserved across
    // the two batches, and fills spanning the cut exercise carried state
    val cut = hourly(hourly.length / 2).hour_ms
    val (b1, b2) = hourly.partition(_.hour_ms <= cut)
    assert(b1.nonEmpty && b2.nonEmpty)

    val input = MemoryStream[EventStreams.HourObs]
    val q = EventStreams.fillGapsHourly(input.toDS()).writeStream
      .format("memory").queryName("ffill_stream")
      .outputMode("append").start()
    try {
      input.addData(b1.toSeq: _*); q.processAllAvailable()
      input.addData(b2.toSeq: _*); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("ffill_stream")
      .select(col("user_id"), col("hour_ms"), col("v"),
        col("was_observed").cast("long").as("was_observed"))
    val batch = graft.queries.TimeSeries
      .gapFillHourly(ev, "user_id", "ts", count(lit(1)).cast("long"))
      .select(col("user_id"), unix_millis(col("hour")).as("hour_ms"),
        col("filled").as("v"), col("was_observed"))
    assert(streamed.count() > hourly.length,
      "no gap rows were filled — the fixture makes this test vacuous")
    assert(streamed.exceptAll(batch).count() === 0 &&
      batch.exceptAll(streamed).count() === 0,
      "streaming forward fill diverged from the batch operator")
  }

  test("s19: crash mid-batch + restart from checkpoint is exactly-once (batch-equal)") {
    // the gate row certifies this against DuckDB; this spec keeps the
    // same proof inside sbt test — the query fn itself injects the
    // torn-write crash, restarts from the checkpoint, and re-delivers
    // in-horizon rows that only survive dedup if state was recovered
    val dir = sf("sf0.001")
    val streamed = graft.SparkEntry.queries("s19_crash_recovery")(spark, dir)
    val batch = graft.Tables.load(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
          .as("cents"))
    assert(streamed.exceptAll(batch).count() === 0 &&
      batch.exceptAll(streamed).count() === 0,
      "crash-recovered stream diverged from the batch aggregate")
  }
}
