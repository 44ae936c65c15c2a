package graft.meter

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Golden-value tests pinning the reference's deterministic generator
  * semantics (SURVEY §5.3): the sawtooth gives every transmission
  * sum = 892,500 W → joules = int(59.5) = 59, hence 3,540 J/min,
  * 212,400 J/h, 5,097,600 J/day per meter. */
class MeterGoldenSpec extends SparkSpec {

  test("transmission arrays: 15000 samples, sawtooth 0..119, joules 59") {
    val cfg = GenConfig(numMeters = 2, ticks = 3)
    val row = MeterGen.transmissions(spark, cfg)
      .select(size(col("watts")).as("n"),
        element_at(col("watts"), 1).as("first"),
        element_at(col("watts"), 121).as("wrap"),
        MeterGen.joulesExpr(col("watts")).as("j"))
      .distinct().collect()
    assert(row.length === 1) // every transmission identical (core.clj:158)
    assert(row(0).getInt(0) === 15000)
    assert(row(0).getFloat(1) === 0.0f)
    assert(row(0).getFloat(2) === 0.0f) // index 121 = sample 120 → wraps to 0
    assert(row(0).getInt(3) === 59)
  }

  test("sample buffer: float(i mod 120) bit for bit over 15000 samples") {
    val got = spark.range(1).select(MeterGen.wattsExpr).head().getSeq[Float](0)
    val want = (0 until 15000).map(i => (i % 120).toFloat) // core.clj:12-14, 37-41
    assert(got.map(java.lang.Float.floatToRawIntBits) ===
      want.map(java.lang.Float.floatToRawIntBits))
  }

  test("rollup chain reproduces golden totals per meter") {
    val cfg = GenConfig(numMeters = 2, ticks = 86400) // one full day
    val sec = MeterGen.secondTable(spark, cfg)
    val day = Rollups.day(Rollups.hour(Rollups.minute(sec)))
    val rows = day.collect()
    assert(rows.length === 2)
    assert(rows.forall(_.getLong(2) === 5097600L))

    val hour = Rollups.hour(Rollups.minute(
      MeterGen.secondTable(spark, cfg.copy(ticks = 3600))))
    assert(hour.collect().forall(_.getLong(2) === 212400L))

    val minute = Rollups.minute(
      MeterGen.secondTable(spark, cfg.copy(ticks = 60)))
    assert(minute.collect().forall(_.getLong(2) === 3540L))
  }

  test("rollup invariant: total energy identical at every grain") {
    val cfg = GenConfig(numMeters = 3, ticks = 5000)
    val sec = MeterGen.secondTable(spark, cfg)
    val m = Rollups.minute(sec)
    val h = Rollups.hour(m)
    val d = Rollups.day(h)
    def total(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum(col("joules").cast("long"))).collect()(0).getLong(0)
    val t = total(sec)
    assert(t === 3L * 5000 * 59)
    assert(total(m) === t && total(h) === t && total(d) === t)
  }

  test("dedupe restores upsert semantics: duplicates collapse") {
    val cfg = GenConfig(numMeters = 2, ticks = 100)
    val sec = MeterGen.secondTable(spark, cfg)
    val doubled = sec.union(sec)
    assert(Rollups.dedupe(doubled).count() === 200)
    val m = Rollups.minute(Rollups.dedupe(doubled))
    assert(m.filter(col("joules") > 60L * 59).count() === 0)
  }

  test("writeAll: a failing grain propagates, the other grains are " +
      "written, the cache is released; a rerun overwrites to goldens") {
    val dir = tmpDir("graft_writeall")
    val cfg = GenConfig(numMeters = 2, ticks = 7200)
    val sec = MeterGen.secondTable(spark, cfg)
    val doubled = sec.union(sec) // dedupe must collapse the replay
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    def write(g: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$g")
    val e = intercept[IllegalStateException] {
      Rollups.writeAll(doubled) { (g, df) =>
        if (g == "hour") throw new IllegalStateException("hour sink down")
        write(g, df)
      }
    }
    assert(e.getMessage === "hour sink down")
    def written(g: String) = new java.io.File(s"$dir/$g/_SUCCESS").exists
    assert(Seq("second", "minute", "day").forall(written))
    assert(!written("hour"))
    assert(cache.isEmpty, "writeAll left its deduped frame cached")

    Rollups.writeAll(doubled)(write)
    assert(cache.isEmpty)
    val golden = Map("second" -> 59L, "minute" -> 3540L, "hour" -> 212400L,
      "day" -> 7200L * 59)
    golden.foreach { case (g, j) =>
      val t = spark.read.parquet(s"$dir/$g")
      assert(t.count() === 2L * 7200 * 59 / j, g)
      assert(t.filter(col("joules") =!= j).isEmpty, g)
    }
  }
}
