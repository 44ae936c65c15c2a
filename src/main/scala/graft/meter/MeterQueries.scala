package graft.meter

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef

/** Verifiable queries over the reference's meter data model (SURVEY §2a).
  * The generator is deterministic (sawtooth, core.clj:37-41), so the DuckDB
  * oracle recomputes the same pipeline from `generate_series` — including the
  * per-transmission energy reduction, evaluated from scratch rather than
  * hardcoding the golden 59 J/s.
  *
  * Oracle-side building block: per-transmission joules
  *   int(sum(float(i mod 120) for i < 15000) / 15000)
  * (core.clj:43-46). All partial sums are integers < 2^24, so float32 vs
  * float64 accumulation order cannot diverge.
  */
object MeterQueries {

  // FLOOR because the reference truncates toward zero (core.clj:46) and
  // Spark's cast-to-int truncates, while DuckDB's rounds half-to-even.
  private val JoulesSub =
    "(SELECT CAST(FLOOR(SUM(CAST(j % 120 AS FLOAT)) / 15000) AS INT) FROM generate_series(0, 14999) s(j))"

  private def base(cfg: GenConfig) =
    s"""FROM generate_series(0, ${cfg.numMeters - 1}) m(said)
       |CROSS JOIN generate_series(0, ${cfg.ticks - 1}) t(i)""".stripMargin

  private def ts(cfg: GenConfig) =
    s"(TIMESTAMP '2024-01-01 00:00:00' + t.i * INTERVAL 1 SECOND)"

  // -- m1: raw transmission scan (Q1 read pattern, setup_and_notes.txt:46) --
  private val m1Cfg = GenConfig(numMeters = 2, ticks = 10)
  private def m1(s: SparkSession, dir: String): DataFrame =
    MeterGen.transmissions(s, m1Cfg)
      .select(
        col("said"), col("datetime"),
        size(col("watts")).as("n_samples"),
        element_at(col("watts"), 1).as("w_first"),
        element_at(col("watts"), MeterGen.SampleRate).as("w_last"),
        MeterGen.joulesExpr(col("watts")).as("joules"))
      .orderBy("said", "datetime")

  private val m1Oracle =
    s"""SELECT CAST(m.said AS INT) AS said, ${ts(m1Cfg)} AS datetime,
       |  CAST(15000 AS INT) AS n_samples,
       |  CAST(0 AS FLOAT) AS w_first,
       |  CAST((15000 - 1) % 120 AS FLOAT) AS w_last,
       |  $JoulesSub AS joules
       |${base(m1Cfg)}
       |ORDER BY said, datetime""".stripMargin

  // -- m2: per-second energy (meter_samples_second, core.clj:111-120) --
  private val m2Cfg = GenConfig(numMeters = 2, ticks = 600)
  private def m2(s: SparkSession, dir: String): DataFrame =
    MeterGen.secondTable(s, m2Cfg).orderBy("said", "datetime")

  private val m2Oracle =
    s"""SELECT CAST(m.said AS INT) AS said, ${ts(m2Cfg)} AS datetime,
       |  $JoulesSub AS joules
       |${base(m2Cfg)}
       |ORDER BY said, datetime""".stripMargin

  // -- m3/m4/m5: counter rollups as re-aggregation (core.clj:121-153) --
  private val m3Cfg = GenConfig(numMeters = 2, ticks = 600) // 10 minutes
  private def m3(s: SparkSession, dir: String): DataFrame =
    Rollups.minute(MeterGen.secondTable(s, m3Cfg)).orderBy("said", "datetime")

  private val m3Oracle =
    s"""SELECT CAST(m.said AS INT) AS said,
       |  date_trunc('minute', ${ts(m3Cfg)}) AS datetime,
       |  CAST(SUM($JoulesSub) AS BIGINT) AS joules
       |${base(m3Cfg)}
       |GROUP BY 1, 2 ORDER BY said, datetime""".stripMargin

  private val m4Cfg = GenConfig(numMeters = 2, ticks = 7200) // 2 hours
  private def m4(s: SparkSession, dir: String): DataFrame = {
    val sec = MeterGen.secondTable(s, m4Cfg)
    Rollups.hour(Rollups.minute(sec)).orderBy("said", "datetime")
  }

  private val m4Oracle =
    s"""SELECT CAST(m.said AS INT) AS said,
       |  date_trunc('hour', ${ts(m4Cfg)}) AS datetime,
       |  CAST(SUM($JoulesSub) AS BIGINT) AS joules
       |${base(m4Cfg)}
       |GROUP BY 1, 2 ORDER BY said, datetime""".stripMargin

  // day rollup over a range spanning a day boundary: start 2023-12-31 23:00.
  private val m5Cfg = GenConfig(numMeters = 2, ticks = 7200,
    startEpochSec = 1704063600L) // 2023-12-31T23:00:00Z
  private def m5(s: SparkSession, dir: String): DataFrame = {
    val sec = MeterGen.secondTable(s, m5Cfg)
    Rollups.day(Rollups.hour(Rollups.minute(sec))).orderBy("said", "datetime")
  }

  private val m5Oracle =
    s"""SELECT CAST(m.said AS INT) AS said,
       |  CAST(date_trunc('day', TIMESTAMP '2023-12-31 23:00:00' + t.i * INTERVAL 1 SECOND) AS TIMESTAMP) AS datetime,
       |  CAST(SUM($JoulesSub) AS BIGINT) AS joules
       |${base(m5Cfg)}
       |GROUP BY 1, 2 ORDER BY said, datetime""".stripMargin

  // -- m6: deterministic id seeding (core.clj:27-35). DuckDB 1.0 has no
  // sha1(), so the oracle can't recompute the hash — but m6's input is the
  // FIXED literal list host-0..host-9, so the oracle is a VALUES table of
  // the ten goldens computed independently of Spark (python hashlib,
  // signed big-endian interpretation, non-negative mod — the same values
  // pinned in SaidSeedSpec). The driver gate then certifies rows+schema+
  // hash for the whole expression path, not just rowcount. --
  private def m6(s: SparkSession, dir: String): DataFrame = {
    val hosts = s.range(0, 10)
      .select(concat(lit("host-"), col("id")).as("host"))
    hosts.select(col("host"), SaidSeed.said_seed(col("host")).as("said"))
      .orderBy("host")
  }

  private val m6Oracle =
    """SELECT host, CAST(said AS INT) AS said FROM (VALUES
      |  ('host-0', 94285), ('host-1', 95181), ('host-2', 34087),
      |  ('host-3', 50831), ('host-4', 61621), ('host-5', 26693),
      |  ('host-6', 6794), ('host-7', 4212), ('host-8', 92125),
      |  ('host-9', 20685)) AS t(host, said)
      |ORDER BY host""".stripMargin

  // -- m7: upsert/LWW dedup before rollup (setup_and_notes.txt:20, SURVEY
  // §7.3): duplicate per-second rows must collapse on (said, datetime). --
  private val m7Cfg = GenConfig(numMeters = 2, ticks = 120)
  private def m7(s: SparkSession, dir: String): DataFrame = {
    val sec = MeterGen.secondTable(s, m7Cfg)
    Rollups.minute(Rollups.dedupe(sec.union(sec))).orderBy("said", "datetime")
  }

  private val m7Oracle =
    s"""SELECT CAST(m.said AS INT) AS said,
       |  date_trunc('minute', ${ts(m7Cfg)}) AS datetime,
       |  CAST(SUM($JoulesSub) AS BIGINT) AS joules
       |${base(m7Cfg)}
       |GROUP BY 1, 2 ORDER BY said, datetime""".stripMargin

  // -- m8: Catalyst rollup routing (graft.plans.RouteToRollup). A month-grain
  // report written against the raw SECOND table; the rule re-routes it to the
  // registered day rollup (month boundaries are day-aligned), so the driver's
  // oracle compare certifies the rewritten plan's results. Range spans a
  // month boundary (2024-01-31 23:00 → 2024-02-01 01:00). --
  private val m8Cfg = GenConfig(numMeters = 2, ticks = 7200,
    startEpochSec = 1706742000L) // 2024-01-31T23:00:00Z
  private def m8(s: SparkSession, dir: String): DataFrame = {
    val sec = MeterGen.secondTable(s, m8Cfg)
    graft.plans.RollupRouting.install(s, Rollups.all(sec))
    try
      sec.groupBy(col("said"),
          date_trunc("month", col("datetime")).as("datetime"))
        .agg(sum(col("joules")).as("joules"))
        .orderBy("said", "datetime")
    finally graft.plans.RollupRouting.uninstall(s)
  }

  private val m8Oracle =
    s"""SELECT CAST(m.said AS INT) AS said,
       |  CAST(date_trunc('month', TIMESTAMP '2024-01-31 23:00:00' + t.i * INTERVAL 1 SECOND) AS TIMESTAMP) AS datetime,
       |  CAST(SUM($JoulesSub) AS BIGINT) AS joules
       |${base(m8Cfg)}
       |GROUP BY 1, 2 ORDER BY said, datetime""".stripMargin

  // -- m9: the reference's WRITE PATH serialized to the wire — m2's
  // per-second rows bound through the Cassandra sink seam's CQL
  // native-protocol encoders (sources/CqlBind: prepared INSERT text +
  // length-prefixed big-endian value bytes, core.clj:100-153's
  // prepared-statement shape). The oracle rebuilds the exact hex from
  // the replayed generation, so the gate certifies the row-level wire
  // encoding byte for byte — the seam no longer stops at config
  // validation. --
  private def m9(s: SparkSession, dir: String): DataFrame = {
    val sink = new graft.sources.CassandraSinkShape("disagg")
    sink.bindRows(MeterGen.secondTable(s, m2Cfg), "meter_samples_second",
        Seq("said"), Seq("datetime"))
      .select(col("said"), col("datetime"), col("stmt"),
        array_join(transform(col("params"), p => lower(hex(p))), "-")
          .as("params_hex"))
      .orderBy("said", "datetime")
  }

  private val m9Oracle =
    s"""SELECT CAST(m.said AS INT) AS said, ${ts(m2Cfg)} AS datetime,
       |  'INSERT INTO disagg.meter_samples_second (said, datetime, joules) VALUES (?, ?, ?)' AS stmt,
       |  lower(concat(
       |    '00000004', lpad(to_hex(m.said), 8, '0'),
       |    '-', '00000008', lpad(to_hex(epoch_ms(${ts(m2Cfg)})), 16, '0'),
       |    '-', '00000004', lpad(to_hex($JoulesSub), 8, '0'))) AS params_hex
       |${base(m2Cfg)}
       |ORDER BY said, datetime""".stripMargin

  def all: Seq[QueryDef] = Seq(
    QueryDef("m9_cql_bind", m9, Some(m9Oracle)),
    QueryDef("m1_gen_raw", m1, Some(m1Oracle)),
    QueryDef("m2_gen_second", m2, Some(m2Oracle)),
    QueryDef("m3_rollup_minute", m3, Some(m3Oracle)),
    QueryDef("m4_rollup_hour", m4, Some(m4Oracle)),
    QueryDef("m5_rollup_day", m5, Some(m5Oracle)),
    QueryDef("m6_said_seed", m6, Some(m6Oracle)),
    QueryDef("m7_dedup_rollup", m7, Some(m7Oracle)),
    QueryDef("m8_routed_report", m8, Some(m8Oracle)))
}
