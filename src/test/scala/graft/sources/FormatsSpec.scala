package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.{Main, SparkSpec, Tables}
import graft.meter.{GenConfig, MeterGen, MeterStore}
import graft.plans.RollupRouting

/** CSV / JSONL round-trips against the parquet fixtures: same rows, schema
  * stated up front (never inferred), corrupt rows surfaced not dropped.
  * The job-free parquet reader reads the schema `spark.read.parquet`
  * infers, for foreign-written fixtures and partitioned meter stores
  * alike, without scheduling a job, and names the path it cannot read. */
class FormatsSpec extends SparkSpec {

  private lazy val nation = Tables.load(spark, sf(), "nation")

  test("csv round-trip preserves rows and schema") {
    val dir = tmpDir("graft_csv")
    Formats.writeCsv(nation, dir)
    val back = Formats.readCsv(spark, dir, nation.schema)
    assert(back.schema == nation.schema)
    assert(back.exceptAll(nation).count() == 0 &&
      nation.exceptAll(back).count() == 0)
  }

  test("jsonl round-trip preserves rows") {
    val dir = tmpDir("graft_jsonl")
    Formats.writeJsonl(nation, dir)
    val back = Formats.readJsonl(spark, dir, nation.schema)
    assert(back.exceptAll(nation).count() == 0 &&
      nation.exceptAll(back).count() == 0)
  }

  test("orc round-trip preserves rows and schema, filters push down") {
    val dir = tmpDir("graft_orc")
    Formats.writeOrc(nation, dir)
    val back = Formats.readOrc(spark, dir, nation.schema)
    assert(back.schema == nation.schema)
    assert(back.exceptAll(nation).count() == 0 &&
      nation.exceptAll(back).count() == 0)
    // the same pushdown contract the parquet scans get
    val p = back.filter(col("n_nationkey") === 3)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(n_nationkey), EqualTo(n_nationkey,3)]"),
      s"ORC scan did not push the filter:\n$p")
  }

  test("malformed csv rows land in _corrupt_record, valid rows survive") {
    val dir = tmpDir("graft_bad")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/part.csv"),
      "k,v\n1,a\nnot_an_int,b\n2,c\n")
    val schema = StructType(Seq(
      StructField("k", org.apache.spark.sql.types.IntegerType),
      StructField("v", StringType),
      StructField("_corrupt_record", StringType)))
    // Spark refuses to filter _corrupt_record straight off the raw file
    // scan (the column only exists during parse) — materialize first.
    val got = Formats.readCsv(spark, dir, schema).cache()
    got.count()
    assert(got.filter(col("_corrupt_record").isNotNull).count() == 1)
    assert(got.filter(col("k").isNotNull).count() == 2)
  }

  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  test("readParquet reads every fixture with spark.read.parquet's schema " +
      "(pyarrow footers carry no Spark row metadata)") {
    val prior = spark.conf.getOption(nanosAsLong)
    spark.conf.set(nanosAsLong, "true") // events.ts may be TIMESTAMP(NANOS)
    try Tables.names.foreach { n =>
      val path = s"${sf()}/$n.parquet"
      assert(Formats.readParquet(spark, path).schema ===
        spark.read.parquet(path).schema, n)
    } finally prior match {
      case Some(v) => spark.conf.set(nanosAsLong, v)
      case None => spark.conf.unset(nanosAsLong)
    }
  }

  test("a partitioned meter store reads back with spark.read.parquet's " +
      "columns, order and types at every table, and the golden chain holds") {
    val dir = tmpDir("graft_readstore")
    // two slices of 30 s: each table holds two batch= dirs, raw nests
    // dt=/said_bucket= leaves inside each
    val cfg = GenConfig(numMeters = 2, ticks = 30)
    Seq(cfg, cfg.copy(startEpochSec = cfg.startEpochSec + 30)).foreach { c =>
      MeterStore.writeSlice(MeterGen.transmissions(spark, c), dir,
        c.startEpochSec)
    }
    val store = MeterStore(dir)
    val reads = (MeterStore.RawTable -> store.raw(spark)) +:
      RollupRouting.storedGrains.map(g =>
        MeterStore.grainTable(g) -> store.table(spark, g))
    reads.foreach { case (table, df) =>
      assert(df.schema === spark.read.parquet(s"$dir/$table").schema, table)
    }
    assert(store.raw(spark).columns.toSeq.takeRight(3) ===
      Seq("batch", "dt", "said_bucket"))
    assert(Main.goldenChain(spark, dir, cfg.numMeters, 60),
      "60x59 J/meter must hold at every grain")
  }

  test("resolving a fixture or a meter store table schedules no job; an " +
      "hour report runs two") {
    val dir = tmpDir("graft_readjobs")
    MeterStore.writeSlice(MeterGen.transmissions(spark, GenConfig()), dir, 0L)
    val store = MeterStore(dir)
    val (_, resolveJobs) = jobsStarted {
      Tables.names.foreach(n => Tables.load(spark, sf(), n))
      RollupRouting.storedGrains.foreach(g => store.table(spark, g))
      store.raw(spark)
    }
    assert(resolveJobs.size === 0)
    val (_, reportJobs) = jobsStarted {
      store.energyReport(spark, "hour").write.format("noop")
        .mode("overwrite").save()
    }
    assert(reportJobs.size === 2)
  }

  test("readParquet names the path it cannot read: missing, empty, or " +
      "holding only _SUCCESS/.crc files") {
    val missing = s"${tmpDir("graft_readmissing")}/absent"
    val e1 = intercept[java.io.FileNotFoundException](
      Formats.readParquet(spark, missing))
    assert(e1.getMessage.contains(missing), e1.getMessage)
    val empty = tmpDir("graft_readempty")
    val e2 = intercept[IllegalArgumentException](
      Formats.readParquet(spark, empty))
    assert(e2.getMessage.contains(empty), e2.getMessage)
    val marks = tmpDir("graft_readmarks")
    Seq("_SUCCESS", ".part-00000.parquet.crc").foreach(f =>
      java.nio.file.Files.createFile(java.nio.file.Paths.get(marks, f)))
    val e3 = intercept[IllegalArgumentException](
      Formats.readParquet(spark, marks))
    assert(e3.getMessage.contains(marks), e3.getMessage)
  }
}
