package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.operators.Salting
import graft.sources.{Bucketing, Formats}

/** Gate certification for the physical-infrastructure operators — bucketed
  * layouts, skew salting, text-format readers. Unlike the relational
  * queries, the OUTPUT of each of these is deliberately a plain query any
  * engine can run: the operator under test is the storage/shuffle machinery
  * underneath, and the oracle proves that machinery is result-invariant.
  */
object InfraQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Catalog-safe unique suffix per sf directory, so sf0.01 and sf0.1 runs
    * in one warehouse never collide. */
  private def tag(dir: String): String =
    (dir.hashCode & 0x7fffffff).toHexString

  /** This JVM's own pid-keyed layout dirs, deleted at exit (shared
    * [[graft.TmpHygiene]] registry): sweepTmp only reclaims DEAD
    * processes' dirs (after a grace window), so without this every
    * session leaves its final q44/q45/q49 copies behind until some
    * later session's sweep (VERDICT r14 item 2). The dirs are
    * deliberately reused across bench reps, so each registers once. */
  private def deleteAtExit(dir: String): String =
    graft.TmpHygiene.deleteAtExit(dir)

  /** GC tmp round-trip dirs (`<prefix>_<tag>_p<pid>`) left by DEAD
    * processes — q44/q45 write one per process, so without a sweep the
    * tmpdir accretes a table copy per run. Same deletion criteria as
    * `Bucketing.sweepDeadBucketed`: embedded pid not alive (local PID
    * namespace only) AND dir older than the grace window. */
  private def sweepTmp(s: SparkSession, prefix: String,
      graceMs: Long = 10L * 60 * 1000): Unit = {
    // sweep BOTH bases: new dirs land under TmpHygiene.scratchBase
    // (round 19), but dead sessions from before the move may still
    // hold table copies under java.io.tmpdir — the exact accretion
    // this sweep exists for must not survive the relocation.
    val bases = Seq(graft.TmpHygiene.scratchBase,
      System.getProperty("java.io.tmpdir")).distinct
    val pat = ("^" + prefix + "_.*_p(\\d+)$").r
    val self = ProcessHandle.current().pid()
    val cutoff = System.currentTimeMillis() - graceMs
    bases.foreach { base =>
      Option(new java.io.File(base).listFiles())
        .getOrElse(Array.empty[java.io.File]).foreach { f =>
          f.getName match {
            case pat(pid) if pid.toLong != self && f.lastModified < cutoff =>
              val h = ProcessHandle.of(pid.toLong)
              if (!(h.isPresent && h.get().isAlive)) {
                val p = new org.apache.hadoop.fs.Path(f.getAbsolutePath)
                p.getFileSystem(s.sparkContext.hadoopConfiguration)
                  .delete(p, true)
                ()
              }
            case _ => ()
          }
        }
    }
  }

  /** Input fingerprint for a table's source files (name/size/mtime): folded
    * into bucketed-table names so a regenerated sf dir keys a REBUILD
    * instead of silently joining a stale bucketed copy (ensureBucketed's
    * staleness contract is catalog-existence only). */
  private def fpr(dir: String, tables: String*): String = {
    val h = tables.flatMap { t =>
      val f = new java.io.File(s"$dir/$t.parquet")
      val files = if (f.isDirectory) f.listFiles().sortBy(_.getName).toSeq
                  else Seq(f)
      files.map(x => (x.getName, x.length, x.lastModified).hashCode())
    }.hashCode()
    (h & 0x7fffffff).toHexString
  }

  // ---- q42: bucketed+sorted co-located join — the Spark analog of the
  // reference keying every table by (said, datetime) so related rows
  // co-locate (setup_and_notes.txt:16-44). Both fact tables are written
  // bucketed by orderkey; the join then plans with NO Exchange on either
  // side (asserted in BucketingSpec). The oracle runs the identical join
  // on the un-bucketed parquet: identical output is the point — bucketing
  // is pure layout, invisible to results. Tables build at most once per
  // session (ensureBucketed), so bench rep 1 measures build+join and the
  // min-of-reps measures the co-located join alone; a fresh JVM over a
  // stale warehouse rebuilds hermetically instead of dying on
  // LOCATION_ALREADY_EXISTS (the round-6 gate gap). Table names embed the
  // pid (two live JVMs sharing the warehouse can never delete each
  // other's tables) and an input fingerprint (a regenerated sf dir keys a
  // rebuild instead of joining a stale copy); dead pids' leftovers are
  // swept on entry so the warehouse doesn't accrete. ----
  def q42(s: SparkSession, dir: String): DataFrame = {
    val key = s"${tag(dir)}_${fpr(dir, "orders", "lineitem")}" +
      s"_p${ProcessHandle.current().pid()}"
    val ot = s"graft_bk_orders_$key"
    val lt = s"graft_bk_lineitem_$key"
    Bucketing.sweepDeadBucketed(s)
    Bucketing.ensureBucketed(
      t(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
      ot, "o_orderkey", 8)
    Bucketing.ensureBucketed(
      t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice"),
      lt, "l_orderkey", 8)
    Bucketing.colocatedJoinOn(s, ot, lt, "o_orderkey", "l_orderkey")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        (sum(col("l_extendedprice").cast("decimal(18,2)")) * 100)
          .cast("long").as("revenue_cents"))
      .orderBy("o_orderpriority")
  }

  private val q42Oracle =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS revenue_cents
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---- q43: two-phase salted aggregation — result-invariant skew
  // mitigation. The salted path groups by (key, salt) then by key; sums run
  // on DECIMAL so re-association is exact and the output is bit-identical
  // to the plain GROUP BY the oracle runs (that identity IS the operator's
  // contract). l_returnflag has only 3 distinct values over ~600k rows at
  // sf0.1 — exactly the hot-key shape where one reducer would otherwise
  // hold a third of the table's aggregate state. ----
  def q43(s: SparkSession, dir: String): DataFrame =
    Salting.saltedSum(
      t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          col("l_quantity").cast("decimal(18,2)").as("qty")),
      keys = Seq("l_returnflag"), valueCol = "qty",
      salts = 16, resultCol = "qty_sum")
      .select(col("l_returnflag"),
        (col("qty_sum") * 100).cast("long").as("qty_cents"))
      .orderBy("l_returnflag")

  private val q43Oracle =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS qty_cents
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- q44: schema-explicit CSV + JSONL reader certification. The
  // customer table round-trips through BOTH text formats; the query
  // returns the INTERSECT of the two read-backs while the oracle reads the
  // original parquet — any parse drift in either reader (quoting, null
  // handling, double shortest-representation round-trip) drops rows and
  // breaks the hash. Schemas are stated, never inferred (Formats contract:
  // at 100 TB inference is a full extra pass and a sampled-type hazard). ----
  def q44(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    // pid in the path: two processes over the same sf dir (gate and bench
    // overlapping) must not overwrite each other's round-trip files
    // mid-read; within one process the path is stable so reps overwrite
    // their own copy.
    sweepTmp(s, "graft_q44")
    val tmp = deleteAtExit(
      s"${graft.TmpHygiene.scratchBase}/graft_q44_${tag(dir)}" +
        s"_p${ProcessHandle.current().pid()}")
    Formats.writeCsv(cust, s"$tmp/csv")
    Formats.writeJsonl(cust, s"$tmp/jsonl")
    Formats.readCsv(s, s"$tmp/csv", cust.schema)
      .intersect(Formats.readJsonl(s, s"$tmp/jsonl", cust.schema))
      .orderBy("c_custkey")
  }

  private val q44Oracle =
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ---- q45: ORC round-trip certification — the q44 contract for the
  // binary columnar format (upgrades ORC from spec-only FormatsSpec
  // coverage to a driver-gate row). The orders table round-trips
  // through schema-explicit ORC write/read; the oracle reads the
  // original parquet — any value drift in the ORC writer/reader
  // (double bit patterns, string encoding) breaks the hash. ----
  def q45(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
    sweepTmp(s, "graft_q45")
    val tmp = deleteAtExit(
      s"${graft.TmpHygiene.scratchBase}/graft_q45_${tag(dir)}" +
        s"_p${ProcessHandle.current().pid()}")
    Formats.writeOrc(orders, s"$tmp/orc")
    Formats.readOrc(s, s"$tmp/orc", orders.schema)
      .orderBy("o_orderkey")
  }

  private val q45Oracle =
    """SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---- q49: dynamic partition pruning certification. The events table
  // is rewritten PARTITIONED BY event_type; the dim side is the same
  // table's per-type counts filtered by a runtime-only predicate
  // (HAVING COUNT(*) > 2000 — deliberately NOT a predicate on the join
  // key itself, which Catalyst would propagate statically). Spark's DPP
  // then injects the dim's surviving keys as a runtime partition filter
  // into the fact scan (dynamicpruning# in PartitionFilters,
  // plan-asserted in LayoutSpec); at 100 TB this is what turns a
  // star-join over a date/tenant-partitioned fact into a scan of only
  // the qualifying partitions. Result is layout-invariant — the oracle
  // runs the identical join on the original parquet. ----
  def q49(s: SparkSession, dir: String): DataFrame = {
    writePartitionedEvents(s, dir)
    val fact = Formats.readParquet(s, q49Path(dir))
    val dim = t(s, dir, "events")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_type"))
      .filter(col("n_type") > 2000)
      .select("event_type")
    fact.join(broadcast(dim), Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        (sum(col("value").cast("decimal(18,2)")) * 100)
          .cast("long").as("value_cents"))
      .orderBy("event_type")
  }

  /** The q49 partitioned copy: (event_type-partitioned events projection)
    * under a pid-keyed tmp dir — exposed so LayoutSpec can assert the
    * DPP plan against the same layout the gate query reads. */
  def q49Path(dir: String): String =
    s"${graft.TmpHygiene.scratchBase}/graft_q49_${tag(dir)}" +
      s"_p${ProcessHandle.current().pid()}"

  def writePartitionedEvents(s: SparkSession, dir: String): Unit = {
    sweepTmp(s, "graft_q49")
    deleteAtExit(q49Path(dir))
    t(s, dir, "events")
      .select("event_id", "user_id", "event_type", "value")
      .write.mode("overwrite").partitionBy("event_type")
      .parquet(q49Path(dir))
  }

  private val q49Oracle =
    """WITH dim AS (
      |  SELECT event_type FROM events GROUP BY event_type
      |  HAVING COUNT(*) > 2000)
      |SELECT e.event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) * 100 AS BIGINT) AS value_cents
      |FROM events e JOIN dim USING (event_type)
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin

  def all: Seq[QueryDef] = Seq(
    QueryDef("q42_bucketed_join", q42, Some(q42Oracle)),
    QueryDef("q43_salted_sum", q43, Some(q43Oracle)),
    QueryDef("q44_text_roundtrip", q44, Some(q44Oracle)),
    QueryDef("q45_orc_roundtrip", q45, Some(q45Oracle)),
    QueryDef("q49_dpp_join", q49, Some(q49Oracle)))
}
