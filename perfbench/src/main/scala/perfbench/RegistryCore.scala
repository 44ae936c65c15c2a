package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.SparkSession

/** Two registry rows of `graft.SparkEntry.queries`, each fully
  * materialized into the `noop` format, over the fixture tables shipped
  * in `perfbench/fixture`. Each pass runs every row once in a seeded
  * order. The warm-up pass's outputs feed the DuckDB oracle compare,
  * which `run.py` performs. */
final class RegistryCore(spark: SparkSession, dir: Path, root: Path, seed: Long) extends Workload {
  // Similarity (pipeline) and Relational (queries). Rows that run tens of
  // micro-batches or fixpoint rounds (s31, d63, q63) cost more per run than
  // the benchmark's time budget allows, and d24's latency spread between
  // runs was wider than the benchmark's bounds.
  val kinds = Seq("q1_agg", "e5_ivf_ann")
  def unit = "rows"

  private val fixture = dir.resolve("fixture")
  private val rng = new scala.util.Random(seed)
  private def row(name: String) = graft.SparkEntry.queries(name)(spark, fixture.toString)

  /** Stage the fixture tables into the run directory. */
  def stage(rep: Int): Unit = {
    Files.createDirectories(fixture)
    val src = root.resolve("perfbench").resolve("fixture")
    graft.Tables.names.foreach(t => Files.copy(src.resolve(s"$t.parquet"),
      fixture.resolve(s"$t.parquet"), StandardCopyOption.REPLACE_EXISTING))
  }

  private var order: Seq[String] = Nil
  def op(i: Int): Op = {
    if (i % kinds.size == 0) order = rng.shuffle(kinds)
    val name = order(i % kinds.size)
    Op(name, 1, () => Trace.span(s"registry.$name") {
      row(name).write.format("noop").mode("overwrite").save()
    })
  }

  private val out = dir.resolve("oracle")

  /** The warm-up pass writes each row's result as parquet for the oracle
    * compare; timed passes materialize into `noop`. */
  override def warm(): Unit =
    kinds.foreach(n => row(n).write.mode("overwrite").parquet(out.resolve(n).toString))

  /** Writes the rows' oracle SQL next to their warm-up results. */
  def check(): Seq[(String, String)] = {
    val oracle = graft.SparkEntry.oracleSql.filter { case (n, _) => kinds.contains(n) }
    Files.writeString(out.resolve("oracle_sql.json"), Json.value(oracle) + "\n")
    Nil
  }

  override def layers(passes: Double): Seq[(String, Double)] =
    kinds.flatMap { n =>
      val spans = Trace.named(s"registry.$n")
      val counts = spans.map(Trace.subtree)
      val countMs = (1 to 2).map { _ =>
        val t = System.nanoTime(); row(n).count(); (System.nanoTime() - t) / 1e6
      }
      Seq(s"registry.$n.wall_s" -> Main.median(spans.map(_.wallMs / 1e3)),
        s"registry.$n.count_wall_s" -> Main.median(countMs) / 1e3,
        s"registry.$n.jobs" -> Main.median(counts.map(_.jobs.toDouble)),
        s"registry.$n.driver_gap_s" -> Main.median(spans.map(Trace.driverGapMs(_) / 1e3)),
        s"registry.$n.shuffle_mb" -> Main.median(counts.map(_.shuffleWriteBytes / 1e6)))
    }
}
