package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators.{AnnIndex, DedupIndex, InvertedIndex, PqIndex}
import graft.perfbench.Main.time

/** `pack`: one client runs the query pack in a seed-permuted order,
  * pass after pass, each result fully collected to the driver.
  *
  * Set-up rebuilds the four persisted indexes from scratch. The warm
  * pass writes every result to `<out>/pack/<name>` (checked against the
  * DuckDB golden digests after the JVM exits) and records a digest of
  * that result; every timed result must match it. Intra-query caches
  * are drained between queries, as `graft.Bench` does. */
final class PackWorkload extends Workload {
  private val expected = scala.collection.mutable.Map.empty[String, String]
  private var probeHits = 0L

  private val queries = PackWorkload.Queries.map(n =>
    SparkEntry.allQueries.find(_.name == n).get)

  def setup(spark: SparkSession, o: Opts, rep: Int): Unit =
    PackWorkload.buildIndexes(spark, o.data)

  def warm(spark: SparkSession, o: Opts): Unit =
    queries.foreach { q =>
      val dir = s"${o.out}/pack/${q.name}"
      q.run(spark, o.data).coalesce(1).write.mode("overwrite").parquet(dir)
      spark.catalog.clearCache()
      expected(q.name) = Main.digest(spark.read.parquet(dir).collect())
    }

  def measure(spark: SparkSession, o: Opts, seconds: Double): Measured = {
    probeHits = 0L
    val ops = Vector.newBuilder[(String, Double)]
    val passes = Vector.newBuilder[Double]
    var attempted = 0L
    var failed = 0L
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 0
    while (pass == 0 || System.nanoTime() < deadline) {
      var passT = 0.0
      new scala.util.Random(o.seed * 1000003L + pass).shuffle(queries).foreach { q =>
        attempted += 1
        val (t, ok) = time(Trace.op(runOne(spark, o, q)))
        if (!ok) failed += 1
        System.err.println(f"[perfbench] pass $pass ${q.name} $t%.3f s")
        ops += q.name -> t
        passT += t
        spark.catalog.clearCache()
      }
      passes += passT
      pass += 1
    }
    Measured(attempted, failed, ops.result(), passes.result())
  }

  override def traceMetrics(): Map[String, Double] = Map(
    "operators.rows_read_per_hit" -> Trace.rowsReadPerHit("queries",
      PackWorkload.Probes.toSet, probeHits.toDouble))

  /** Build, plan and materialize one query; true when its result matches
    * the warm pass's. */
  private def runOne(spark: SparkSession, o: Opts, q: graft.queries.Q): Boolean =
    try Trace.span("queries", q.name) {
      val (b, df) = time(q.run(spark, o.data))
      val (p, _) = time(df.queryExecution.executedPlan)
      val (e, rows) = time(df.collect())
      Trace.add("queries.build_s", b)
      Trace.add("queries.plan_s", p)
      Trace.add("queries.exec_s", e)
      if (PackWorkload.Probes.contains(q.name)) probeHits += rows.length
      Main.digest(rows) == expected(q.name)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] ${q.name} failed: $e")
        false
    }
}

object PackWorkload {
  /** The pack's queries served from a persisted index (one per index
    * kind); their rows examined per row returned is
    * `operators.rows_read_per_hit`. */
  val Probes: Seq[String] =
    Seq("d15_lsh_probe", "s05_ann_index", "t32_bm25_probe", "s09_pq_ann")

  /** The timed pack: five queries named by the design for their
    * materialized cost or from the relational core, plus [[Probes]]
    * (see README.md). Small enough for two timed passes per run. */
  val Queries: Seq[String] = Seq(
    "q01_pricing_summary", "q05_nation_revenue", "q25_distinct_median",
    "d14_simhash_degree", "t31_bm25") ++ Probes

  /** Delete and rebuild the four persisted indexes of `data`, timing
    * each build into `operators.index_build_s`. */
  def buildIndexes(spark: SparkSession, data: String): Unit = {
    val builds: Seq[(String, String, String => Unit)] = Seq(
      ("dedup", DedupIndex.defaultRoot(data),
        DedupIndex.buildIfMissing(spark, data, _)),
      ("ann", AnnIndex.defaultRoot(data), AnnIndex.buildIfMissing(spark, data, _)),
      ("inverted", InvertedIndex.defaultRoot(data),
        InvertedIndex.buildIfMissing(spark, data, _)),
      ("pq", PqIndex.defaultRoot(data), PqIndex.buildIfMissing(spark, data, _)))
    builds.foreach { case (name, root, build) =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      val (t, _) = time(Trace.span("operators", s"index_build.$name")(build(root)))
      Trace.add("operators.index_build_s", t)
    }
  }
}
