package graft.perfbench

import org.apache.spark.sql.{Row, SparkSession}

/** A measured value with its unit. */
final case class Metric(value: Double, unit: String)

/** What one workload's measurement produced: operations attempted and
  * failed (an operation fails when it raises or returns a wrong
  * answer), each operation's kind and latency, and the timed seconds
  * of each full pass over the workload's operation list. */
final case class Measured(
    attempted: Long, failed: Long, ops: Seq[(String, Double)],
    passTimes: Seq[Double]) {
  def passS: Double = Main.median(passTimes)

  /** The end-to-end metrics every workload reports. Latency
    * percentiles are taken over the per-kind medians (a pack query, a
    * platform stage), so a kind that repeats within the window counts
    * once. */
  def metrics: Map[String, Metric] = {
    val perKind = ops.groupBy(_._1).values.map(v => Main.median(v.map(_._2))).toSeq
    Map(
      "pass_s" -> Metric(passS, "s"),
      "op_p50_s" -> Metric(Main.quantile(perKind, 0.5), "s"),
      "op_p90_s" -> Metric(Main.quantile(perKind, 0.9), "s"),
      "ops_per_s" -> Metric((attempted - failed) / passTimes.sum, "1/s"))
  }
}

/** Options shared by every workload. */
final case class Opts(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, work: String, out: String)

/** One workload: set-up (run [[Main.SetupReps]] times, timed), an
  * untimed warm-up, and a closed-loop measurement of `seconds`. */
trait Workload {
  def setup(spark: SparkSession, o: Opts, rep: Int): Unit
  def warm(spark: SparkSession, o: Opts): Unit
  def measure(spark: SparkSession, o: Opts, seconds: Double): Measured
  /** Workload-specific metrics of the traced window. */
  def traceMetrics(): Map[String, Double] = Map.empty
}

/** Benchmark entry point: one JVM runs one workload and prints one JSON
  * line.
  *
  * Usage: graft.perfbench.Main --workload pack|platform
  *   --seed N --seconds S --trace 0|1 --data <sfDir> --work <dir>
  *   --out <dir>
  *        graft.perfbench.Main --oracle-sql <file.json>
  *
  * `--work` must be a fresh directory (warehouse, Spark scratch and
  * every table the run writes live there); `java.io.tmpdir` should point
  * inside it so the IndexRoot-derived indexes are rebuilt on every run.
  * `--out` receives the pack warm pass's results for the oracle check
  * and, when traced, the span log. */
object Main {
  val SetupReps = 3

  def time[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = (lo + 1).min(s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Order-sensitive digest of collected rows; values render by type so
    * binary and nested values compare by content. */
  def digest(rows: Array[Row]): String = {
    def render(v: Any): String = v match {
      case null => "null"
      case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }
          .sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case x => x.toString
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((render(r) + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Median wall time of an empty `cpus`-task job. */
  def jobFloor(spark: SparkSession, cpus: Int, n: Int = 15): Double =
    median((1 to n).map { _ =>
      time(spark.sparkContext.parallelize(1 to cpus, cpus).foreach(_ => ()))._1
    })

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def req(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Opts(req("--workload"), req("--seed").toLong, req("--seconds").toDouble,
      req("--trace") == "1", req("--data"), req("--work"), req("--out"))
  }

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.sql.GraftSqlExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--oracle-sql")) {
      // the DuckDB oracle text of every query, for golden.py
      java.nio.file.Files.writeString(java.nio.file.Paths.get(args(1)),
        Json.obj(graft.SparkEntry.oracleSql.toSeq.sorted.map {
          case (k, v) => k -> Json.str(v)
        }))
      return
    }
    val o = parse(args)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = session(cpus, o.work)
    Trace.install(spark.sparkContext)
    val w: Workload = o.workload match {
      case "pack" => new PackWorkload
      case "platform" => new PlatformWorkload
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // the traced run records the last set-up repetition only
    val setupTimes = (0 until SetupReps).map { rep =>
      Trace.enabled = o.trace && rep == SetupReps - 1
      val t = time(w.setup(spark, o, rep))._1
      System.err.println(f"[perfbench] setup $rep $t%.3f s")
      t
    }
    Trace.enabled = false
    val warmS = time(w.warm(spark, o))._1
    System.err.println(f"[perfbench] warm $warmS%.3f s")

    val (attempted, failed, metrics) =
      if (!o.trace) {
        val m = w.measure(spark, o, o.seconds)
        (m.attempted, m.failed,
          m.metrics + ("setup_s" -> Metric(median(setupTimes), "s")))
      } else {
        // untraced, traced, untraced thirds of the window over the same
        // inputs: the first third only warms up (on platform it is the
        // JVM's first batch), and the traced pass time minus the
        // following untraced one's is the tracing overhead
        val before = w.measure(spark, o, o.seconds / 3)
        Trace.enabled = true
        val traced = w.measure(spark, o, o.seconds / 3)
        Trace.enabled = false
        val workloadMetrics = w.traceMetrics()
        val after = w.measure(spark, o, o.seconds / 3)
        val floor = jobFloor(spark, cpus)
        val gc = java.lang.management.ManagementFactory
          .getGarbageCollectorMXBeans.toArray
          .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean])
          .map(_.getCollectionTime.max(0L)).sum / 1e3
        val measured = Trace.summary() ++ workloadMetrics
        val layer = (Trace.summaryNames ++ LayerExtras.map(_._1)).map { k =>
          k -> Metric(measured.getOrElse(k, 0.0), unitOf(k))
        }.toMap
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(o.out, s"spans-${o.workload}-${o.seed}.jsonl"),
          Json.obj(Seq("workload" -> Json.str(o.workload),
            "seed" -> o.seed.toString)) + "\n" + Trace.spansJsonl())
        val runs = Seq(before, traced, after)
        (runs.map(_.attempted).sum, runs.map(_.failed).sum,
          layer ++ Map(
            "spark.job_floor_s" -> Metric(floor, "s"),
            "jvm.gc_s" -> Metric(gc, "s"),
            "jvm.peak_rss_mb" -> Metric(peakRssMb(), "MB"),
            "traced_overhead_s" ->
              Metric(traced.passS - after.passS, "s")))
      }
    val json = Json.obj(Seq(
      "workload" -> Json.str(o.workload),
      "seed" -> o.seed.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, m) =>
        k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))
      })))
    println(json)
    spark.stop()
  }

  /** Layer-specific per-layer metrics (0 on a workload that does not
    * reach the layer), with their units. */
  val LayerExtras: Seq[(String, String)] = Seq(
    "queries.build_s" -> "s", "queries.plan_s" -> "s", "queries.exec_s" -> "s",
    "ingest.pages_written" -> "count", "ingest.pages_skipped" -> "count",
    "ingest.pages_failed" -> "count", "ingest.crawl_s" -> "s",
    "ingest.pages_per_s" -> "1/s",
    "lake.commits" -> "count", "lake.bytes_written" -> "bytes",
    "lake.files_written" -> "count", "lake.rows_read_per_hit" -> "ratio",
    "lake.commit_p50_s" -> "s", "lake.space_amp" -> "ratio",
    "operators.rows_read_per_hit" -> "ratio",
    "operators.index_build_s" -> "s", "streaming.batches" -> "count",
    "spark.job_floor_s" -> "s", "jvm.gc_s" -> "s", "jvm.peak_rss_mb" -> "MB")

  def unitOf(k: String): String =
    LayerExtras.toMap.getOrElse(k, k.split('.').last match {
      case s if s.endsWith("_s") => "s"
      case s if s.endsWith("_bytes") => "bytes"
      case _ => "count"
    })

  private def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") =>
          l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(0.0)
      finally src.close()
    } catch { case scala.util.control.NonFatal(_) => 0.0 }
}
