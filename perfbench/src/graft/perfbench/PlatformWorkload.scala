package graft.perfbench

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{Crawler, IngestConfig, IngestStats, MockFetcher, Planner, RawWriter}
import graft.lake.{ChangeFeed, LakeCatalog, MaterializedAgg, SnapshotTable}
import graft.lake.MaterializedAgg.MvSpec
import graft.perfbench.Main.time
import graft.queries.{QueryRunner, ReferenceQueries}
import graft.security.Rbac

/** `platform`: the reference dataflow as one batch, repeated in a fresh
  * root while the window lasts. Stages, in order:
  *  1. `Planner`/`RawWriter` ingest of 10 seeded dates x 4 endpoints x 10
  *     pages, then an idempotent re-ingest that must skip every page;
  *  2. `Crawler.crawl` (40 partitions); the serving stage (see
  *     [[serve]]); one `QueryRunner` sink per role (core:pii rows =
  *     1:4); `promoteCurated`;
  *  3. `Pack.writeManifest`, the LLM lane's loader hand-off, over the
  *     benchmark's corpus;
  *  4. the curated items land in a lake table through the atomic CDC
  *     stream, with a materialized aggregate over it;
  *  5. [[PlatformWorkload.Rounds]] maintenance rounds: upsert one seeded
  *     partition, refresh the aggregate (checked against a fresh
  *     GROUP BY), read the change feed, delete one seeded row, read one
  *     seeded row with `readPoint`, read one partition and the full
  *     table through `lake.` SQL;
  *  6. `SnapshotTable.optimize`.
  * Only the calls into the program are timed: every check, the stream's
  * intake write and the space-amplification rewrite run outside. A
  * batch's time is the sum of its timed calls, with the concurrent
  * serving stage counted by its wall time. */
final class PlatformWorkload extends Workload {
  import PlatformWorkload._

  private var batch = 0
  private val ops = Vector.newBuilder[(String, Double)]
  private var attempted = 0L
  private var failed = 0L
  /** Timed seconds of the current batch: its calls into the program,
    * never the benchmark's own checks and input writes. */
  private var batchS = 0.0
  private val commits = Vector.newBuilder[Double]
  private var ingestRate = Vector.empty[Double]
  private var spaceAmp = Vector.empty[Double]
  private var streamBatches = 0L
  private var pointHits = 0L

  /** Session warm-up over the benchmark's tables. The batch builds every
    * table it uses itself, so this is a fixed warm-up, not work the
    * batch depends on. */
  def setup(spark: SparkSession, o: Opts, rep: Int): Unit =
    graft.core.Tables.names.foreach(t =>
      graft.core.Tables(spark, o.data, t).count())

  def warm(spark: SparkSession, o: Opts): Unit = ()

  def measure(spark: SparkSession, o: Opts, seconds: Double): Measured = {
    ops.clear()
    attempted = 0L
    failed = 0L
    commits.clear()
    ingestRate = Vector.empty
    spaceAmp = Vector.empty
    streamBatches = 0L
    pointHits = 0L
    val passes = Vector.newBuilder[Double]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var first = true
    while (first || System.nanoTime() < deadline) {
      first = false
      val rng = new scala.util.Random(o.seed * 7919L + batch)
      val root = s"${o.work}/platform/b$batch"
      val name = s"b$batch"
      batch += 1
      batchS = 0.0
      runBatch(spark, o, root, name, rng)
      passes += batchS
    }
    Measured(attempted, failed, ops.result(), passes.result())
  }

  private def record(what: String, t: Double, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] platform $what wrong answer")
    }
    System.err.println(f"[perfbench] platform $what $t%.3f s")
    ops += what -> t
  }

  /** False when `body` throws. */
  private def guard(what: String)(body: => Boolean): Boolean =
    try body
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] platform $what failed: $e")
        false
    }

  /** One operation: times `call` alone, then checks its result outside
    * the timed region (a throw from either fails the operation). Adds
    * the call's time to the batch and returns it. */
  private def step[T](what: String)(call: => T)(check: T => Boolean): Double = {
    var t = 0.0
    val ok = guard(what) {
      val (dt, r) = time(Trace.op(call))
      t = dt
      check(r)
    }
    record(what, t, ok)
    batchS += t
    t
  }

  /** One platform batch in a fresh `root`. */
  private def runBatch(spark: SparkSession, o: Opts, root: String,
      name: String, rng: scala.util.Random): Unit = {
    val cfg = IngestConfig()
    val dates = rng.shuffle((1 to 28).map(d => f"2026-03-$d%02d"))
      .take(Dates).sorted
    val pages = cfg.endpoints.size * cfg.pagesPerEndpoint * dates.size
    val raw = s"$root/raw"
    def ingest(): IngestStats = Trace.span("ingest", "RawWriter.write") {
      RawWriter.write(spark,
        dates.map(Planner.plan(spark, cfg, _)).reduce(_ union _),
        MockFetcher(), raw, s"$root/quarantine")
    }
    def countPages(st: IngestStats): Unit = {
      Trace.add("ingest.pages_written", st.ingested.toDouble)
      Trace.add("ingest.pages_skipped", st.skipped.toDouble)
      Trace.add("ingest.pages_failed", st.failed.toDouble)
    }

    val ingestS = step("ingest")(ingest()) { st =>
      countPages(st)
      st == IngestStats(pages, 0, 0)
    }
    ingestRate :+= pages / ingestS
    step("reingest")(ingest()) { st =>
      countPages(st)
      st == IngestStats(0, pages, 0)
    }
    val table = s"raw_$name"
    step("crawl")(time(Trace.span("ingest", "crawl")(
        Crawler.crawl(spark, raw, table)))) { case (t, rep) =>
      Trace.add("ingest.crawl_s", t)
      rep.partitions == cfg.endpoints.size * dates.size
    }
    batchS += serve(spark, table, dates.size, rng)
    step("role_sinks") {
      Trace.span("security", "createRoleViews")(Rbac.createRoleViews(spark, table))
      Seq(Rbac.core, Rbac.pii).map { role =>
        Trace.span("queries", s"QueryRunner.${role.name}") {
          QueryRunner.run(spark, role, table, "total",
            ReferenceQueries.totalRecords(table), s"$root/results").collect()
        }
      }
    }(_.map(_(0).getLong(0)) == Seq(pages / cfg.endpoints.size, pages))
    val curatedRoot = s"$root/curated"
    step("promote")(Trace.span("ingest", "promoteCurated") {
      Crawler.promoteCurated(spark, table, curatedRoot).collect()
    })(_.length == pages * cfg.itemsPerPage)
    // the LLM lane's loader hand-off: a sequence-packing manifest over the
    // corpus, whose segments must tile every document exactly
    val docs = graft.core.Tables(spark, o.data, "documents").select(
      col("doc_id"), col("source"),
      expr("CAST(size(regexp_extract_all(text, '[a-z0-9]+', 0)) AS BIGINT)")
        .as("n_tok"))
    step("pack_manifest")(Trace.span("pipeline", "Pack.writeManifest") {
      graft.pipeline.Pack.writeManifest(docs, graft.queries.Corpus.PackCtx,
        binsPerShard = 8L, s"$root/pack_manifest")
    }) { _ =>
      spark.read.parquet(s"$root/pack_manifest")
        .agg(sum(col("tok_to") - col("tok_from"))).head().getLong(0) ==
        docs.agg(sum("n_tok")).head().getLong(0)
    }

    // the curated items land in the lake through the atomic CDC stream
    val lakeRoot = s"$root/lake/items"
    val mvRoot = s"$root/lake/items_by_source"
    val intake = s"$root/intake"
    val items = spark.read.parquet(curatedRoot)
    items.write.parquet(intake)
    step("cdc_bootstrap") {
      val q = Trace.span("streaming", "maintainUpsertsAtomic") {
        val q = graft.streaming.CdcStream.maintainUpsertsAtomic(
          spark.readStream.schema(items.schema).parquet(intake),
          lakeRoot, "item_id", PartitionBy)
        q.awaitTermination()
        q
      }
      Trace.span("lake", "MaterializedAgg.init")(
        MaterializedAgg.init(spark, lakeRoot, mvRoot, Spec, Buckets))
      q
    } { q =>
      streamBatches += q.recentProgress.length
      SnapshotTable.read(spark, lakeRoot).count() == pages * cfg.itemsPerPage
    }
    LakeCatalog.install(spark)
    LakeCatalog.register(spark, s"items_$name", lakeRoot)

    // the live item ids, to check every read of the table
    val live = scala.collection.mutable.Set.empty[String]
    for (e <- cfg.endpoints; d <- dates; p <- 1 to cfg.pagesPerEndpoint;
         i <- 0 until cfg.itemsPerPage) live += s"$e-$d-$p-$i"
    (1 to Rounds).foreach { _ =>
      val src = cfg.endpoints(rng.nextInt(cfg.endpoints.size))
      val date = dates(rng.nextInt(dates.size))
      val page = 1 + rng.nextInt(cfg.pagesPerEndpoint)
      // rewrite every item of one page, and add one new item
      val ids = (0 to cfg.itemsPerPage).map(i => s"$src-$date-$page-$i")
      val upd = spark.createDataFrame(ids.map(id =>
          (src, date, page.toLong, "2026-04-01T00:00:00.000000Z", id,
            rng.nextInt(1000).toLong)))
        .toDF("source", "ingestion_date", "page", "fetched_at", "item_id",
          "item_value")
        .select(items.columns.map(col).toIndexedSeq: _*)
      var version = 0
      commits += lakeCommit(lakeRoot) {
        step("upsert")(Trace.span("lake", "upsert")(
          SnapshotTable.upsert(spark, lakeRoot, upd, "item_id", PartitionBy))
        ) { v => version = v; true }
      }
      live ++= ids
      commits += lakeCommit(mvRoot) {
        step("mv_refresh")(Trace.span("lake", "MaterializedAgg.refresh")(
          MaterializedAgg.refresh(spark, lakeRoot, mvRoot, Spec, Buckets))
        ) { _ =>
          sameRows(MaterializedAgg.read(spark, mvRoot),
            SnapshotTable.read(spark, lakeRoot).groupBy("source")
              .agg(sum("item_value").as("total_value"),
                count(lit(1)).as("n_items")))
        }
      }
      step("change_feed")(Trace.span("lake", "ChangeFeed.between") {
        ChangeFeed.between(spark, lakeRoot, version - 1, version).collect()
      })(_.nonEmpty)
      val victim = s"$src-$date-$page-${rng.nextInt(cfg.itemsPerPage)}"
      commits += lakeCommit(lakeRoot) {
        step("delete_row")(Trace.span("lake", "deleteRowsWhere")(
          SnapshotTable.deleteRowsWhere(spark, lakeRoot, col("item_id") === victim))
        )(_ => true)
      }
      live -= victim
      val id = ids(rng.nextInt(ids.size))
      step("read_point")(Trace.span("lake", "readPoint") {
        SnapshotTable.readPoint(spark, lakeRoot, "item_id", id).collect()
      }) { rows =>
        pointHits += rows.length
        rows.map(_.getAs[String]("item_id")).toSeq ==
          (if (live(id)) Seq(id) else Nil)
      }
      step("lake_sql")(Trace.span("lake", "sql") {
        (spark.sql(s"SELECT * FROM lake.items_$name WHERE source = '$src' " +
          s"AND ingestion_date = '$date'").collect(),
          spark.sql(s"SELECT * FROM lake.items_$name").collect())
      }) { case (part, all) =>
        all.length == live.size && part.nonEmpty &&
          part.forall(r => r.getAs[String]("source") == src)
      }
    }
    lakeCommit(lakeRoot) {
      step("optimize")(Trace.span("lake", "optimize")(
        SnapshotTable.optimize(spark, lakeRoot, PartitionBy))
      )(_ => SnapshotTable.read(spark, lakeRoot).count() == live.size)
    }
    spaceAmp :+= spaceAmplification(spark, lakeRoot, s"$root/fresh")
  }

  /** The serving stage: one client per reference role, each in its own
    * `newSession()` with its role views, run the RBAC request mix
    * concurrently, each result collected to the driver:
    *  - the `ReferenceQueries` RBAC SQL through `Rbac.runAs`, whose row
    *    counts follow from the ingest plan (core:pii = 1:4);
    *  - `sampleWithItems`, which must raise `AnalysisException` for the
    *    core role (column denied) and return 3 rows for pii.
    * Each request's latency is its call alone; a request a client never
    * completed (its views or first statement failed, or the thread died)
    * counts as failed. Returns the stage's wall time. */
  private def serve(spark: SparkSession, table: String, nDates: Int,
      rng: scala.util.Random): Double = {
    val cfg = IngestConfig()
    val clients = Seq(Rbac.core, Rbac.pii).map { role =>
      val s = spark.newSession()
      val visible =
        if (role == Rbac.core) cfg.endpoints.take(1) else cfg.endpoints
      val pages = nDates * cfg.pagesPerEndpoint.toLong
      val order = new scala.util.Random(rng.nextLong()).shuffle(Requests)
      val results = Vector.newBuilder[(String, Double, Boolean)]
      def answer(kind: String, rows: Array[Row]): Boolean = kind match {
        case "rbac_total" => rows.head.getLong(0) == visible.size * pages
        case "rbac_files" =>
          rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
            visible.map(_ -> pages)
        case "rbac_smoke" =>
          rows.length == (visible.size * nDates).min(20) &&
            rows.forall(_.getLong(2) == cfg.pagesPerEndpoint)
        case "sample_items" => rows.map(_.getInt(2)).toSeq == Seq(5, 5, 5)
      }
      val thread = new Thread(() => {
        val ready = guard(s"serve_${role.name}") {
          Trace.span("security", "createRoleViews")(Rbac.createRoleViews(s, table))
          // the session's first statement resolves the table
          Rbac.runAs(s, role, table, ReferenceQueries.totalRecords(table)).collect()
          true
        }
        if (ready) order.foreach { kind =>
          val q = kind match {
            case "rbac_total" => ReferenceQueries.totalRecords(table)
            case "rbac_files" => ReferenceQueries.filesByEndpoint(table)
            case "rbac_smoke" => ReferenceQueries.smokeFilesPerPartition(table)
            case "sample_items" => ReferenceQueries.sampleWithItems(table)
          }
          val (t, r) = time(Trace.op(scala.util.Try(Trace.span("security", kind) {
            Rbac.runAs(s, role, table, q).collect()
          })))
          val ok = r match {
            case scala.util.Failure(_: AnalysisException)
                if kind == "sample_items" && role == Rbac.core => true
            case scala.util.Failure(e) =>
              System.err.println(s"[perfbench] platform $kind failed: $e")
              false
            case scala.util.Success(_)
                if kind == "sample_items" && role == Rbac.core => false
            case scala.util.Success(rows) => guard(kind)(answer(kind, rows))
          }
          results += ((kind, t, ok))
        }
      })
      (thread, order, results)
    }
    val (wall, _) = time {
      clients.foreach(_._1.start())
      clients.foreach(_._1.join())
    }
    clients.foreach { case (_, order, results) =>
      val done = results.result()
      done.foreach { case (w, t, ok) => record(w, t, ok) }
      order.drop(done.size).foreach(w => record(w, 0.0, ok = false))
    }
    wall
  }

  /** Runs `body`, one lake mutation that writes under `root`; the traced
    * run also walks `root` around it for the commit, file and byte
    * counts. */
  private def lakeCommit[T](root: String)(body: => T): T =
    if (!Trace.enabled) body
    else {
      val before = walk(root)
      val r = body
      val added = walk(root) -- before.keySet
      Trace.add("lake.commits",
        added.keys.count(_.contains("/_versions/")).toDouble)
      Trace.add("lake.files_written", added.size.toDouble)
      Trace.add("lake.bytes_written", added.values.sum.toDouble)
      r
    }

  private def walk(root: String): Map[String, Long] = {
    val base = new java.io.File(root)
    if (!base.exists()) Map.empty
    else org.apache.commons.io.FileUtils.listFiles(base, null, true)
      .toArray.map(_.asInstanceOf[java.io.File])
      .map(f => f.getPath -> f.length).toMap
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    def rows(df: DataFrame) = df.select(b.columns.sorted.map(col): _*)
      .collect().map(_.toString).sorted.toSeq
    rows(a) == rows(b)
  }

  /** Stored bytes under the table root over the bytes of one fresh
    * parquet write of its live rows, laid out the same way. */
  private def spaceAmplification(spark: SparkSession, root: String,
      fresh: String): Double = {
    SnapshotTable.read(spark, root).write.partitionBy(PartitionBy: _*)
      .parquet(fresh)
    val freshBytes = walk(fresh).filter(_._1.endsWith(".parquet")).values.sum
    walk(root).values.sum.toDouble / freshBytes
  }

  override def traceMetrics(): Map[String, Double] = Map(
    "lake.commit_p50_s" -> Main.median(commits.result()),
    "lake.space_amp" -> Main.median(spaceAmp),
    "ingest.pages_per_s" -> Main.median(ingestRate),
    "streaming.batches" -> streamBatches.toDouble,
    "lake.rows_read_per_hit" ->
      Trace.rowsReadPerHit("lake", Set("readPoint"), pointHits.toDouble))
}

object PlatformWorkload {
  /** The serving stage's requests, run by each role client in a seeded
    * order. */
  val Requests: Seq[String] =
    Seq("rbac_total", "rbac_files", "rbac_smoke", "sample_items")
  val Dates = 10
  val Rounds = 2
  val Buckets = 4
  val PartitionBy = Seq("source", "ingestion_date")
  val Spec = MvSpec(Seq("source"), sums = Seq("total_value" -> "item_value"),
    countName = "n_items")
}
