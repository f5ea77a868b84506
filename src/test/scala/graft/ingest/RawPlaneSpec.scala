package graft.ingest

import scala.collection.mutable

import org.apache.spark.scheduler._

import graft.SparkSpec

/** The raw plane does each piece of work once: the crawl infers the
  * schema without re-listing the pages it has already listed, and the
  * ingest spreads its work items over every write task. Spark work is
  * observed through a listener scoped to a job group, so events of
  * anything else running in the session cannot leak into a check. */
class RawPlaneSpec extends SparkSpec {
  private val cfg = IngestConfig()
  private val date = "2026-08-11"

  /** What Spark ran for `body`: job descriptions, and each stage's
    * per-task shuffle records read. */
  private final case class Observed(
      jobDescriptions: Seq[String], shuffleReadsByStage: Map[Int, Seq[Long]])

  private def observe[T](body: => T): (T, Observed) = {
    val sc = spark.sparkContext
    val group = s"raw-plane-${java.util.UUID.randomUUID()}"
    val descriptions = mutable.Buffer.empty[String]
    val stages = mutable.Set.empty[Int]
    val reads = mutable.Map.empty[Int, mutable.Buffer[Long]]
    def inGroup(p: java.util.Properties) =
      p != null && p.getProperty("spark.jobGroup.id") == group
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (inGroup(js.properties)) descriptions.synchronized {
          descriptions += Option(js.properties.getProperty(
            "spark.job.description")).getOrElse("")
        }
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        if (inGroup(ss.properties)) stages.synchronized {
          stages += ss.stageInfo.stageId
        }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) reads.synchronized {
          reads.getOrElseUpdate(te.stageId, mutable.Buffer.empty) +=
            te.taskMetrics.shuffleReadMetrics.recordsRead
        }
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "RawPlaneSpec")
    try {
      val r = body
      org.apache.spark.GraftListenerBridge.waitUntilEmpty(sc)
      (r, Observed(descriptions.toSeq,
        reads.view.filterKeys(stages).mapValues(_.toSeq).toMap))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  private def writeGz(path: String, body: String): Unit = {
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(path))
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  private val Listing = "Listing leaf files"

  test("crawl infers spark.read.json's schema without a file-listing job") {
    val root = tmpDir("raw")
    RawWriter.write(spark, Planner.plan(spark, cfg, date), MockFetcher(),
      root, tmpDir("quarantine"))
    // one bad page: 41 pages, past the 32-path parallel listing threshold
    writeGz(s"$root/source=api-a/ingestion_date=$date/page=000098.json.gz",
      "{not valid json at all")
    def payload(fields: Seq[org.apache.spark.sql.types.StructField]) =
      fields.filterNot(f => Set("source", "ingestion_date")(f.name))
        .map(f => f.name -> f.dataType)

    // the file source's inference re-lists the pages it found: the
    // listener does see that job, so its absence below is meaningful
    val (expected, direct) = observe(spark.read.json(root).schema)
    assert(direct.jobDescriptions.exists(_.contains(Listing)),
      s"jobs: ${direct.jobDescriptions}")

    val (report, crawl) = observe(Crawler.crawl(spark, root, "raw_plane"))
    assert(!crawl.jobDescriptions.exists(_.contains(Listing)),
      s"the crawl re-listed the raw zone: ${crawl.jobDescriptions}")
    assert(report.partitions == 4)
    val crawled = payload(spark.table("raw_plane").schema)
    assert(crawled == payload(expected))
    assert(crawled.map(_._1).contains("_corrupt_record"))
  }

  test("crawl refuses a raw zone with no pages to infer from") {
    val e = intercept[IllegalArgumentException] {
      Crawler.crawl(spark, tmpDir("raw-empty"), "raw_plane_empty")
    }
    assert(e.getMessage.contains("no JSON pages"))
    assert(!spark.catalog.tableExists("raw_plane_empty"))
  }

  test("ingest gives every write task work") {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "4")
    try {
      val (stats, seen) = observe(RawWriter.write(spark,
        Planner.plan(spark, cfg, date), MockFetcher(), tmpDir("raw"),
        tmpDir("quarantine")))
      assert(stats == IngestStats(40, 0, 0))
      // the write stage is the one whose tasks read the shuffled items
      val writes = seen.shuffleReadsByStage.values.filter(_.sum > 0).toSeq
      assert(writes.size == 1, s"stages: ${seen.shuffleReadsByStage}")
      assert(writes.head.size == 4)
      assert(writes.head.sum == 40)
      assert(writes.head.forall(_ > 0),
        s"a write task got no work items: ${writes.head}")
    } finally spark.conf.set(key, saved)
  }
}
