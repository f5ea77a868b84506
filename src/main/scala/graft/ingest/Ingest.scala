package graft.ingest

import java.io.OutputStreamWriter
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPOutputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.util.LongAccumulator

/** The ingestion dataflow, Spark-first.
  *
  * The reference's planner->SQS->worker pipeline (planner.py:37-76,
  * stack.py:62-135, worker.py:201-334) maps onto one Spark job: the driver
  * enumerates work (the planner), a repartition is the queue fan-out, and
  * executor tasks are the workers (skip-if-exists, throttle, fetch, write).
  * SQS redrive + DLQ becomes Spark task retries + a quarantine directory:
  * a poison work item never fails the job (worker.py:296-310 semantics).
  */
object Planner {
  /** Work enumeration: endpoints x pages 1..n (planner.py:44). */
  def plan(
      spark: SparkSession,
      cfg: IngestConfig,
      ingestionDate: String): Dataset[WorkItem] = {
    import spark.implicits._
    spark.createDataset(for {
      e <- cfg.endpoints
      p <- 1 to cfg.pagesPerEndpoint
    } yield WorkItem(e, ingestionDate, p))
  }
}

final case class IngestStats(
    ingested: Long, skipped: Long, failed: Long)

object RawWriter {
  /** Fetch + write every work item to its deterministic page path.
    *
    * - Idempotent: an existing target file is skipped unread
    *   (worker.py:214-221) — re-runs and task retries are safe.
    * - Failure isolation: a throwing fetch writes the work item to
    *   `quarantine/` and the job continues (DLQ analog).
    * - Metrics via accumulators (CloudWatch custom-metric analog,
    *   stack.py:322-351).
    *
    * Files are written per item through the Hadoop FileSystem (not
    * `df.write`) because the layout contract requires exact page file
    * names, which also gives the existence-check idempotency for free.
    */
  def write(
      spark: SparkSession,
      work: Dataset[WorkItem],
      fetcher: Fetcher,
      rawRoot: String,
      quarantineRoot: String,
      qpsSleepMs: Long = 0L): IngestStats = {
    val ingested = spark.sparkContext.longAccumulator("pages_ingested_total")
    val skipped = spark.sparkContext.longAccumulator("pages_skipped_total")
    val failed = spark.sparkContext.longAccumulator("failures_total")
    val serConf = new SerializableConf(spark.sparkContext.hadoopConfiguration)

    // Spread the work over every write task by hashing the page key. The
    // reference caps concurrency with the workers' reserved concurrency
    // (stack.py:131-135), which maps to the task count, and its QPS sleep
    // is per worker per fetch (worker.py:223-229, SURVEY I2/I5): neither
    // needs one task per endpoint, which would cap ingest at as many
    // cores as there are endpoints on any cluster.
    import org.apache.spark.sql.functions.col
    work.repartition(work.sparkSession.sessionState.conf.numShufflePartitions,
        col("endpoint"), col("ingestionDate"), col("page"))
      .foreachPartition { (items: Iterator[WorkItem]) =>
        val conf = serConf.value
        val fs = new Path(rawRoot).getFileSystem(conf)
        val taskId = org.apache.spark.TaskContext.get().taskAttemptId()
        var quarantine: Option[OutputStreamWriter] = None
        items.foreach { w =>
          val target = new Path(rawRoot, RawSchema.pagePath(w))
          try {
            if (fs.exists(target)) skipped.add(1)
            else {
              if (qpsSleepMs > 0) Thread.sleep(qpsSleepMs)
              val doc = fetcher.fetch(w)
              val tmp = new Path(target.getParent,
                s".${target.getName}.$taskId.tmp")
              fs.mkdirs(target.getParent)
              val out = new GZIPOutputStream(fs.create(tmp, true))
              try out.write(doc.toJson.getBytes(StandardCharsets.UTF_8))
              finally out.close()
              if (!fs.rename(tmp, target)) {
                // Lost a race with a concurrent writer of the same page:
                // the deterministic key makes that benign (worker.py:273).
                fs.delete(tmp, false)
                skipped.add(1)
              } else ingested.add(1)
            }
          } catch {
            case e: Exception =>
              failed.add(1)
              val qw = quarantine.getOrElse {
                val p = new Path(quarantineRoot, s"failed-$taskId.jsonl")
                val w0 = new OutputStreamWriter(
                  p.getFileSystem(conf).create(p, true),
                  StandardCharsets.UTF_8)
                quarantine = Some(w0)
                w0
              }
              qw.write(
                s"""{"endpoint":"${Json.esc(w.endpoint)}","ingestion_date":"${Json.esc(w.ingestionDate)}","page":${w.page},"error":"${Json.esc(e.getMessage)}"}\n""")
          }
        }
        quarantine.foreach(_.close())
      }
    IngestStats(ingested.value, skipped.value, failed.value)
  }

  /** Hadoop Configuration is not `Serializable`; ship its key/value
    * content through Hadoop's own `Writable` protocol (the same scheme as
    * Spark's internal SerializableConfiguration). In local mode this is
    * pro forma; on a cluster it is required — driver-side settings
    * (object-store credentials, fs impls, spark.hadoop.* overrides) must
    * reach the executors, not be silently replaced by defaults. */
  private[ingest] final class SerializableConf(
      @transient private var conf: Configuration)
      extends Serializable {
    def value: Configuration = {
      if (conf == null) conf = new Configuration(false)
      conf
    }
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new Configuration(false)
      conf.readFields(in)
    }
  }
}
