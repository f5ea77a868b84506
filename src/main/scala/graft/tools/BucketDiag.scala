package graft.tools

import org.apache.spark.sql.functions._

/** LSH hot-bucket audit: prints the banded-row count and the 10 largest
  * (band, bh) bucket sizes for each corpus directory given. A top
  * bucket near the near-dup cluster size is healthy; a top bucket
  * growing LINEARLY with the corpus means candidate pairs are growing
  * quadratically — the symptom that exposed the correlated slot-hash
  * family in round 11 (631-doc buckets at 500k docs; near-dup-sized
  * after the [[graft.functions.HashExpressions]] SlotC2 fix). Run it
  * whenever dedup runtime grows faster than the corpus. */
object BucketDiag {
  def main(args: Array[String]): Unit = {
    val s = graft.Session.local()
    for (d <- args) {
      val b = graft.queries.Dedup.bandedWithSigFromText(
        s.read.parquet(s"$d/documents.parquet")
          .select(col("doc_id"), col("text")))
      val top = b.groupBy(col("band"), col("bh")).count()
        .orderBy(col("count").desc).limit(10).collect()
      println(s"DIAG $d rows=${b.count()} top=" +
        top.map(_.getLong(2)).mkString(","))
    }
    s.stop()
  }
}
