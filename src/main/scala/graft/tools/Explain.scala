package graft.tools

import org.apache.spark.sql.DataFrame

/** Dev utility: plans and timings of one query, of every query, or a
  * look into a parquet file. Used to iterate on plans (pushdown,
  * broadcast, codegen spans) — not part of the driver contract.
  *
  * Usage:
  *   graft.tools.Explain <sfDir> <queryName>   — final AQE plan of a
  *                                               SparkEntry query
  *   graft.tools.Explain time <sfDir> <queryName> [n]
  *                                             — n (default 3) timed
  *                                               materializations
  *   graft.tools.Explain all <sfDir> <outFile> — every query's final plan
  *   graft.tools.Explain read <parquetPath>    — schema + 3 rows of a file
  */
object Explain {
  /** Drive df's OWN plan to completion without materializing rows on
    * the driver, then return the final AQE plan. count() executes a
    * DIFFERENT plan (an aggregate over this one), leaving df's
    * AdaptiveSparkPlan un-finalized (isFinalPlan=false), and collect()
    * would pull unbounded pair lists (d04/d13/d15) into driver memory.
    * A distributed count over the executed RDD finalizes AQE with zero
    * driver-side rows. */
  private def finalPlan(df: DataFrame): String = {
    df.queryExecution.toRdd.count()
    df.queryExecution.executedPlan.toString
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    args match {
      case Array("read", path) =>
        val df = spark.read.parquet(path)
        df.printSchema()
        df.show(3, truncate = 120)
      case Array("all", sfDir, outFile) =>
        // dump formatted plans of EVERY registered query into one
        // artifact — round-12 verdict item 4: a curated subset let
        // SURVEY claim "all flagships" while 87 plans were missing;
        // the registry itself is now the list, so the claim and the
        // artifact cannot drift apart (Verify execution order: sorted)
        val flagship = graft.SparkEntry.queries.keys.toSeq.sorted
        val sb = new StringBuilder
        sb.append("# Physical plans — all registered queries (sfDir=" +
          sfDir + ")\n")
        sb.append("\nGenerated by `graft.tools.Explain all` — one `##`" +
          " section per SparkEntry.queries entry (" + flagship.size +
          " queries) plus the two unregistered fast paths.\n")
        flagship.foreach { name =>
          sb.append(s"\n## $name\n\n```\n")
          sb.append(finalPlan(graft.SparkEntry.queries(name)(spark, sfDir)))
          sb.append("```\n")
        }
        // Non-registered production shapes: the float fast paths (rank-
        // pinned against gated queries, benched in BENCH_NOTES) — their
        // plans are attestation artifacts too. The tokenized-served
        // variants read the roots the t46 flagship run above just built.
        val docs = graft.core.Tables(spark, sfDir, "documents")
        val tokRoot = graft.core.IndexRoot.of(sfDir, "documents.parquet",
          "graft_tok_idx_v2")
        val extras: Seq[(String, DataFrame)] = Seq(
          "bm25Fast_inline" -> graft.queries.Search.bm25Fast(docs),
          "bm25FromTokenized_fast" -> graft.queries.Search
            .bm25FromTokenizedFast(spark, tokRoot))
        extras.foreach { case (name, df) =>
          sb.append(s"\n## $name (unregistered fast path)\n\n```\n")
          sb.append(finalPlan(df))
          sb.append("```\n")
        }
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outFile), sb.toString)
        println(s"wrote $outFile")
      case Array("time", sfDir, name, n @ _*) =>
        // the full result through a noop sink, as Verify writes it: a
        // count() would time a pruned plan (no final sort, aggregate
        // outputs dropped). First iteration cold, the rest warm.
        for (i <- 1 to n.headOption.fold(3)(_.toInt)) {
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          println(f"iter $i: ${(System.nanoTime() - t0) / 1e9}%.2fs")
        }
      case Array(sfDir, name) =>
        println(finalPlan(graft.SparkEntry.queries(name)(spark, sfDir)))
      case _ =>
        System.err.println("usage: Explain <sfDir> <query> | " +
          "Explain time <sfDir> <query> [n] | " +
          "Explain all <sfDir> <out> | Explain read <path>")
    }
    spark.stop()
  }
}
