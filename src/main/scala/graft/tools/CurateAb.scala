package graft.tools

import org.apache.spark.sql.functions._

/** Dev utility: A/B the curation funnel's opt-in semantic-dedup stage
  * (VERDICT r6 stretch item 7) and characterize what the stage would
  * drop, to decide whether default-on is safe.
  *
  * Protocol: run [[graft.pipeline.Curate]] twice (semantic off / on at
  * the given cosine threshold) over the same corpus, print both
  * manifests, then audit every ≥threshold embedding pair among the
  * text-dedup survivors by its word-3-gram Jaccard:
  *   - jaccard ≥ 0.5  — textual near-dup anyway (MinHash-visible; the
  *     semantic stage is merely a second chance for these)
  *   - 0.1 ≤ j < 0.5  — partial overlap (template/boilerplate kin)
  *   - jaccard < 0.1  — NO shared shingles: either a true paraphrase
  *     (the stage's reason to exist) or a false positive. With no human
  *     labels this bucket IS the upper bound on the FP rate.
  *
  * Usage: graft.tools.CurateAb [sfDir] [threshold]
  */
object CurateAb {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val thr = args.drop(1).headOption.map(_.toDouble).getOrElse(0.9)
    val spark = graft.Session.local()

    val offDir = java.nio.file.Files.createTempDirectory("ab-off").toString
    val onDir = java.nio.file.Files.createTempDirectory("ab-on").toString
    val off = graft.pipeline.Curate.run(spark, sfDir, offDir)
    val on = graft.pipeline.Curate.run(spark, sfDir, onDir,
      semanticDedup = true, semanticThreshold = thr)
    println(s"A (semantic off): ${off.json}")
    println(s"B (semantic on @ $thr): ${on.json}")
    val extra = off.afterNearDup - on.afterSemantic.getOrElse(off.afterNearDup)
    println(f"semantic stage drops $extra of ${off.afterNearDup} " +
      f"stage-2 survivors (${100.0 * extra / off.afterNearDup}%.2f%%)")

    // Audit the candidate pairs the stage acts on, bucketed by text
    // Jaccard — the shared library audit (the SAME function Curate.run
    // embeds in the manifest as `ab_semantic` when asked, so this
    // harness and a production manifest can never disagree).
    val survivors = spark.read.parquet(s"$offDir/curated")
      .select(col("doc_id"))
    val audit = graft.pipeline.Curate.semanticAudit(
      spark, sfDir, survivors, thr)
    println(s"audit: ${audit.json}")
    println(f"pairs @ cos>=$thr among survivors: ${audit.pairs}")
    println(f"  textual (j>=0.5):        ${audit.textual} " +
      pct(audit.textual, audit.pairs))
    println(f"  partial (0.1<=j<0.5):    ${audit.partial} " +
      pct(audit.partial, audit.pairs))
    println(f"  pure-semantic (j<0.1):   ${audit.pureSemantic} " +
      pct(audit.pureSemantic, audit.pairs) +
      f" — same-source ${audit.pureSameSource}")
    println("pure-semantic pairs are paraphrases-or-FPs: this bucket is " +
      "the FP-rate UPPER BOUND absent human labels")
    spark.stop()
  }

  private def pct(n: Long, d: Long): String =
    if (d == 0) "n/a" else f"(${100.0 * n / d}%.1f%%)"
}
