package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.{Dedup, Text}

/** End-to-end training-data curation: the LLM counterpart of
  * [[graft.tools.Pipeline]]'s reference dataflow, composing the
  * oracle-verified operators into the standard corpus-curation funnel:
  *
  *   documents
  *     → exact dedup        (keep each md5 group's canonical min doc_id)
  *     → near-dup removal   (default CLUSTER mode: connected components
  *                           over the LSH pair graph at `simThreshold` —
  *                           d12's transitive closure — keeping one
  *                           min-doc_id canonical per component, the only
  *                           policy that guarantees one survivor per
  *                           transitive cluster; `clusterDedup = false`
  *                           falls back to per-pair larger-id dropping,
  *                           which keeps spurious extra survivors when a
  *                           chain's hub has the largest id)
  *     → semantic near-dup  (opt-in: d09's learned-cell embedding pairs
  *                           at cosine ≥ `semanticThreshold`, restricted
  *                           to the current survivors, one canonical per
  *                           connected component — catches paraphrase
  *                           duplicates that share no token shingles)
  *     → quality filter     (t02 score ≥ `qualityThreshold`)
  *     → decontamination    (drop training docs sharing ≥3 shingles with
  *                           the held-out slice — d08's sweep)
  *     → mix rebalance      (opt-in: stratified downsample of the
  *                           survivors to the smallest source's size —
  *                           t16's exact-rational sampler, salted hash)
  *     → PII scrub          (default-on: redact email/IPv4/phone via
  *                           [[graft.functions.Pii]]; LAST content
  *                           transform, so every upstream digest,
  *                           shingle, and signature was computed on the
  *                           raw corpus and redaction can never split a
  *                           duplicate pair across the dedup stages)
  *     → deterministic split (t10's md5 bucketing, 80/10/10)
  *     → curated parquet partitioned by split + a JSON manifest
  *
  * Every stage is an (anti-)join against a digest-sized side — document
  * text never re-shuffles after its one banding/scoring pass — so the
  * funnel runs at corpus scale exactly like its constituent operators.
  * Each drop rule is deterministic (min-id canonical, hash split), so two
  * runs over the same corpus produce byte-identical curated sets — the
  * reproducibility a training pipeline audit needs.
  */
object Curate {
  /** One funnel stage's provenance: what ran, with which knobs, and its
    * in/out counts. The ordered `stages` list in the manifest is the
    * audit trail a pipeline operator reads to answer "why did doc X
    * survive / die" — every drop is attributable to a named stage with
    * its exact thresholds (round-8 verdict item 7). Param values are
    * pre-encoded JSON fragments (numbers, booleans, quoted strings). */
  final case class StageRecord(
      name: String,
      enabled: Boolean,
      params: Seq[(String, String)],
      in: Long,
      out: Long) {
    def json: String = {
      val ps = params.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")
      s"""{"stage":"$name","enabled":$enabled,"params":$ps,""" +
        s""""in":$in,"out":$out}"""
    }
  }

  /** The A/B evidence behind the semantic stage's OFF default, promoted
    * from the dev harness ([[graft.tools.CurateAb]]) into the manifest
    * contract: `would_drop` is the stage's delta on THIS corpus at
    * `threshold`, and the Jaccard buckets bound its false-positive rate
    * (a cosine-similar pair sharing <10% of shingles is a paraphrase or
    * an FP — with no labels, that bucket is the FP upper bound). */
  final case class SemanticAudit(
      threshold: Double,
      wouldDrop: Long,
      pairs: Long,
      textual: Long,
      partial: Long,
      pureSemantic: Long,
      pureSameSource: Long) {
    def json: String =
      s"""{"threshold":$threshold,"would_drop":$wouldDrop,""" +
        s""""pairs":$pairs,"textual_j_ge_05":$textual,""" +
        s""""partial_j_01_05":$partial,""" +
        s""""pure_semantic_j_lt_01":$pureSemantic,""" +
        s""""pure_same_source":$pureSameSource}"""
  }

  final case class Report(
      input: Long,
      afterExact: Long,
      afterNearDup: Long,
      afterQuality: Long,
      afterDecontam: Long,
      splits: Map[String, Long],
      afterRebalance: Option[Long] = None,
      nearDupClusters: Option[Long] = None,
      afterSemantic: Option[Long] = None,
      stages: Seq[StageRecord] = Nil,
      abSemantic: Option[SemanticAudit] = None) {
    def json: String = {
      val sp = splits.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      val cl = nearDupClusters.fold("")(n => s""""neardup_clusters":$n,""")
      val sem = afterSemantic.fold("")(n => s""""after_semantic":$n,""")
      val reb = afterRebalance.fold("")(n => s""""after_rebalance":$n,""")
      val st =
        if (stages.isEmpty) ""
        else stages.map(_.json).mkString(""""stages":[""", ",", "],")
      val ab = abSemantic.fold("")(a => s""""ab_semantic":${a.json},""")
      s"""{"input":$input,"after_exact_dedup":$afterExact,""" +
        s"""$cl"after_neardup":$afterNearDup,$sem""" +
        s""""after_quality":$afterQuality,""" +
        s""""after_decontam":$afterDecontam,$reb$st$ab"splits":$sp}"""
    }
  }

  /** Keep-set of the semantic near-dup stage over the current survivor
    * ids: one min-id canonical per connected component of the
    * >=threshold embedding-pair graph RESTRICTED to `ids` (a semantic
    * cluster whose global canonical already died in text dedup must
    * still keep its min surviving member, not lose the content). */
  private def semanticKeep(
      spark: SparkSession, sfDir: String, ids: DataFrame,
      threshold: Double): DataFrame = {
    val pairs = Dedup.d09_semantic_neardup.run(spark, sfDir)
      .filter(col("cos_sim") >= threshold)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    val edges = pairs
      .join(ids, pairs("src") === ids("doc_id"), "left_semi")
      .join(ids, pairs("dst") === ids("doc_id"), "left_semi")
    Dedup.connectedComponents(ids.withColumnRenamed("doc_id", "id"), edges)
      .filter(col("id") === col("label"))
      .select(col("id").as("doc_id"))
  }

  /** The semantic stage's A/B evidence on a survivor set — the dev
    * harness' audit ([[graft.tools.CurateAb]] delegates here) as a
    * library function, so [[run]] can embed in the manifest the numbers
    * that justify the stage's default: its would-drop delta plus the
    * Jaccard decomposition of the candidate pairs (pairs with j<0.1
    * share no shingles — paraphrase or false positive; that bucket
    * upper-bounds the FP rate absent labels). Everything is bounded by
    * the LSH/cell-candidate pair set — never all-pairs. */
  def semanticAudit(
      spark: SparkSession, sfDir: String, ids: DataFrame,
      threshold: Double, precomputedKeep: Option[Long] = None): SemanticAudit = {
    val nIds = ids.count()
    val keepN = precomputedKeep.getOrElse(
      semanticKeep(spark, sfDir, ids, threshold).count())
    val pairs = Dedup.d09_semantic_neardup.run(spark, sfDir)
      .filter(col("cos_sim") >= threshold)
      .select(col("a_id"), col("b_id"), col("cos_sim"))
    val docs = Tables(spark, sfDir, "documents")
      .withColumn("toks", expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))
      .withColumn("sh", expr("""
        CASE WHEN size(toks) >= 3 THEN
          array_distinct(transform(sequence(0, size(toks) - 3),
            i -> concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2])))
        ELSE array_distinct(slice(toks, 1, 0)) END"""))
      .select(col("doc_id"), col("sh"), col("source"))
    val audited = pairs
      .join(ids.withColumnRenamed("doc_id", "a_id"), Seq("a_id"), "left_semi")
      .join(ids.withColumnRenamed("doc_id", "b_id"), Seq("b_id"), "left_semi")
      .join(docs.select(col("doc_id").as("a_id"), col("sh").as("sh_a"),
        col("source").as("src_a")), "a_id")
      .join(docs.select(col("doc_id").as("b_id"), col("sh").as("sh_b"),
        col("source").as("src_b")), "b_id")
      .withColumn("n_common",
        expr("size(array_intersect(sh_a, sh_b))").cast("long"))
      .withColumn("jaccard", when(
        expr("size(sh_a) + size(sh_b)") - col("n_common") > 0,
        col("n_common").cast("double") /
          (expr("size(sh_a) + size(sh_b)") - col("n_common")))
        .otherwise(0.0))
      .select(col("jaccard"), (col("src_a") === col("src_b")).as("same_source"))
      .cache()
    try SemanticAudit(
      threshold = threshold,
      wouldDrop = nIds - keepN,
      pairs = audited.count(),
      textual = audited.filter(col("jaccard") >= 0.5).count(),
      partial = audited.filter(
        col("jaccard") >= 0.1 && col("jaccard") < 0.5).count(),
      pureSemantic = audited.filter(col("jaccard") < 0.1).count(),
      pureSameSource = audited.filter(
        col("jaccard") < 0.1 && col("same_source")).count())
    finally audited.unpersist(false)
  }

  /** Run the funnel; write `outDir/curated` (parquet, partitioned by
    * split) and `outDir/manifest.json`; return the per-stage counts.
    * `auditSemantic` embeds the semantic stage's A/B evidence in the
    * manifest even when the stage itself is off — the recorded
    * justification for the default. */
  def run(
      spark: SparkSession,
      sfDir: String,
      outDir: String,
      simThreshold: Double = 0.5,
      qualityThreshold: Double = 0.5,
      rebalanceMix: Boolean = false,
      clusterDedup: Boolean = true,
      semanticDedup: Boolean = false,
      semanticThreshold: Double = 0.9,
      auditSemantic: Boolean = false,
      piiScrub: Boolean = true): Report = {
    val docs = Tables(spark, sfDir, "documents")
    val input = docs.count()

    // Each stage frame is cached before its count: the manifest needs a
    // count per stage AND the final write, and without the barriers every
    // action would re-execute the whole uncached upstream funnel (the
    // write alone would be the fifth full computation). The caches chain —
    // stage N+1 reads stage N's cached blocks — so the corpus-scale work
    // (digests, banding, scoring) runs once; all caches are dropped in
    // the finally.
    val cached = Seq.newBuilder[DataFrame]
    def stage(df: DataFrame): DataFrame = { cached += df.cache(); df }
    try {
      // 1. exact dedup: d01's canonical ids ARE the survivors
      val canonical = Dedup.d01_exact_dedup.run(spark, sfDir)
        .select(col("canonical_id").as("doc_id"))
      val exact = stage(docs.join(canonical, "doc_id"))
      val nExact = exact.count()

      // 2. near-dup removal. Cluster mode (default): one min-doc_id
      // canonical per connected component of the LSH pair graph — d12's
      // transitive closure, the only policy that guarantees one survivor
      // per transitive cluster (A~B, B~C with the hub holding the
      // largest id keeps BOTH ends under pairwise dropping). The cluster
      // canonical always survives stage 1: exact duplicates share every
      // band, so an exact group lies inside one component, making the
      // component's min id the min of its own md5 group. Estimated
      // Jaccard comes from the banded signatures — never rescans text.
      var nClusters: Option[Long] = None
      val nearDeduped = stage(if (clusterDedup) {
        val clusters = Dedup.dupClusters(spark, sfDir, simThreshold)
        // the manifest metric counts multi-doc clusters AMONG STAGE-1
        // SURVIVORS — clusters whose extra members are all byte-identical
        // copies were already fully handled by exact dedup and would
        // inflate a "near-dup contamination" reading of the manifest
        nClusters = Some(clusters
          .join(exact.select(col("doc_id")), "doc_id")
          .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_members"))
          .filter(col("n_members") >= 2).count())
        exact.join(
          clusters.filter(col("cluster_id") === col("doc_id"))
            .select(col("doc_id")),
          "doc_id")
      } else {
        // legacy pairwise policy: drop the larger id of each pair
        val dropNear = Dedup.d04_lsh_pairs.run(spark, sfDir)
          .filter(col("est_sim") >= simThreshold)
          .select(col("b_id").as("doc_id")).distinct()
        exact.join(dropNear, Seq("doc_id"), "left_anti")
      })
      val nNear = nearDeduped.count()

      // 2.5 (opt-in) semantic near-dup: paraphrase duplicates share no
      // shingles, so they sail through stages 1-2; d09's learned-cell
      // embedding pairs catch them (vec_id and doc_id share one id
      // space in the testdata layout). The component graph is RESTRICTED
      // to current survivors — a semantic cluster whose global canonical
      // already died in text dedup must still keep its min SURVIVING
      // member, not lose the content outright.
      val semDeduped = if (!semanticDedup) nearDeduped else stage {
        nearDeduped.join(
          semanticKeep(spark, sfDir, nearDeduped.select(col("doc_id")),
            semanticThreshold),
          "doc_id")
      }
      val nSemantic = if (semanticDedup) Some(semDeduped.count()) else None
      // A/B evidence for the semantic default: when the stage ran, its
      // delta is already known; when off but audited, compute the
      // would-be keep set without applying it.
      val abEvidence =
        if (semanticDedup || auditSemantic)
          Some(semanticAudit(spark, sfDir, nearDeduped.select(col("doc_id")),
            semanticThreshold,
            precomputedKeep = nSemantic))
        else None

      // 3. quality floor (t02's saturation + diversity + stopword score)
      val quality = Text.t02_quality_score.run(spark, sfDir)
        .filter(col("quality") >= qualityThreshold)
        .select(col("doc_id"))
      val qualified = stage(semDeduped.join(quality, "doc_id"))
      val nQuality = qualified.count()

      // 4. decontamination: drop flagged TRAIN docs; the held-out slice
      // (doc_id % 89 == 0) is also excluded from the curated set — it is
      // the evaluation data, not training data
      val contaminated = Dedup.d08_decontamination.run(spark, sfDir)
        .select(col("train_id").as("doc_id")).distinct()
      val clean = stage(qualified
        .join(contaminated, Seq("doc_id"), "left_anti")
        .filter(col("doc_id") % 89 =!= 0))
      val nClean = clean.count()

      // 4.5 (opt-in) mix rebalance: stratified downsample of the
      // SURVIVORS to their smallest source's size — t16's exact-rational
      // accept test (bucket·n < min·1e6, no float rate) applied after
      // the drop stages, because dedup/quality survival itself skews the
      // mix, so rebalancing anywhere earlier would be undone. The accept
      // hash is salted ('mix:' prefix) so membership is independent of
      // the split bucketing below — unsalted, the two decisions would
      // read correlated ranges of the same md5.
      val balanced = if (!rebalanceMix) clean else {
        import org.apache.spark.sql.expressions.Window
        val stats = clean.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("min_docs",
            min(col("n_docs")).over(Window.partitionBy()))
        stage(clean
          .withColumn("mix_bucket", expr(graft.core.Sampling
            .md5Bucket("CAST(doc_id AS STRING)", 1000000, salt = "mix:")))
          .join(broadcast(stats), "source")
          .filter(graft.core.Sampling.stratifiedAccept(
            col("mix_bucket"), col("n_docs"), col("min_docs"), 1000000L))
          .drop("mix_bucket", "n_docs", "min_docs"))
      }
      val nBalanced = if (rebalanceMix) Some(balanced.count()) else None

      // 4.7 (default-on) PII scrub: count per-class hits for the
      // manifest, then redact in place. Deliberately the LAST content
      // transform — every digest/shingle/signature upstream saw the raw
      // text, so redaction can never split a duplicate pair, and the
      // audit counts describe exactly what shipped. A map-only stage:
      // no shuffle, no drop (in == out), n_chars recomputed so the
      // curated schema stays self-consistent.
      val piiCounts: Option[(Long, Long)] = if (!piiScrub) None else {
        val r = balanced.select(
          (graft.functions.Pii.emailHits(col("text")) +
            graft.functions.Pii.ipv4Hits(col("text")) +
            graft.functions.Pii.phoneHits(col("text"))).as("hits"))
          .agg(
            coalesce(sum(when(col("hits") > 0, 1L).otherwise(0L)), lit(0L)),
            coalesce(sum(col("hits")), lit(0L)))
          .head()
        Some((r.getLong(0), r.getLong(1)))
      }
      val scrubbed = if (!piiScrub) balanced else {
        val redacted = balanced
          .withColumn("text", graft.functions.Pii.redact(col("text")))
        if (redacted.columns.contains("n_chars"))
          redacted.withColumn("n_chars", length(col("text")).cast("long"))
        else redacted
      }

      // 5. deterministic split (same md5 bucketing as t10) and write
      val curated = scrubbed
        .withColumn("bucket", expr(
          graft.core.Sampling.md5Bucket("CAST(doc_id AS STRING)", 100)))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "valid")
            .otherwise("test"))
        .drop("bucket")
      curated.write.mode("overwrite").partitionBy("split")
        .parquet(s"$outDir/curated")

      val splits = spark.read.parquet(s"$outDir/curated")
        .groupBy("split").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

      // Ordered provenance: every stage, enabled or not, with its exact
      // knobs and in/out counts — the manifest's audit trail.
      val nSem = nSemantic.getOrElse(nNear)
      val nBal = nBalanced.getOrElse(nClean)
      def q(s: String) = "\"" + s + "\""
      val stageRecords = Seq(
        StageRecord("exact_dedup", enabled = true,
          Seq("canonical" -> q("min_doc_id_per_md5")), input, nExact),
        StageRecord("neardup", enabled = true,
          Seq(
            "policy" -> q(if (clusterDedup) "cluster" else "pairwise"),
            "sim_threshold" -> simThreshold.toString),
          nExact, nNear),
        StageRecord("semantic_neardup", enabled = semanticDedup,
          Seq("cos_threshold" -> semanticThreshold.toString),
          nNear, nSem),
        StageRecord("quality_filter", enabled = true,
          Seq("min_quality" -> qualityThreshold.toString), nSem, nQuality),
        StageRecord("decontamination", enabled = true,
          Seq(
            "min_common_shingles" -> "3",
            "holdout" -> q("doc_id % 89 == 0")),
          nQuality, nClean),
        StageRecord("mix_rebalance", enabled = rebalanceMix,
          Seq("sampler" -> q("stratified-md5-to-min-source")), nClean, nBal),
        StageRecord("pii_scrub", enabled = piiScrub,
          Seq(
            "classes" -> q("email,ipv4,phone"),
            "pii_docs" -> piiCounts.fold("0")(_._1.toString),
            "pii_hits" -> piiCounts.fold("0")(_._2.toString)),
          nBal, nBal),
        StageRecord("split", enabled = true,
          Seq("train" -> "80", "valid" -> "10", "test" -> "10"),
          nBal, splits.values.sum))
      val report = Report(input, nExact, nNear, nQuality, nClean, splits,
        nBalanced, nClusters, nSemantic, stageRecords, abEvidence)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, "manifest.json"),
        (report.json + "\n").getBytes("UTF-8"))
      report
    } finally cached.result().foreach(_.unpersist(false))
  }

  /** CLI: graft.pipeline.Curate <sfDir> <outDir> [rebalance] [pairwise]
    * [semantic]. */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.drop(1).headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-curate").toString)
    val rebalance = args.contains("rebalance")
    val spark = graft.Session.local()
    val report = run(spark, sfDir, outDir, rebalanceMix = rebalance,
      clusterDedup = !args.contains("pairwise"),
      semanticDedup = args.contains("semantic"))
    println(report.json)
    println(s"curated -> $outDir/curated")
    spark.stop()
  }
}
