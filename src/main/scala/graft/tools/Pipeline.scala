package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest._
import graft.queries.{QueryRunner, ReferenceQueries}
import graft.security.Rbac

/** End-to-end platform demo: plan -> ingest (idempotent gzip pages) ->
  * crawl (schema inference + partitions) -> secure (role views) ->
  * query per role -> curated promotion. The whole reference dataflow
  * (SURVEY §3 E1-E3) in one run — then the LLM lane ([[llmLane]]):
  * curate the corpus, stream-bootstrap the persisted dedup index with
  * maintenance attached, build the ANN index, and probe both.
  *
  * Usage: graft.tools.Pipeline <workDir> [date1,date2,...]
  */
object Pipeline {

  /** The training-data half of the platform, end-to-end (round-8
    * verdict stretch #8): curation funnel -> persisted indexes ->
    * intake probes, with the dedup index maintained by the STREAMING
    * path rather than a one-shot batch build:
    *
    *  1. [[graft.pipeline.Curate.run]] writes the curated corpus +
    *     manifest (full stage provenance) under `workDir/llm`;
    *  2. the corpus lands in `workDir/intake` as parquet shards in two
    *     arrivals (90% base, then the doc_id%20<2 "new arrivals"
    *     slice); each arrival is drained into `workDir/index/dedup` by
    *     [[graft.streaming.IndexMaintenance.maintainDedupIndex]]
    *     (Trigger.AvailableNow + checkpoint: the second drain appends
    *     ONLY the new shards — restart-safe incremental maintenance,
    *     not a rebuild);
    *  3. the ANN index stream-bootstraps at `workDir/index/ann` from an
    *     embeddings intake directory via
    *     [[graft.streaming.IndexMaintenance.maintainAnnIndex]] (the
    *     replay-safe per-batch layout) — all three indexes are
    *     stream-maintained, none hand-built;
    *  4. the BM25 postings index stream-bootstraps from the SAME
    *     intake directory (its own checkpoint at
    *     `workDir/index/inverted`) — one AvailableNow drain over both
    *     arrivals; then ALL THREE indexes are COMPACTED between
    *     drains and probes (`DedupIndex.compactFiles`,
    *     `AnnIndex.compactBatches`, `InvertedIndex.compactBatches` —
    *     the round-10 fold operators), so the d15/s05/t31 probe sets
    *     answer from the folded layouts: the lane exercises the whole
    *     build → drain → compact → probe lifecycle with the probe
    *     results still pinned row-identical to the batch queries;
    *  5. the curated corpus commits as v1 of an ATOMIC
    *     [[graft.lake.SnapshotTable]] (hierarchical (split, source)
    *     partitioning, under [[curatedTableRoot]]) — re-curation is a
    *     CDC change feed drained by
    *     [[graft.streaming.CdcStream.maintainChangesAtomic]], one
    *     manifest commit per batch — and the TRAIN split's
    *     sequence-packing manifest
    *     ([[graft.pipeline.Pack.writeManifest]] under
    *     `workDir/llm/pack_manifest`) is derived FROM that committed
    *     version — the loader-facing hand-off that turns the funnel's
    *     survivors into fixed-size training rows stays byte-
    *     reproducible after later re-curation commits (time-travel
    *     read pinned in `PipelineLlmSpec`).
    *
    * Returns (curation report, dedup probe hits, ann probe hits, bm25
    * probe ranking, retrieval-decontamination hits); the probe results
    * are pinned row-identical to the oracle-gated d15_lsh_probe /
    * s05_ann_index / t31_bm25 batch queries (and the decontamination
    * sweep to the inline `Search.bm25BatchOver`) in `PipelineLlmSpec`
    * — the stream-maintained, work-dir-local indexes answer intake
    * probes byte-for-byte like the batch builds.
    */
  /** The lane's curated-zone table root: the (split, source)-
    * partitioned [[graft.lake.SnapshotTable]] the lane commits and
    * re-curation CDC feeds maintain. */
  def curatedTableRoot(workDir: String): String =
    s"$workDir/llm/curated_table"

  def llmLane(spark: SparkSession, sfDir: String, workDir: String)
      : (graft.pipeline.Curate.Report, DataFrame, DataFrame, DataFrame,
         DataFrame) = {
    import graft.functions.VectorFunctions.vec_norm
    import graft.operators.{AnnIndex, DedupIndex, InvertedIndex}

    val report = graft.pipeline.Curate.run(spark, sfDir, s"$workDir/llm")

    // Stream-bootstrapped dedup index: two arrivals, two drains of the
    // SAME maintenance stream (shared checkpoint), one index.
    val intake = s"$workDir/intake"
    val dedupRoot = s"$workDir/index/dedup"
    val docs = graft.core.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    def drain(): Unit = {
      val stream = graft.streaming.IndexMaintenance.maintainDedupIndex(
        spark.readStream.schema("doc_id LONG, text STRING").parquet(intake),
        dedupRoot)
      stream.awaitTermination()
    }
    docs.filter(col("doc_id") % 20 >= 2).write.mode("overwrite").parquet(intake)
    drain()
    docs.filter(col("doc_id") % 20 < 2).write.mode("append").parquet(intake)
    drain()
    // between-drains maintenance: fold the per-drain append files into
    // one file per (band, pfx) directory — the probes below answer
    // from the COMPACTED index, so the lane exercises the full
    // build -> drain -> compact -> probe lifecycle (probe-identity is
    // the operator-level pin; the lane pin is vs the batch queries)
    DedupIndex.compactFiles(spark, dedupRoot)
    // intake probe: are the new arrivals near-dups of anything ingested?
    val dedupHits = DedupIndex.probe(spark, dedupRoot,
        graft.queries.Dedup.bandedWithSigFromText(
          docs.filter(col("doc_id") % 20 < 2)))
      .orderBy(col("q_id"), col("c_id"))

    // ANN index: stream-bootstrapped like the other two — embeddings
    // land as intake shards, drained by the replay-safe per-batch
    // appends (AnnStreamSpec pins stream layout ≡ batch build probes)
    val annRoot = s"$workDir/index/ann"
    val vecIntake = s"$workDir/intake_vecs"
    graft.core.Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
      .write.mode("overwrite").parquet(vecIntake)
    val annStream = graft.streaming.IndexMaintenance.maintainAnnIndex(
      spark.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>, label INT")
        .parquet(vecIntake),
      annRoot)
    annStream.awaitTermination()
    AnnIndex.compactBatches(spark, annRoot) // fold the per-batch layout
    val emb = graft.core.Tables(spark, sfDir, "embeddings")
      .withColumn("norm", vec_norm(col("embedding")))
    val annHits = AnnIndex.probe(spark, annRoot,
        emb.filter(col("vec_id") < 5).select(
          col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("norm").as("q_norm")),
        nProbe = 2, k = 5)
      .orderBy(col("q_id"), col("rank"))

    // BM25 postings index: stream-owned bootstrap over the same intake
    // shards (replay-safe per-batch layout), probed with the t31 terms
    val invRoot = s"$workDir/index/inverted"
    val invStream = graft.streaming.IndexMaintenance.maintainInvertedIndex(
      spark.readStream.schema("doc_id LONG, text STRING").parquet(intake),
      invRoot)
    invStream.awaitTermination()
    InvertedIndex.compactBatches(spark, invRoot) // fold batch dirs
    val bm25Hits = InvertedIndex.probe(spark, invRoot,
      graft.queries.Search.Bm25Terms)

    // Retrieval-based decontamination from the SAME postings index
    // (round-8 verdict item 6): every held-out eval document (the d08
    // slice, doc_id % 89 == 0) queries the index with its salient terms
    // in ONE batched probe; the top hits minus the doc itself are its
    // candidate contaminated training documents. Pinned row-identical
    // to the inline Search.bm25BatchOver ranking in PipelineLlmSpec —
    // the index-served sweep provably equals the batch computation.
    val evalQueries = graft.queries.Search.decontamQueries(
      docs.filter(col("doc_id") % 89 === 0))
    val decontamHits = InvertedIndex
      .probeBatch(spark, invRoot, evalQueries, k = 5)
      .filter(col("doc_id") =!= col("query_id")) // drop the self-hit

    // Commit the curated corpus as an ATOMIC SnapshotTable version
    // BEFORE deriving loader artifacts (round-9 verdict item 3): the
    // curated zone becomes a hierarchical (split, source)-partitioned
    // CDC-maintainable table — a later re-curation applies as ONE
    // manifest commit via `CdcStream.maintainChangesAtomic` (upserts
    // and tombstones together), and the packing manifest below is
    // computed from the version just committed, so "the run that
    // produced pack_manifest" stays byte-reproducible after any number
    // of re-curation commits (SnapshotTable.read(root, v) returns
    // these exact directories forever — pinned in PipelineLlmSpec).
    val tableRoot = curatedTableRoot(workDir)
    val snapVersion = graft.lake.SnapshotTable.write(spark, tableRoot,
      spark.read.parquet(s"$workDir/llm/curated"), Seq("split", "source"))

    // 5. packing manifest over the curated train split (ctx matches
    // the t26/t28 gate so the manifest math is oracle-backed), read
    // from the snapshot version just committed
    val curatedTrain = graft.lake.SnapshotTable
      .read(spark, tableRoot, snapVersion)
      .filter(col("split") === "train")
      .select(col("doc_id"), col("source"),
        expr("CAST(size(regexp_extract_all(text, '[a-z0-9]+', 0)) AS BIGINT)")
          .as("n_tok"))
    graft.pipeline.Pack.writeManifest(curatedTrain,
      graft.queries.Corpus.PackCtx, binsPerShard = 8L,
      s"$workDir/llm/pack_manifest")

    (report, dedupHits, annHits, bm25Hits, decontamHits)
  }
  def main(args: Array[String]): Unit = {
    val workDir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-pipeline").toString)
    val dates = args.drop(1).headOption
      .map(_.split(",").toSeq)
      .getOrElse(Seq("2026-01-11", "2026-01-12"))

    val spark = graft.Session.local(
      conf = Map("spark.sql.warehouse.dir" -> s"$workDir/warehouse"))

    val raw = s"$workDir/raw"
    val cfg = IngestConfig()
    println(s"== ingest -> $raw")
    dates.foreach { d =>
      val stats = RawWriter.write(spark, Planner.plan(spark, cfg, d),
        MockFetcher(), raw, s"$workDir/quarantine")
      println(s"   $d: $stats")
    }

    println("== crawl")
    val report = Crawler.crawl(spark, raw, "raw")
    println(s"   $report")

    println("== secure (role views)")
    Rbac.createRoleViews(spark, "raw")

    println("== query per role")
    for (role <- Seq(Rbac.core, Rbac.pii)) {
      val n = QueryRunner.run(spark, role, "raw", "total",
        ReferenceQueries.totalRecords("raw"), s"$workDir/results")
        .collect()(0).getLong(0)
      println(s"   ${role.name}: total_records = $n")
    }
    println("== smoke query")
    spark.sql(ReferenceQueries.smokeFilesPerPartition("raw"))
      .show(10, truncate = false)

    println("== curated promotion")
    val curated = Crawler.promoteCurated(spark, "raw", s"$workDir/curated")
    println(s"   curated rows: ${curated.count()}")

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    println(s"== llm lane (corpus=$sfDir)")
    val (report2, dedupHits, annHits, bm25Hits, decontamHits) =
      llmLane(spark, sfDir, workDir)
    println(s"   curation: ${report2.json}")
    println(s"   dedup-index probe hits: ${dedupHits.count()}")
    println(s"   ann-index probe hits:   ${annHits.count()}")
    println(s"   bm25-index top-k rows:  ${bm25Hits.count()}")
    println(s"   retrieval-decontam hits: ${decontamHits.count()}")

    spark.stop()
  }
}
