package graft.tools

import org.apache.spark.sql.functions._

/** Maintenance-path + Zipf-retrieval decade measurements (round-12
  * verdict items 2 and 5): the costs that make the lakehouse claims
  * real, measured per SF so SCALING.md can show they do NOT grow with
  * corpus size.
  *
  * Per sfDir argument, prints one JSON line with:
  *  - `zipf_build`      cold tokenize-once build of the Zipf corpus
  *  - `zipf_served`     batched BM25 from the tokenized corpus (med/3)
  *  - `zipf_inline`     same workload re-tokenizing the stored text
  *                      (med/3) — served < inline is what the
  *                      tokenize-once layer buys once the vocabulary
  *                      is realistic (the t47 31-word corpus could not
  *                      show it; the ~32k-term Zipf corpus can)
  *  - `tok_refresh_noop`   TokenizedCorpus.refresh when already
  *                         current (pure metadata)
  *  - `tok_refresh_1p`     refresh after a single-partition CDC batch
  *                         (med/3, fresh batch each run)
  *  - `cdc_feed_step`      ChangeFeed.between(v-1, v) after a
  *                         single-partition commit (med/3) — the
  *                         consumer-side cost of following a governed
  *                         table, O(touched bytes)
  *  - `mv_refresh_1p`      MaterializedAgg.refresh after a
  *                         single-partition upsert (med/3)
  *  - `optimize_plan`      SnapshotTable.optimize when every partition
  *                         is already at target (planning from the
  *                         manifest byte census, no data moved)
  *  - `meta_agg`/`scan_agg` (round 15) the SAME COUNT/MIN/MAX +
  *                         GROUP BY partition aggregate answered from
  *                         the manifest (MetadataAggregate; plan
  *                         required manifest-only) vs executed as a
  *                         data scan — the manifest row should stay
  *                         decade-flat while the scan grows
  *  - `dv_delete_1row`/`cow_delete_1row` (round 18) one-row delete by
  *                         doc_id equality: merge-on-read deletion
  *                         vector (sketch-pruned position scan +
  *                         O(deleted rows) commit; should stay
  *                         decade-flat) vs the copy-on-write rewrite
  *                         of the touched partition (grows with it)
  *
  * Usage: graft.tools.MaintBench <sfDir> [<sfDir> ...]
  */
object MaintBench {
  private def time[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  private def med3(body: => Unit): Double =
    (1 to 3).map(_ => time(body)._1).sorted.apply(1)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: MaintBench <sfDir> [<sfDir> ...]")
    val spark = graft.Session.local()
    import graft.lake.{MaterializedAgg, SnapshotTable}
    import graft.lake.MaterializedAgg.MvSpec
    import graft.operators.TokenizedCorpus
    import graft.core.Tables
    import graft.queries.Search

    args.foreach { sfDir =>
      val sf = new java.io.File(sfDir).getName

      // --- Zipf corpus: cold build, then served vs inline -------------
      // OWN "_maint" copy of the corpus: the CDC upserts below mutate
      // the base, and the t50 GATE's copy must stay the pure
      // derivation the DuckDB oracle re-derives (round-14 bug: this
      // bench shared the gate roots and t50 hash-mismatched at sf0.1)
      val zipfBase = graft.core.IndexRoot.of(sfDir, "documents.parquet",
        "graft_zipf_maint_base_v1")
      val zipfTok = graft.core.IndexRoot.of(sfDir, "documents.parquet",
        "graft_zipf_maint_tok_v1")
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(zipfBase))
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(zipfTok))
      val (buildS, _) = time { Search.zipfTokRoot(spark, sfDir, "_maint") }
      val queries = Search.zipfQueriesDf(spark)
      // warmup both shapes once, then med/3
      Search.bm25BatchFromTokenized(spark, zipfTok, queries,
        Search.Bm25BatchK).count()
      val servedS = med3 {
        Search.bm25BatchFromTokenized(spark, zipfTok, queries,
          Search.Bm25BatchK).count(); ()
      }
      def inlineOnce(): Unit = {
        Search.bm25BatchOver(SnapshotTable.read(spark, zipfBase),
          queries, Search.Bm25BatchK).count()
        spark.catalog.clearCache() // bm25BatchOver caches the tokenize
      }
      inlineOnce()
      val inlineS = med3 { inlineOnce() }

      // --- tokenized refresh: no-op, then 1-partition CDC -------------
      val (noopS, _) = time {
        TokenizedCorpus.refresh(spark, zipfBase, zipfTok, Seq("src"))
      }
      var batchId = 0L
      def onePartitionBatch(): Unit = {
        batchId += 1
        // rewrite ONE doc in ONE partition (src p0): new text, new dirs
        // for exactly that partition
        val d = spark.range(1).select(
          lit(8L * batchId).as("doc_id"),
          concat(lit("w128 w129 refreshed batch "),
            lit(batchId).cast("string")).as("text"),
          lit("p0").as("src"))
        SnapshotTable.upsert(spark, zipfBase, d, "doc_id", Seq("src"))
      }
      val tokRefresh1p = (1 to 3).map { _ =>
        onePartitionBatch()
        time {
          TokenizedCorpus.refresh(spark, zipfBase, zipfTok, Seq("src"))
        }._1
      }.sorted.apply(1)

      // --- change-feed step after a 1-partition commit -----------------
      // the consumer-side cost of following a governed table: deriving
      // one version step's changes reads the touched partition at the
      // two adjacent versions (manifest-diff names it; EXCEPT ALL both
      // ways) — O(touched bytes), untouched partitions never listed
      val feedStep = (1 to 3).map { _ =>
        onePartitionBatch()
        val latest = graft.lake.SnapshotTable.latest(spark, zipfBase).get
        time {
          graft.lake.ChangeFeed.between(spark, zipfBase, latest - 1, latest)
            .count()
        }._1
      }.sorted.apply(1)

      // --- MaterializedAgg refresh after a 1-partition upsert ---------
      val mvBase = graft.core.IndexRoot.of(sfDir, "documents.parquet",
        "graft_maint_mvbase_v1")
      val mvRoot = graft.core.IndexRoot.of(sfDir, "documents.parquet",
        "graft_maint_mvview_v1")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(mvBase))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(mvRoot))
      val docs = Tables(spark, sfDir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("source"))
      SnapshotTable.write(spark, mvBase, docs, Seq("source"))
      val spec = MvSpec(Seq("source"),
        sums = Seq("total_chars" -> "n_chars"), countName = "n_docs",
        mins = Seq("min_chars" -> "n_chars"),
        maxs = Seq("max_chars" -> "n_chars"))
      MaterializedAgg.init(spark, mvBase, mvRoot, spec, nBuckets = 8)
      val srcs = docs.select(col("source")).distinct()
        .limit(1).collect().map(_.getString(0))
      val mvRefresh1p = (1 to 3).map { i =>
        SnapshotTable.upsert(spark, mvBase,
          spark.range(1).select(
            lit(1000000000L + i).as("doc_id"), lit("en").as("lang"),
            lit(i * 100L).as("n_chars"), lit(srcs.head).as("source")),
          "doc_id", Seq("source"))
        time { MaterializedAgg.refresh(spark, mvBase, mvRoot, spec, 8) }._1
      }.sorted.apply(1)

      // --- OPTIMIZE planning cost (census-only, nothing to move) ------
      SnapshotTable.optimize(spark, mvBase, Seq("source"))
      val (optPlanS, _) = time {
        SnapshotTable.optimize(spark, mvBase, Seq("source"))
      }

      // --- metadata-only aggregate vs the same aggregate as a scan ----
      // (round 15): COUNT/MIN/MAX + GROUP BY partition answered from
      // the manifest ([[graft.lake.MetadataAggregate]]) must stay flat
      // across decades while the scan grows with the data — measured
      // side by side on the same table. The session must carry
      // GraftSqlExtensions for the rewrite to exist.
      val metaRoot = graft.core.IndexRoot.of(sfDir, "documents.parquet",
        "graft_maint_meta_v1")
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(metaRoot))
      SnapshotTable.write(spark, metaRoot, docs, Seq("source"),
        statsFor = Seq("n_chars"))
      graft.lake.LakeCatalog.install(spark)
      graft.lake.LakeCatalog.register(spark, "maint_meta", metaRoot)
      def metaQ() = spark.sql(
        "SELECT source, COUNT(*) AS n, MIN(n_chars) AS mn, " +
          "MAX(n_chars) AS mx FROM lake.maint_meta GROUP BY source")
      // the number is only honest if the plan IS manifest-only
      require(metaQ().queryExecution.optimizedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => s
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2Relation => r
      }.isEmpty, "meta_agg row would measure a data scan")
      metaQ().count() // warm
      val metaAggS = med3 { metaQ().count(); () }
      def scanAgg(): Unit = {
        docs.groupBy(col("source"))
          .agg(count(lit(1)).as("n"), min(col("n_chars")).as("mn"),
            max(col("n_chars")).as("mx")).count()
        ()
      }
      scanAgg() // warm
      val scanAggS = med3 { scanAgg() }

      // --- ANN quantizer health: imbalance probe + re-cluster --------
      // the IVF maintenance story (round-14 verdict item 7): imbalance
      // is the cheap watch metric (partition-dir census, no vector
      // read); recluster is the O(corpus) repair — measured per decade
      // so the repair cost's growth is on record next to the metric's
      import graft.operators.AnnIndex
      val annRoot = graft.core.IndexRoot.of(sfDir, "embeddings.parquet",
        "graft_maint_ann_v1")
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(annRoot))
      AnnIndex.buildIfMissing(spark, sfDir, annRoot)
      val dims = Tables(spark, sfDir, "embeddings")
        .select(size(col("embedding"))).first().getInt(0)
      AnnIndex.append(spark, annRoot,
        spark.range(2000000L, 2000400L).select(
          col("id").as("vec_id"),
          expr(s"transform(sequence(1, $dims), " +
            "i -> 7.5 + cast(id % 3 as double) / 1000.0)")
            .cast("array<float>").as("embedding"),
          lit(0).as("label")))
      val (annImbalS, annImbal) =
        time { AnnIndex.imbalance(spark, annRoot) }
      val (annReclusterS, _) =
        time { AnnIndex.recluster(spark, annRoot) }
      val annImbalAfter = AnnIndex.imbalance(spark, annRoot)

      // --- point lookup vs scan (round 16): equality probe on a
      // high-cardinality non-clustered column through the per-file
      // Bloom sketches — the probe should stay decade-flat (it opens
      // ~1 admitted file) while the scan grows with the data
      val lkRoot = graft.core.IndexRoot.of(sfDir, "documents.parquet",
        "graft_maint_lookup_v1")
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(lkRoot))
      SnapshotTable.write(spark, lkRoot, docs, Seq("source"),
        filesPerPartition = 4, lookupFor = Seq("doc_id"))
      val probeKey = docs.select(max(col("doc_id"))).first().getLong(0) / 2
      def pointOnce(): Unit = {
        SnapshotTable.readPoint(spark, lkRoot, "doc_id", probeKey).count()
        ()
      }
      pointOnce() // warm
      val pointS = med3 { pointOnce() }
      def scanOnce(): Unit = {
        SnapshotTable.read(spark, lkRoot)
          .filter(col("doc_id") === probeKey).count()
        ()
      }
      scanOnce() // warm
      val pointScanS = med3 { scanOnce() }

      // --- merge-on-read vs copy-on-write one-row delete (round 18) --
      // the GDPR shape: delete one row by doc_id equality. The dv
      // delete's position scan opens only sketch-admitted files and
      // its commit writes O(deleted rows) manifest bytes, so the row
      // should stay decade-flat; the copy-on-write twin re-reads and
      // rewrites the whole touched partition and grows with it.
      // Distinct existing keys per iteration so every run really
      // deletes (a no-match delete commits nothing).
      val dvDelS = (1 to 3).map { i =>
        time { SnapshotTable.deleteRowsWhere(spark, lkRoot,
          col("doc_id") === (probeKey - i)) }._1
      }.sorted.apply(1)
      val cowDelS = (1 to 3).map { i =>
        time { SnapshotTable.deleteWhere(spark, lkRoot,
          col("doc_id") === (probeKey + i), Seq("source")) }._1
      }.sorted.apply(1)

      def f(v: Double) =
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      println(
        s"""{"metric":"maint","sf":"$sf","zipf_build":${f(buildS)},""" +
        s""""zipf_served":${f(servedS)},"zipf_inline":${f(inlineS)},""" +
        s""""tok_refresh_noop":${f(noopS)},""" +
        s""""tok_refresh_1p":${f(tokRefresh1p)},""" +
        s""""cdc_feed_step":${f(feedStep)},""" +
        s""""mv_refresh_1p":${f(mvRefresh1p)},""" +
        s""""optimize_plan":${f(optPlanS)},""" +
        s""""meta_agg":${f(metaAggS)},"scan_agg":${f(scanAggS)},""" +
        s""""point_lookup":${f(pointS)},"point_scan":${f(pointScanS)},""" +
        s""""dv_delete_1row":${f(dvDelS)},""" +
        s""""cow_delete_1row":${f(cowDelS)},""" +
        s""""ann_imbalance_probe":${f(annImbalS)},""" +
        s""""ann_imbalance":${f(annImbal)},""" +
        s""""ann_recluster":${f(annReclusterS)},""" +
        s""""ann_imbalance_after":${f(annImbalAfter)}}""")
    }
    spark.stop()
  }
}
