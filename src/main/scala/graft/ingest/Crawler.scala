package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog plane: the Glue-crawler analog (stack.py:180-193).
  *
  * Infers the payload schema from the raw zone, registers/updates an
  * external partitioned table, and recovers partitions (the MSCK REPAIR
  * path, README.md:62). Schema evolution follows the crawler's policy:
  * new columns are added (UPDATE_IN_DATABASE), removed columns are kept
  * and reported (DEPRECATE_IN_DATABASE).
  */
object Crawler {
  final case class CrawlReport(
      table: String,
      addedColumns: Seq[String],
      deprecatedColumns: Seq[String],
      partitions: Long)

  /** Table property under which deprecated columns are persisted, so the
    * DEPRECATE_IN_DATABASE outcome (stack.py:186) survives the session
    * instead of living only in one crawl's return value. */
  val DeprecatedProp = "graft.deprecated.columns"

  /** Deprecated columns recorded in the table's catalog metadata. */
  def deprecatedColumns(spark: SparkSession, table: String): Seq[String] =
    tableProps(spark, table).get(DeprecatedProp)
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)

  private[graft] def tableProps(
      spark: SparkSession, table: String): Map[String, String] =
    spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))
      .properties

  /** Merge properties into the table's catalog metadata (via the catalog
    * API, not SQL text — values need no literal escaping). */
  private[graft] def setTableProps(
      spark: SparkSession,
      table: String,
      props: Map[String, String],
      remove: Seq[String] = Nil): Unit = {
    val cat = spark.sessionState.catalog
    val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = cat.getTableMetadata(id)
    cat.alterTable(meta.copy(properties = meta.properties -- remove ++ props))
  }

  def crawl(
      spark: SparkSession,
      rawRoot: String,
      table: String): CrawlReport = {
    // Schema inference over the raw zone's lines (gzip is detected from
    // the `.json.gz` extension). Inferring from the text scan's lines runs
    // the same JsonInferSchema as `spark.read.json(rawRoot)`, but over the
    // one file listing the text read already made: the file source would
    // re-list every page it found through a second file index, and past
    // `parallelPartitionDiscovery.threshold` paths that is a Spark job
    // with one task per page. The partition columns (source,
    // ingestion_date) come from the directory layout, not the payload.
    import spark.implicits._
    val lines = spark.read.text(rawRoot).select("value").as[String]
    val payloadCols = spark.read.json(lines).schema
      .filterNot(f => Seq("source", "ingestion_date").contains(f.name))
    require(payloadCols.nonEmpty,
      s"crawl: no JSON pages under $rawRoot to infer a schema from")

    val exists = spark.catalog.tableExists(table)
    var added = Seq.empty[String]
    var deprecated = Seq.empty[String]
    if (!exists) {
      val colsDdl = payloadCols
        .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      spark.sql(
        s"""CREATE TABLE $table ($colsDdl, source STRING, ingestion_date STRING)
            USING JSON
            PARTITIONED BY (source, ingestion_date)
            LOCATION '$rawRoot'""")
    } else {
      val existing = spark.table(table).schema.map(_.name).toSet
      val inferredNames = payloadCols.map(_.name).toSet
      added = payloadCols.map(_.name).filterNot(existing)
      deprecated = spark.table(table).schema.map(_.name)
        .filterNot(n => inferredNames(n) || n == "source" || n == "ingestion_date")
      if (added.nonEmpty) {
        val ddl = payloadCols.filter(f => added.contains(f.name))
          .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
        spark.sql(s"ALTER TABLE $table ADD COLUMNS ($ddl)")
      }
    }
    spark.sql(s"MSCK REPAIR TABLE $table")
    // DEPRECATE_IN_DATABASE: the set of currently-deprecated columns is
    // part of the table's durable metadata, not just this crawl's report;
    // a column that reappears in the data is live again.
    val currentCols = payloadCols.map(_.name).toSet
    val allDeprecated = (deprecatedColumns(spark, table) ++ deprecated)
      .distinct.filterNot(currentCols)
    if (allDeprecated.nonEmpty)
      setTableProps(spark, table,
        Map(DeprecatedProp -> allDeprecated.mkString(",")))
    else if (tableProps(spark, table).contains(DeprecatedProp))
      setTableProps(spark, table, Map.empty, remove = Seq(DeprecatedProp))
    // the catalog already holds the partitions MSCK REPAIR registered:
    // count them there instead of running a job over SHOW PARTITIONS rows
    val partitions = spark.sessionState.catalog.listPartitions(
      spark.sessionState.sqlParser.parseTableIdentifier(table)).size.toLong
    CrawlReport(table, added, deprecated, partitions)
  }

  /** Curated promotion (README.md:162,247): explicit schema, items
    * exploded to one row per item, columnar parquet. */
  def promoteCurated(
      spark: SparkSession,
      table: String,
      curatedRoot: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val curated = spark.table(table)
      .select(
        col("source"), col("ingestion_date"), col("page"),
        col("fetched_at"), explode(col("items")).as("item"))
      .select(
        col("source"), col("ingestion_date"), col("page"), col("fetched_at"),
        col("item.id").as("item_id"), col("item.value").as("item_value"))
    curated.write.mode("overwrite")
      .partitionBy("source", "ingestion_date")
      .parquet(curatedRoot)
    spark.read.parquet(curatedRoot)
  }
}
