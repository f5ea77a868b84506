package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.security.Rbac
import graft.sql.Dialect

/** The reference's own demo SQL, verbatim modulo dialect, as named
  * constants (SURVEY §2a). These run against the crawled raw table
  * through [[QueryRunner]] under a role context.
  *
  * Sources: /root/reference/README.md:74-99 (smoke queries),
  * rbac-demo/comprehensive_rbac_demo.py:116,128,140,152 (RBAC set).
  */
object ReferenceQueries {
  /** README.md:74-81 — files per partition. */
  def smokeFilesPerPartition(table: String): String = s"""
    SELECT source, ingestion_date, COUNT(*) AS files
    FROM $table
    GROUP BY 1, 2
    ORDER BY ingestion_date DESC, source
    LIMIT 20"""

  /** README.md:88-99 — sample rows with array cardinality; the Presto
    * date_format filter goes through the dialect shim. */
  def sampleRows(table: String): String = Dialect.translate(s"""
    SELECT endpoint, date, page, fetched_at, cardinality(items) AS item_count
    FROM $table
    ORDER BY source, page
    LIMIT 30""")

  /** README.md:97 — partition-pruned "today" filter (Presto pattern). */
  def todaysPages(table: String): String = Dialect.translate(s"""
    SELECT source, page, fetched_at
    FROM $table
    WHERE ingestion_date = date_format(current_date, '%Y-%m-%d')
    ORDER BY source, page""")

  /** comprehensive_rbac_demo.py:116 — RBAC test 1. */
  def filesByEndpoint(table: String): String = s"""
    SELECT endpoint, COUNT(*) AS files FROM $table
    GROUP BY endpoint ORDER BY endpoint"""

  /** comprehensive_rbac_demo.py:140 — RBAC test 3. */
  def totalRecords(table: String): String =
    s"SELECT COUNT(*) AS total_records FROM $table"

  /** comprehensive_rbac_demo.py:128 — RBAC test 2 (touches `items`,
    * fails for the core role). */
  def sampleWithItems(table: String): String = s"""
    SELECT endpoint, page, cardinality(items) AS item_count
    FROM $table ORDER BY endpoint, page LIMIT 3"""
}

/** E1 analog (SURVEY §3): execute SQL under a role, results to the
  * role's own output prefix (the per-role Athena workgroup sink, I13). */
object QueryRunner {
  /** Runs `sql` as `role`, writes the result to
    * `<outRoot>/<role>/<queryName>` and returns the rows written, read
    * back from that sink — as Athena's GetQueryResults serves the
    * workgroup's output location. Returning the secured query instead
    * would scan the raw zone a second time on every collect, and could
    * return rows other than the ones written. */
  def run(
      spark: SparkSession,
      role: Rbac.Role,
      table: String,
      queryName: String,
      sql: String,
      outRoot: String,
      stringResults: Boolean = false): DataFrame = {
    val secured = Rbac.runAs(spark, role, table, sql)
    val df = if (stringResults) asStrings(secured) else secured
    val sink = s"$outRoot/${role.name}/$queryName"
    df.coalesce(1).write.mode("overwrite").parquet(sink)
    // the schema written is known: reading with it skips a footer job
    spark.read.schema(df.schema).parquet(sink)
  }

  /** Athena result-model parity mode: the reference reads results through
    * the GetQueryResults API, where EVERY cell is a `VarCharValue`
    * (rbac-demo/comprehensive_rbac_demo.py:50-56 builds rows exclusively
    * from `datum.get("VarCharValue")`). With the flag on, the sink casts
    * each column to its string form so a consumer of the reference's
    * result files sees the same all-string schema. Default off: the typed
    * parquet sink is strictly more useful and SURVEY §1 deems it the
    * primary mode. */
  private[queries] def asStrings(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.select(df.columns.map(c => col(c).cast("string").as(c)): _*)
  }
}
