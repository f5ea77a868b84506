package graft.queries

import graft.SparkSpec
import graft.ingest._
import graft.security.Rbac

/** The reference's demo SQL through the role-aware runner (E1+I13):
  * same query, different role, different result, per-role output dirs. */
class ReferenceQueriesSpec extends SparkSpec {
  private lazy val setup: String = {
    val root = tmpDir("raw")
    for (d <- Seq("2026-01-11", "2026-01-12"))
      RawWriter.write(spark, Planner.plan(spark, IngestConfig(), d),
        MockFetcher(), root, tmpDir("q"))
    Crawler.crawl(spark, root, "raw_refq")
    Rbac.createRoleViews(spark, "raw_refq")
    "raw_refq"
  }

  test("smoke query returns 8 partitions of 10 files (2 dates x 4 endpoints)") {
    val rows = spark.sql(ReferenceQueries.smokeFilesPerPartition(setup)).collect()
    assert(rows.length == 8)
    assert(rows.forall(_.getLong(2) == 10L))
    // ORDER BY ingestion_date DESC: newest date first
    assert(rows.head.getString(1) == "2026-01-12")
  }

  test("sample rows show cardinality 5; dialect shim handles today filter") {
    val rows = spark.sql(ReferenceQueries.sampleRows(setup)).collect()
    assert(rows.length == 30)
    assert(rows.forall(_.getAs[Number]("item_count").longValue == 5L))
    // today's filter: translated pattern parses + prunes (0 rows: no data today)
    assert(spark.sql(ReferenceQueries.todaysPages(setup)).count() == 0)
  }

  test("query runner: per-role results land in per-role prefixes") {
    val out = tmpDir("results")
    val core = QueryRunner.run(spark, Rbac.core, setup, "total",
      ReferenceQueries.totalRecords(setup), out)
    val pii = QueryRunner.run(spark, Rbac.pii, setup, "total",
      ReferenceQueries.totalRecords(setup), out)
    assert(core.collect()(0).getLong(0) == 20L)
    assert(pii.collect()(0).getLong(0) == 80L)
    assert(new java.io.File(s"$out/core/total").exists())
    assert(new java.io.File(s"$out/pii/total").exists())
    // written results round-trip
    assert(spark.read.parquet(s"$out/pii/total").collect()(0).getLong(0) == 80L)
  }

  test("query runner returns the rows its role wrote, read from the sink") {
    val out = tmpDir("results_sink")
    for (role <- Seq(Rbac.core, Rbac.pii)) {
      val sink = s"$out/${role.name}/by_endpoint"
      val sql = ReferenceQueries.filesByEndpoint(setup)
      val got = QueryRunner.run(spark, role, setup, "by_endpoint", sql, out)
      // collecting the result reads the sink, not the raw zone again
      val files = got.inputFiles.map(f => new java.net.URI(f).getPath)
      assert(files.nonEmpty, "the result has no files")
      val elsewhere = files.filterNot(_.startsWith(s"$sink/"))
      assert(elsewhere.isEmpty,
        s"read outside the sink: ${elsewhere.take(3).mkString(", ")}")
      val rows = got.collect().toSeq
      assert(rows == spark.read.parquet(sink).collect().toSeq)
      assert(rows == Rbac.runAs(spark, role, setup, sql).collect().toSeq)
    }
  }

  test("query runner: a denied query raises and writes nothing") {
    val out = tmpDir("results_denied")
    intercept[org.apache.spark.sql.AnalysisException] {
      QueryRunner.run(spark, Rbac.core, setup, "sample",
        ReferenceQueries.sampleWithItems(setup), out)
    }
    assert(!new java.io.File(s"$out/core").exists())
  }

  test("string-results mode mirrors Athena's all-VarCharValue result model") {
    val out = tmpDir("results_str")
    QueryRunner.run(spark, Rbac.core, setup, "by_endpoint",
      ReferenceQueries.filesByEndpoint(setup), out, stringResults = true)
    val written = spark.read.parquet(s"$out/core/by_endpoint")
    // every cell a string, like comprehensive_rbac_demo.py:50-56 sees
    assert(written.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.StringType))
    val rows = written.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("api-a"))
    assert(rows(0).getString(1) == "20")
  }

  test("vec_dot / vec_cosine / vec_qdot are SQL-callable after registration") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
                vec_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
                vec_qdot(array(1L, -2L), array(3L, 4L)) AS q""")
      .collect()(0)
    assert(r.getDouble(0) == 11.0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    assert(r.getLong(2) == -5L)
  }
}
