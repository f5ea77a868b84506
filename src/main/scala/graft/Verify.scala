package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    val errors = Seq.newBuilder[(String, String)]
    // Iteration aid (driver never sets this): restrict to named queries.
    // oracle_sql.json is subset to match so check.py's completeness rule
    // ("every oracle entry must have an output dir") stays consistent.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val picked = only.fold(SparkEntry.queries)(ns =>
      SparkEntry.queries.view.filterKeys(ns).toMap)
    picked.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // A broken query must be a LOUD red row in the compare, not a
        // silently absent one (round 6 lost 9 queries from the driver
        // artifact this way — the gate shrank instead of failing).
        // Write a one-row error marker in the query's slot: its schema
        // can never match the oracle, so the compare reports a fail row
        // naming the query.
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors += name -> s"${e.getClass.getSimpleName}: ${e.getMessage}"
        try {
          import spark.implicits._
          Seq(s"QUERY FAILED: ${e.getClass.getSimpleName}")
            .toDF("graft_query_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
      // drop this query's intra-query cache() blocks before the next one
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = only.fold(SparkEntry.oracleSql)(ns =>
      SparkEntry.oracleSql.view.filterKeys(ns).toMap)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.result()
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    if (errors.result().nonEmpty)
      System.err.println(
        s"[verify] ${errors.result().size} queries FAILED — see _errors.json")
    spark.stop()
  }
}
