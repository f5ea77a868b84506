package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one local SparkSession per suite (lazy, reused). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(8, Map(
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
}
