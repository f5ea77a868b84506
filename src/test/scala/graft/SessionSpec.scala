package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The shared test session comes from [[Session.local]], so the suites
  * run with the same extensions and settings as every main. */
class SessionSpec extends SparkSpec {
  test("the factory's session: one partition per core, UTC") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "8")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.master == "local[8]")
  }

  test("the graft parser and functions are installed") {
    assert(spark.sessionState.sqlParser
      .isInstanceOf[graft.sql.GraftSqlParser])
    Seq("vec_dot", "vec_cosine", "vec_qdot").foreach { f =>
      assert(spark.sessionState.functionRegistry
        .functionExists(FunctionIdentifier(f)), f)
    }
    assert(spark.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .head().getDouble(0) == 11.0)
  }

  test("a second call returns the same session") {
    assert(Session.local(8) eq SparkSpec.session)
  }
}
