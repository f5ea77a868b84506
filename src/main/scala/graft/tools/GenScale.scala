package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic sf1-SHAPED data generator (round-10 verdict item 3):
  * `/root/testdata` tops out at sf0.1, so every decade claim rested on
  * sf0.01 → sf0.1. This main writes a `factor`× (default 10×) scale-up
  * of the sf0.1 SHAPES — same schemas, same value domains, same
  * source/lang/flag mixes, same join-key fan-outs (≈4 lineitems per
  * order, users scaled with events, dims scaled with facts), the same
  * 31-word document vocabulary (so the BM25 term constants exist), and
  * a ~2% near-dup injection (every 50th document mutates its
  * predecessor) so the dedup lanes have real work.
  *
  * It is SHAPE-matched, not byte-matched: the driver's seed-42 RNG is
  * not public, so values come from xxhash64 streams instead. That is
  * exactly what the second scaling decade needs — runtime growth is a
  * function of row counts, key cardinalities, and distribution shapes,
  * all preserved — and SCALING.md labels the decade accordingly.
  * Correctness stays anchored at the driver SFs (the DuckDB gate);
  * nothing here feeds the oracle.
  *
  * Usage: GenScale <outDir> [factor]  (writes <outDir>/<table>.parquet)
  */
object GenScale {
  /** xxhash64-derived uniform in [0, n) from (id, salt) — one value
    * stream per salt, deterministic across runs and partitionings. */
  private def h(idCol: org.apache.spark.sql.Column, salt: Int, n: Long) =
    pmod(xxhash64(idCol, lit(salt)), lit(n))

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: GenScale <outDir> [factor]")
    val out = args(0)
    val factor = if (args.length > 1) args(1).toInt else 10
    val spark = graft.Session.local()
    val base = "/root/testdata/sf0.1"

    def write(df: DataFrame, name: String, parts: Int): Unit = {
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
      println(s"[genscale] $name done")
    }

    // small dims do not scale in TPC-H: copy verbatim
    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$base/$t.parquet")
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$t.parquet")
    }

    val vocab = Seq(
      "a", "agg", "batch", "big", "column", "customer", "data", "dup",
      "fast", "filter", "group", "hash", "join", "key", "line", "merge",
      "order", "part", "query", "row", "scan", "slow", "small", "sort",
      "spark", "stream", "table", "the", "value", "vector", "window")
    val vocabArr = array(vocab.map(lit): _*)

    // documents: 5k x factor (sf0.1 carries 5,000 docs); 20 sources,
    // 5 langs (en-heavy), word counts 8..110 (the sf0.1 44..577-char
    // band), every 50th doc a one-token mutation of its predecessor
    // (near-dup injection at the corpus's own ~1% pair rate)
    val nDocs = 5000L * factor
    val docs = spark.range(nDocs)
      .withColumn("base_id",
        when(col("id") % 50 === 49, col("id") - 1).otherwise(col("id")))
      .withColumn("vocab", vocabArr)
      .withColumn("n_words", (lit(8) + h(col("base_id"), 1, 103)).cast("int"))
      .withColumn("words", expr(
        "transform(sequence(1, n_words), " +
          "i -> element_at(vocab, " +
          "CAST(pmod(xxhash64(base_id, CAST(i AS BIGINT), 11), 31) + 1 AS INT)))"))
      .select(col("id").as("doc_id"),
        when(col("id") % 50 === 49,
          concat_ws(" ", concat(col("words"), array(lit("merge")))))
          .otherwise(concat_ws(" ", col("words"))).as("text"),
        element_at(array(lit("en"), lit("en"), lit("zh"), lit("es"),
          lit("fr"), lit("de"), lit("en")),
          (h(col("id"), 2, 7) + 1).cast("int")).as("lang"),
        concat(lit("src"), h(col("id"), 3, 20)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    write(docs, "documents", (8 * factor / 10) max 4)

    // embeddings: 2k x factor, 64-dim float vectors, 10 labels
    val emb = spark.range(2000L * factor)
      .select(col("id").as("vec_id"),
        expr("transform(sequence(0, 63), " +
          "i -> CAST((pmod(xxhash64(id, CAST(i AS BIGINT), 17), 2001) - 1000) " +
          "/ 1000.0 AS FLOAT))").as("embedding"),
        h(col("id"), 4, 10).cast("int").as("label"))
    write(emb, "embeddings", 4)

    // events: 100k x factor over the same 30-day window (10x density),
    // users scale with events, 5 uniform types, exp-ish values
    val nEvents = 100000L * factor
    val epoch2024 = 1704067200L // 2024-01-01 UTC
    val events = spark.range(nEvents)
      .select(col("id").as("event_id"),
        to_timestamp(
          lit(epoch2024) + col("id") * (30.0 * 86400 / nEvents) +
            h(col("id"), 5, 1000000).cast("double") / 1e6).as("ts"),
        h(col("id"), 6, 1500L * factor).as("user_id"),
        element_at(array(lit("signup"), lit("click"), lit("error"),
          lit("view"), lit("purchase")),
          (h(col("id"), 7, 5) + 1).cast("int")).as("event_type"),
        round(-log(
          (h(col("id"), 8, 100000).cast("double") + 1.0) / 100001.0) * 50.0,
          2).as("value"),
        concat(lit("{\"k\": "), h(col("id"), 9, 100), lit("}")).as("props"))
    write(events, "events", (8 * factor / 10) max 4)

    // orders: 150k x factor; custkeys over the scaled customer table
    val nOrders = 150000L * factor
    val epoch1995 = 788918400L // 1995-01-01 UTC
    val orders = spark.range(nOrders)
      .select(col("id").as("o_orderkey"),
        h(col("id"), 10, 15000L * factor).as("o_custkey"),
        element_at(array(lit("F"), lit("O"), lit("P")),
          (h(col("id"), 11, 3) + 1).cast("int")).as("o_orderstatus"),
        round(lit(1000.0) + h(col("id"), 12, 49900000).cast("double") / 100.0,
          2).as("o_totalprice"),
        to_timestamp(lit(epoch1995) +
          h(col("id"), 13, 2400) * 86400L).as("o_orderdate"),
        element_at(array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"),
          lit("4-NOT SPECIFIED"), lit("5-LOW")),
          (h(col("id"), 14, 5) + 1).cast("int")).as("o_orderpriority"))
    write(orders, "orders", (8 * factor / 10) max 4)

    // lineitem: 600k x factor, ~4 lines per order, keys over the
    // scaled part/supplier tables
    val nLines = 600000L * factor
    val lineitem = spark.range(nLines)
      .select((col("id") / 4).cast("long").as("l_orderkey"),
        h(col("id"), 15, 20000L * factor).as("l_partkey"),
        h(col("id"), 16, 1000L * factor).as("l_suppkey"),
        (col("id") % 4 + 1).cast("int").as("l_linenumber"),
        (h(col("id"), 17, 50) + 1).cast("double").as("l_quantity"),
        round(lit(900.0) + h(col("id"), 18, 10410000).cast("double") / 100.0,
          2).as("l_extendedprice"),
        (h(col("id"), 19, 11).cast("double") / 100.0).as("l_discount"),
        (h(col("id"), 20, 9).cast("double") / 100.0).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (h(col("id"), 21, 3) + 1).cast("int")).as("l_returnflag"),
        element_at(array(lit("O"), lit("F")),
          (h(col("id"), 22, 2) + 1).cast("int")).as("l_linestatus"),
        to_timestamp(lit(epoch1995) + lit(86400L) +
          h(col("id"), 23, 2500) * 86400L).as("l_shipdate"))
    write(lineitem, "lineitem", (16 * factor / 10) max 8)

    val customer = spark.range(15000L * factor)
      .select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        h(col("id"), 24, 25).cast("int").as("c_nationkey"),
        round(h(col("id"), 25, 1100000).cast("double") / 100.0 - 1000.0,
          2).as("c_acctbal"),
        element_at(array(lit("AUTOMOBILE"), lit("BUILDING"),
          lit("FURNITURE"), lit("HOUSEHOLD"), lit("MACHINERY")),
          (h(col("id"), 26, 5) + 1).cast("int")).as("c_mktsegment"))
    write(customer, "customer", 4)

    val supplier = spark.range(1000L * factor)
      .select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        h(col("id"), 27, 25).cast("int").as("s_nationkey"),
        round(h(col("id"), 28, 1100000).cast("double") / 100.0 - 1000.0,
          2).as("s_acctbal"))
    write(supplier, "supplier", 2)

    val adjectives = array(lit("large"), lit("hot"), lit("blue"),
      lit("small"), lit("dark"), lit("light"), lit("round"), lit("flat"))
    val nouns = array(lit("ring"), lit("bolt"), lit("plate"), lit("rod"),
      lit("gear"), lit("pin"), lit("cap"), lit("nut"))
    val part = spark.range(20000L * factor)
      .select(col("id").as("p_partkey"),
        concat_ws(" ",
          element_at(adjectives, (h(col("id"), 29, 8) + 1).cast("int")),
          element_at(nouns, (h(col("id"), 30, 8) + 1).cast("int")))
          .as("p_name"),
        concat(lit("Brand#"), h(col("id"), 31, 25) + 1).as("p_brand"),
        element_at(array(lit("ECONOMY"), lit("SMALL"), lit("PROMO"),
          lit("MEDIUM"), lit("LARGE"), lit("STANDARD")),
          (h(col("id"), 32, 6) + 1).cast("int")).as("p_type"),
        (h(col("id"), 33, 50) + 1).cast("int").as("p_size"),
        round(lit(900.0) + h(col("id"), 34, 10000).cast("double") / 10.0,
          1).as("p_retailprice"))
    write(part, "part", 2)

    println(s"[genscale] complete: $out at ${factor}x sf0.1")
    spark.stop()
  }
}
