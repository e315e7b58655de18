package graft.ops

import org.apache.spark.sql.functions._
import graft.Tables
import OpsUtil._

/** Scalar-function layer (SURVEY.md §2.10): datetime extraction, string
  * surgery, CASE chains, printf-style formatting, JSON path access, and
  * array higher-order functions — all native Catalyst expressions (the
  * reference did several of these in Python UDFs; here nothing leaves
  * whole-stage codegen).
  */
object Scalars {

  /** Datetime field extraction from the event stream
    * (reference `from_unixtime(time,"MM"/"HH"/"dd")` `:913-915`; X1/X2).
    * DuckDB dayofweek is 0=Sunday; Spark is 1=Sunday — oracle adds 1. */
  val q19DatetimeExtract: Q = (spark, dir) => {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(
        year($"ts").as("y"),
        month($"ts").as("m"),
        hour($"ts").as("h"),
        dayofweek($"ts").as("dow"))
      .agg(count(lit(1)).as("n"), dsum($"value").as("total_value"))
      .orderBy($"y", $"m", $"h", $"dow")
  }

  /** Filename-stem surgery with nested substring_index (reference
    * `:714-717`; X5) over a synthesized path, plus suffix extraction. */
  val q20Strings: Q = (spark, dir) => {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("path",
        concat(lit("data/"), $"source", lit("/"), $"doc_id".cast("string"), lit(".txt")))
      .withColumn("stem",
        substring_index(substring_index($"path", "/", -1), ".", 1))
      .withColumn("src_num", substring($"source", 4, 10).cast("int"))
      .filter($"doc_id" < 50)
      .select($"doc_id", $"path", $"stem", $"src_num")
      .orderBy($"doc_id")
  }

  /** Multi-arm CASE chain bucketing (reference result/points mapping
    * `:241-254`; X6) + conditional aggregation per bucket. */
  val q21CaseBuckets: Q = (spark, dir) => {
    import spark.implicits._
    Tables.orders(spark, dir)
      .withColumn("bucket",
        when($"o_totalprice" < 1000, "small")
          .when($"o_totalprice" < 10000, "medium")
          .when($"o_totalprice" < 50000, "large")
          .otherwise("jumbo"))
      .groupBy($"bucket")
      .agg(
        count(lit(1)).as("n"),
        dsum($"o_totalprice").as("revenue"),
        count(when($"o_orderpriority" === "1-URGENT", lit(1))).as("n_urgent"))
      .orderBy($"bucket")
  }

  /** JSON path extraction from a string column (events.props is JSON-ish;
    * FIXTURES.md gotcha) — get_json_object stays native. */
  val q22JsonProps: Q = (spark, dir) => {
    import spark.implicits._
    Tables.events(spark, dir)
      .withColumn("k", get_json_object($"props", "$.k").cast("int"))
      .groupBy(($"k" % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), dsum($"value").as("total_value"),
        max($"k").as("max_k"))
      .orderBy($"k_mod")
  }

  /** Array higher-order functions over tokenized text (reference HOF
    * `filter` `:736`, `:820-823`; X10-X12): size / filter / transform /
    * array_contains, aggregated per source with integral outputs. */
  val q23ArrayHof: Q = (spark, dir) => {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("tokens", split($"text", " "))
      .withColumn("n_tokens",
        size(filter($"tokens", t => length(t) > 0)))
      .withColumn("n_long",
        size(filter($"tokens", t => length(t) > 5)))
      .withColumn("has_spark",
        array_contains(transform($"tokens", t => upper(t)), "SPARK"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("total_tokens"),
        sum($"n_long").as("total_long_tokens"),
        count(when($"has_spark", lit(1))).as("n_spark_docs"))
      .orderBy($"source")
  }

  /** Explode → group → ordered top-k: the native rewrite of the
    * reference's driver-side Counter.most_common (`:781-794`; A13).
    * Generator (explode) + two-phase hash agg + TakeOrderedAndProject. */
  val q24TopTokens: Q = (spark, dir) => {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(explode(split($"text", " ")).as("token"))
      .filter(length($"token") > 0)
      .groupBy($"token")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"token")
      .limit(10)
  }

  val queries: Map[String, Q] = Map(
    "q19_datetime_extract" -> q19DatetimeExtract,
    "q20_strings" -> q20Strings,
    "q21_case_buckets" -> q21CaseBuckets,
    "q22_json_props" -> q22JsonProps,
    "q23_array_hof" -> q23ArrayHof,
    "q24_top_tokens" -> q24TopTokens,
  )

  val oracle: Map[String, String] = Map(
    "q19_datetime_extract" ->
      s"""SELECT CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS m,
         |  CAST(hour(ts) AS INT) AS h,
         |  CAST(dayofweek(ts) + 1 AS INT) AS dow,
         |  COUNT(*) AS n, ${dsumSql("value")} AS total_value
         |FROM events GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin,
    "q20_strings" ->
      """SELECT doc_id,
        |  'data/' || source || '/' || doc_id || '.txt' AS path,
        |  split_part(split_part('data/' || source || '/' || doc_id || '.txt',
        |    '/', -1), '.', 1) AS stem,
        |  CAST(substr(source, 4, 10) AS INT) AS src_num
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin,
    "q21_case_buckets" ->
      s"""SELECT CASE WHEN o_totalprice < 1000 THEN 'small'
         |  WHEN o_totalprice < 10000 THEN 'medium'
         |  WHEN o_totalprice < 50000 THEN 'large'
         |  ELSE 'jumbo' END AS bucket,
         |  COUNT(*) AS n,
         |  ${dsumSql("o_totalprice")} AS revenue,
         |  COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS n_urgent
         |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q22_json_props" ->
      s"""SELECT CAST(k % 10 AS INT) AS k_mod, COUNT(*) AS n,
         |  ${dsumSql("value")} AS total_value, MAX(k) AS max_k
         |FROM (SELECT CAST(json_extract_string(props, '$$.k') AS INT) AS k,
         |        value FROM events)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q23_array_hof" ->
      s"""WITH toks AS (
        |  SELECT source,
        |    ${Features.wordsSql} AS tokens
        |  FROM documents
        |)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(length(tokens)) AS BIGINT) AS total_tokens,
        |  CAST(SUM(length(list_filter(tokens, t -> length(t) > 5))) AS BIGINT)
        |    AS total_long_tokens,
        |  COUNT(CASE WHEN list_contains(list_transform(tokens, t -> upper(t)),
        |    'SPARK') THEN 1 END) AS n_spark_docs
        |FROM toks GROUP BY 1 ORDER BY 1""".stripMargin,
    "q24_top_tokens" ->
      """SELECT token, COUNT(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |WHERE length(token) > 0
        |GROUP BY 1 ORDER BY n DESC, token LIMIT 10""".stripMargin,
  )
}
