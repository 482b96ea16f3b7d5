package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QFn
import graft.tables.Tables

/** SURVEY.md §2.2 (projections/filters) + §2.8 (scalar functions).
  *
  * The reference's transform surface: string→timestamp cast + year/month
  * derivation in the funnel PySpark job (README.md:87,124,166), the
  * "last 3 months" incremental WHERE (README.md:60,147), event-type filters
  * for funnel analysis (README.md:102), invalid-char cleaning
  * (README.md:35,146), filename-parameterized logic (README.md:90,168).
  *
  * Determinism for the DuckDB oracle: the as-of date is computed IN-PLAN
  * (scalar aggregate + broadcast cross join — no driver collect), dates are
  * emitted as formatted strings, and derived ints are cast identically on
  * both sides (SURVEY.md §7.3).
  */
object Transforms {

  /** In-plan "as of" anchor = max(o_orderdate): avoids current_date
    * (non-deterministic) and avoids a driver-side collect. The single-row
    * aggregate is broadcast — at 100 TB this is one extra reduction, not a
    * shuffle of the fact table. */
  private def withAsOf(orders: DataFrame): DataFrame =
    orders.crossJoin(broadcast(orders.agg(max(col("o_orderdate")).as("asof"))))

  /** Derive year/month/day from the event timestamp (README.md:87,124,166). */
  val projectDeriveYearMonth: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "events").select(
      col("event_id"),
      year(col("ts")).as("y"),
      month(col("ts")).as("m"),
      dayofmonth(col("ts")).as("d"))
      .orderBy("event_id")

  /** Incremental-extract WHERE: keep rows from the last 3 months
    * (README.md:60,147). */
  val filterLast3Months: QFn = (spark, sfDir) =>
    withAsOf(Tables(spark, sfDir, "orders"))
      .filter(col("o_orderdate") >= add_months(col("asof"), -3))
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        col("o_totalprice"))
      .orderBy("o_orderkey")

  /** Funnel-stage row filter (README.md:102 view/add_to_cart/...). */
  val filterEventType: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "events")
      .filter(col("event_type").isin("view", "click"))
      .select("event_id", "event_type", "user_id")
      .orderBy("event_id")

  /** String→timestamp rename/cast round trip (README.md:124 "column
    * 'timestamp' was in string format, so converted into timestamp"). */
  val projectRenameCast: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "events")
      .select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"))
      .select(col("event_id"), col("ts_str"),
        date_format(to_timestamp(col("ts_str"), "yyyy-MM-dd HH:mm:ss"),
          "yyyy-MM").as("ym"))
      .orderBy("event_id")

  /** to_timestamp with an explicit pattern → epoch seconds (§2.8). */
  val fnToTimestamp: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "events")
      .select(col("event_id"),
        unix_timestamp(
          to_timestamp(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"),
            "yyyy-MM-dd HH:mm:ss")).as("epoch_s"))
      .orderBy("event_id")

  /** Date-part extraction family (README.md:87,124,166). */
  val fnYearMonth: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "orders").select(
      col("o_orderkey"),
      year(col("o_orderdate")).as("y"),
      quarter(col("o_orderdate")).as("q"),
      month(col("o_orderdate")).as("m"),
      dayofmonth(col("o_orderdate")).as("d"))
      .orderBy("o_orderkey")

  /** Date arithmetic in a WHERE: [asof-6mo, asof-30d) window
    * (README.md:60,147 family). */
  val fnWhereDateArith: QFn = (spark, sfDir) =>
    withAsOf(Tables(spark, sfDir, "orders"))
      .filter(col("o_orderdate") >= add_months(col("asof"), -6) &&
        col("o_orderdate") < date_sub(col("asof"), 30))
      .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("y", "m")

  /** Invalid-char sanitization — Redshift acceptinvchars semantics: every
    * non-printable-ASCII char becomes '?' (README.md:35,146). */
  val fnCleanInvalidChars: QFn = (spark, sfDir) => {
    val cleaned = regexp_replace(concat(col("text"), lit("é中")),
      "[^\\x20-\\x7E]", "?")
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        length(cleaned).as("clean_len"),
        substring(cleaned, 1, 20).as("clean_head"),
        col("n_chars"))
      .orderBy("doc_id")
  }

  /** Filename-parameterized logic: input_file_name() + regexp_extract
    * (README.md:90,168 "ETL on ALL the files ... dynamic code"). */
  val fnFilenameParam: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "events")
      .withColumn("fname",
        regexp_extract(input_file_name(), "([a-z]+)\\.parquet", 1))
      .groupBy("fname")
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("fname")

  /** JSON property access on the events.props column (§2.8 north-star;
    * testdata props = {"k": N}). */
  val fnJsonGet: QFn = (spark, sfDir) =>
    Tables(spark, sfDir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .orderBy("event_id")

  /** ANSI-safe ingestion of dirty numerics: Spark 4 runs ANSI mode, where a
    * plain CAST on a malformed value fails the JOB — try_cast is the
    * row-level absorb that keeps a 100 TB load from dying on one bad cell
    * (the engine-level form of the reference's acceptinvchars tolerance,
    * README.md:35,146). Every 7th row is made unparseable; the query
    * surfaces parsed values and a rejected flag per row. */
  val fnTryCastRobust: QFn = (spark, sfDir) => {
    val raw = get_json_object(col("props"), "$.k")
    val dirty = when(pmod(col("event_id"), lit(7)) === 0, concat(raw, lit("x")))
      .otherwise(raw)
    Tables(spark, sfDir, "events")
      .select(col("event_id"), dirty.as("raw"))
      .select(col("event_id"), col("raw"),
        expr("try_cast(raw AS int)").as("parsed"))
      .withColumn("rejected", col("parsed").isNull)
      .orderBy("event_id")
  }

  /** Contiguous global row numbering WITHOUT the single-partition trap —
    * the surrogate-key assignment every warehouse load needs. The obvious
    * `row_number() OVER (ORDER BY key)` funnels the whole table through
    * one task; `monotonically_increasing_id` is parallel but leaves
    * gaps. The scale shape: range-partition + sort on the key, pin the
    * layout (localCheckpoint — both consumers below must see the SAME
    * partition ids), then number = per-partition local rank + a prefix-sum
    * OFFSET computed from the per-partition counts — a partition-count-
    * sized frame, broadcast back. Two parallel row-bearing exchanges,
    * zero single-partition steps (PlanSpec-asserted); ties impossible on
    * the unique key, so numbering is deterministic and equals the oracle's
    * global row_number. */
  val fnGlobalRowNumber: QFn = (spark, sfDir) => {
    val parted = Tables(spark, sfDir, "orders")
      .select("o_orderkey", "o_totalprice")
      .repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val offsets = parted.groupBy("pid").agg(count(lit(1)).as("n"))
      .withColumn("offset",
        coalesce(sum(col("n")).over(
          Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("pid", "offset")
    parted
      .withColumn("local_rn", row_number().over(
        Window.partitionBy("pid").orderBy("o_orderkey")))
      .join(broadcast(offsets), Seq("pid"))
      .select(col("o_orderkey"), col("o_totalprice"),
        (col("offset") + col("local_rn")).as("rn"))
      .orderBy("o_orderkey")
  }

  /** Nested struct/array round-trip — the document-style shape every
    * semi-structured lake carries (orders nested under their customer as
    * `array<struct<...>>`): nest via collect_list(struct), persist the
    * NESTED schema through parquet, read it back, and explode to flat
    * rows that must equal the original flat table. Scale notes: the
    * collect_list group is bounded by orders-per-customer (a real
    * document group, never the whole table); sort_array makes the stored
    * array layout deterministic; parquet stores the nested column with
    * full columnar encoding (struct fields stay separately encoded and
    * prunable — reading only `orders.o_orderkey` from the nested file
    * would prune `o_totalprice`, same as flat). The explode is
    * Generate-codegen'd, one output row per array element, no shuffle —
    * the only shuffle in the op is the nest groupBy itself. */
  val fnNestedRoundtrip: QFn = (spark, sfDir) => {
    import graft.util.Scratch
    val dir = Scratch.dir("fn_nested_roundtrip")
    val nested = Tables(spark, sfDir, "orders")
      .groupBy("o_custkey")
      .agg(sort_array(collect_list(
        struct(col("o_orderkey"), col("o_totalprice")))).as("orders"))
    nested.write.mode("overwrite").parquet(dir)
    spark.read.schema(nested.schema).parquet(dir)
      .select(col("o_custkey"), explode(col("orders")).as("o"))
      .select(col("o_custkey"), col("o.o_orderkey").as("o_orderkey"),
        col("o.o_totalprice").as("o_totalprice"))
      .orderBy("o_orderkey")
  }

  val queries: Map[String, QFn] = Map(
    "fn_nested_roundtrip" -> fnNestedRoundtrip,
    "fn_global_row_number" -> fnGlobalRowNumber,
    "fn_try_cast_robust" -> fnTryCastRobust,
    "project_derive_year_month" -> projectDeriveYearMonth,
    "filter_last_3_months" -> filterLast3Months,
    "filter_event_type" -> filterEventType,
    "project_rename_cast" -> projectRenameCast,
    "fn_to_timestamp" -> fnToTimestamp,
    "fn_year_month" -> fnYearMonth,
    "fn_where_date_arith" -> fnWhereDateArith,
    "fn_clean_invalid_chars" -> fnCleanInvalidChars,
    "fn_filename_param" -> fnFilenameParam,
    "fn_json_get" -> fnJsonGet,
  )

  val oracleSql: Map[String, String] = Map(
    // nest → parquet → unnest must reproduce the flat table exactly
    "fn_nested_roundtrip" ->
      ("SELECT o_custkey, o_orderkey, o_totalprice FROM orders " +
        "ORDER BY o_orderkey"),
    // the oracle numbers globally in one window — tiny-engine luxury the
    // distributed plan reproduces via local ranks + broadcast offsets
    "fn_global_row_number" ->
      ("SELECT o_orderkey, o_totalprice, " +
        "row_number() OVER (ORDER BY o_orderkey) AS rn " +
        "FROM orders ORDER BY o_orderkey"),
    "project_derive_year_month" ->
      ("SELECT event_id, CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS m, " +
        "CAST(day(ts) AS INT) AS d FROM events ORDER BY event_id"),
    "filter_last_3_months" ->
      ("SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_totalprice FROM orders " +
        "WHERE o_orderdate >= (SELECT max(o_orderdate) FROM orders) - INTERVAL 3 MONTH " +
        "ORDER BY o_orderkey"),
    "filter_event_type" ->
      ("SELECT event_id, event_type, user_id FROM events " +
        "WHERE event_type IN ('view', 'click') ORDER BY event_id"),
    "project_rename_cast" ->
      ("SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str, " +
        "strftime(ts, '%Y-%m') AS ym FROM events ORDER BY event_id"),
    "fn_to_timestamp" ->
      ("SELECT event_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch_s " +
        "FROM events ORDER BY event_id"),
    "fn_year_month" ->
      ("SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS y, CAST(quarter(o_orderdate) AS INT) AS q, " +
        "CAST(month(o_orderdate) AS INT) AS m, CAST(day(o_orderdate) AS INT) AS d " +
        "FROM orders ORDER BY o_orderkey"),
    "fn_where_date_arith" ->
      // NB: asof is a DuckDB keyword (ASOF JOIN) — must be qualified a.asof.
      ("WITH a AS (SELECT max(o_orderdate) AS asof FROM orders) " +
        "SELECT CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS m, count(*) AS cnt " +
        "FROM orders, a WHERE o_orderdate >= a.asof - INTERVAL 6 MONTH " +
        "AND o_orderdate < a.asof - INTERVAL 30 DAY GROUP BY 1, 2 ORDER BY 1, 2"),
    // The oracle applies the SAME sanitizing regexp (not a precomputed
    // "+2 chars" delta), so it stays correct even if the testdata gains
    // non-ASCII text. DuckDB RE2 and Java regex agree on [^\x20-\x7E]
    // over codepoints; ContractSpec exercises the non-ASCII path.
    "fn_clean_invalid_chars" ->
      ("WITH c AS (SELECT doc_id, regexp_replace(text || 'é中', '[^\\x20-\\x7E]', '?', 'g') AS cleaned, n_chars FROM documents) " +
        "SELECT doc_id, CAST(length(cleaned) AS INT) AS clean_len, " +
        "substr(cleaned, 1, 20) AS clean_head, n_chars " +
        "FROM c ORDER BY doc_id"),
    "fn_filename_param" ->
      ("SELECT 'events' AS fname, count(*) AS cnt, count(DISTINCT user_id) AS n_users " +
        "FROM events GROUP BY 1 ORDER BY 1"),
    "fn_json_get" ->
      ("SELECT event_id, CAST(regexp_extract(props, '-?[0-9]+') AS INT) AS k " +
        "FROM events ORDER BY event_id"),
    "fn_try_cast_robust" ->
      ("WITH d AS (SELECT event_id, CASE WHEN event_id % 7 = 0 " +
        "THEN regexp_extract(props, '-?[0-9]+') || 'x' " +
        "ELSE regexp_extract(props, '-?[0-9]+') END AS raw FROM events) " +
        "SELECT event_id, raw, TRY_CAST(raw AS INT) AS parsed, " +
        "TRY_CAST(raw AS INT) IS NULL AS rejected FROM d ORDER BY event_id"),
  )
}
