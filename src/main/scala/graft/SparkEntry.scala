package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analytics.Queries
import graft.etl.{Ingest, Transforms, Upsert}
import graft.llm.{DedupOps, MultimodalOps, SimilarityOps, TextOps}
import graft.streaming.StreamOps
import graft.tables.Tables
import graft.util.Scratch

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Operator registry is assembled from the per-category modules (§7.1):
  * etl.Ingest (§2.1), etl.Transforms (§2.2/2.8), etl.Upsert (§2.4),
  * analytics.Queries (§2.3/2.5-2.7), streaming.StreamOps (§2.9),
  * llm.* (§2.10 north-star). */
object SparkEntry {

  /** Flagship (SURVEY.md §7.2 slice 0 — the reference's funnel ETL +
    * BI query, README.md:86-87,102,124,163-166): read the raw event table,
    * cast/derive year+month, write partitioned+compressed parquet (the
    * CSV→parquet conversion that was the reference's big win), read it
    * back with partition discovery, and run the funnel count. */
  def entry(spark: SparkSession): DataFrame = {
    // driver contract runs the flagship at sf0.001; honor the env override
    // the other mains already use so ad-hoc runs can point anywhere
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val dir = Scratch.dir("entry_funnel_etl")
    val dated = Tables(spark, sfDir, "events")
      .withColumn("year", year(col("ts")))
      .withColumn("month", month(col("ts")))
    dated.repartition(col("year"), col("month"))
      .write.mode("overwrite")
      .partitionBy("year", "month")
      .option("compression", "snappy")
      .parquet(dir)
    spark.read.schema(dated.schema).parquet(dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), countDistinct(col("user_id")).as("users"))
      .orderBy("event_type")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, QFn] =
    Ingest.queries ++ Transforms.queries ++ Upsert.queries ++
      graft.etl.Bucketing.queries ++
      Queries.queries ++ graft.analytics.Temporal.queries ++
      graft.analytics.Advanced.queries ++
      StreamOps.queries ++
      TextOps.queries ++ DedupOps.queries ++ SimilarityOps.queries ++
      MultimodalOps.queries ++ graft.llm.SampleOps.queries

  /** Verification-frame overrides consumed ONLY by Verify (never Bench —
    * the timed rows stay the production plans): for ops whose raw output
    * is sketch-valued, the dump is replaced by a frame joining the
    * estimate to its exact twin — exact columns DuckDB replays verbatim
    * plus bound booleans the oracle pins to TRUE (weak-form oracles,
    * VERDICT r14 queue #4). */
  def verifyQueries: Map[String, QFn] =
    graft.analytics.Advanced.verifyQueries ++
      DedupOps.verifyQueries ++ SimilarityOps.verifyQueries ++
      TextOps.verifyQueries

  /** Estimate-vs-exact evidence rows for approx_deltas.json, restricted
    * to ops that ran (see Verify) — aggregated across the modules that
    * own weak-form-oracle ops. */
  def approxDeltas(spark: SparkSession, sfDir: String,
      ops: Set[String]): Seq[(String, String, String, Double, Double)] =
    graft.analytics.Advanced.approxDeltas(spark, sfDir, ops) ++
      DedupOps.approxDeltas(spark, sfDir, ops) ++
      SimilarityOps.approxDeltas(spark, sfDir, ops)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (LSH/xxhash64-based and approximate ones) → rows-only check. */
  def oracleSql: Map[String, String] =
    Ingest.oracleSql ++ Transforms.oracleSql ++ Upsert.oracleSql ++
      graft.etl.Bucketing.oracleSql ++
      Queries.oracleSql ++ graft.analytics.Temporal.oracleSql ++
      graft.analytics.Advanced.oracleSql ++
      StreamOps.oracleSql ++
      TextOps.oracleSql ++ DedupOps.oracleSql ++ SimilarityOps.oracleSql ++
      MultimodalOps.oracleSql ++ graft.llm.SampleOps.oracleSql
}
