package graft.tables

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{LongType, StructType}

/** Loads the driver-generated parquet tables (TESTDATA.md) and stands in
  * for the reference's three catalogs — RDS MySQL, Redshift, and the Glue
  * Data Catalog (reference README.md:9-10,23). In Spark all three collapse
  * into one SparkSession; federation is a same-session join (SURVEY.md §1.4).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // A table's schema is read once per (sfDir, name) from its parquet footer,
  // on the driver and with no Spark job, converted the way Spark's own
  // inference converts it. Every load then builds a plan-only
  // `read.schema(s).parquet(path)` relation over that schema, memoized per
  // session in a bounded LRU so short-lived sessions are never pinned.
  private case class ResolvedTable(schema: StructType, tsNanosAsLong: Boolean)

  private val resolved = new ConcurrentHashMap[(String, String), ResolvedTable]()

  /** Footers read so far: one per resolved (sfDir, name). */
  private[graft] val footerReads = new AtomicLong

  /** Upper bound on sessions whose resolved DataFrames stay memoized. */
  private[graft] val MaxCachedSessions = 4

  // access-ordered LRU; identity semantics are SparkSession's default
  // equals/hashCode. All access goes through loaded.synchronized.
  private val loaded =
    new java.util.LinkedHashMap[SparkSession,
        scala.collection.concurrent.TrieMap[(String, String), DataFrame]](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SparkSession,
            scala.collection.concurrent.TrieMap[(String, String), DataFrame]]): Boolean =
        size() > MaxCachedSessions
    }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // every operator loads its inputs here, so this is the one chokepoint
    // where the session reliably picks up the graft native functions
    graft.functions.GraftFunctions.ensure(spark)
    val perSession = loaded.synchronized {
      val m = loaded.get(spark)
      if (m != null) m
      else {
        val fresh = scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]
        loaded.put(spark, fresh)
        fresh
      }
    }
    perSession.getOrElseUpdate((sfDir, name), build(spark, sfDir, name))
  }

  /** The table's schema as every load reads it: the footer schema, built
    * once per (sfDir, name). */
  private[graft] def schema(spark: SparkSession, sfDir: String, name: String): StructType =
    resolvedTable(spark, sfDir, name).schema

  private def resolvedTable(spark: SparkSession, sfDir: String, name: String): ResolvedTable =
    resolved.computeIfAbsent((sfDir, name), _ => resolve(spark, sfDir, name))

  /** Cheap per-session relation build over the resolved schema. */
  private def build(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val r = resolvedTable(spark, sfDir, name)
    val df = spark.read.schema(r.schema).parquet(s"$sfDir/$name.parquet")
    if (r.tsNanosAsLong)
      // generation (a): ts stored as TIMESTAMP(NANOS), read as raw long
      // (the resolved schema says LongType) and truncated to micros in-plan —
      // the same truncation DuckDB applies for ns→µs
      df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
    else df
  }

  /** Reads the table's footer and converts its schema with the session's
    * parquet flags, except for `events`. events.ts has shipped in two
    * parquet generations:
    *  (a) TIMESTAMP(NANOS), which Spark 4 refuses to read natively — read
    *      as raw nanos (`nanosAsLong`) and truncated to micros in [[build]];
    *  (b) TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark 4 infers as
    *      TIMESTAMP_NTZ by default — with `inferTimestampNTZ` off the
    *      stored micros map verbatim onto TimestampType's UTC instant,
    *      bit-identical to (a) and independent of the session time zone.
    * The flags are converter arguments, so the session conf is never
    * touched. */
  private def resolve(spark: SparkSession, sfDir: String, name: String): ResolvedTable = {
    val conf = spark.sessionState.conf
    val events = name == "events"
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = !events && conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = events || conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    // readSchemaFromFooter prefers the Spark schema a Spark writer stored
    // in the footer, as Spark's own inference does
    val schema = ParquetFileFormat.readSchemaFromFooter(
      footer(spark, s"$sfDir/$name.parquet"), converter)
    ResolvedTable(schema, events && schema("ts").dataType == LongType)
  }

  /** The footer Spark's inference would read: the path itself if it is a
    * file, otherwise the first data file in path order, skipping hidden
    * (`_`, `.`) names. */
  private def footer(spark: SparkSession, path: String): Footer = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    def hidden(s: FileStatus): Boolean = {
      val n = s.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }
    def dataFiles(s: FileStatus): Seq[FileStatus] =
      if (s.isFile) Seq(s)
      else fs.listStatus(s.getPath).toSeq.filterNot(hidden).flatMap(dataFiles)
    val file = dataFiles(fs.getFileStatus(root)).minByOption(_.getPath.toString)
      .getOrElse(throw new IllegalArgumentException(s"no parquet data file under $path"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, hadoopConf))
    footerReads.incrementAndGet()
    try new Footer(file.getPath, reader.getFooter) finally reader.close()
  }

  // Memoization for registerAll (VERDICT r10 #2): registering all ten views
  // costs ten parquet schema resolutions, and the two SQL-text operators
  // (sql_athena_style, agg_grouping_sets) call registerAll inside their
  // query body — whichever runs first in a bench absorbed the whole catalog
  // churn into its timed row (sql_athena_style read 4.3× its band median in
  // the round-10 driver capture). The views are immutable per (session,
  // sfDir), so a repeat call is a pure no-op; keyed weakly on the session so
  // short-lived spec sessions don't pin their SessionState. If the SAME
  // session is re-pointed at a DIFFERENT sfDir (specs do this across SF
  // tiers), the views are re-registered and the key updated.
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  /** Register one driver parquet table as an EXTERNAL catalog table named
    * `<prefix>_<table>_<pathTag>` and return that name. EXTERNAL
    * (LOCATION over the read-only testdata) so the DROP-first re-register
    * never touches data. Shared by the CBO stats tables (star_*) and the
    * cross-session catalog op (cat_*) — review r11: the two had grown
    * parallel copies of this DROP/CREATE machinery. Callers own their own
    * memoization (they cache different things: the stats builder also
    * runs ANALYZE). */
  def externalTable(spark: SparkSession, sfDir: String, table: String,
      prefix: String): String = {
    val name = s"${prefix}_${table}_${graft.util.Scratch.pathTag(sfDir)}"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING parquet LOCATION '$sfDir/$table.parquet'")
    name
  }

  /** Register every table as a temp view (Glue-Data-Catalog analog).
    * Idempotent and memoized per (session, sfDir) — callers may invoke it
    * defensively (each SQL-text operator still does, so Verify works on a
    * cold session) without paying re-registration. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    if (registered.get(spark) != sfDir) {
      names.foreach(n => apply(spark, sfDir, n).createOrReplaceTempView(n))
      registered.put(spark, sfDir)
    }
}
