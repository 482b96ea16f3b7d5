package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.types.{StructType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.Tables

/** Table schemas come from parquet footers read on the driver, and the
  * program's read-backs of its own output supply the schema they wrote:
  * resolving a schema starts no Spark job. */
class SchemaResolveSpec extends AnyFunSuite {
  import SparkFixture.{spark, sfDir}

  private val eventFlags = Seq(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")

  /** Spark's own inference, under the flags `events` is converted with. */
  private def inferred(dir: String, name: String): StructType = {
    val flags = if (name == "events") eventFlags else Nil
    val prev = flags.map { case (k, _) => k -> spark.conf.getOption(k) }
    flags.foreach { case (k, v) => spark.conf.set(k, v) }
    try spark.read.parquet(s"$dir/$name.parquet").schema
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A fresh copy of the fixture's tables under target/, so every
    * (sfDir, name) key in it is resolved anew. */
  private def freshCopy(tag: String, names: Seq[String] = Tables.names): String = {
    val dir = graft.util.Scratch.dir(s"schema_resolve_$tag")
    names.foreach(n =>
      Files.copy(Paths.get(sfDir, s"$n.parquet"), Paths.get(dir, s"$n.parquet")))
    dir
  }

  private val Tag = "graft.spec.schemaResolve"

  /** The stage names of every job `body` starts, jobs of the threads it
    * starts (a streaming query's included) counted too. The listener bus
    * is drained before the jobs are read. */
  private def jobsOf(body: => Unit): Seq[Seq[String]] = {
    val tag = java.util.UUID.randomUUID.toString
    val jobs = new ConcurrentLinkedQueue[Seq[String]]()
    @volatile var drainJob = -1
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(Tag)).orNull match {
          case `tag` => jobs.add(e.stageInfos.map(_.name))
          case t if t == s"$tag/drain" => drainJob = e.jobId
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == drainJob) drained.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Tag, tag)
      try body finally sc.setLocalProperty(Tag, null)
      sc.setLocalProperty(Tag, s"$tag/drain")
      try spark.range(1).count() finally sc.setLocalProperty(Tag, null)
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    } finally sc.removeSparkListener(listener)
    jobs.asScala.toSeq
  }

  test("footer schema equals spark.read.parquet's for all ten tables at sf0.001 and sf0.01") {
    val sf01 = Paths.get(sfDir).resolveSibling("sf0.01").toString
    for (dir <- Seq(sfDir, sf01); name <- Tables.names)
      assert(Tables.schema(spark, dir, name) == inferred(dir, name), s"$dir/$name")
  }

  test("registerAll on a fresh copy of the tables starts no Spark job") {
    graft.functions.GraftFunctions.ensure(spark)
    val dir = freshCopy("register")
    try {
      val jobs = jobsOf(Tables.registerAll(spark, dir))
      assert(jobs.isEmpty, s"registerAll started ${jobs.size} jobs: $jobs")
      assert(spark.table("events").schema("ts").dataType == TimestampType)
    } finally Tables.registerAll(spark, sfDir)
  }

  test("sink_sorted_runs and stream_file_source_upsert start no schema-inference job") {
    // the stream's dropped files are staged untimed, as the bench stages
    // them; staging's own plain writes are also named "parquet at"
    graft.streaming.StreamOps.stageFixtures(spark, sfDir)
    for (op <- Seq("sink_sorted_runs", "stream_file_source_upsert")) {
      val jobs = jobsOf(SparkEntry.queries(op)(spark, sfDir).collect())
      assert(jobs.nonEmpty, op)
      val inference = jobs.filter(_.exists(_.startsWith("parquet at")))
      assert(inference.isEmpty, s"$op started schema-inference jobs: $inference")
    }
  }

  test("resolving events leaves the session's parquet timestamp flags unchanged") {
    val keys = eventFlags.map(_._1)
    val before = keys.map(spark.conf.getOption)
    val dir = freshCopy("flags", Seq("events"))
    val events = Tables(spark, dir, "events")
    assert(keys.map(spark.conf.getOption) == before)
    assert(events.schema("ts").dataType == TimestampType)
  }

  test("8 threads resolving one new key cause exactly one footer read") {
    val dir = freshCopy("threads", Seq("lineitem"))
    val reads = Tables.footerReads.get
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    val schemas = try {
      val futures = (1 to 8).map(_ => pool.submit(new Callable[StructType] {
        override def call(): StructType = {
          start.await()
          Tables.schema(spark, dir, "lineitem")
        }
      }))
      start.countDown()
      futures.map(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(Tables.footerReads.get - reads == 1)
    assert(schemas.distinct.size == 1)
  }
}
