package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import org.json4s._
import org.json4s.JsonDSL._

import scala.collection.mutable

/** One benchmark run in a fresh JVM. `perfbench/run.py` starts it and turns
  * the JSON record it writes into metrics.
  *
  *   Main <workload> <inputsDir> <workDir> <cores> <warmup> <seconds> <trace 0|1> <recordFile>
  *
  * `inputsDir` holds the generated input directories (one per hourly drop
  * for `etl_hourly`, a single `input` otherwise). After `warmup` untimed
  * iterations, iterations are timed until `seconds` of them have passed
  * (at least two; for `etl_hourly` at most one per unread drop). Everything
  * the program writes goes under `workDir`. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, coresArg, warmupArg, secondsArg, traceArg, record) = args
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    new Run(workload, inputs, work, coresArg.toInt, warmupArg.toInt, secondsArg.toDouble,
      traceArg == "1", jvmStartMs).execute(record)
  }

  /** The program keeps its scratch root in a constant absolute path
    * outside any checkout; point it at this run's work directory before
    * any op touches it. The constant is a static final field, which only
    * Unsafe may overwrite; the class is initialised first so its static
    * initialiser cannot undo the write. */
  private[perfbench] def redirectScratch(root: String): Unit = {
    graft.util.Scratch.rootDir
    val uf = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    uf.setAccessible(true)
    val unsafe = uf.get(null).asInstanceOf[sun.misc.Unsafe]
    val f = graft.util.Scratch.getClass.getDeclaredField("root")
    unsafe.putObject(unsafe.staticFieldBase(f), unsafe.staticFieldOffset(f), root)
    require(graft.util.Scratch.rootDir == root, "scratch root redirect failed")
  }

  /** Consume every output column of `df`: collect one xxhash64 over all
    * columns per row. Unlike a bare count() this keeps every column and the
    * result's final ordering in the plan, and collect() runs as an SQL
    * execution, whose end event carries its planning phases to the trace.
    * Returns the row count. */
  def materialize(df: DataFrame): Long = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    renamed.select(xxhash64(cols: _*)).collect().length.toLong
  }

  /** Total bytes of the files under `dir`. */
  def storage(dir: File): Long = {
    if (!dir.exists()) return 0L
    val walk = Files.walk(dir.toPath)
    try {
      var bytes = 0L
      walk.forEach(p => if (Files.isRegularFile(p)) bytes += Files.size(p))
      bytes
    } finally walk.close()
  }

  /** path → (size, mtime) of every file under `dir`. */
  def snapshot(dir: File): Map[String, (Long, Long)] = {
    if (!dir.exists()) return Map.empty
    val walk = Files.walk(dir.toPath)
    try {
      val b = Map.newBuilder[String, (Long, Long)]
      walk.forEach { p =>
        if (Files.isRegularFile(p))
          try b += p.toString -> (Files.size(p) -> Files.getLastModifiedTime(p).toMillis)
          catch { case _: java.io.IOException => () }
      }
      b.result()
    } finally walk.close()
  }
}

private object Run {
  val FnCopies = 30

  final case class Sample(op: String, iter: Int, seconds: Double, ok: Boolean,
      rows: Long, error: String)

  val MinTimed = 2
}

private final class Run(workload: String, inputs: String, work: String,
    cores: Int, warmup: Int, seconds: Double, traced: Boolean, jvmStartMs: Double) {
  import Main._
  import Run.Sample

  private val scratchRoot = s"$work/program"
  redirectScratch(scratchRoot)

  private val spark = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", s"$work/spark_local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  private val trace = new Trace(spark, traced)
  private val counts = new Counts(spark)
  private val fields = mutable.ArrayBuffer.empty[JField]
  private def put(k: String, v: JValue): Unit = fields += k -> v

  /** Input directories: one per hourly drop, or the single `input`. */
  private val dirs: Seq[String] =
    new File(inputs).listFiles().filter(_.isDirectory).map(_.getAbsolutePath).sorted.toSeq

  private val ops = Workloads.ops(workload)
  /** Input directories the run has read. */
  private val used = mutable.LinkedHashSet.empty[String]
  private val queries = graft.SparkEntry.queries

  /** Bytes the source staging added under the scratch root. */
  private var stagedBytes = 0L

  /** Source staging the program treats as pre-existing (an OLTP database,
    * files already dropped in a stream's source directory). Untimed: done
    * after set-up, and between timed iterations. What it writes is input,
    * not output, so its bytes are kept apart from the stored bytes. */
  private def stage(dir: String): Unit =
    if (workload == "etl_hourly") {
      val t0 = System.nanoTime()
      val before = storage(new File(scratchRoot))
      graft.etl.Ingest.derbyUrl(spark, dir)
      graft.streaming.StreamOps.stageFixtures(spark, dir)
      stagedBytes += storage(new File(scratchRoot)) - before
      System.err.println(f"[perfbench] staged ${new File(dir).getName}%s in ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }

  private def setup(): Unit = {
    System.err.println(f"[perfbench] session up at ${(System.currentTimeMillis() - jvmStartMs) / 1000}%.3f s")
    val dir = dirs.head
    used += dir
    trace.span("Tables.registerAll", "tables", "setup", -1) {
      graft.tables.Tables.registerAll(spark, dir)
    }
    if (workload == "llm_corpus")
      trace.span("index build", "llm.warmup", "setup", -1) {
        // the indexes this workload's ops read, built the way
        // Warmup.indexes builds them; all 22 of Warmup.indexes cost a cold
        // JVM about 40 s, too much to repeat in every run
        graft.llm.DedupOps.embIndex(spark, dir).count()
        graft.llm.DedupOps.gramSets(spark, dir).count()
        graft.llm.DedupOps.rareGramGroups(spark, dir).count()
        graft.llm.DedupOps.spanGroups(spark, dir).count()
        graft.llm.DedupOps.embAppendTable(spark, dir)
      }
    val readyMs = System.currentTimeMillis().toDouble
    put("setup_s", (readyMs - jvmStartMs) / 1000.0)
    put("warmup_resident_mb", residentMb())
  }

  private def residentMb(): Double = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(_.memSize).sum + infos.map(_.diskSize).sum) / 1048576.0
  }

  /** First pass, untimed: dump each op's result (its verification frame
    * where the program defines one) for the oracle compare. */
  private def verify(dir: String): Unit = {
    val dumps = s"$work/dumps"
    val status = ops.map { op =>
      val v0 = System.nanoTime()
      val fn = graft.SparkEntry.verifyQueries.getOrElse(op, queries(op))
      val st = try {
        fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$dumps/$op")
        "ok"
      } catch { case e: Throwable => s"error: ${Option(e.getMessage).getOrElse(e.toString).take(300)}" }
      System.err.println(f"[perfbench] verify $op%s ${(System.nanoTime() - v0) / 1e9}%.3f s: $st%s")
      op -> JString(st)
    }
    put("verify", JObject(status.toList))
    put("verify_dir", dir)
    val oracle = graft.SparkEntry.oracleSql.filter(kv => ops.contains(kv._1)).toSeq.sorted
    Files.writeString(Paths.get(s"$dumps/oracle_sql.json"),
      Json.write(JObject(oracle.map { case (k, v) => k -> JString(v) }.toList)))
  }

  /** One pass of the workload's ops over `dir`; returns the op samples. */
  private def iteration(i: Int, dir: String, phase: String): Seq[Sample] = {
    val scratch = new File(scratchRoot)
    trace.span(s"iteration $i", "bench", phase, i) {
      if (workload == "etl_hourly")
        trace.span("Tables.registerAll", "tables", phase, i) {
          graft.tables.Tables.registerAll(spark, dir)
        }
      ops.map { op =>
        val before = if (traced) snapshot(scratch) else null
        val s0 = System.nanoTime()
        // run.py attributes op spans to layers from the record's `layers`
        val s = trace.span(op, "op", phase, i) {
          try {
            val n = materialize(queries(op)(spark, dir))
            Sample(op, i, (System.nanoTime() - s0) / 1e9, ok = true, n, null)
          } catch { case e: Throwable =>
            Sample(op, i, (System.nanoTime() - s0) / 1e9, ok = false, 0L,
              Option(e.getMessage).getOrElse(e.toString).take(300))
          }
        }
        System.err.println(f"[perfbench] $phase $i%d $op%s ${s.seconds}%.3f s")
        if (traced) {
          val after = snapshot(scratch)
          val changed = after.filter { case (p, v) => !before.get(p).contains(v) }
          val sp = trace.spans.last
          sp.writtenBytes = changed.values.map(_._1).sum
          sp.filesWritten = changed.size.toLong
        }
        s
      }
    }
  }

  /** Untimed warm-up iterations, then timed ones until `seconds` of
    * timed iterations have passed. etl_hourly gives every iteration its
    * own, never-seen drop, so it also stops when the drops run out. */
  private def timed(): Unit = {
    val samples = mutable.ArrayBuffer.empty[Sample]
    val iterWall = mutable.ArrayBuffer.empty[Double]
    val timedDirs = mutable.ArrayBuffer.empty[String]
    val fresh = dirs.iterator.filterNot(used.contains)
    def next(): String = if (dirs.size > 1) fresh.next() else dirs.head
    def more: Boolean = dirs.size == 1 || fresh.hasNext
    var i = 0
    while (i < warmup && more) {
      val dir = next()
      if (used.add(dir)) stage(dir)
      iteration(i, dir, "warmup")
      i += 1
    }
    graft.streaming.StreamMetrics.reset()
    var timedS = 0.0
    while (more && (iterWall.size < Run.MinTimed || timedS < seconds)) {
      val dir = next()
      if (used.add(dir)) stage(dir)
      val t0 = System.nanoTime()
      samples ++= counts.timed(iteration(i, dir, "run"))
      iterWall += (System.nanoTime() - t0) / 1e9
      timedDirs += dir
      timedS += iterWall.last
      i += 1
    }
    require(iterWall.size >= Run.MinTimed, s"only ${iterWall.size} timed iterations: too few inputs")
    put("iteration_s", iterWall.toList)
    counts.drain()
    put("timed_jobs", counts.jobs.get)
    put("timed_tasks", counts.tasks.get)
    put("timed_bytes_read", counts.bytesRead.get)
    put("timed_input_bytes", timedDirs.map(d => storage(new File(d))).sum)
    put("samples", samples.toList.map(s =>
      ("op" -> s.op) ~ ("iter" -> s.iter) ~ ("s" -> s.seconds) ~
        ("ok" -> s.ok) ~ ("rows" -> s.rows) ~ ("error" -> Json.str(s.error))))
    val stream = graft.streaming.StreamMetrics.snapshot.values
    put("stream",
      ("batches" -> stream.map(_.batches.toLong).sum) ~
        ("wal_s" -> stream.map(_.walMs).sum / 1000.0) ~
        ("state_commit_s" -> stream.map(_.stateMs).sum / 1000.0))
  }

  /** rows/s of each native SQL function, called directly over the
    * generated documents and embeddings. Each is timed three times over a
    * cached frame; the record keeps the median. */
  private def functions(dir: String): Unit = {
    // the corpus is small, so each frame is replicated (FnCopies x) to
    // make per-call overhead negligible next to the function's own work
    val copies = spark.range(Run.FnCopies).withColumnRenamed("id", "copy")
    val docs = spark.read.parquet(s"$dir/documents.parquet").crossJoin(copies)
      .selectExpr("text", "array_sort(array_distinct(ngram_hashes(text, 5))) AS hs")
      .cache()
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet").crossJoin(copies)
      .select("embedding").cache()
    val nDocs = docs.count()
    val nVecs = vecs.count()
    val calls = Seq(
      ("ngram_hashes", docs, "ngram_hashes(text, 5)", nDocs),
      ("minhash_sig", docs, "minhash_sig(hs, 32)", nDocs),
      ("winnow_fps", docs, "winnow_fps(text, 8, 16)", nDocs),
      ("nfc_normalize", docs, "nfc_normalize(text)", nDocs),
      ("sorted_intersect_count", docs, "sorted_intersect_count(hs, hs)", nDocs),
      ("vector_dot", vecs, "vector_dot(embedding, embedding)", nVecs))
    val rates = calls.map { case (fn, df, sql, n) =>
      val times = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        trace.span(fn, "functions", "functions", -1) {
          df.selectExpr(s"xxhash64($sql) AS h").agg(bit_xor(col("h"))).collect()
        }
        (System.nanoTime() - t0) / 1e9
      }.sorted
      fn -> JDouble(n / times(1))
    }
    docs.unpersist()
    vecs.unpersist()
    put("functions_rows_per_s", JObject(rates.toList))
  }

  def execute(record: String): Unit = {
    try {
      put("workload", workload)
      put("cores", cores)
      setup()
      put("ops", ops.toList)
      put("layers", JObject(Workloads.layerOps.map { case (l, os) => l -> (os.toList: JValue) }.toList))
      stage(dirs.head)
      verify(dirs.head)
      timed()
      // what set-up and the ops left behind: the program's scratch root
      // and the warehouse, less the staged sources
      put("stored_bytes", storage(new File(scratchRoot)) +
        storage(new File(s"$work/warehouse")) - stagedBytes)
      put("input_bytes", used.toSeq.map(d => storage(new File(d))).sum)
      if (traced && workload == "llm_corpus") functions(dirs.head)
      // the first collection queues the weakly held shuffle and broadcast
      // state for Spark's context cleaner; the second frees what it dropped
      System.gc()
      Thread.sleep(200)
      System.gc()
      val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      put("heap_live_mb", heap / 1048576.0)
      counts.drain()
      if (traced) put("trace", trace.toJson)
    } finally {
      trace.detach()
      Files.writeString(Paths.get(record), Json.write(JObject(fields.toList)))
      spark.stop()
    }
  }
}
