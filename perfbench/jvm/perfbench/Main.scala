package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.{col, sum, xxhash64}

import graft.SparkEntry
import graft.functions.index

/** JVM side of the benchmark: one workload, one client, closed loop.
  *
  * Inputs are generated beforehand (seeded) under `--data`; the run's
  * warehouse, Spark scratch space and answer dumps live under `--work`.
  * Every op is timed from outside the engine: the DataFrame-building
  * call (`build_ms`) and the sink write (`exec_ms`) separately. With
  * `--trace 1` every other op runs with the [[Tracer]] attached, so the
  * untraced ops of the same run measure the tracer's own overhead.
  * Raw per-op records go to `--out` as JSON; `run.py` aggregates them. */
object Main {

  /** A record: named fields in insertion order, written as a JSON object. */
  type Rec = mutable.LinkedHashMap[String, Any]
  def Rec(kv: (String, Any)*): Rec = mutable.LinkedHashMap(kv: _*)

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  def writeJson(path: File, v: Any): Unit = json.writeValue(path, v)

  /** Execution-heavy aggregate and join queries for `dsl_scan`: small
    * answers over the enlarged lineitem/orders tables, and together few
    * enough generated classes (~80) to stay inside Spark's 100-entry
    * codegen cache, so timed passes recompile nothing. */
  val ScanQueries: Seq[String] = Seq(
    "q01_summarize_flagship", "q06_join_inner", "q07_join_left",
    "q20_summarize_filter_kwarg", "q31_enum_cast", "q33_uint_types")

  def dslQueries: Seq[String] =
    SparkEntry.queries.keys.filter(n => n.matches("q\\d\\d.*") && !n.contains("battery"))
      .toSeq.sorted

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val data = a("data")
    val work = a("work")
    val spark = session(work)
    val rec = new Recorder(spark, trace)
    rec.mark("session")
    val host = Rec()
    host += "loadavg_start" -> loadavg()
    sentinel(spark)
    host += "sentinel_start_s" -> sentinel(spark)
    rec.mark("sentinel")
    workload match {
      case "dsl_rotate" =>
        dsl(spark, rec, dslQueries, data, seed, seconds, work, noopWarmup = false)
      case "dsl_scan" =>
        dsl(spark, rec, ScanQueries, data, seed, seconds, work, noopWarmup = true)
      case "index_day" =>
        indexDay(spark, rec, data, seconds, work, a("days").toInt,
          a("probes").toInt, a("min_j").toDouble)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    rec.mark("done")
    host += "sentinel_end_s" -> sentinel(spark)
    host += "loadavg_end" -> loadavg()
    rec.out += "host" -> host
    rec.out += "marks" -> rec.marks
    rec.out += "workload" -> workload
    writeJson(new File(a("out")), rec.out)
    spark.stop()
  }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.timeType.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
    catch { case _: Throwable => "" }

  /** The calibration job of graft.Bench (a 64M-row xxhash64 sum over 32
    * cores) resized to 4 cores: 8M rows in 4 partitions. Its cost depends
    * on host contention only; it is recorded, never used to adjust. */
  def sentinel(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 8000000L, 1, 4).select(sum(xxhash64(col("id"))))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Per-op timing and (when traced) per-layer capture. */
  final class Recorder(spark: SparkSession, trace: Boolean) {
    val out = Rec()
    val ops = new ArrayBuffer[Rec]
    private val tracer = if (trace) Some(new Tracer(spark)) else None
    private var n = 0L
    var firstTimedMs = 0L
    val marks = Rec()
    def mark(what: String): Unit = marks += what -> System.currentTimeMillis().toDouble

    /** Run one op. `build` constructs the DataFrame (or performs a
      * lifecycle op and returns None); a returned DataFrame is then
      * written to the noop sink. */
    def op(kind: String, name: String, traced: Boolean, timed: Boolean)(
        build: => Option[DataFrame]): Unit = {
      n += 1
      val tag = Tracer.Prefix + n
      val sc = spark.sparkContext
      val tr = tracer.filter(_ => traced)
      tr.foreach(_.attach())
      sc.addJobTag(tag)
      if (timed && firstTimedMs == 0L) firstTimedMs = System.currentTimeMillis()
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ct0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      var t1 = t0
      val err = try {
        val df = build
        // a lifecycle op returns no DataFrame: all of its time is exec
        t1 = if (df.isEmpty) t0 else System.nanoTime()
        df.foreach(_.write.format("noop").mode("overwrite").save())
        None
      } catch { case e: Throwable => Some(e) }
      val t2 = System.nanoTime()
      sc.removeJobTag(tag)
      val r = Rec(
        "kind" -> kind, "name" -> name, "timed" -> timed, "traced" -> tr.isDefined,
        "ok" -> err.isEmpty, "build_ms" -> (t1 - t0) / 1e6, "exec_ms" -> (t2 - t1) / 1e6,
        "lat_ms" -> (t2 - t0) / 1e6,
        "compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0).toDouble,
        "compile_ms" -> (CodeGenerator.compileTime - ct0) / 1e6)
      err.foreach { e =>
        r += "error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        System.err.println(s"[perfbench] $kind $name failed: $e")
      }
      tr.foreach { t => t.detach(); r ++= t.summary(tag) }
      if (timed) ops += r
    }

    def traceOn: Boolean = tracer.isDefined

    /** Passes or days come in groups of this many. Traced runs alternate
      * the tracer by pass or day parity and need both halves. */
    def rounds: Int = if (traceOn) 2 else 1
  }

  def dsl(spark: SparkSession, rec: Recorder, names: Seq[String], data: String,
      seed: Long, seconds: Double, work: String, noopWarmup: Boolean): Unit = {
    val fns = names.map(n => n -> SparkEntry.queries(n))
    val order = new scala.util.Random(seed).shuffle(fns)
    // warm-up: one untimed pass that also writes each query's answer to
    // parquet for the oracle compare after the run; then, when asked, a
    // pass to the noop sink, which fills the codegen cache with the timed
    // plans (a working set larger than the cache is recompiled anyway)
    val res = new File(work, "results")
    order.foreach { case (n, f) =>
      rec.op("answer", n, traced = false, timed = false) {
        f(spark, data).coalesce(1).write.mode("overwrite").parquet(new File(res, n).getPath)
        None
      }
    }
    writeJson(new File(res, "oracle_sql.json"), Rec(names.map(n => n -> SparkEntry.oracleSql(n)): _*))
    if (noopWarmup) order.foreach { case (n, f) =>
      rec.op("query", n, traced = false, timed = false)(Some(f(spark, data)))
    }
    rec.mark("warmup")
    val start = System.nanoTime()
    var i = 0
    // whole passes only, so every run weighs each query equally; a traced
    // run makes them in pairs, so each query runs as often traced as not
    while (i % (order.size * rec.rounds) != 0 || (System.nanoTime() - start) / 1e9 < seconds) {
      val (n, f) = order(i % order.size)
      val pass = i / order.size
      rec.op("query", n, traced = rec.traceOn && (i % order.size + pass) % 2 == 0,
        timed = true)(Some(f(spark, data)))
      i += 1
    }
    rec.out += "timed_wall_s" -> (System.nanoTime() - start) / 1e9
    rec.mark("timed")
    rec.out += "first_timed_ms" -> rec.firstTimedMs.toDouble
    rec.out += "heap_after_gc_mb" -> heapAfterGc()
    rec.out += "ops" -> rec.ops
  }

  /** Heap still in use once garbage is gone. Spark frees unpersisted
    * blocks and dropped shuffles asynchronously, from its cleaner thread
    * after a GC finds them unreachable, so the GC is repeated with pauses
    * for that cleanup in between. */
  def heapAfterGc(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Data files and bytes of the index's tables in the warehouse. */
  def indexFiles(work: String, name: String): (Int, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = Option(new File(work, "warehouse").listFiles).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith(name + "_"))
      .flatMap(walk)
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
    (files.size, files.map(_.length).sum)
  }

  def indexDay(spark: SparkSession, rec: Recorder, data: String, seconds: Double,
      work: String, days: Int, probes: Int, minJ: Double): Unit = {
    val name = "pb_idx"
    def read(p: String) = spark.read.parquet(s"$data/$p")
    def col0(p: String) = read(p).select("doc_id")
    val res = new File(work, "results")
    rec.op("build", "base", traced = false, timed = false) {
      index.buildJaccardIndex(read("base.parquet"), "doc_id", "text", name); None
    }
    val dayStats = new ArrayBuffer[Rec]
    def day(d: Int, timed: Boolean, probes: Int): Unit = {
      val dir = s"day$d"
      for (p <- 0 until probes)
        rec.op("probe", s"$dir/probe$p", timed = timed,
          traced = rec.traceOn && (p + d) % 2 == 0) {
          Some(index.probeJaccardIndex(spark, read(s"$dir/probe$p.parquet"),
            "doc_id", "text", name, minJ))
        }
      rec.op("append", dir, traced = rec.traceOn, timed = timed) {
        index.buildJaccardIndex(read(s"$dir/append.parquet"), "doc_id", "text", name,
          mode = SaveMode.Append); None
      }
      rec.op("takedown", dir, traced = rec.traceOn, timed = timed) {
        index.removeFromJaccardIndex(col0(s"$dir/takedown.parquet"), "doc_id", name); None
      }
      rec.op("compact", dir, traced = rec.traceOn, timed = timed) {
        index.compactIndex(spark, name); None
      }
      // audit probe, untimed: its answer is checked after the run
      index.probeJaccardIndex(spark, read(s"$dir/audit.parquet"), "doc_id", "text",
        name, minJ).coalesce(1).write.mode("overwrite").parquet(new File(res, s"$dir/audit").getPath)
      val (files, bytes) = indexFiles(work, name)
      dayStats += Rec("day" -> d, "timed" -> timed, "live_files" -> files, "table_bytes" -> bytes)
    }
    // warm-up: day 0 runs every op once, with two probes
    day(0, timed = false, probes = 2)
    rec.mark("warmup")
    val start = System.nanoTime()
    var d = 1
    while (d < days && ((d - 1) % rec.rounds != 0 || (System.nanoTime() - start) / 1e9 < seconds)) {
      day(d, timed = true, probes)
      d += 1
    }
    val wall = (System.nanoTime() - start) / 1e9
    rec.out += "timed_wall_s" -> wall
    rec.out += "first_timed_ms" -> rec.firstTimedMs.toDouble
    rec.mark("timed")
    rec.out += "days_run" -> d
    // the generated days ran out before the requested time did
    rec.out += "out_of_days" -> (wall < seconds)
    rec.out += "heap_after_gc_mb" -> heapAfterGc()
    rec.out += "ops" -> rec.ops
    rec.out += "index_days" -> dayStats
  }
}
