package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, xxhash64}

/** Minimal JSON writer for the result file and span dump. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Everything a workload needs: the session, its inputs and scratch space,
  * the run's budget, and the tracer when this is the traced run. */
final class Ctx(val spark: SparkSession, val data: String, val work: Path,
                val seed: Long, val seconds: Double, val trace: Option[Trace]) {
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  val info = mutable.LinkedHashMap.empty[String, Any]
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val setup = mutable.LinkedHashMap.empty[String, Double]
  val cores: Int = spark.sparkContext.defaultParallelism

  /** A span when tracing, a plain call otherwise. */
  def span[T](name: String, layer: String, op: Long)(body: => T): T =
    trace match {
      case Some(t) => t.span(name, layer, op)(body)
      case None => body
    }

  /** Count one operation; a thrown error or a failed check marks it failed. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body) catch {
      case e: Throwable =>
        fail(s"$what: ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(200))
        None
    }
  }

  def fail(msg: String): Unit = synchronized {
    failures += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  def check(ok: Boolean, msg: => String): Unit = {
    attempted += 1
    if (!ok) fail(msg)
  }

  /** Bench's evaluation: xxhash64 over every output column, folded with
    * bit_xor into one long that is collected to the driver. */
  def checksum(df: DataFrame, op: Long): Long = span("bench.checksum", "exec", op) {
    val r = df.select(xxhash64(df.columns.map(col): _*).as("__h"))
      .agg(expr("bit_xor(__h)")).collect()
    if (r.isEmpty || r(0).isNullAt(0)) 0L else r(0).getLong(0)
  }

  /** Release cached blocks an operator left behind, as Bench does. */
  def releaseCached(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Measures one timed loop: wall time, JVM GC and heap peak, filesystem
  * counters, and the tracer's totals over the loop only. */
final class Loop(ctx: Ctx) {
  private val t0 = System.nanoTime()
  private val gc0 = Trace.gcMs()
  private val fs0 = Trace.fs()
  Trace.resetHeapPeak()
  ctx.trace.foreach(_.reset())

  var wallS = 0.0
  def done(): Unit = wallS = ctx.secs(t0)
  def deadlineReached: Boolean = ctx.secs(t0) >= ctx.seconds

  /** Per-layer metrics shared by every workload, normalized per `ops`. */
  def layerMetrics(t: Trace, ops: Long): Seq[(String, Double)] = {
    t.drain()
    val fs = Trace.fs() - fs0
    val per = math.max(1L, ops).toDouble
    val a = t.all
    val self = t.selfMs
    def selfPer(layer: String) = self.getOrElse(layer, 0.0) / per
    Seq(
      "sql.self_ms" -> selfPer("sql"),
      "catalyst.analyze_ms" -> t.catalystMs("analysis") / per,
      "catalyst.optimize_ms" -> t.catalystMs("optimization") / per,
      "catalyst.plan_ms" -> t.catalystMs("planning") / per,
      "catalyst.aqe_replans" -> t.aqeUpdates / per,
      "exec.jobs" -> a.jobs / per,
      "exec.stages" -> a.stages / per,
      "exec.tasks" -> a.tasks / per,
      "exec.tasks_per_job" -> (if (a.jobs == 0) 0.0 else a.tasks.toDouble / a.jobs),
      "exec.task_run_ms" -> a.runMs / per,
      "exec.task_cpu_ms" -> a.cpuNs / 1e6 / per,
      "exec.task_gc_ms" -> a.gcMs / per,
      "exec.core_busy_frac" -> a.runMs / 1000.0 / (wallS * ctx.cores),
      "exec.scan_bytes" -> a.scanBytes / per,
      "exec.shuffle_write_bytes" -> a.shuffleWrite / per,
      "exec.shuffle_read_bytes" -> a.shuffleRead / per,
      "exec.spill_bytes" -> a.spill / per,
      "exec.self_ms" -> selfPer("exec"),
      "driver.collect_jobs" -> t.collectJobCount / per,
      "driver.result_bytes" -> t.collectResultBytes / per,
      "store.self_ms" -> selfPer("store"),
      "store.fs_read_ops" -> fs.readOps / per,
      "store.fs_write_ops" -> fs.writeOps / per,
      "store.fs_bytes_written" -> fs.bytesWritten / per,
      "streaming.self_ms" -> selfPer("streaming"),
      "operators.self_ms" -> selfPer("operators"),
      "jvm.driver_gc_ms" -> (Trace.gcMs() - gc0) / per,
      "jvm.heap_used_peak_mb" -> Trace.heapPeakMb())
  }

  def fsBytesWritten: Long = (Trace.fs() - fs0).bytesWritten
}

/** The benchmark's JVM side: `Main --workload W --seed N --seconds S
  * --trace 0|1 --data DIR --work DIR --out FILE`. Runs one workload against
  * the generated inputs in DIR and writes its measurements, checks and
  * run facts to FILE as one JSON object. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val work = Paths.get(a("work")).toAbsolutePath
    val traced = a("trace") == "1"
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
    if (traced) builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.register(spark)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val ctx = new Ctx(spark, a("data"), work, a("seed").toLong, a("seconds").toDouble,
      if (traced) Some(new Trace(spark)) else None)
    ctx.setup("session_s") = sessionS
    ctx.info ++= Seq("cores" -> cores, "spark_version" -> spark.version,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "shuffle_partitions" -> cores)
    try workload match {
      case "ingest" => Ingest.run(ctx)
      case "corpus" => Corpus.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        ctx.fail(s"workload aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
        e.printStackTrace()
    }
    ctx.trace.foreach { t =>
      t.stop()
      t.writeDump(work.resolve("spans.jsonl"))
      val self = t.selfMs.toSeq.sortBy(-_._2)
      val table = "layer\tself_ms\tspans\n" + self.map { case (l, ms) =>
        f"$l\t$ms%.1f\t${t.spans.count(_.layer == l)}"
      }.mkString("\n") + "\n"
      Files.writeString(work.resolve("layers.tsv"), table)
    }
    ctx.metrics("jvm.peak_rss_mb") = peakRssMb()
    val out = Json.obj(Seq(
      "workload" -> workload, "trace" -> traced,
      "attempted" -> ctx.attempted, "failed" -> ctx.failures.size,
      "failures" -> ctx.failures.toSeq, "setup" -> ctx.setup,
      "metrics" -> ctx.metrics, "info" -> ctx.info))
    Files.writeString(Paths.get(a("out")), out + "\n")
    spark.stop()
  }

  /** The JVM's resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
