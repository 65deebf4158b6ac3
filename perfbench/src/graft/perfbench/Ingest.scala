package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.EventStore
import graft.streaming.DurableAggregateFollower

/** Ingest: seeded event batches committed through
  * `EventStore.appendCommitted` under one txn app id, each followed by one
  * `pollOnce` of a durable count/sum follower and by the reads:
  * each of `Reads` is a ZX.SQL query over `readPinned` at the head — an
  * hourly windowed aggregate and a top-N over all users. A cycle is `CycleCommits`
  * commits and then one `compactInPlace`; the timed region runs whole
  * cycles, so every run has the same mix of commits, reads and compaction. */
object Ingest {
  val BatchRows = 2000
  val CycleCommits = 3
  val App = "perfbench-ingest"
  /** Event time a batch advances: 4 h, so a run walks a few days of Jan 2024. */
  val BatchSpanSec = 4 * 3600L
  val LateShare = 0.05
  val Jan2024 = 1704067200L
  val Reads = Seq(
    "select sum(value), count(value), max(value) group by event_type granularity 3600",
    "select sum(value), count(value) group by user_id order by sum(value) desc limit 10")

  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
  private val Types = Array("signup", "click", "error", "view", "purchase")

  /** Batch `i` of the feed: its rows and their logical size in bytes
    * (fixed-width columns at 8 bytes, strings at their UTF-8 length). ~5%
    * of rows are late and land on an earlier day of the month. */
  def batch(seed: Long, i: Int): (Seq[Row], Long) = {
    val rng = new scala.util.Random(seed * 1000003L + i)
    val start = Jan2024 + i * BatchSpanSec
    var bytes = 0L
    val rows = (0 until BatchRows).map { j =>
      val sec =
        if (rng.nextDouble() < LateShare) Jan2024 + rng.nextLong(math.max(1L, start - Jan2024 + 1))
        else start + rng.nextLong(BatchSpanSec)
      val et = Types(rng.nextInt(Types.length))
      val props = s"""{"k": ${rng.nextInt(100)}}"""
      bytes += 32 + et.getBytes(UTF_8).length + props.getBytes(UTF_8).length
      Row(i.toLong * BatchRows + j, new Timestamp(sec * 1000L + rng.nextInt(1000)),
        rng.nextInt(1500).toLong, et, math.round(rng.nextDouble() * 50000) / 100.0, props)
    }
    (rows, bytes)
  }

  /** c17b's durable fold: signed count and fixed-point value sum per
    * (event_type, day). */
  private def keyed(df: DataFrame, sign: Column): DataFrame = {
    val fp = floor(coalesce(col("value"), lit(0.0)) * lit(1048576.0)).cast(LongType)
    df.select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        fp.as("__fv"), sign.as("__s"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("__s")).as("n"), sum(col("__s") * col("__fv")).as("sum_fp"))
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val path = ctx.work.resolve("store").toString
    val stateDir = ctx.work.resolve("follower-state").toString
    def frame(rows: Seq[Row]) = spark.createDataFrame(rows.asJava, Schema)
    CountingLocalFileSystem.root = path

    var committed = 0
    var rowsCommitted, bytesCommitted = 0L
    val commitMs, pollMs, freshMs, readMs, readOpenMs, compactMs = mutable.ArrayBuffer.empty[Double]
    val feedRows, liveFiles = mutable.ArrayBuffer.empty[Long]

    // staging: the first batch creates the store, then the follower seeds
    val s0 = System.nanoTime()
    val (rows0, bytes0) = batch(ctx.seed, 0)
    EventStore.appendCommitted(frame(rows0), path, App, 0L)
    committed = 1; rowsCommitted = rows0.size; bytesCommitted = bytes0
    val follower = new DurableAggregateFollower(spark, path, stateDir,
      seed = v => keyed(EventStore.readPinned(spark, path, v), lit(1L)),
      fold = (st, feed) => st.unionByName(keyed(feed,
          when(col("_change_type") === "insert", 1L).otherwise(-1L)))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("n")).as("n"), sum(col("sum_fp")).as("sum_fp")))
    ctx.setup("staging_s") = ctx.secs(s0)

    def commitRound(op: Long, compact: Boolean, timed: Boolean): Unit = {
      val i = committed
      val (rows, bytes) = batch(ctx.seed, i)
      val df = frame(rows)
      val seen0 = follower.seenVersion
      val c0 = System.nanoTime()
      ctx.attempt(s"commit $i")(ctx.span("store.commit", "store", op)(
        EventStore.appendCommitted(df, path, App, i.toLong)))
      val c1 = System.nanoTime()
      committed += 1; rowsCommitted += rows.size; bytesCommitted += bytes
      val delivered = ctx.attempt(s"poll after commit $i")(
        ctx.span("streaming.poll", "streaming", op)(follower.follower.pollOnce()))
      val c2 = System.nanoTime()
      ctx.check(delivered.contains(true) && follower.seenVersion > seen0,
        s"follower did not reach the version of commit $i")
      if (timed) {
        commitMs += (c1 - c0) / 1e6; pollMs += (c2 - c1) / 1e6; freshMs += (c2 - c0) / 1e6
        // feed size, counted in an audit span the layer totals skip
        ctx.trace.foreach(t => feedRows += t.span("audit.feed_rows", Trace.Audit, op)(
          EventStore.changeFeed(spark, path, seen0, follower.seenVersion).count()))
      }
      for (sql <- Reads) ctx.attempt(s"read after commit $i: $sql") {
        val r0 = System.nanoTime()
        val pinned = ctx.span("store.read_open", "store", op)(EventStore.readPinned(spark, path))
        val r1 = System.nanoTime()
        val q = ctx.span("sql.build", "sql", op)(graft.sql.ZxSql.run(pinned, sql))
        ctx.checksum(q, op)
        if (timed) { readOpenMs += (r1 - r0) / 1e6; readMs += (System.nanoTime() - r0) / 1e6 }
      }
      if (compact) {
        // files at their pile-up peak, just before compaction folds them
        if (timed) ctx.trace.foreach(t => liveFiles += t.span("audit.live_files", Trace.Audit, op)(
          EventStore.manifestFiles(spark, path).size.toLong))
        val k0 = System.nanoTime()
        ctx.attempt(s"compaction after commit $i")(ctx.span("store.compact", "store", op)(
          EventStore.compactInPlace(spark, path, parallelism = ctx.cores)))
        if (timed) compactMs += ctx.secs(k0) * 1000
      }
    }

    // untimed warm-up: every path of the loop once
    val w0 = System.nanoTime()
    commitRound(-1, compact = false, timed = false)
    commitRound(-1, compact = true, timed = false)
    ctx.setup("warmup_s") = ctx.secs(w0)

    val rows0Loop = rowsCommitted
    val bytes0Loop = bytesCommitted
    val loop = new Loop(ctx)
    var rounds = 0
    while (rounds == 0 || !loop.deadlineReached) {
      for (k <- 1 to CycleCommits) {
        rounds += 1
        commitRound(rounds, compact = k == CycleCommits, timed = true)
      }
    }
    loop.done()
    val loopBytesWritten = loop.fsBytesWritten
    ctx.info ++= Seq("rounds" -> rounds, "commits" -> committed, "rows_committed" -> rowsCommitted,
      "user_bytes_committed" -> bytesCommitted, "reads" -> readMs.size,
      "compactions" -> compactMs.size, "batch_rows" -> BatchRows,
      "reads_ms" -> readMs.toSeq, "commits_ms" -> commitMs.toSeq, "polls_ms" -> pollMs.toSeq,
      "compactions_ms" -> compactMs.toSeq)
    ctx.metrics("query_p50_ms") = Stats.median(readMs.toSeq)
    ctx.metrics("query_p90_ms") = Stats.quantile(readMs.toSeq, 0.9)
    ctx.metrics("throughput_per_s") = (rowsCommitted - rows0Loop) / loop.wallS

    ctx.trace.foreach { t =>
      ctx.metrics ++= loop.layerMetrics(t, rounds)
      val storeBytes = dirBytes(new java.io.File(path))
      ctx.metrics ++= Seq(
        "sql.build_ms" -> Stats.median(t.spanMs("sql.build")),
        "sql.eager_jobs" -> t.jobsIn("sql.build").toDouble / math.max(1, readMs.size),
        "store.commit_ms" -> Stats.median(commitMs.toSeq),
        "store.commit_p90_ms" -> Stats.quantile(commitMs.toSeq, 0.9),
        "store.read_open_ms" -> Stats.median(readOpenMs.toSeq),
        "store.compact_ms" -> (if (compactMs.isEmpty) 0.0 else Stats.median(compactMs.toSeq)),
        "store.live_files" -> Stats.median(liveFiles.map(_.toDouble).toSeq),
        "store.versions" -> (EventStore.manifestVersion(spark, path) + 1).toDouble,
        "store.write_amp" -> loopBytesWritten.toDouble / (bytesCommitted - bytes0Loop),
        "store.bytes_per_input_byte" -> storeBytes.toDouble / bytesCommitted,
        "streaming.poll_ms" -> Stats.median(pollMs.toSeq),
        "streaming.feed_rows" -> feedRows.sum.toDouble / math.max(1, feedRows.size),
        "streaming.jobs_per_poll" -> t.jobsIn("streaming.poll").toDouble / math.max(1, pollMs.size),
        "streaming.fresh_p50_ms" -> Stats.median(freshMs.toSeq),
        "streaming.fresh_p90_ms" -> Stats.quantile(freshMs.toSeq, 0.9))
    }

    // output checks, outside the timed region
    val head = EventStore.readPinned(spark, path).select(Schema.fieldNames.map(col): _*)
    val expected = frame((0 until committed).flatMap(i => batch(ctx.seed, i)._1))
    ctx.check(head.count() == rowsCommitted && ctx.checksum(head, -2) == ctx.checksum(expected, -2),
      "store head rows/checksum differ from the generated batches")
    val last = committed - 1
    val v0 = EventStore.manifestVersion(spark, path)
    val replayed = graft.streaming.EventStream.ingestBatch(frame(batch(ctx.seed, last)._1),
      path, App, last.toLong)
    ctx.check(!replayed && EventStore.manifestVersion(spark, path) == v0,
      s"replaying committed batch $last committed again")
    follower.follower.pollOnce()
    val fromState = follower.state.filter(col("n") > 0).collect().map(_.toSeq).toSet
    val recomputed = keyed(EventStore.readPinned(spark, path), lit(1L)).collect().map(_.toSeq).toSet
    ctx.check(fromState == recomputed, "follower state differs from a recompute over readPinned")
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L) else f.length
}
