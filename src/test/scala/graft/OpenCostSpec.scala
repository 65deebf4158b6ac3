package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.drainListenerBus
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity
import graft.sources.{EventStore, Tables}
import graft.streaming.DurableAggregateFollower

/** The cost of OPENING a read: every store and index open face must come
  * back with exactly the schema Spark's own inference gives for the same
  * paths and options, and building the frame must start no Spark job (the
  * schema comes from one driver-side footer read, [[Tables.parquet]]). */
class OpenCostSpec extends AnyFunSuite {
  import SparkFixture._

  private val sf = "/root/testdata/sf0.001"
  private def events = Tables.events(spark, sf)
    .select("event_id", "ts", "user_id", "event_type", "value")
  /** Six days of events: stores built from it stay at or under Spark's
    * parallel-listing threshold (`spark.sql.sources.parallelPartitionDiscovery
    * .threshold`, 32 paths), above which the file index lists an explicit
    * file list with a job of its own — a listing cost, not an inference one. */
  private def week = events.filter(dayofmonth(col("ts")) <= 6)
  private def tmp(name: String) = Files.createTempDirectory(name).toString + "/t"

  /** `body`'s result and the Spark jobs started while it ran. The bus is
    * drained before the listener joins (earlier jobs stay out) and before
    * the count is read (every start has landed). `outsideSql` counts only
    * jobs outside any SQL execution — the shape of a schema-inference job
    * — so a step that also writes can still show it opened for free. */
  private def jobsDuring[A](outsideSql: Boolean = false)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!outsideSql || Option(e.properties)
            .forall(_.getProperty("spark.sql.execution.id") == null)) n.incrementAndGet()
    }
    drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val a = body
      drainListenerBus(sc)
      (a, n.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Opens with no job, and with Spark's inferred schema. */
  private def assertOpensLikeSpark(face: String, inferred: => DataFrame)
                                  (open: => DataFrame): DataFrame = {
    val (df, jobs) = jobsDuring()(open)
    assert(jobs == 0, s"$face: opening started $jobs Spark job(s)")
    assert(df.schema == inferred.schema, s"$face: schema differs from Spark's inference")
    df
  }

  private def raw(dir: String, files: Seq[String]): DataFrame =
    spark.read.option("basePath", dir).parquet(files: _*)

  test("open cost: readPinned on a date-partitioned store, and the job it replaces") {
    val dir = tmp("graft-open-pinned")
    EventStore.append(week.repartition(3), dir)
    EventStore.writeManifest(spark, dir)
    val files = EventStore.manifestFiles(spark, dir)
    assert(files.size > 3 && files.size <= 32 && files.forall(_.contains("event_date=")))
    // the measurement sees what the helper removes: plain inference runs a job
    assert(jobsDuring()(raw(dir, files))._2 >= 1)
    val df = assertOpensLikeSpark("readPinned",
      spark.read.option("basePath", dir).option("mergeSchema", false).parquet(files: _*))(
      EventStore.readPinned(spark, dir))
    assert(df.columns.last == "event_date") // discovered from the paths
    assert(df.count() == week.count())
  }

  test("open cost: a flat CTAS store") {
    val dir = tmp("graft-open-ctas")
    val agg = events.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    EventStore.createTable(agg, dir)
    val files = EventStore.manifestFiles(spark, dir)
    assert(!files.exists(_.contains("=")), s"want a flat store, got $files")
    val df = assertOpensLikeSpark("readPinned (flat)", raw(dir, files))(
      EventStore.readPinned(spark, dir))
    assert(df.count() == agg.count())
  }

  test("open cost: readFiles and changeFeed across a compaction") {
    val dir = tmp("graft-open-feed")
    EventStore.append(week.repartition(2), dir)
    EventStore.writeManifest(spark, dir)
    val v0 = EventStore.manifestVersion(spark, dir)
    EventStore.appendCommitted(events.filter(dayofmonth(col("ts")) === 7), dir, "open", 1L)
    EventStore.compactInPlace(spark, dir)
    val v1 = EventStore.manifestVersion(spark, dir)
    val (added, removed) = EventStore.manifestDiff(spark, dir, v0, v1)
    assert(added.nonEmpty && removed.nonEmpty, "the compaction must rewrite files")
    assertOpensLikeSpark("readFiles", raw(dir, added.map(dir + "/" + _)))(
      EventStore.readFiles(spark, dir, added))
    val feed = assertOpensLikeSpark("changeFeed",
      raw(dir, added.map(dir + "/" + _)).withColumn("_change_type", lit("insert")))(
      EventStore.changeFeed(spark, dir, v0, v1))
    // only the appended day is new; the compaction nets to nothing
    assert(feed.filter(col("_change_type") === "insert").count() ==
      events.filter(dayofmonth(col("ts")) === 7).count())
    assert(feed.filter(col("_change_type") === "delete").count() == 0)
  }

  test("open cost: readPinnedWhere and readPinnedPoint") {
    val dir = tmp("graft-open-pruned")
    EventStore.append(week.repartition(3), dir)
    EventStore.writeManifest(spark, dir)
    EventStore.writeFileStats(spark, dir, Seq("event_id"))
    EventStore.writeFileKeySets(spark, dir, "event_id")
    def sameFiles(df: DataFrame) = raw(dir, df.inputFiles.toSeq)
    val where = assertOpensLikeSpark("readPinnedWhere",
      sameFiles(EventStore.readPinnedWhere(spark, dir, "event_id", 10L, 40L)))(
      EventStore.readPinnedWhere(spark, dir, "event_id", 10L, 40L))
    assert(where.count() == week.filter(col("event_id").between(10L, 40L)).count())
    val point = assertOpensLikeSpark("readPinnedPoint",
      sameFiles(EventStore.readPinnedPoint(spark, dir, "event_id", 7L)))(
      EventStore.readPinnedPoint(spark, dir, "event_id", 7L))
    assert(point.count() == week.filter(col("event_id") === 7L).count())
  }

  test("open cost: the durable follower's state after a poll and after a restart") {
    val dir = tmp("graft-open-follow")
    val stateDir = tmp("graft-open-follow-state")
    EventStore.append(week, dir)
    EventStore.writeManifest(spark, dir)
    def agg(df: DataFrame, sign: org.apache.spark.sql.Column) =
      df.groupBy(col("event_type")).agg(sum(sign).as("n"))
    def mk() = new DurableAggregateFollower(spark, dir, stateDir,
      seed = v => agg(EventStore.readPinned(spark, dir, v), lit(1L)),
      fold = (st, feed) => st.unionByName(agg(feed,
          when(col("_change_type") === "insert", 1L).otherwise(-1L)))
        .groupBy(col("event_type")).agg(sum(col("n")).as("n")))
    def stateOnDisk(f: DurableAggregateFollower) =
      spark.read.parquet(stateDir + "/state.v" + f.seenVersion)
    val f1 = mk()
    EventStore.appendCommitted(events.filter(dayofmonth(col("ts")) === 7), dir, "open", 1L)
    // the poll writes the folded state (SQL jobs); its feed opens and the
    // state read-back must add no job outside them
    val (delivered, inference) = jobsDuring(outsideSql = true)(f1.follower.pollOnce())
    assert(delivered && inference == 0, s"a poll started $inference job(s) outside SQL")
    assert(f1.state.schema == stateOnDisk(f1).schema)
    val f2 = assertOpensLikeSpark("follower restart", stateOnDisk(f1))(mk().state)
    assert(f2.collect().toSet == f1.state.collect().toSet)
  }

  test("open cost: ivfProbeIndex over a cell-partitioned index") {
    val emb = Tables.embeddings(spark, sf)
    val cents = Similarity.ivfTrain(emb, nlist = 8, iters = 1)
    val path = tmp("graft-open-ivf")
    Similarity.ivfWriteIndex(emb, cents, path)
    val q = emb.filter(col("vec_id") === 0L)
      .select(graft.functions.VectorFunctions.toDouble(col("embedding")))
      .head().getSeq[Double](0).toIndexedSeq
    val probed = assertOpensLikeSpark("ivfProbeIndex",
      Similarity.ivfProbeFrame(spark.read.parquet(path), cents, q, k = 5))(
      Similarity.ivfProbeIndex(spark, path, cents, q, k = 5))
    assert(probed.select("vec_id").collect().map(_.getLong(0)).contains(0L))
  }

  test("open cost: Tables.table over every testdata table") {
    for (name <- Seq("region", "nation", "customer", "supplier", "part", "orders",
                     "lineitem", "events", "documents", "embeddings"))
      assertOpensLikeSpark(s"Tables.table($name)", spark.read.parquet(s"$sf/$name.parquet"))(
        Tables.table(spark, sf, name))
  }

  test("open cost: an evolved store opens with the path-first footer; mergeSchema unifies") {
    val dir = tmp("graft-open-evolve")
    val src = week.select("event_id", "ts", "user_id", "value")
    EventStore.append(src.filter(col("event_id") % 2 === 0), dir)
    EventStore.append(src.filter(col("event_id") % 2 === 1)
      .withColumn("q_score", round(col("value") / 250.0, 6)), dir)
    EventStore.writeManifest(spark, dir)
    val files = EventStore.manifestFiles(spark, dir)
    assert(files.size <= 32)
    // which generation wins is the path-first file's: pin it to Spark's pick
    val firstHasScore = spark.read.parquet(files.min).columns.contains("q_score")
    val single = assertOpensLikeSpark("readPinned(mergeSchema = false)",
      spark.read.option("basePath", dir).option("mergeSchema", false).parquet(files: _*))(
      EventStore.readPinned(spark, dir))
    assert(single.columns.contains("q_score") == firstHasScore)
    val merged = EventStore.readPinned(spark, dir, mergeSchema = true)
    assert(merged.schema == spark.read.option("basePath", dir)
      .option("mergeSchema", true).parquet(files: _*).schema)
    assert(merged.columns.contains("q_score") && merged.columns.contains("value"))
    // the session-wide merge switch is honoured too (Spark's own read)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assert(Tables.parquet(spark, files, Map("basePath" -> dir)).schema == merged.schema)
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }
}
