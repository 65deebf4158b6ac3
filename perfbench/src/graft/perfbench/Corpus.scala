package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.operators.{Dedup, Similarity}

/** Corpus: the build pass of a training-data pipeline over a 10x
  * near-duplicate corpus — MinHash pairs, then transitive clusters, then
  * IVF training and the cell-partitioned index write — followed by a batch
  * of kNN probes against the index it just wrote. One round is one build
  * pass plus one probe batch. */
object Corpus {
  val Threshold = 0.8
  val NList = 16
  val K = 10
  /** The JIT still speeds up the first timed passes, so the median pass is
    * taken over at least this many; a run that stops after fewer would
    * report an earlier, slower point of that ramp. */
  val MinRounds = 3

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val truth = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(ctx.data, "corpus_truth.json"))
    val docGroups = truth.get("doc_groups").elements().asScala
      .map(_.elements().asScala.map(_.asLong).toSeq).toSeq
    val probes = truth.get("probes").elements().asScala.map { p =>
      (p.get("query").elements().asScala.map(_.asDouble).toIndexedSeq,
        p.get("copies").elements().asScala.map(_.asLong).toSet)
    }.toSeq

    val s0 = System.nanoTime()
    val docs = spark.read.parquet(s"${ctx.data}/corpus_docs.parquet")
    val emb = spark.read.parquet(s"${ctx.data}/corpus_embeddings.parquet")
    val nDocs = docs.count()
    ctx.setup("staging_s") = ctx.secs(s0)
    ctx.info ++= Seq("docs" -> nDocs, "vectors" -> emb.count(), "probes" -> probes.size)

    val pairsPath = ctx.work.resolve("pairs").toString
    val clustersPath = ctx.work.resolve("clusters").toString
    val indexPath = ctx.work.resolve("ivf-index").toString
    val stepMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def step[T](name: String, op: Long)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = ctx.span(s"operators.$name", "operators", op)(body)
      stepMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
      r
    }

    var cents: Seq[(Int, Seq[Double])] = Nil
    var lastProbe = Seq.empty[Array[Row]]
    def buildPass(op: Long): Unit = {
      step("minhash_pairs", op) {
        Dedup.minhashPairs(docs, Threshold).write.mode("overwrite").parquet(pairsPath)
      }
      step("clusters", op) {
        Dedup.dupClusters(spark.read.parquet(pairsPath))
          .write.mode("overwrite").parquet(clustersPath)
      }
      cents = step("ivf_train", op)(Similarity.ivfTrain(emb, NList))
      step("ivf_index", op)(Similarity.ivfWriteIndex(emb, cents, indexPath))
      ctx.releaseCached()
    }
    val probeMs = mutable.ArrayBuffer.empty[Double]
    def probeBatch(op: Long, timed: Boolean): Unit =
      lastProbe = probes.map { case (q, _) =>
        val t0 = System.nanoTime()
        val rows = ctx.span("operators.probe", "operators", op) {
          val df = Similarity.ivfProbeIndex(spark, indexPath, cents, q, K)
          ctx.span("bench.collect", "exec", op)(df.select("vec_id", "cos").collect())
        }
        if (timed) probeMs += (System.nanoTime() - t0) / 1e6
        rows
      }

    // untimed warm-up round
    val w0 = System.nanoTime()
    ctx.attempt("warm-up build pass")(buildPass(-1))
    ctx.attempt("warm-up probes")(probeBatch(-1, timed = false))
    stepMs.clear()
    ctx.setup("warmup_s") = ctx.secs(w0)

    val passMs = mutable.ArrayBuffer.empty[Double]
    val loop = new Loop(ctx)
    var rounds = 0
    while (rounds < MinRounds || !loop.deadlineReached) {
      rounds += 1
      val p0 = System.nanoTime()
      ctx.attempt(s"build pass $rounds")(buildPass(rounds)).foreach { _ =>
        passMs += (System.nanoTime() - p0) / 1e6
        ctx.attempt(s"probe batch $rounds")(probeBatch(rounds, timed = true))
      }
    }
    loop.done()
    ctx.info ++= Seq("rounds" -> rounds, "passes_ms" -> passMs.toSeq, "probes_ms" -> probeMs.toSeq)
    ctx.metrics("query_p50_ms") = Stats.median(probeMs.toSeq)
    ctx.metrics("query_p90_ms") = Stats.quantile(probeMs.toSeq, 0.9)
    ctx.metrics("throughput_per_s") = nDocs / (Stats.median(passMs.toSeq) / 1000.0)
    ctx.trace.foreach { t =>
      ctx.metrics ++= loop.layerMetrics(t, rounds)
      for ((name, ms) <- stepMs) ctx.metrics(s"operators.${name}_ms") = Stats.median(ms.toSeq)
      ctx.metrics("operators.probe_ms") = Stats.median(t.spanMs("operators.probe"))
    }

    // output checks, outside the timed region
    val clusters = spark.read.parquet(clustersPath).select("doc_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (ctx.trace.isDefined) {
      ctx.metrics("operators.pairs_out") = spark.read.parquet(pairsPath).count().toDouble
      ctx.metrics("operators.clusters_out") = clusters.values.toSet.size.toDouble
    }
    for (g <- docGroups)
      ctx.check(g.forall(clusters.contains) && g.map(clusters).toSet.size == 1,
        s"exact copies ${g.mkString(",")} are not in one cluster")
    for (((_, copies), rows) <- probes.zip(lastProbe)) {
      val best = rows.map(_.getDouble(1)).max
      val zero = rows.filter(_.getDouble(1) == best).map(_.getLong(0)).toSet
      ctx.check(zero == copies, s"probe's distance-0 neighbours ${zero.mkString(",")} " +
        s"are not its exact copies ${copies.mkString(",")}")
    }
  }
}
