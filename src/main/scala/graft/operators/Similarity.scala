package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.sources.Tables

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two rungs:
  *  - [[bruteForceKnn]] — exact cosine top-k: broadcast the query vector,
  *    one narrow codegen'd map computes scores, `orderBy+limit` compiles to
  *    Spark's TakeOrderedAndProject (per-partition top-k, tiny driver merge —
  *    no full sort, no wide shuffle). The correctness baseline.
  *  - [[annSignLsh]] — the scale path: sign-bit LSH bucketing prunes the scan
  *    to the query's bucket before scoring. At 100 TB the table would be
  *    written bucketed/partitioned by this key, so a probe touches one
  *    partition instead of the fleet; recall can be traded up by probing
  *    neighboring buckets (hamming-1 on the bucket id).
  */
object Similarity {

  /** Exact top-k neighbors of `queryId` by cosine. The query's norm rides in
    * the broadcast row, each candidate's norm is computed once per row — one
    * dot product per candidate, not three. */
  def bruteForceKnn(emb: DataFrame, queryId: Long, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__q"), norm(col(vecCol)).as("__qn"))
    emb.crossJoin(broadcast(q))
      .withColumn("cos", dot(col(vecCol), col("__q")) / (norm(col(vecCol)) * col("__qn")))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
      .drop("__q", "__qn", vecCol)
  }

  /** ANN: restrict the candidate set to the query's sign-LSH bucket, then
    * exact cosine top-k within it.
    *
    * `probes > 1` trades latency for recall by also scanning the buckets at
    * hamming distance 1 from the query's (flip one sign bit): nearest
    * misses concentrate exactly there. The probe set stays a tiny
    * deterministic broadcast — at scale each probe still touches only its
    * bucket's partition. probes is capped at bits+1 (the query bucket plus
    * every 1-bit flip). */
  def annSignLsh(emb: DataFrame, queryId: Long, k: Int, bits: Int = 8,
                 probes: Int = 1, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    require(probes >= 1 && probes <= bits + 1,
      s"probes must be in [1, bits+1], got $probes for $bits bits")
    val bucketed = emb.withColumn("bucket", signBucket(col(vecCol), bits))
    val q = bucketed.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__q"), norm(col(vecCol)).as("__qn"), col("bucket"))
    val probeBuckets = q.select(
      explode(array((lit(0L) +: (0 until bits).map(d => lit(1L << d))): _*)).as("__flip"),
      col("bucket"), col("__q"), col("__qn"))
      .withColumn("bucket", col("bucket").bitwiseXOR(col("__flip")))
      .orderBy(col("__flip").asc) // query bucket first, then bit order
      .limit(probes)
      .drop("__flip")
    bucketed.join(broadcast(probeBuckets), "bucket")
      .withColumn("cos", dot(col(vecCol), col("__q")) / (norm(col(vecCol)) * col("__qn")))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
      .drop("__q", "__qn", vecCol)
  }

  /** Fixed-point quantum for deterministic k-means accumulation: component
    * sums are folded as `floor(v * 2^20)` LONGs, which are exact and
    * order-independent — the trained centroids come out bit-identical across
    * partitionings, executor counts, AND engines (the DuckDB oracle replays
    * the same training). Plain double sums would drift with Spark's
    * partition-parallel reduction order. */
  private val FixedPointQ = 1048576.0 // 2^20

  /** Hard ceiling on driver/plan-resident centroid state, in DOUBLE slots
    * (nlist × dim): 2^20 doubles = 8 MB — far above any sane IVF config
    * (nlist 4096 × dim 256 = 2^20 exactly; typical probes use KBs), far
    * below what OOMs a driver or bloats every serialized task with literal
    * centroids. A misconfigured 1M-centroid train fails this require with
    * arithmetic in the message instead of dying in a collect. */
  private val MaxCentroidSlots = 1L << 20

  private def requireCentroidBudget(nlist: Long, dim: Long, site: String): Unit =
    require(nlist * dim <= MaxCentroidSlots,
      s"$site: nlist=$nlist x dim=$dim = ${nlist * dim} centroid doubles exceeds " +
        s"the driver/plan budget of $MaxCentroidSlots (8 MB) — centroids are " +
        "driver-held and embedded in the assignment plan; shrink nlist or " +
        "switch to a joined (non-literal) centroid table for indexes this wide")

  /** Row-local cell assignment against driver-held centroids: the per-row
    * argmax over `nlist` broadcast-literal dot products — a narrow projection,
    * ZERO exchanges (PlanSpec-pinned). Ties break to the lowest cid via the
    * (score, -cid) struct max. At 100 TB this is the map-side step that lets
    * the index build write the table partitioned by `cell`. The centroid set
    * rides in the PLAN as literals, so its size is require-bounded
    * ([[MaxCentroidSlots]]). */
  def assignCells(emb: DataFrame, cents: Seq[(Int, Seq[Double])],
                  vecCol: String = "embedding"): DataFrame = {
    requireCentroidBudget(cents.size.toLong,
      cents.headOption.map(_._2.size.toLong).getOrElse(0L), "assignCells")
    val scored = array(cents.sortBy(_._1).map { case (cid, cv) =>
      struct(dot(col(vecCol), typedLit(cv)).as("s"), lit(-cid).as("nc"))
    }: _*)
    emb.withColumn("cell", (-array_max(scored).getField("nc")).cast(org.apache.spark.sql.types.IntegerType))
  }

  /** Lloyd k-means over the embedding column, `iters` centroid updates from
    * deterministic seeds (the first `nlist` vectors). Each iteration is one
    * narrow assignment pass + one tiny aggregation collecting nlist rows ×
    * (dim+2) longs to the driver — require-bounded at [[MaxCentroidSlots]]
    * (8 MB), so a misconfigured train (1M centroids × 768 dims = 6 GB)
    * fails loudly up front instead of OOMing the driver mid-collect; empty
    * cells drop. Returns (cid, centroid) pairs for [[assignCells]] /
    * persistence. */
  def ivfTrain(emb: DataFrame, nlist: Int = 16, iters: Int = 2,
               idCol: String = "vec_id", vecCol: String = "embedding"): Seq[(Int, Seq[Double])] = {
    // pre-collect bound with dim unknown: even dim = 1 over this many seeds
    // busts the budget, so the seed collect itself is already misconfigured
    requireCentroidBudget(nlist.toLong, 1L, "ivfTrain")
    var cents: Seq[(Int, Seq[Double])] = emb.filter(col(idCol) < nlist)
      .select(col(idCol).cast(org.apache.spark.sql.types.IntegerType), toDouble(col(vecCol)))
      .collect().toSeq
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toIndexedSeq)
      .sortBy(_._1)
    val dim = cents.head._2.size
    requireCentroidBudget(nlist.toLong, dim.toLong, "ivfTrain")
    for (_ <- 0 until iters) {
      val sumCols = (0 until dim).map(j =>
        sum(floor(element_at(col(vecCol), j + 1)
          .cast(org.apache.spark.sql.types.DoubleType) * FixedPointQ)).as(s"s$j"))
      val rows = assignCells(emb, cents, vecCol)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), sumCols: _*)
        .collect()
      cents = rows.toSeq.map { r =>
        val n = r.getLong(1)
        r.getInt(0) -> (0 until dim).map(j => r.getLong(2 + j).toDouble / (n * FixedPointQ)).toIndexedSeq
      }.sortBy(_._1)
    }
    cents
  }

  /** Persist trained centroids — the index artifact a deployment builds
    * once and reuses across every query and the partitioned-by-cell table
    * write. Doubles round-trip exactly through Parquet, so assignments from
    * re-read centroids are bit-identical to the training run's. */
  def writeCentroids(spark: org.apache.spark.sql.SparkSession,
                     cents: Seq[(Int, Seq[Double])], path: String): Unit = {
    import spark.implicits._
    cents.toDF("cid", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  def readCentroids(spark: org.apache.spark.sql.SparkSession,
                    path: String): Seq[(Int, Seq[Double])] =
    Tables.parquet(spark, Seq(path)).select(col("cid"), col("centroid"))
      .collect().toSeq
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toIndexedSeq)
      .sortBy(_._1)

  /** Driver-side left-fold dot product — IEEE-identical to the executors'
    * Column-level fold AND DuckDB's list_reduce, so driver-computed probe
    * cells and query norms stay oracle-safe. */
  private def foldDot(a: Seq[Double], b: Seq[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.size) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** The nProbe centroid cells nearest the query (dot-ranked, ties to the
    * lowest cid) — the ONE probe-selection rule [[ivfKnn]] and
    * [[ivfProbeIndex]] must share for index probes to equal direct queries. */
  private def rankProbes(cents: Seq[(Int, Seq[Double])], q: Seq[Double],
                         nProbe: Int): Seq[Int] =
    cents.sortBy { case (cid, cv) => (-foldDot(cv, q), cid) }
      .take(nProbe).map(_._1)

  /** IVF-flat ANN: k-means-trained centroids ([[ivfTrain]]), every vector
    * assigned row-locally to its best cell ([[assignCells]] — no exchange),
    * queries probe the `nProbe` nearest cells and score exactly within them.
    *
    * The query path is join-free: the query vector and probe-cell ids are
    * driver-computed (nlist dot products on ≤ a few KB of centroids, the
    * same left-fold arithmetic the executors use), so the probe compiles to
    * scan → narrow filter → TakeOrderedAndProject. At scale the assignment
    * is a one-off build step (the table is written partitioned by `cell`),
    * so a probe reads nProbe/nlist of the data; recall/latency trades via
    * nProbe. */
  def ivfKnn(emb: DataFrame, queryId: Long, k: Int, nlist: Int = 16,
             nProbe: Int = 2, iters: Int = 2, idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    val cents = ivfTrain(emb, nlist, iters, idCol, vecCol)
    val q = emb.filter(col(idCol) === queryId).select(toDouble(col(vecCol)))
      .head().getSeq[Double](0).toIndexedSeq
    val qn = math.sqrt(foldDot(q, q))
    val probe = rankProbes(cents, q, nProbe)
    assignCells(emb, cents, vecCol)
      .filter(col("cell").isin(probe: _*))
      .withColumn("cos", dot(col(vecCol), typedLit(q)) / (norm(col(vecCol)) * lit(qn)))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
      .drop(vecCol) // schema-agnostic: keep caller's cols + cell + cos
  }

  /** Symmetric int8 scalar quantization of a [-1,1]-scale embedding:
    * q[i] = clamp(round(v[i]·127), −127, 127), held as integral DOUBLEs so
    * the shared dot/norm machinery applies unchanged and every sum is exact
    * (|q| ≤ 127 ⇒ a 4k-dim dot ≤ 2^28 ≪ 2^53). The 100 TB lever: a
    * quantized index is 4× smaller than float32 — 4× less scan IO and
    * executor cache per probe — at a small recall cost the exact-rerank
    * pattern recovers. round() is half-away-from-zero on both engines, so
    * codes are bit-identical to the DuckDB oracle's. */
  def quantize(vec: org.apache.spark.sql.Column, scale: Int = 127): org.apache.spark.sql.Column =
    transform(toDouble(vec),
      x => least(greatest(round(x * scale), lit(-scale.toDouble)), lit(scale.toDouble)))

  /** Exact top-k by QUANTIZED cosine — [[bruteForceKnn]] over int8 codes.
    * Same broadcast + TakeOrderedAndProject shape; scores differ from full
    * precision only by quantization error. */
  def quantizedKnn(emb: DataFrame, queryId: Long, k: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val qz = emb.withColumn("__qv", quantize(col(vecCol)))
    val q = qz.filter(col(idCol) === queryId)
      .select(col("__qv").as("__q"), norm(col("__qv")).as("__qn"))
    qz.crossJoin(broadcast(q))
      .withColumn("qcos", dot(col("__qv"), col("__q")) / (norm(col("__qv")) * col("__qn")))
      .orderBy(col("qcos").desc, col(idCol).asc)
      .limit(k)
      .drop("__q", "__qn", "__qv", vecCol)
  }

  // --------------------------------------------------- product quantization

  /** Row-local L2 sub-vector assignment: argmin ‖v−c‖² over a codebook,
    * computed as argmax(⟨v,c⟩ − ‖c‖²/2) so the executors run the same
    * left-fold dot the whole ANN stack (and the DuckDB oracle) uses; the
    * ‖c‖²/2 terms are driver-folded constants. Ties break to the lowest
    * code via the (score, −code) struct max, mirroring [[assignCells]]. */
  private def l2AssignExpr(subCol: org.apache.spark.sql.Column,
                           cents: Seq[(Int, Seq[Double])]): org.apache.spark.sql.Column = {
    val scored = array(cents.sortBy(_._1).map { case (cid, cv) =>
      struct((dot(subCol, typedLit(cv)) - lit(foldDot(cv, cv) / 2)).as("s"),
        lit(-cid).as("nc"))
    }: _*)
    (-array_max(scored).getField("nc"))
      .cast(org.apache.spark.sql.types.IntegerType)
  }

  /** Product-quantization codebooks: split the D dims into `m` contiguous
    * subspaces of D/m and Lloyd-train `ksub` L2 centroids per subspace —
    * the compression rung ABOVE int8 ([[quantize]]): a vector becomes m
    * one-byte codes (64-dim float32 → 4 bytes at m=4, a 64× reduction),
    * the billion-scale ANN memory format. Same determinism machinery as
    * [[ivfTrain]]: seeds are the first `ksub` sub-vectors, per-dim sums
    * fold as `floor(v·2^20)` LONGs (order-independent, engine-exact), so
    * codebooks are bit-identical across partitionings AND engines and the
    * DuckDB oracle can replay the whole train+encode.
    *
    * ALL m subspaces train in ONE job per iteration: the sub-vectors
    * posexplode to (subspace, sv) rows — same total bytes as the input —
    * each row picks its code against its subspace's codebook (a CASE over
    * m plan-literal books, budget-gated), and a single
    * `groupBy(subspace, code)` folds the fixed-point sums. Hash partial
    * aggregation means the shuffle carries ≤ partitions × m × ksub rows,
    * not n × m — at 100 TB this is one corpus scan per iteration instead
    * of m, with a KB-scale exchange. Empty cells drop per subspace. */
  def pqTrain(emb: DataFrame, m: Int = 4, ksub: Int = 16, iters: Int = 1,
              idCol: String = "vec_id", vecCol: String = "embedding"): Seq[Seq[(Int, Seq[Double])]] = {
    require(m > 0 && ksub > 0 && iters >= 0,
      s"pqTrain: need m > 0, ksub > 0, iters >= 0; got m=$m ksub=$ksub iters=$iters")
    // dsub >= 1 lower bound fails hopeless configs BEFORE the seed collect
    requireCentroidBudget(m.toLong * ksub, 1L, "pqTrain")
    val seedRows = emb.filter(col(idCol) < ksub)
      .select(col(idCol).cast(org.apache.spark.sql.types.IntegerType), toDouble(col(vecCol)))
      .collect().toSeq
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toIndexedSeq).sortBy(_._1)
    // the seed contract is ids 0..ksub-1 EXACTLY — duplicate or negative
    // ids below ksub would otherwise pass a bare size check (or, with
    // exactly-compensating duplicates, silently train from wrong seeds)
    require(seedRows.map(_._1) == (0 until ksub),
      s"pqTrain: need $idCol ids 0..${ksub - 1} exactly once as seeds, " +
        s"found [${seedRows.map(_._1).take(8).mkString(", ")}${if (seedRows.size > 8) ", …" else ""}] " +
        s"(${seedRows.size} rows with $idCol < $ksub)")
    val dim = seedRows.head._2.size
    require(dim % m == 0, s"pqTrain: dim $dim does not split into $m subspaces")
    val dsub = dim / m
    requireCentroidBudget(m.toLong * ksub, dsub.toLong, "pqTrain")
    var books: IndexedSeq[Seq[(Int, Seq[Double])]] = (0 until m).map { j =>
      seedRows.map { case (cid, v) => cid -> v.slice(j * dsub, (j + 1) * dsub) }
    }
    if (iters > 0) {
      // persist pays only when the loop re-reads it: at iters == 1 the
      // explode is consumed exactly once — caching it would add a full
      // memory-store write (16 sub-vector rows per vector) for zero reuse
      val subBase = emb.select(col(idCol), posexplode(array((0 until m).map(j =>
          toDouble(slice(col(vecCol), j * dsub + 1, dsub))): _*)).as(Seq("__j", "__sv")))
      val sub = if (iters > 1) subBase.persist() else subBase
      try {
        for (_ <- 0 until iters) {
          val codeExpr = (1 until m).foldLeft(
            when(col("__j") === 0, l2AssignExpr(col("__sv"), books(0)))) {
            (acc, j) => acc.when(col("__j") === j, l2AssignExpr(col("__sv"), books(j)))
          }
          val sumCols = (0 until dsub).map(d =>
            sum(floor(element_at(col("__sv"), d + 1) * FixedPointQ)).as(s"s$d"))
          val rows = sub.withColumn("__code", codeExpr)
            .groupBy(col("__j"), col("__code"))
            .agg(count(lit(1)).as("n"), sumCols: _*)
            .collect()
          val byJ = rows.toSeq.groupBy(_.getInt(0))
          books = (0 until m).map { j =>
            byJ.getOrElse(j, Seq.empty).map { r =>
              val n = r.getLong(2)
              r.getInt(1) ->
                (0 until dsub).map(d => r.getLong(3 + d).toDouble / (n * FixedPointQ)).toIndexedSeq
            }.sortBy(_._1)
          }
        }
      } finally sub.unpersist()
    }
    books
  }

  /** Encode every vector as its m PQ codes — ONE narrow projection (m
    * row-local argmins over plan-literal codebooks, zero exchanges, the
    * [[assignCells]] economics m times over). The `codes` column is what a
    * deployment stores: m bytes/vector instead of 4·D. */
  def pqEncode(emb: DataFrame, books: Seq[Seq[(Int, Seq[Double])]],
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(books.nonEmpty && books.forall(_.nonEmpty), "pqEncode: empty codebooks")
    val dsub = books.head.head._2.size
    requireCentroidBudget(books.map(_.size.toLong).sum, dsub.toLong, "pqEncode")
    val v = toDouble(col(vecCol))
    emb.withColumn("codes", array(books.zipWithIndex.map { case (book, j) =>
      l2AssignExpr(slice(v, j * dsub + 1, dsub), book)
    }: _*))
  }

  /** The ADC scoring expression over a `codes` column: each subspace
    * contributes a driver-computed lookup-table score ⟨q_j, centroid⟩
    * indexed by the row's code; the row total folds them in subspace
    * order. Dense LUTs over 0..maxCid keep indexing aligned — dropped
    * (empty) cells can never be emitted by the encoder. Shared by
    * [[pqKnn]] (raw query) and [[ivfPqProbe]] (per-cell residual query). */
  private def adcExpr(books: Seq[Seq[(Int, Seq[Double])]],
                      q: Seq[Double]): org.apache.spark.sql.Column = {
    val dsub = books.head.head._2.size
    books.zipWithIndex.map { case (book, j) =>
      val qj = q.slice(j * dsub, (j + 1) * dsub)
      val byCid = book.toMap
      val lut = (0 until book.map(_._1).max + 1).map(cid =>
        byCid.get(cid).map(foldDot(qj, _)).getOrElse(Double.NegativeInfinity))
      element_at(typedLit(lut), element_at(col("codes"), j + 1) + 1)
    }.reduce(_ + _)
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the query stays full
    * precision; each subspace contributes a driver-computed lookup-table
    * score ⟨q_j, centroid[code_j]⟩ and the row's score is their fixed-order
    * sum — per row the work is m array lookups + (m−1) adds, NO dot
    * product, which is the entire point at billion scale. Compiles to
    * scan → narrow map → TakeOrderedAndProject, join-free like [[ivfKnn]].
    *
    * `shortlist > 0` adds the standard recall recovery: exact cosine
    * re-ranks only the ADC top-`shortlist` rows (a driver-local handful),
    * so the corpus-wide pass still never computes a dot product — the
    * probe on /root/testdata embeddings recovers the full exact top-10
    * from a 100-row shortlist at m=16, ksub=16. */
  def pqKnn(emb: DataFrame, books: Seq[Seq[(Int, Seq[Double])]],
            queryId: Long, k: Int, shortlist: Int = 0,
            idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(shortlist == 0 || shortlist >= k,
      s"pqKnn: shortlist must be 0 (pure ADC) or >= k, got $shortlist for k=$k")
    val q = emb.filter(col(idCol) === queryId).select(toDouble(col(vecCol)))
      .head().getSeq[Double](0).toIndexedSeq
    val scored = pqEncode(emb, books, idCol, vecCol)
      .withColumn("adc", adcExpr(books, q))
    if (shortlist == 0)
      scored.orderBy(col("adc").desc, col(idCol).asc).limit(k).drop(vecCol, "codes")
    else {
      val qn = math.sqrt(foldDot(q, q))
      scored.orderBy(col("adc").desc, col(idCol).asc).limit(shortlist)
        .withColumn("cos", dot(col(vecCol), typedLit(q)) / (norm(col(vecCol)) * lit(qn)))
        .orderBy(col("cos").desc, col(idCol).asc)
        .limit(k)
        .drop(vecCol, "codes")
    }
  }

  // ---------------------------------------------------------------- IVF-PQ

  /** Per-row residual v − centroid[cell] — the classic IVFPQ encoding: PQ
    * quantizes the remainder after the coarse quantizer, which is far
    * lower-variance than the raw vectors, so the same code budget buys
    * more precision. The centroid is a CASE over plan-literal cells —
    * row-local, zero exchanges; the element-wise IEEE subtraction is
    * bit-identical in the DuckDB replay. Requires a `cell` column
    * ([[assignCells]]). */
  private def residualExpr(cents: Seq[(Int, Seq[Double])],
                           vecCol: String): org.apache.spark.sql.Column = {
    val sorted = cents.sortBy(_._1)
    val centFor = sorted.tail.foldLeft(
      when(col("cell") === sorted.head._1, typedLit(sorted.head._2))) {
      case (acc, (cid, cv)) => acc.when(col("cell") === cid, typedLit(cv))
    }
    zip_with(toDouble(col(vecCol)), centFor, (a, b) => a - b)
  }

  /** Train PQ codebooks over IVF residuals: coarse cells from `cents`,
    * fine codes from [[pqTrain]] on v − centroid[cell]. Residual
    * computation is a narrow map, so this costs exactly one extra
    * projection over plain [[pqTrain]]. */
  def ivfPqTrain(emb: DataFrame, cents: Seq[(Int, Seq[Double])], m: Int = 16,
                 ksub: Int = 16, iters: Int = 1, idCol: String = "vec_id",
                 vecCol: String = "embedding"): Seq[Seq[(Int, Seq[Double])]] =
    pqTrain(assignCells(emb, cents, vecCol)
        .withColumn("__res", residualExpr(cents, vecCol)),
      m, ksub, iters, idCol, "__res")

  /** Materialize the IVF-PQ index: a cell-partitioned parquet table whose
    * rows carry the PQ codes of their residuals next to the full vector.
    * The billion-scale read path this buys: a probe prunes to
    * nProbe/nlist partitions at PLANNING time, ADC-scores them with
    * lookup tables (no dot products), and only the shortlist's stored
    * vectors are touched for the exact re-rank. Build adds no exchange
    * beyond the partitioned write — assignment, residual, and encoding
    * are all row-local. */
  def ivfPqWriteIndex(emb: DataFrame, cents: Seq[(Int, Seq[Double])],
                      books: Seq[Seq[(Int, Seq[Double])]], path: String,
                      vecCol: String = "embedding"): Unit =
    pqEncode(assignCells(emb, cents, vecCol)
        .withColumn("__res", residualExpr(cents, vecCol)),
        books, vecCol = "__res")
      .drop("__res")
      .write.partitionBy("cell").mode("overwrite").parquet(path)

  /** Maintain the IVF-PQ index from an unbounded embedding feed:
    * assignment, residual, and PQ encoding are all row-local expressions,
    * so they ride the stream unchanged and the sink appends into `cell=N/`
    * partitions exactly-once (checkpointed). [[ivfPqProbe]] reads the
    * growing directory unchanged — still pruning to nProbe/nlist of
    * storage at planning time. Returns the unstarted writer: callers pick
    * the trigger and `.start()`. */
  def ivfPqIngest(emb: DataFrame, cents: Seq[(Int, Seq[Double])],
                  books: Seq[Seq[(Int, Seq[Double])]], path: String,
                  checkpoint: String, vecCol: String = "embedding") =
    pqEncode(assignCells(emb, cents, vecCol)
        .withColumn("__res", residualExpr(cents, vecCol)),
        books, vecCol = "__res")
      .drop("__res")
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("cell")
      .outputMode("append")

  /** Probe the IVF-PQ index: rank nProbe cells driver-side, scan ONLY
    * those partitions (planning-time pruning), ADC-score each with its
    * own query-residual lookup tables (q − centroid[cell] — the residual
    * asymmetric distance), then exact-cosine re-rank the ADC shortlist
    * from the stored vectors. Compiles to pruned scan → narrow CASE map →
    * TakeOrderedAndProject(shortlist) → TakeOrderedAndProject(k): the
    * full-precision work is O(shortlist), never O(corpus). */
  def ivfPqProbe(spark: org.apache.spark.sql.SparkSession, path: String,
                 cents: Seq[(Int, Seq[Double])],
                 books: Seq[Seq[(Int, Seq[Double])]], queryVec: Seq[Double],
                 k: Int, nProbe: Int = 2, shortlist: Int = 100,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfPqProbeFrame(Tables.parquet(spark, Seq(path)), cents, books, queryVec, k,
      nProbe, shortlist, idCol, vecCol)

  /** [[ivfPqProbe]] over an already-resolved index FRAME — the form the
    * SQL face needs (`knn using <pq-index>`; its catalog holds
    * DataFrames, not paths). Planning-time cell pruning still applies
    * when the frame reads a cell-partitioned write (the property belongs
    * to the frame's partition column). `where` is the filtered-ANN
    * metadata gate, applied INSIDE the pruned scan BEFORE the ADC top-k
    * (post-filtering a k-list would return fewer than k). */
  def ivfPqProbeFrame(index: DataFrame, cents: Seq[(Int, Seq[Double])],
                      books: Seq[Seq[(Int, Seq[Double])]], queryVec: Seq[Double],
                      k: Int, nProbe: Int = 2, shortlist: Int = 100,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      where: Column = lit(true)): DataFrame = {
    require(shortlist >= k, s"ivfPqProbe: shortlist $shortlist must be >= k=$k")
    // the per-cell LUTs ride in the plan: nProbe × Σ|book_j| double slots
    requireCentroidBudget(nProbe.toLong * books.map(_.size.toLong).sum, 1L,
      "ivfPqProbe")
    val probe = rankProbes(cents, queryVec, nProbe)
    val byCid = cents.toMap
    val adcByCell = probe.map { c =>
      c -> adcExpr(books, queryVec.zip(byCid(c)).map { case (a, b) => a - b })
    }
    val adcCase = adcByCell.tail.foldLeft(
      when(col("cell") === adcByCell.head._1, adcByCell.head._2)) {
      case (acc, (c, e)) => acc.when(col("cell") === c, e)
    }
    val qn = math.sqrt(foldDot(queryVec, queryVec))
    index
      .filter(col("cell").isin(probe: _*))
      .filter(where)
      .withColumn("adc", adcCase)
      .orderBy(col("adc").desc, col(idCol).asc)
      .limit(shortlist)
      .withColumn("cos", dot(col(vecCol), typedLit(queryVec)) /
        (norm(col(vecCol)) * lit(qn)))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
      .drop(vecCol, "codes")
  }

  /** PQ codebooks as a CATALOG table — one row per (subspace, code) with
    * its sub-centroid: the persistable build artifact the SQL face
    * resolves for `knn using <pq-index>` (the codebook analogue of
    * [[writeCentroids]]). Round-trips through [[collectBooks]]. */
  def booksToDF(spark: org.apache.spark.sql.SparkSession,
                books: Seq[Seq[(Int, Seq[Double])]]): DataFrame = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (book, j) =>
      book.map { case (code, cent) => (j, code, cent) }
    }.toDF("j", "code", "centroid")
  }

  /** Collect a (j, code, centroid) codebook TABLE back to the driver-held
    * form the ADC planners take — budget-gated like every centroid
    * collect, schema-checked loudly (the SQL face resolves this from a
    * user-named table). Subspaces must be dense 0..m-1; codes sort
    * within each subspace. */
  def collectBooks(booksDf: DataFrame): Seq[Seq[(Int, Seq[Double])]] = {
    val cols = booksDf.columns.toSet
    require(Set("j", "code", "centroid").subsetOf(cols),
      s"collectBooks: expected columns (j, code, centroid) — the " +
        s"booksToDF artifact — got ${booksDf.columns.mkString(", ")}")
    val n = booksDf.limit(MaxCentroidSlots.toInt + 1).count()
    requireCentroidBudget(n, 1L, "collectBooks")
    val rows = booksDf.select(
        col("j").cast(org.apache.spark.sql.types.IntegerType),
        col("code").cast(org.apache.spark.sql.types.IntegerType),
        toDouble(col("centroid")))
      .collect().toSeq
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toIndexedSeq))
    require(rows.nonEmpty, "collectBooks: codebook table is empty")
    requireCentroidBudget(rows.size.toLong, rows.head._3.size.toLong,
      "collectBooks")
    val byJ = rows.groupBy(_._1)
    val m = byJ.keySet.max + 1
    require(byJ.keySet == (0 until m).toSet,
      s"collectBooks: subspaces must be dense 0..${m - 1}, got " +
        byJ.keySet.toSeq.sorted.mkString(", "))
    (0 until m).map(j => byJ(j).sortBy(_._2).map(r => (r._2, r._3: Seq[Double])))
  }

  /** Materialize the IVF index as a CELL-PARTITIONED parquet table — the
    * build step that makes probes cheap at 100 TB: each k-means cell lands
    * in its own partition directory, so a probe's `cell IN (...)` filter
    * prunes at PLANNING time (PartitionFilters, spec-guarded) and reads
    * only nProbe/nlist of the data from storage. Assignment is the
    * row-local broadcast argmax ([[assignCells]]) — the build itself adds
    * no exchange beyond the write. */
  def ivfWriteIndex(emb: DataFrame, cents: Seq[(Int, Seq[Double])], path: String,
                    vecCol: String = "embedding"): Unit =
    assignCells(emb, cents, vecCol)
      .write.partitionBy("cell").mode("overwrite").parquet(path)

  /** Maintain the SAME cell-partitioned index from an unbounded embedding
    * feed: [[assignCells]]'s shuffle-free argmax rides the stream and the
    * sink appends into `cell=N/` partitions exactly-once (checkpointed).
    * At 100 TB/day this replaces a daily batch re-index with write-time
    * routing — [[ivfProbeIndex]] reads the growing directory unchanged,
    * still pruning to nProbe/nlist of storage at planning time. Returns
    * the unstarted writer: callers pick the trigger and `.start()`. */
  def ivfIngest(emb: DataFrame, cents: Seq[(Int, Seq[Double])], path: String,
                checkpoint: String, vecCol: String = "embedding") =
    assignCells(emb, cents, vecCol)
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("cell")
      .outputMode("append")

  /** Probe a materialized cell-partitioned index: driver-side centroid
    * ranking picks the nProbe cells (same left-fold arithmetic as
    * [[ivfKnn]]), the scan touches only those partitions, exact cosine
    * re-ranks within them. */
  /** @param where optional METADATA predicate over the index's carried
    *   columns (label, tenant, language…) — "filtered ANN", the modern
    *   vector-search shape. It applies INSIDE the cell-pruned scan and
    *   BEFORE the top-k (post-filtering a k-list would return fewer than
    *   k and lose recall); Catalyst pushes it into the pruned partitions'
    *   parquet scan. Recall caveat, stated: a selective filter decimates
    *   the probed cells' candidate pool — widen `nProbe` accordingly (the
    *   s12 row probes 4 of 16 cells where the unfiltered s4 probes 2). */
  def ivfProbeIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    cents: Seq[(Int, Seq[Double])], queryVec: Seq[Double],
                    k: Int, nProbe: Int = 2, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    where: Column = lit(true)): DataFrame =
    ivfProbeFrame(Tables.parquet(spark, Seq(path)), cents, queryVec, k, nProbe,
      idCol, vecCol, where)

  /** [[ivfProbeIndex]] over an already-resolved index FRAME — the form the
    * SQL face needs (its catalog holds DataFrames, not paths). When the
    * frame is a parquet read of a cell-partitioned index, the `cell IN`
    * filter still prunes at PLANNING time (PartitionFilters — the pruning
    * property belongs to the frame's partition column, not to who opened
    * it; PlanSpec-pinned for the p58 face). */
  def ivfProbeFrame(index: DataFrame, cents: Seq[(Int, Seq[Double])],
                    queryVec: Seq[Double], k: Int, nProbe: Int = 2,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    where: Column = lit(true)): DataFrame = {
    require(k >= 1 && nProbe >= 1, s"ivfProbeFrame: need k/nProbe >= 1, got $k/$nProbe")
    val qn = math.sqrt(foldDot(queryVec, queryVec))
    val probe = rankProbes(cents, queryVec, nProbe)
    index
      .filter(col("cell").isin(probe: _*))
      .filter(where)
      .withColumn("cos", dot(col(vecCol), typedLit(queryVec)) /
        (norm(col(vecCol)) * lit(qn)))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
      .drop(vecCol)
  }

  /** Collect a (cid, centroid) catalog TABLE to the driver-held form the
    * probe planners take — budget-gated like every centroid collect, and
    * schema-checked loudly (the SQL face resolves this from a user-named
    * table; a wrong table must fail with words, not a ClassCastException). */
  def collectCentroids(centDf: DataFrame): Seq[(Int, Seq[Double])] = {
    val cols = centDf.columns.toSet
    require(Set("cid", "centroid").subsetOf(cols),
      s"collectCentroids: expected columns (cid, centroid) — the " +
        s"writeCentroids artifact — got ${centDf.columns.mkString(", ")}")
    val n = centDf.limit(MaxCentroidSlots.toInt + 1).count()
    requireCentroidBudget(n, 1L, "collectCentroids")
    val cents = centDf.select(
        col("cid").cast(org.apache.spark.sql.types.IntegerType),
        toDouble(col("centroid")))
      .collect().toSeq
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toIndexedSeq)
      .sortBy(_._1)
    require(cents.nonEmpty, "collectCentroids: centroid table is empty")
    requireCentroidBudget(cents.size.toLong, cents.head._2.size.toLong,
      "collectCentroids")
    cents
  }

  /** Batched kNN: exact top-k for EVERY query in one corpus pass — the
    * production shape (queries arrive in batches, not singly). The query
    * block broadcasts (a batch is small by definition); scoring is a
    * narrow map over corpus × batch; the per-query top-k is a rank window
    * whose `rn ≤ k` filter Spark pushes into per-partition
    * WindowGroupLimit (plan-guarded) — each partition forwards at most
    * k rows per query to the single shuffle, so the exchange moves
    * O(partitions × queries × k), never the scored cross product. */
  def batchKnn(emb: DataFrame, queryIds: Seq[Long], k: Int,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("__q"),
        norm(col(vecCol)).as("__qn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col(idCol).asc)
    emb.crossJoin(broadcast(q))
      .withColumn("cos", dot(col(vecCol), col("__q")) / (norm(col(vecCol)) * col("__qn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .drop("__q", "__qn", vecCol)
  }

  /** Batched sign-LSH ANN: top-k within each query's probe buckets for
    * EVERY query in one corpus pass — [[annSignLsh]]'s bucket pruning with
    * [[batchKnn]]'s batch economics. `probes > 1` adds each query's
    * hamming-1 buckets in the same bit order as the single-query form
    * (query bucket first), so per-query results are identical to
    * [[annSignLsh]]'s at any probe width. The probe set stays a tiny
    * broadcast (|queries| × probes rows); a corpus row joins each query at
    * most once (one bucket per row, distinct probe buckets per query), and
    * the per-query top-k is the WindowGroupLimit shape: each partition
    * forwards at most k rows per query to the single shuffle. */
  def batchAnnSignLsh(emb: DataFrame, queryIds: Seq[Long], k: Int, bits: Int = 8,
                      probes: Int = 1, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    require(probes >= 1 && probes <= bits + 1,
      s"probes must be in [1, bits+1], got $probes for $bits bits")
    val bucketed = emb.withColumn("bucket", signBucket(col(vecCol), bits))
    val q = bucketed.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("__q"),
        norm(col(vecCol)).as("__qn"), col("bucket"))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("__flip").asc)
    val qprobes = q.select(col("query_id"), col("__q"), col("__qn"), col("bucket"),
        explode(array((lit(0L) +: (0 until bits).map(d => lit(1L << d))): _*)).as("__flip"))
      .withColumn("bucket", col("bucket").bitwiseXOR(col("__flip")))
      .withColumn("__pr", row_number().over(wp))
      .filter(col("__pr") <= probes)
      .drop("__flip", "__pr")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col(idCol).asc)
    bucketed.join(broadcast(qprobes), "bucket")
      .withColumn("cos", dot(col(vecCol), col("__q")) / (norm(col(vecCol)) * col("__qn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .drop("__q", "__qn", vecCol)
  }

  /** Batched ADC top-k over PQ codes: EVERY query scored in ONE
    * encoded-corpus pass. The expensive step — encoding (m argmins over
    * ksub centroids per row) — happens once; each encoded row then fans out
    * one (query, adc) pair per query, and a pair costs only m LUT lookups +
    * (m−1) adds. So b queries cost one encode + b LUT folds instead of the
    * b full encodes that b separate [[pqKnn]] calls would pay. Per-query
    * top-k is the [[batchKnn]] WindowGroupLimit shape (≤ k rows per query
    * leave each partition). Query vectors are driver-fetched (|queryIds|
    * rows — a batch is small by definition) and their LUTs ride in the
    * plan, budget-gated. Pure ADC, no re-rank — the honest
    * compression-quality score. */
  def pqBatchKnn(emb: DataFrame, books: Seq[Seq[(Int, Seq[Double])]],
                 queryIds: Seq[Long], k: Int, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val qvs = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol), toDouble(col(vecCol)))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq).toMap
    require(qvs.size == queryIds.size,
      s"pqBatchKnn: found ${qvs.size} of ${queryIds.size} query ids")
    requireCentroidBudget(queryIds.size.toLong * books.map(_.size.toLong).sum,
      1L, "pqBatchKnn")
    val perQ = array(queryIds.sorted.map { qid =>
      struct(lit(qid).as("query_id"), adcExpr(books, qvs(qid)).as("adc"))
    }: _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col(idCol).asc)
    val keep = emb.columns.filterNot(_ == vecCol).map(col)
    pqEncode(emb, books, idCol, vecCol)
      .withColumn("__pq", explode(perQ))
      .select(keep :+ col("__pq").getField("query_id").as("query_id")
        :+ col("__pq").getField("adc").as("adc"): _*)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Bucket occupancy histogram — the skew diagnostic for the ANN path. */
  def lshBucketStats(emb: DataFrame, bits: Int = 8,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    emb.groupBy(signBucket(col(vecCol), bits).as("bucket"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("min_id"),
        max(col(idCol)).as("max_id"))

  /** MMR (maximal-marginal-relevance) diverse re-rank — retrieval's
    * standard answer to "the top-k are 10 copies of the same thing":
    * greedily pick, at each step, the candidate maximizing
    * `relWeight·rel − divWeight·max(sim to already-picked)`.
    *
    * Plan shape: ONE exact-kNN corpus pass builds the `shortlist` (the s1
    * scan — rank pushes into TakeOrderedAndProject), then the greedy loop
    * runs driver-side on the collected shortlist, a BOUNDED artifact
    * (≤ shortlist rows; the centroid/codebook pattern). The k·shortlist
    * pairwise step is driver-trivial and NEVER distributes — at 100 TB
    * the corpus pass is the cost, and it is unchanged from s1.
    *
    * ENGINE-EXACT: relevance and pairwise sims use the same left-fold
    * double dot product as the codegen'd [[graft.expressions.DotProduct]]
    * (and DuckDB's `list_reduce` mirror), sqrt is IEEE-exact on both
    * engines, and both weight literals pass through verbatim — so the
    * full greedy trajectory replays bit-for-bit, ties broken by id. */
  def mmrRerank(emb: DataFrame, queryId: Long, k: Int, shortlist: Int = 50,
                relWeight: Double = 0.7, divWeight: Double = 0.3,
                idCol: String = "vec_id", vecCol: String = "embedding",
                labelCol: String = "label"): DataFrame = {
    require(k >= 1 && shortlist >= k,
      s"mmrRerank: need 1 ≤ k ≤ shortlist, got $k/$shortlist")
    require(shortlist <= 10000,
      s"mmrRerank: a $shortlist-row shortlist is not a bounded driver artifact")
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__q"), norm(col(vecCol)).as("__qn"))
    val top = emb.crossJoin(broadcast(q))
      .withColumn("rel",
        dot(col(vecCol), col("__q")) / (norm(col(vecCol)) * col("__qn")))
      .orderBy(col("rel").desc, col(idCol).asc)
      .limit(shortlist)
      .select(col(idCol), col(labelCol), col("rel"), col(vecCol))
      .collect()
    require(top.nonEmpty,
      s"mmrRerank: query id $queryId not found (or filtered out) — empty shortlist")
    mmrFromShortlist(emb.sparkSession, top, k, relWeight, divWeight,
      idCol, labelCol)
  }

  /** The shared tail of every MMR face: collected (id, label, rel, vec)
    * shortlist rows → greedy walk → ranked frame. One implementation so
    * the brute, batched, and index-backed faces have definitionally
    * identical trajectories. */
  private def mmrFromShortlist(spark: org.apache.spark.sql.SparkSession,
                               top: Array[org.apache.spark.sql.Row], k: Int,
                               relWeight: Double, divWeight: Double,
                               idCol: String, labelCol: String): DataFrame = {
    val cands = top.map(r => MmrCand(r.getLong(0), r.getInt(1), r.getDouble(2),
      r.getSeq[Float](3).toArray)).toSeq
    import spark.implicits._
    mmrGreedy(cands, k, relWeight, divWeight).zipWithIndex
      .map { case (c, i) => (i + 1L, c.id, c.label,
        BigDecimal(c.rel).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .toDF("rank", idCol, labelCol, "rel")
  }

  /** INDEX-BACKED MMR: the shortlist comes from a cell-pruned probe of a
    * prebuilt IVF index ([[ivfProbeFrame]]'s read shape, keeping the
    * vector column — the greedy needs candidate vectors for pairwise
    * sims) instead of an O(corpus) brute pass; the greedy walk is
    * [[mmrGreedy]], bit-identical to [[mmrRerank]]'s on the same
    * shortlist. At 100 TB this reads nProbe/nlist of storage at planning
    * time — the p65 front-door shape. `where` filters INSIDE the pruned
    * scan, before the shortlist cut (the filtered-ANN rule). */
  def mmrRerankIndexed(index: DataFrame, cents: Seq[(Int, Seq[Double])],
                       queryVec: Seq[Double], k: Int, shortlist: Int = 50,
                       nProbe: Int = 2, relWeight: Double = 0.7,
                       divWeight: Double = 0.3, idCol: String = "vec_id",
                       vecCol: String = "embedding", labelCol: String = "label",
                       where: Column = lit(true)): DataFrame = {
    require(k >= 1 && shortlist >= k,
      s"mmrRerankIndexed: need 1 ≤ k ≤ shortlist, got $k/$shortlist")
    require(shortlist <= 10000,
      s"mmrRerankIndexed: a $shortlist-row shortlist is not a bounded driver artifact")
    val qn = math.sqrt(foldDot(queryVec, queryVec))
    val probe = rankProbes(cents, queryVec, nProbe)
    val top = index
      .filter(col("cell").isin(probe: _*))
      .filter(where)
      .withColumn("rel", dot(col(vecCol), typedLit(queryVec)) /
        (norm(col(vecCol)) * lit(qn)))
      .orderBy(col("rel").desc, col(idCol).asc)
      .limit(shortlist)
      .select(col(idCol), col(labelCol), col("rel"), col(vecCol))
      .collect()
    require(top.nonEmpty,
      "mmrRerankIndexed: empty shortlist — the probed cells hold no " +
        "(post-filter) rows; widen nProbe or loosen the filter")
    mmrFromShortlist(index.sparkSession, top, k, relWeight, divWeight,
      idCol, labelCol)
  }

  private final case class MmrCand(id: Long, label: Int, rel: Double,
                                   v: Array[Float])

  /** The MMR greedy walk on a collected shortlist — shared by the single-
    * query and batched faces so their trajectories are definitionally
    * identical. Relevance and pairwise sims use the same left-fold double
    * dot product as the codegen'd [[graft.expressions.DotProduct]]; ties
    * break by id. */
  private def mmrGreedy(cands: Seq[MmrCand], k: Int, relWeight: Double,
                        divWeight: Double): Seq[MmrCand] = {
    // the DotProduct expression's exact fold, replicated on the driver
    def fdot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def fcos(a: Array[Float], b: Array[Float]): Double =
      fdot(a, b) / (math.sqrt(fdot(a, a)) * math.sqrt(fdot(b, b)))
    val sorted = cands.sortBy(c => (-c.rel, c.id)).toBuffer
    val picked = scala.collection.mutable.ArrayBuffer(sorted.remove(0))
    while (picked.size < k && sorted.nonEmpty) {
      var bestIdx = 0
      var bestScore = Double.NegativeInfinity
      var bestId = Long.MaxValue
      var i = 0
      while (i < sorted.length) {
        val c = sorted(i)
        var ms = Double.NegativeInfinity
        picked.foreach(p => { val s = fcos(c.v, p.v); if (s > ms) ms = s })
        val score = relWeight * c.rel - divWeight * ms
        if (score > bestScore || (score == bestScore && c.id < bestId)) {
          bestScore = score; bestIdx = i; bestId = c.id
        }
        i += 1
      }
      picked += sorted.remove(bestIdx)
    }
    picked.toSeq
  }

  /** The distributed half of [[mmrRerankBatch]]: EVERY query's shortlist
    * built in ONE corpus pass — [[batchKnn]]'s broadcast + WindowGroupLimit
    * shape, keeping the embedding column (the greedy needs candidate
    * vectors for pairwise sims). Public as the plan-pinnable seam: each
    * partition forwards at most `shortlist` rows per query to the single
    * rank exchange, so the shuffle moves O(partitions × queries ×
    * shortlist), never the scored cross product. */
  def mmrShortlists(emb: DataFrame, queryIds: Seq[Long], shortlist: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val q = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("__q"),
        norm(col(vecCol)).as("__qn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col(idCol).asc)
    emb.crossJoin(broadcast(q))
      .withColumn("rel",
        dot(col(vecCol), col("__q")) / (norm(col(vecCol)) * col("__qn")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= shortlist)
      .select(col("query_id"), col(idCol), col(labelCol), col("rel"),
        col(vecCol))
  }

  /** Batched MMR diverse re-rank — [[mmrRerank]] at production shape:
    * re-rank requests arrive in query batches, and b single-query calls
    * would pay b corpus passes for work one pass covers. ONE
    * [[mmrShortlists]] corpus scan builds every query's shortlist; the
    * collected block is a BOUNDED driver artifact (≤ queries × shortlist
    * rows, require-capped like the single-query face), and the per-query
    * greedy walk is [[mmrGreedy]] — the SAME loop the single-query face
    * runs, so each query's trajectory is bit-identical to its solo
    * [[mmrRerank]] (spec-pinned). Missing query ids fail loudly. */
  def mmrRerankBatch(emb: DataFrame, queryIds: Seq[Long], k: Int,
                     shortlist: Int = 50, relWeight: Double = 0.7,
                     divWeight: Double = 0.3, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     labelCol: String = "label"): DataFrame = {
    require(k >= 1 && shortlist >= k,
      s"mmrRerankBatch: need 1 ≤ k ≤ shortlist, got $k/$shortlist")
    require(queryIds.nonEmpty && queryIds.distinct.size == queryIds.size,
      s"mmrRerankBatch: query ids must be non-empty and distinct")
    require(queryIds.size.toLong * shortlist <= 100000,
      s"mmrRerankBatch: ${queryIds.size} × $shortlist shortlist rows is " +
        "not a bounded driver artifact")
    val byQ = mmrShortlists(emb, queryIds, shortlist, idCol, vecCol, labelCol)
      .collect()
      .groupBy(_.getLong(0))
    val missing = queryIds.filterNot(byQ.contains)
    require(missing.isEmpty,
      s"mmrRerankBatch: query ids ${missing.mkString(",")} not found " +
        "(or filtered out) — empty shortlists")
    val spark = emb.sparkSession
    import spark.implicits._
    queryIds.sorted.flatMap { qid =>
      val cands = byQ(qid).map(r => MmrCand(r.getLong(1), r.getInt(2),
        r.getDouble(3), r.getSeq[Float](4).toArray)).toSeq
      mmrGreedy(cands, k, relWeight, divWeight).zipWithIndex
        .map { case (c, i) => (qid, i + 1L, c.id, c.label,
          BigDecimal(c.rel).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    }.toDF("query_id", "rank", idCol, labelCol, "rel")
  }
}
