package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.streaming.runtime.MetadataLogFileIndex
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.graftbridge.isHiddenPathName
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the driver testdata layout (TESTDATA.md).
  *
  * Every batch parquet open goes through [[Tables.parquet]]: the
  * vectorized Parquet reader + Catalyst pushdown replace the reference's
  * entire storage layer (per-column redis processes, proc.rs:12-58) —
  * columnar files on a distributed store ARE the "separated storage and
  * computing layers" of README.md:4 — and opening a read costs one driver
  * footer read and no Spark job. At cluster scale the same loaders work
  * against an object-store path; date partitioning of the events table
  * would add directory-level pruning on top of the row-group stats we
  * already get.
  */
object Tables {
  def table(s: SparkSession, dir: String, name: String): DataFrame =
    parquet(s, Seq(s"$dir/$name.parquet"))

  /** `s.read.options(options).parquet(paths: _*)`, opened without a Spark
    * job. Without a schema, Spark infers one in a one-task job that reads
    * one footer. This reads that same footer on the driver and hands its
    * schema to the reader, so opening the frame costs one footer read.
    *
    * The footer is Spark's own pick with schema merging off
    * (`ParquetUtils.inferSchema`): the data file first in path order.
    * Explicit files are qualified without I/O and only the pick is
    * stat'ed; a single directory is listed with Spark's hidden-name rule
    * (or read from its streaming-sink log). The passed schema holds the
    * data columns only, so partition columns are still discovered from
    * the directory names.
    *
    * Anything this does not reproduce opens the plain way, keeping Spark's
    * own behaviour and errors: schema merging on (option or session conf),
    * a parquet summary file, no data file, an option other than
    * `basePath`/`mergeSchema`, several paths led by a directory, a
    * directory that is neither flat nor a `k=v` tree, a data column named
    * like a partition column, or a footer read that throws. */
  def parquet(s: SparkSession, paths: Seq[String],
              options: Map[String, String] = Map.empty): DataFrame = {
    val reader = s.read.options(options)
    footerSchema(s, paths, options)
      .fold(reader.parquet(paths: _*))(reader.schema(_).parquet(paths: _*))
  }

  private def footerSchema(s: SparkSession, paths: Seq[String],
                           options: Map[String, String]): Option[StructType] =
    try {
      val opts = options.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
      val sql = s.sessionState.conf
      val merge = opts.get("mergeschema").map(_.toBoolean)
        .getOrElse(sql.isParquetSchemaMergingEnabled)
      if (paths.isEmpty || merge || !opts.keySet.subsetOf(Set("basepath", "mergeschema"))
          || paths.exists(p => isSummary(new Path(p).getName)))
        None
      else {
        val conf = s.sessionState.newHadoopConfWithOptions(options)
        def qualify(p: String): Path = {
          val h = new Path(p); h.getFileSystem(conf).makeQualified(h)
        }
        val first = paths.map(qualify).minBy(_.toString)
        val basePath = opts.get("basepath").map(qualify)
        val fs = first.getFileSystem(conf)
        val st = fs.getFileStatus(first)
        // the data file whose footer Spark reads, and the directory its
        // partition names are relative to (none for bare files)
        val picked: Option[(FileStatus, Option[Path])] =
          if (st.isFile) Some(st -> basePath)
          else if (paths.size > 1) None
          else {
            val leaves =
              if (FileStreamSink.hasMetadata(paths, conf, sql))
                Some(new MetadataLogFileIndex(s, first, options, None).allFiles())
              else dataLeaves(fs, first)
            leaves.filter(ls => ls.nonEmpty && !ls.exists(l => isSummary(l.getPath.getName)))
              .map(ls => ls.minBy(_.getPath.toString) -> Some(basePath.getOrElse(first)))
          }
        for {
          (file, base) <- picked
          partCols <- base.fold(Option(Seq.empty[String]))(partitionNames(_, file.getPath))
          schema = readFooterSchema(sql, conf, file)
          // a data column named like a partition column takes Spark's
          // overlap rules, which a passed schema would change
          if !schema.fieldNames.exists(n => partCols.exists(_.equalsIgnoreCase(n)))
        } yield schema
      }
    } catch { case NonFatal(_) => None }

  /** One footer's schema, converted the way Spark's inference does it
    * (`ParquetFileFormat.mergeSchemasInParallel`: these five confs,
    * converter defaults otherwise). */
  private def readFooterSchema(sql: SQLConf, conf: Configuration,
                               file: FileStatus): StructType = {
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = sql.isParquetBinaryAsString,
        assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
        inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
        nanosAsLong = sql.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = sql.parquetReaderRespectUnknownTypeAnnotation))
  }

  private def isSummary(name: String): Boolean =
    name == "_metadata" || name == "_common_metadata"

  /** Partition column names on the way from `base` down to `file`, or None
    * when `file` does not sit under `base`. */
  private def partitionNames(base: Path, file: Path): Option[Seq[String]] = {
    val (b, dir) = (base.toString, file.getParent.toString)
    if (dir == b) Some(Nil)
    else if (dir.startsWith(b + "/"))
      Some(dir.substring(b.length + 1).split('/').toSeq
        .filter(_.contains("=")).map(_.takeWhile(_ != '=')))
    else None
  }

  /** The files Spark's file index reads from one directory: a flat
    * directory's files, or every file of a `k=v` partition tree. None for
    * other shapes (files beside subdirectories, a non-partition
    * subdirectory), which Spark resolves by rules not reproduced here. */
  private def dataLeaves(fs: FileSystem, dir: Path): Option[Seq[FileStatus]] = {
    val (dirs, files) = fs.listStatus(dir).toSeq
      .filterNot(st => isHiddenPathName(st.getPath.getName)).partition(_.isDirectory)
    if (dirs.isEmpty) Some(files)
    else if (files.nonEmpty || !dirs.forall(_.getPath.getName.contains("="))) None
    else dirs.foldLeft(Option(Seq.empty[FileStatus])) { (acc, d) =>
      for (a <- acc; l <- dataLeaves(fs, d.getPath)) yield a ++ l
    }
  }

  /** Scale-ADAPTIVE fan-out for CPU-heavy narrow work (opt guide §2: derive
    * partitioning from the input, never from a constant tuned for one box).
    *
    * A parquet scan parallelizes at ROW-GROUP granularity, and a table
    * written as one file with one row group (the shape of small reference
    * corpora, dimension snapshots, and this repo's testdata) plans as ONE
    * scan task — so every expensive per-row map riding the scan stage
    * (tokenization, MinHash folds, LM scoring, span windows, codecs) runs
    * on one core no matter how many the session has. This helper exchanges
    * the rows once, IFF the planned scan has fewer partitions than the
    * session's parallelism; on a 100 TB table the scan already has
    * thousands of row-group splits, the condition is false, and the call
    * is a provable no-op (no exchange added — plan-identical).
    *
    * Deliberately NOT a blanket setting: callers opt in at the points
    * where the downstream per-row work dwarfs one small exchange, so pure
    * scan→filter→aggregate paths keep their zero-exchange plans. Off
    * switch (`spark.graft.fanout=false`) for plan-shape tests. */
  def fanOut(df: DataFrame): DataFrame = {
    // streaming frames pass through: micro-batch parallelism is the
    // source's business (and .rdd is illegal on an unstarted stream)
    if (df.isStreaming) return df
    val s = df.sparkSession
    if (!s.conf.get("spark.graft.fanout", "true").toBoolean) return df
    val p = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Raw epoch-nanos companion column kept alongside the converted `ts` —
    * [[graft.compile.Compiler.scanFilter]] mirrors time bounds onto it so the
    * range predicate reaches the Parquet reader (row-group min/max pruning)
    * even though the TimestampType `ts` is a derived expression. */
  val TsNanosCol = "__ts_ns"

  /** Raw TIMESTAMP_NTZ companion column — same role as [[TsNanosCol]], for
    * testdata generations whose `ts` is parquet timestamp[us] without a UTC
    * marker. Predicates on the NTZ copy push into the Parquet reader; the
    * session-zoned `ts` the rest of the engine sees is a derived cast. */
  val TsNtzCol = "__ts_ntz"

  /** The events table's `ts` physical encoding has varied across testdata
    * generations: parquet TIMESTAMP(NANOS) (read as LONG via the
    * runtime-settable legacy conf), plain timestamp[us] without the UTC flag
    * (read as TIMESTAMP_NTZ), or an already-zoned TimestampType. Normalize
    * every shape to a session-zoned TimestampType `ts` — the engine-wide
    * contract (windows, epoch-second casts, as-of joins all assume it) —
    * keeping the raw column as [[TsNanosCol]]/[[TsNtzCol]] for predicate
    * pushdown. Wall-clock times in the data are UTC, so the session zone is
    * pinned here (runtime-settable) rather than trusting the caller's
    * builder: an NTZ→TZ cast under a stray local zone would shift every
    * window boundary. */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = table(s, dir, "events")
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        // integer `div`, NOT `/`: double division loses precision above 2^53
        // (epoch-nanos ≈ 2^60) — a 1 µs error that can cross a second
        // boundary and corrupt window assignment
        raw.withColumn(TsNanosCol, col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        raw.withColumn(TsNtzCol, col("ts"))
          .withColumn("ts", col("ts").cast(TimestampType))
      case Some(_: TimestampType) | _ => raw
    }
  }
  def lineitem(s: SparkSession, dir: String): DataFrame   = table(s, dir, "lineitem")
  def orders(s: SparkSession, dir: String): DataFrame     = table(s, dir, "orders")
  def customer(s: SparkSession, dir: String): DataFrame   = table(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame   = table(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame       = table(s, dir, "part")
  def nation(s: SparkSession, dir: String): DataFrame     = table(s, dir, "nation")
  def region(s: SparkSession, dir: String): DataFrame     = table(s, dir, "region")
  def documents(s: SparkSession, dir: String): DataFrame  = table(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = table(s, dir, "embeddings")

  /** Every testdata table by name — the FROM catalog for
    * [[graft.sql.ZxSql.runCatalog]], so any shipped query string runs
    * verbatim. */
  def catalog(s: SparkSession, dir: String): Map[String, DataFrame] = Map(
    "region" -> region(s, dir), "nation" -> nation(s, dir),
    "customer" -> customer(s, dir), "supplier" -> supplier(s, dir),
    "part" -> part(s, dir), "orders" -> orders(s, dir),
    "lineitem" -> lineitem(s, dir), "events" -> events(s, dir),
    "documents" -> documents(s, dir), "embeddings" -> embeddings(s, dir))
}
