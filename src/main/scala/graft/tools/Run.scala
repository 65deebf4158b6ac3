package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

import graft.{Bench, SparkEntry}
import graft.sources.Tables
import graft.sql.ZxSql

/** Local-iteration tool over the registry and the dialect:
  *   sbt "runMain graft.tools.Run time <row|sql> [<row|sql> …]"
  *   sbt "runMain graft.tools.Run plan <row|sql> [<row|sql> …]"
  *   sbt "runMain graft.tools.Run sql <stmt> [--explain]"
  *   sbt "runMain graft.tools.Run smoke"
  * An argument that is not a registry row name runs as a ZX.SQL statement
  * whose FROM resolves against every testdata table, so any shipped query
  * string can be pasted verbatim.
  *  - `time` uses Bench's checksum evaluation and cleanup and prints the
  *    median of 3 runs with the raw runs, so a number here is comparable
  *    to a Bench row. The first argument also pays JIT warm-up:
  *    A/B with the same argument order.
  *  - `plan` executes each row, then prints its formatted final
  *    (post-AQE) plan.
  *  - `sql` shows up to 50 result rows, and the formatted plan with
  *    `--explain`.
  *  - `smoke` runs `SparkEntry.entry` and prints its row count (> 0).
  * The session is Bench's, warmed up the same way: data dir and cores come
  * from SPARK_GRAFT_SF_DIR and SPARK_GRAFT_CPUS, with Bench's defaults. */
object Run {
  private val usage =
    "usage: Run time <row|sql>... | plan <row|sql>... | sql <stmt> [--explain] | smoke"

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty && (args.head == "smoke" || args.length > 1), usage)
    val (spark, dir) = Bench.warmSession()
    def sql(stmt: String): DataFrame =
      ZxSql.runCatalog(Tables.catalog(spark, dir), stmt)
    def frame(arg: String): DataFrame =
      SparkEntry.queries.get(arg).fold(sql(arg))(_(spark, dir))
    try args.head match {
      case "time" =>
        args.tail.foreach { arg =>
          val times = (1 to 3).map { _ =>
            val t0 = System.nanoTime()
            Bench.evaluate(frame(arg))
            val dt = (System.nanoTime() - t0) / 1e9
            Bench.cleanup(spark)
            dt
          }
          println(f"[time] $arg%-28s median ${times.sorted.apply(1)}%.3f" +
            s"  runs ${times.map(t => f"$t%.3f").mkString(" ")}")
        }
      case "plan" =>
        args.tail.foreach { arg =>
          val df = frame(arg)
          df.collect()
          println(s"===== $arg =====")
          println(df.queryExecution.explainString(FormattedMode))
        }
      case "sql" =>
        val out = sql(args(1))
        out.show(50, truncate = false)
        if (args.contains("--explain")) out.explain("formatted")
      case "smoke" =>
        val df = SparkEntry.entry(spark)
        val n = df.count()
        df.show(5, truncate = false)
        println(s"[smoke] entry rows=$n")
      case other => sys.error(s"unknown command '$other'; $usage")
    } finally spark.stop()
  }
}
