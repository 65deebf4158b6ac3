package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry row: the query's name, its builder over a testdata dir, and
  * the DuckDB SQL that independently computes the same answer.
  *
  * `lifecycle` marks the rows that run a one-off job inside the timed call
  * by design: index/codebook/frequency training, store maintenance
  * (compaction, z-order rewrite, merge/delete, clone), CDC follows, and the
  * st_* streaming replays (stage, stream, sink, read back). In production
  * these are build steps, not query-path work; Bench reports them as
  * `build_queries`, so regression budgets can hold probes tight without
  * penalizing honest build cost. */
final case class QueryCase(name: String,
                           build: (SparkSession, String) => DataFrame,
                           oracle: String,
                           lifecycle: Boolean = false)
