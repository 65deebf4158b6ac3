package org.apache.spark.sql

import org.apache.spark.SparkContext

/** Bridges into `private[spark]` scheduler and listing helpers. */
package object graftbridge {

  /** Block until every listener has seen every event posted so far (at
    * most Spark's 10 s default; a longer backlog throws). The bus delivers
    * asynchronously, so a listener's counts are only complete after this
    * returns — a fixed sleep is either too short or wasted. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Spark's file-index rule for names a table listing skips: `_`-prefixed
    * names without `=`, `.`-prefixed names and `._COPYING_` files — except
    * the `_metadata`/`_common_metadata` parquet summaries, which it keeps. */
  def isHiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)
}
