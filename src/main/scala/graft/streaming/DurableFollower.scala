package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{EventStore, Tables}

/** [[ChangeFeedFollower]] with a DURABLE fold: the maintained aggregate
  * and the version it has folded through commit ATOMICALLY, together, so
  * a crashed follower restarted on the same state directory resumes at
  * its last folded version instead of re-delivering (and double-folding)
  * deltas from its original start — the same crash contract
  * [[graft.sources.EventStore.appendCommitted]] gives the ingest side.
  *
  * Persistence protocol (the manifest discipline, applied to state):
  *  - `stateDir/state.v<N>` is a parquet snapshot of the aggregate AFTER
  *    folding every delta through store version N. Its existence IS the
  *    commit marker: each fold writes the new snapshot to a
  *    generation-suffixed staging dir, then renames it to its final name
  *    — one atomic directory rename, never a partial snapshot under a
  *    committed name.
  *  - In-memory `seenVersion` advances only AFTER the rename (the fold
  *    runs inside the follower's `consume`, which completes before
  *    [[ChangeFeedFollower.pollOnce]] advances). A crash mid-fold leaves
  *    only staging litter; the restart resumes at the last COMMITTED
  *    snapshot and the interrupted delta is re-delivered — exactly-once
  *    folding, because delta (N, head] is derived from the resumed N.
  *  - Restart = pick the max committed `state.v<N>`, read it, follow
  *    from N. Staging dirs (and a concurrent writer's partial output)
  *    are never eligible.
  *  - Older snapshots are pruned after each commit (`keepStates` most
  *    recent survive — keep ≥ 2 so a reader of the previous snapshot
  *    isn't yanked mid-read; same retention reasoning as vacuum).
  *
  * Scale shape: each commit rewrites only the AGGREGATE (|group keys|
  * rows, bounded and small by construction of any maintainable view),
  * never the store; the snapshot read-back replaces `localCheckpoint` as
  * the lineage cut. Vacuum on the SOURCE store must still not outrun
  * [[seenVersion]] — that contract is unchanged from the volatile
  * follower, but now survives restarts because seenVersion does. */
final class DurableAggregateFollower(
    spark: SparkSession, path: String, stateDir: String,
    seed: Long => DataFrame,
    fold: (DataFrame, DataFrame) => DataFrame,
    pollMs: Long = 50L, keepStates: Int = 2) {
  require(keepStates >= 1, s"keepStates must be ≥ 1, got $keepStates")

  import DurableAggregateFollower._

  private val root = new org.apache.hadoop.fs.Path(stateDir)
  private val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  @volatile private var stateDf: DataFrame = null

  private val resumedAt: Long = {
    val committed = committedVersions(spark, stateDir)
    if (committed.nonEmpty) {
      val v = committed.max
      stateDf = Tables.parquet(spark, Seq(statePath(root, v).toString))
      v
    } else {
      val v = EventStore.manifestVersion(spark, path)
      commitState(seed(v), v)
      v
    }
  }

  /** The underlying live follower — `start()`/`pollOnce()`/
    * `processAllAvailable()`/`stop()`/`stopQuietly()` drive it directly. */
  val follower: ChangeFeedFollower =
    new ChangeFeedFollower(spark, path, resumedAt,
      (_, head, feed) => commitState(fold(stateDf, feed), head), pollMs)

  /** Current aggregate — always exactly the last COMMITTED snapshot. */
  def state: DataFrame = stateDf

  /** Store version the committed aggregate has folded through. */
  def seenVersion: Long = follower.seenVersion

  private def commitState(df: DataFrame, v: Long): Unit = {
    val staging = new org.apache.hadoop.fs.Path(root,
      s".state.v$v.g${EventStore.nextGen()}")
    df.write.mode("overwrite").parquet(staging.toString)
    val dest = statePath(root, v)
    // a re-delivered delta after a crash-between-rename-and-advance would
    // target an existing snapshot; both snapshots fold the same committed
    // range, so replacing is idempotent
    if (fs.exists(dest)) fs.delete(dest, true)
    require(fs.rename(staging, dest),
      s"DurableAggregateFollower: could not commit state v$v under $stateDir")
    stateDf = Tables.parquet(spark, Seq(dest.toString))
    committedVersions(spark, stateDir).sorted.dropRight(keepStates)
      .foreach(old => fs.delete(statePath(root, old), true))
  }
}

object DurableAggregateFollower {
  private val StateDir = """state\.v(\d+)""".r

  private def statePath(root: org.apache.hadoop.fs.Path, v: Long) =
    new org.apache.hadoop.fs.Path(root, s"state.v$v")

  /** Versions with a COMMITTED snapshot under `stateDir` (staging dirs
    * excluded), unsorted. Empty when the directory is new. */
  def committedVersions(spark: SparkSession, stateDir: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.collect {
      case st if st.isDirectory =>
        st.getPath.getName match {
          case StateDir(v) => Some(v.toLong)
          case _           => None
        }
    }.flatten
  }
}
