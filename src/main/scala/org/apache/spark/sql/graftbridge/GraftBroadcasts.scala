package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkEnv
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, BroadcastQueryStageExec, QueryStageExec}
import org.apache.spark.storage.BroadcastBlockId
import org.apache.spark.util.Utils

/** Bridge to the driver's block manager (`private[spark]`), for one
  * shape: a finished query's SQL broadcasts.
  *
  * With a local master, `TorrentBroadcast` keeps each broadcast's
  * deserialized value (a join's `HashedRelation`) as the `broadcast_<id>`
  * block in the driver's block manager, beside the serialized
  * `broadcast_<id>_piece<n>` blocks; on a cluster it keeps only the
  * pieces (SPARK-39983). That value block is dropped only when
  * `ContextCleaner` sees the plan collected, so how long a finished
  * query's relations stay on the heap depends on when the next GC
  * happens to run. Dropping the value block when the query ends makes
  * that independent of GC timing. The pieces stay, so a `Dataset` that
  * runs again deserializes its relations from them.
  *
  * Lives under `org.apache.spark.sql` solely to satisfy the
  * `private[spark]` qualifiers (the GraftColumns pattern); contains no
  * Spark code.
  */
object GraftBroadcasts {
  /** Ids of the broadcasts built by the materialized broadcast stages of
    * `plan`, its query stages and its subqueries. */
  def broadcastIds(plan: SparkPlan): Seq[Long] = {
    val own = plan match {
      case b: BroadcastQueryStageExec if b.isMaterialized =>
        Seq(b.broadcast.relationFuture.get().id)
      case _ => Nil
    }
    val kids = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children ++ other.subqueries
    }
    own ++ kids.flatMap(broadcastIds)
  }

  /** Value blocks of the broadcasts of `plan` that the driver's block
    * manager holds. */
  def heldDriverValues(plan: SparkPlan): Seq[BroadcastBlockId] = {
    val bm = SparkEnv.get.blockManager
    broadcastIds(plan).distinct.map(BroadcastBlockId(_))
      .filter(bm.getStatus(_).isDefined)
  }

  /** Remove the driver's deserialized value block of each broadcast of
    * `plan`; a no-op without a local master or for an absent block. */
  def releaseDriverValues(plan: SparkPlan): Unit = {
    val env = SparkEnv.get
    if (env != null && Utils.isLocalMaster(env.conf))
      heldDriverValues(plan).foreach(env.blockManager.removeBlock(_, tellMaster = false))
  }
}
