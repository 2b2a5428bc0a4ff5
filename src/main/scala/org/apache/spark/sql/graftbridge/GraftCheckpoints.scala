package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge to the `LogicalRDD` behind an eagerly localCheckpoint'ed
  * Dataset, for [[graft.Artifacts.Scope]], the one owner of checkpoint
  * lifetimes: it frees a cut's storage blocks once nothing reads them,
  * and finds which cuts a query's result still reads.
  *
  * CONTRACT: only a frame that (a) was returned by an EAGER
  * `localCheckpoint(true)` and (b) has no remaining consumer may be
  * released — a local checkpoint truncates lineage, so a released
  * frame cannot be recomputed; a later read fails loudly with a
  * missing-block error, never silently recomputes.
  *
  * Lives under `org.apache.spark.sql` solely to satisfy the
  * `private[sql]` qualifier (the GraftColumns pattern); contains no
  * Spark code.
  */
object GraftCheckpoints {
  /** Free the storage blocks behind an eagerly localCheckpoint'ed
    * Dataset (no-op for any other plan shape). Non-blocking. */
  def releaseLocalCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Id of the RDD behind an eagerly localCheckpoint'ed Dataset. */
  def checkpointRdd(df: Dataset[_]): Option[Int] =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => Some(l.rdd.id)
      case _ => None
    }

  /** Ids of the RDDs `df` reads through the `LogicalRDD` leaves of its
    * analyzed plan, subqueries included. */
  def readRdds(df: Dataset[_]): Seq[Int] =
    df.queryExecution.analyzed.collectWithSubqueries {
      case l: LogicalRDD => l.rdd.id
    }
}
