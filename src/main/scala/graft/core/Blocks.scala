package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD

/** The cached blocks behind materialized frames: what backs a frame, and
  * how those blocks are freed.
  *
  * A materialized frame is an eager `localCheckpoint` (or a scan of any
  * persisted RDD): its analyzed plan is a `LogicalRDD` leaf over an RDD
  * whose blocks the SparkContext holds. Those blocks are not pinned by the
  * session's CacheManager, so `clearCache` does not free them; the
  * ContextCleaner does, but only after a driver GC finds the frame
  * unreachable. Loops and suite runners that must not wait for that free
  * the blocks here.
  */
object Blocks {

  /** Ids of the RDDs whose blocks back `df`. */
  def backing(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.toSet

  /** Free the blocks backing `df` now. A released checkpoint cannot be
    * read again (its lineage is cut), so a loop releases its previous
    * round only once the next one is materialized.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case r: LogicalRDD => r.rdd.unpersist(false)
      case _ =>
    }

  /** Clear the CacheManager and free every persisted RDD's blocks except
    * those of the RDDs in `keep`.
    */
  def sweep(spark: SparkSession, keep: Set[Int] = Set.empty): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) rdd.unpersist(false)
    }
  }

  /** True when `df` IS a materialized table that can be read again without
    * recomputing: a driver-local relation, or a scan of an RDD whose
    * blocks are still registered. A scan of an unpersisted RDD
    * (`createDataFrame(rdd, schema)`) re-runs its lineage per action, and a
    * plan over a materialized table (a filter, a join) computes per action,
    * so both are false. Read on the optimized plan, so a projection the
    * optimizer folds away (an empty-union branch, a local-relation
    * conversion) still counts.
    */
  def materialized(df: DataFrame): Boolean = df.queryExecution.optimizedPlan match {
    case _: LocalRelation => true
    case r: LogicalRDD => r.rdd.sparkContext.getPersistentRDDs.contains(r.rdd.id)
    case _ => false
  }
}
