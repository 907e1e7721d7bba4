package graft

import org.apache.spark.sql.SparkSession

/** Shared pieces of the harness mains (Bench, Verify, IsoBench,
  * PlanSnap, StreamProbe). */
object Harness {

  /** Release everything a query left behind before the next one runs:
    * the operators' pinned frames (each `releaseCaches` also drains its
    * CachePinning queue, so the driver does not accumulate plan
    * references across queries), the SQL cache, and every persistent
    * RDD — `clearCache()` misses localCheckpoint blocks, which are RDD
    * storage, and the iterative operators' results are
    * checkpoint-backed.
    *
    * @param blocking wait for the blocks to be removed; timed harnesses
    *        pass true, so asynchronous removal does not run concurrently
    *        with (and distort) the next timed query */
  def release(spark: SparkSession, blocking: Boolean): Unit = {
    graft.operators.Dedup.releaseCaches(blocking)
    graft.operators.Similarity.releaseCaches(blocking)
    graft.operators.CorpusOps.releaseCaches(blocking)
    graft.operators.Redaction.releaseCaches(blocking)
    graft.operators.Distributions.releaseCaches(blocking)
    graft.operators.Ranking.releaseCaches(blocking)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking))
  }
}
