package org.apache.spark

import org.apache.spark.rdd.RDD

/** Access bridge for the `private[spark]` RDD state the engine needs, in
  * the pattern of `org.apache.spark.sql.GraftSqlBridge`: no Spark code
  * is modified, only reached.
  */
object GraftCoreBridge {

  /** `RDD.unpersist` — blocks freed through `SparkContext.unpersistRDD`,
    * the RDD's storage level set to NONE — without the WARN it logs for
    * every locally checkpointed RDD (`Components.releasePin` frees those
    * on purpose, once per superseded round). The WARN's only condition
    * is the RDD's local-checkpoint data, which is set aside for the call
    * and restored after it. Only for an RDD no job reads anymore, which
    * is `releasePin`'s contract: its lineage is truncated, so freed
    * blocks could not be recomputed anyway.
    */
  def unpersistQuietly[T](rdd: RDD[T], blocking: Boolean): Unit = {
    val checkpoint = rdd.checkpointData
    rdd.checkpointData = None
    try rdd.unpersist(blocking) finally rdd.checkpointData = checkpoint
  }
}
