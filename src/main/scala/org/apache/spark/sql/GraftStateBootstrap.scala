package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Package-private-access shim (the standard Spark-library compat
  * pattern): batch-mode transformWithState executions resolve the
  * driver's StateStoreCoordinator RPC endpoint, but only a STREAMING
  * query start normally registers it — `StreamingQueryManager.
  * stateStoreCoordinator` is the idempotent lazy ref that does so and
  * it is `private[sql]`, hence this one-line accessor living in the
  * org.apache.spark.sql package. Without the bootstrap, the first
  * batch state-v2 operator in a session fails with
  * CANNOT_LOAD_STATE_STORE / RpcEndpointNotFoundException. */
object GraftStateBootstrap {
  def ensureCoordinator(s: SparkSession): Unit = {
    s.streams.asInstanceOf[classic.StreamingQueryManager]
      .stateStoreCoordinator
    ()
  }
}

/** The same shim for `private[sql]` frame construction: an RDD of
  * internal rows as a DataFrame, with no conversion to external `Row`s. */
object GraftFrames {
  def ofInternalRows(s: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    s.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
