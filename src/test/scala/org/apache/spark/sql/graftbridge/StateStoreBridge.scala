package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.execution.streaming.operators.stateful.StatefulOperator
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreId,
  StateStoreProviderId}
import org.apache.spark.sql.streaming.StreamingQuery

/** Bridge to Spark's `private[sql]` state-store registry, for tests that
  * check which state-store providers are loaded. */
object StateStoreBridge {

  /** One provider id per partition of each stateful operator in `q`'s
    * last micro-batch plan. */
  def providerIds(q: StreamingQuery): Seq[StateStoreProviderId] =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      .collect { case op: StatefulOperator => op.getStateInfo }
      .flatMap(info => (0 until info.numPartitions).map(p =>
        StateStoreProviderId(info, p, StateStoreId.DEFAULT_STORE_NAME)))

  def isLoaded(id: StateStoreProviderId): Boolean = StateStore.isLoaded(id)

  def isMaintenanceRunning: Boolean = StateStore.isMaintenanceRunning
}
