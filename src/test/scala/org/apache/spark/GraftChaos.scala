package org.apache.spark

import org.apache.spark.rpc.RpcEndpointRef
import org.apache.spark.shuffle.FetchFailedException
import org.apache.spark.storage.BlockManager

/** Test-only seam into Spark's failure machinery (lives in the
  * `org.apache.spark` package because `BlockManager` is
  * `private[spark]`). Throws a REAL `FetchFailedException` — the signal
  * the DAGScheduler treats as "a map output is lost": it unregisters
  * the named map output and resubmits the MAP STAGE, exercising the
  * stage-retry path that plain task-failure injection
  * (`RuntimeException` in a task) never reaches. The Spark-honest
  * analog of the reference harness's adversarial network, which drops
  * RPC replies so completed map work must be redone
  * (`/root/reference/src/labrpc/labrpc.go:219-300`). */
object GraftChaos {
  def throwFetchFailed(shuffleId: Int, reduceId: Int): Nothing =
    throw new FetchFailedException(
      SparkEnv.get.blockManager.blockManagerId,
      shuffleId, 0L, 0, reduceId, "graft injected fetch failure")

  /** Register the session's block manager with the master again after
    * [[throwFetchFailed]]. The DAGScheduler answers that fetch failure
    * by removing the failing block manager's executor — in local mode
    * the driver itself. The heartbeat's own re-registration then asks
    * the cluster scheduler endpoint, which local mode lacks, and fails;
    * after `spark.executor.heartbeat.maxFailures` (60 × 10 s) the
    * executor exits the JVM, killing whatever suite runs then. A fresh
    * registration skips that check. */
  def restoreBlockManager(): Unit = {
    val bm = SparkEnv.get.blockManager
    def call[T](name: String): T = {
      val m = classOf[BlockManager].getDeclaredMethod(name)
      m.setAccessible(true)
      m.invoke(bm).asInstanceOf[T]
    }
    bm.master.registerBlockManager(bm.blockManagerId,
      bm.diskBlockManager.localDirsString, call[Long]("maxOnHeapMemory"),
      call[Long]("maxOffHeapMemory"), call[RpcEndpointRef]("storageEndpoint"),
      isReRegister = false)
    call[Unit]("reportAllBlocks")
    require(bm.master.getMemoryStatus.contains(bm.blockManagerId),
      s"${bm.blockManagerId} is still not registered")
  }
}
