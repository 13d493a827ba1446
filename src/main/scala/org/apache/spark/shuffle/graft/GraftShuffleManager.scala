package org.apache.spark.shuffle.graft

import org.apache.spark.SparkConf
import org.apache.spark.shuffle.sort.SortShuffleManager

/** Pluggable shuffle seam: the engine analog of the reference's whole
  * reason to exist — UDA replaces Hadoop/Spark's shuffle transport with
  * an RDMA client/server pair (reference src/DataNet/RDMAClient.cc,
  * RDMAServer.cc) behind the framework's pluggable shuffle interface
  * (plugins/shared/.../UdaShuffleConsumerPluginShared.java:162-344).
  *
  * Spark's equivalent plug point is `spark.shuffle.manager`; this class
  * occupies it as a [[SortShuffleManager]]. On RDMA-capable hardware,
  * `getReader` / `getWriter` are the two methods a transport-optimized
  * implementation would override (fetch iterators and push streams
  * respectively) — registration, handles, block resolution and the
  * sort/spill machinery stay exactly as Spark implements them, which is
  * what makes the seam cheap to occupy and safe to swap.
  *
  * It EXTENDS the sort manager rather than delegating to one because
  * Spark keys a per-record cost on the manager's class:
  * `ShuffleExchangeExec.needToCopyObjectsBeforeShuffle` skips the
  * `UnsafeRow.copy()` of every row before the shuffle write only when
  * `SparkEnv.get.shuffleManager.isInstanceOf[SortShuffleManager]`. A
  * delegating manager paid that copy on every shuffle of every query.
  *
  * Lives under `org.apache.spark.shuffle` because the ShuffleManager
  * SPI is `private[spark]`; Spark instantiates it reflectively from the
  * `spark.shuffle.manager` conf with the (SparkConf, isDriver) or
  * (SparkConf) constructor.
  */
private[spark] class GraftShuffleManager(conf: SparkConf)
    extends SortShuffleManager(conf)
