package org.apache.spark

/** Access to the driver's listener bus drain, which Spark keeps package
  * private. The traced run drains the bus at every op boundary, off the
  * clock, so that every job, stage and query event of an op has been
  * delivered before the op's ledger is read.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
