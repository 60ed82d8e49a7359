package org.apache.spark

/** Test access to the running context's own `SparkConf`, which Spark keeps
  * package private. Settings read when a job is scheduled (for example
  * `spark.driver.maxResultSize`, read per task set) take effect for the
  * jobs `body` runs; the previous value is restored afterwards.
  */
object DriverConfBridge {
  def withConf[T](sc: SparkContext, key: String, value: String)(body: => T): T = {
    val old = sc.conf.getOption(key)
    sc.conf.set(key, value)
    try body
    finally old.fold(sc.conf.remove(key))(sc.conf.set(key, _))
  }
}
