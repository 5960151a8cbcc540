package org.apache.spark

/** Drains Spark's listener bus so listener-collected task/stage/query
  * metrics are complete when an op's numbers are read (the bus delivers
  * events asynchronously), and exposes a stage's shuffle id; both are
  * Spark-internal. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The shuffle a stage writes, if it is a shuffle-map stage. */
  def shuffleDepId(s: scheduler.StageInfo): Option[Int] = s.shuffleDepId
}
