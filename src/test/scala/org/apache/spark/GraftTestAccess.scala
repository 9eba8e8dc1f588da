package org.apache.spark

/** The one package-private Spark field the specs need: a context's
  * checkpoint dir, which `SparkContext` can set but not unset. Clearing
  * it puts the shared test context back in local checkpoint mode.
  */
object GraftTestAccess {
  def clearCheckpointDir(sc: SparkContext): Unit = sc.checkpointDir = None
}
