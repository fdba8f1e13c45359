package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** The two `private[spark]` reads the tracer needs: draining the
  * listener bus before totals are read, and the physical-operator
  * scope names of the RDDs a stage runs (Spark names each RDD scope
  * after the plan node that created it).
  */
object SparkInternals {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def scopeNames(stage: StageInfo): Seq[String] =
    stage.rddInfos.flatMap(_.scope.map(_.name))
}
