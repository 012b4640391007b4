package org.apache.spark.perfbenchaccess

import org.apache.spark.sql.SparkSession

/** Reaches the listener bus's flush, which Spark keeps package-private:
  * the traced run must see every event before it sums them.
  */
object Bus {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
