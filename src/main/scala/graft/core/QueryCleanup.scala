package graft.core

import org.apache.spark.sql.SparkSession

/** Kept only because the benchmark's catalog runner
  * (`perfbench/src/perfbench/Catalog.scala`) calls it and those files
  * change only with the benchmark; everything else calls
  * [[SessionScope.drain]]. */
object QueryCleanup {
  def drain(s: SparkSession): Int = SessionScope.drain(s)
}
