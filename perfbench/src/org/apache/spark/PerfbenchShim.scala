package org.apache.spark

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.util.NonFateSharingCache

/** The package-private hooks the benchmark needs. */
object PerfbenchShim {
  /** Wait for the listener bus to deliver queued events before reading
    * listener state. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Forget every class Janino compiled, so the next query compiles its
    * generated code again as it would in a fresh JVM. The cache is a
    * private field of `CodeGenerator`, hence the reflection. */
  def clearCodegenCache(): Unit = {
    val get = CodeGenerator.getClass.getDeclaredMethod("cache")
    get.setAccessible(true)
    get.invoke(CodeGenerator).asInstanceOf[NonFateSharingCache[_, _]].invalidateAll()
  }
}
