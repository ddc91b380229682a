package org.apache.spark

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.util.NonFateSharingCache

/** The two Spark internals the benchmark needs, reached from Spark's own
  * package because they are private to it.
  */
object PerfbenchAccess {
  /** Waits until the listener bus has delivered every posted event, so a
    * traced span's counts are complete before the span closes.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  private lazy val codegenCache = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    m.invoke(CodeGenerator).asInstanceOf[NonFateSharingCache[_, _]]
  }

  /** Empties the cache of compiled generated classes, so the next run of
    * a plan pays code generation and compilation again.
    */
  def clearCodegenCache(): Unit = codegenCache.invalidateAll()
}
