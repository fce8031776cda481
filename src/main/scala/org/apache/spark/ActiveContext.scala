package org.apache.spark

/** The running `SparkContext`, if any, without creating one. Spark's
  * accessor is `private[spark]`, hence this package. Session extensions
  * run after the builder has made the context, so [[graft.GraftExtensions]]
  * reaches it here.
  */
object ActiveContext {
  def apply(): Option[SparkContext] = SparkContext.getActive
}
