package graft

import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}

import graft.functions.FusePackedTokenGen

/** The library's optimizer rules. Listed in
  * `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`,
  * so Spark's `ServiceLoader` applies it to every new session on the
  * classpath, including sessions this library does not build. */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(extensions: SparkSessionExtensions): Unit =
    extensions.injectOptimizerRule(_ => FusePackedTokenGen)
}
