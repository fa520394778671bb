package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.expressions.Registration

/** Session extensions for cluster deployment: ship every native
  * expression on [[Registration.natives]] to every session via
  * `--conf spark.sql.extensions=graft.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`). A session without
  * them gets the same list from [[Registration.install]] where it
  * enters the engine. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    Registration.natives.foreach { f =>
      ext.injectFunction((new FunctionIdentifier(f.name), f.info, f.build))
    }
}
