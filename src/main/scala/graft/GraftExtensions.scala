package graft

import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.{AggExpressions, HashExpressions, StemExpression, VectorExpressions}

/** Session extension installing graft's native Catalyst functions
  * (currently `graft_stem`, the codegen'd Porter stemmer). [[Session]]
  * installs it; another session can set
  * `spark.sql.extensions=graft.GraftExtensions`. Either way
  * `StemExpression.stem(col)` / SQL `graft_stem(col)` then resolve in
  * that session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(StemExpression.registration)
    HashExpressions.registrations.foreach(ext.injectFunction)
    VectorExpressions.registrations.foreach(ext.injectFunction)
    AggExpressions.registrations.foreach(ext.injectFunction)
  }
}
