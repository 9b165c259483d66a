package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** Session-extension hook: `spark.sql.extensions=graft.plans.GraftExtensions`
  * (set by [[graft.GraftSession.local]]) registers the
  * engine's native functions into the Catalyst function registry, so SQL
  * text and `expr()` strings can call them alongside the builtins.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(QuantizedDot.descriptor)
    ext.injectFunction(JaccardSim.descriptor)
    ext.injectFunction(NfcNormalize.descriptor)
    ext.injectFunction(AlphaSpaceCount.descriptor)
  }
}
