package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Cluster-wide registration of the custom expressions via
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions` (or
  * a session builder's `withExtensions(new GraftExtensions)`), so
  * SQL users get `cosine_sim`, `minhash_sig`, `simhash64`, ... without
  * per-session registration calls.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
}
