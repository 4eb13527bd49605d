package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SQL surface for the native kernels: registers every entry of
  * [[Kernels.all]] as a SQL function under its name, so
  * `spark.sql("SELECT extract_spans(spans, doc_id) ...")` works — the
  * operators are usable from pure SQL (the reference's callers are
  * HTTP+SQL, not Scala), and from any JDBC/thrift front end.
  *
  * Two registration paths:
  *  - config: `spark.sql.extensions=graft.GraftExtensions` (applied to
  *    every new session — the deployment shape);
  *  - programmatic: [[GraftExtensions.register]] on an existing session
  *    (tests, notebooks).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    Kernels.all.foreach { k =>
      ext.injectFunction((FunctionIdentifier(k.name),
        new ExpressionInfo(classOf[KernelCall].getName, k.name), k.call))
    }
}

object GraftExtensions {

  /** Register all kernels on an existing session's catalog. */
  def register(spark: SparkSession): Unit =
    Kernels.all.foreach { k =>
      org.apache.spark.sql.graftshim.FunctionShim.registerTemp(spark, k.name, k.call)
    }
}
