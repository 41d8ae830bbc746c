package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** Session-scoped registration of the native expressions: every
  * `register(spark)` in this package defines its SQL names through
  * [[define]]. Registration stays lazy — a plan constructor registers what
  * it uses, so sessions built without `spark.sql.extensions` get the
  * natives too — but happens once per session: a name the session's
  * function registry already holds is left as it is, because replacing it
  * logs a "replaced a previously registered function" WARN, once per plan
  * construction. None of the names shadows a Spark built-in (NativesSpec). */
private[graft] object Natives {
  def define(spark: SparkSession, name: String)(
      builder: Seq[Expression] => Expression): Unit = {
    val reg = spark.sessionState.functionRegistry
    // the registry's own methods lock on it: concurrent plan constructors
    // (Runner's model writers) see one registration, not one each
    reg.synchronized {
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
