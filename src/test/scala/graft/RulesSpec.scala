package graft

import org.apache.spark.sql.functions._
import graft.core.Normalize
import graft.core.Normalize.AliasKeyExpr

/** The injected optimizer rule must collapse nested alias_key applications
  * in the OPTIMIZED plan (the session is built withExtensions, so this
  * exercises the real injection path, not just the rule function). */
class RulesSpec extends SparkSuite {
  import spark.implicits._

  private def countAliasKey(df: org.apache.spark.sql.DataFrame): Int = {
    var n = 0
    df.queryExecution.optimizedPlan.transformAllExpressions {
      case e: AliasKeyExpr => n += 1; e
    }
    n
  }

  test("alias_key(alias_key(x)) collapses to one application") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val df = docs.select(
      Normalize.aliasKey(Normalize.aliasKey(col("source"))).as("k"))
    assert(countAliasKey(df) == 1, df.queryExecution.optimizedPlan.toString)
    // and the result is still correct
    val single = docs.select(Normalize.aliasKey(col("source")).as("k"))
    assert(df.as[String].collect().sorted.sameElements(
           single.as[String].collect().sorted))
  }

  test("sql path: extensions-registered function resolves and collapses") {
    graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("rules_spec_v")
    val df = spark.sql(
      "select alias_key(alias_key(source)) as k from rules_spec_v")
    assert(countAliasKey(df) == 1)
    assert(df.as[String].head().nonEmpty)
  }

  test("single application is left untouched") {
    val df = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(Normalize.aliasKey(col("source")))
    assert(countAliasKey(df) == 1)
  }

  test("extensions alone resolve every function in the shared table") {
    // newSession() carries the session extensions but not register's temp
    // functions: this is a session set up only through spark.sql.extensions
    val s2 = spark.newSession()
    val missing = GraftExtensions.Functions.map(_._1)
      .filterNot(n => s2.catalog.functionExists(n))
    assert(missing.isEmpty, s"not injected by GraftExtensions: $missing")
    val dot = s2.sql("select vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))")
    assert(dot.head().getDouble(0) == 11.0)
    // register adds the rule for register-only sessions, exactly once
    Normalize.register(s2)
    Normalize.register(s2)
    val rules = org.apache.spark.sql.classic.ClassicConversions
      .castToImpl(s2).experimental.extraOptimizations
    assert(rules.count(_ eq graft.plans.IdempotentAliasKey) == 1, rules)
  }
}
