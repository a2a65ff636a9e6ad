package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.VecExprs

/** Session set-up: the settings a reused session lacks are named, and
  * the graft SQL functions are registered once per session. */
class SessionsSpec extends SparkSpec {

  test("ignoredSettings names exactly the settings the running session lacks") {
    val asked = Seq(
      "spark.sql.codegen.cache.maxEntries" -> Sessions.CodegenCacheEntries,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.master" -> spark.sparkContext.master,
      "spark.sql.codegen.cache.maxEntries" -> "7",
      "spark.master" -> "local[1]")
    assert(Sessions.ignoredSettings(spark, asked) ===
      Seq("spark.sql.codegen.cache.maxEntries" -> "7", "spark.master" -> "local[1]"))
  }

  test("VecExprs.register keeps a session's functions and restores a missing one") {
    VecExprs.register(spark)
    val reg = spark.sessionState.functionRegistry
    val dot = FunctionIdentifier("graft_dot")
    val real = reg.lookupFunctionBuilder(dot).get
    val sentinel: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
      org.apache.spark.sql.catalyst.expressions.Expression = args => real(args)
    try {
      reg.createOrReplaceTempFunction("graft_dot", sentinel, "built-in")
      VecExprs.register(spark)
      assert(reg.lookupFunctionBuilder(dot).get eq sentinel,
        "a session with every function registered is left as it is")
      reg.dropFunction(FunctionIdentifier("graft_grams3h"))
      VecExprs.register(spark)
      assert(VecExprs.builders.forall { case (n, _) =>
        reg.functionExists(FunctionIdentifier(n)) })
    } finally reg.createOrReplaceTempFunction("graft_dot", real, "built-in")
  }
}
