package graft

import org.apache.spark.sql.GraftRegistryBridge
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Post-hoc function registration (the vanilla-session path): the
  * extension-built shared spec session already resolves every function,
  * so the bridge itself is exercised with a fresh probe name.
  */
class GraftSessionSpec extends SparkSpec {

  test("registry bridge registers a function on a live session") {
    GraftRegistryBridge.register(spark,
      FunctionIdentifier("graft_bridge_probe"),
      new ExpressionInfo(classOf[graft.plans.ArrayDot].getName, "graft_bridge_probe"),
      exprs => graft.plans.ArrayDot(exprs.head, exprs(1)))
    val got = spark
      .sql("SELECT graft_bridge_probe(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect().head.getDouble(0)
    assert(got === 11.0)
  }

  test("ensureFunctions is idempotent and leaves the session working") {
    GraftSession.ensureFunctions(spark)
    GraftSession.ensureFunctions(spark)
    val got = spark.sql("SELECT array_dot(array(1.0d), array(5.0d)) AS d")
      .collect().head.getDouble(0)
    assert(got === 5.0)
  }

  test("top_k_pairs resolves in SQL text (aggregate registration path)") {
    val rows = spark.sql(
      """SELECT g, top_k_pairs(s, i, 2) AS tk FROM VALUES
        |  ('a', 3.0d, 1L), ('a', 1.0d, 2L), ('a', 2.0d, 3L)
        |  AS t(g, s, i) GROUP BY g""".stripMargin)
      .selectExpr("tk[0].id", "tk[1].id").collect().head
    assert((rows.getLong(0), rows.getLong(1)) === ((1L, 3L)))
  }

  test("the warehouse is pid-scoped: concurrent JVMs never share bucketed tables") {
    val live = java.lang.ProcessHandle.current().pid()
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
    assert(wh.endsWith(s"/graft-warehouse/pid-$live"),
      s"warehouse $wh is not this JVM's pid-scoped directory")
  }
}
