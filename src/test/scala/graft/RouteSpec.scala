package graft

import graft.plans.route

class RouteSpec extends SparkSuite {
  import spark.implicits._

  test("route.local: within the bound the probe returns every row; past it None") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    assert(route.local(df, 3L, "spec", Seq("id")).map(_.length) == Some(3))
    assert(route.local(df, 2L, "spec", Seq("id")).isEmpty)
    assert(route.local(df, -1L, "spec").isEmpty)
    assert(route.local(df.filter($"id" < 0), 0L, "spec").map(_.length) == Some(0))
    val typed = route.local(df.as[(Long, String)], 10L, "spec")
    assert(typed.map(_.toSet) == Some(Set((1L, "a"), (2L, "b"), (3L, "c"))))
  }

  test("route.local: non-whitelisted key types and null keys decline") {
    val dbl = Seq((1.0, "a")).toDF("id", "v")
    assert(route.local(dbl, 10L, "spec", Seq("id")).isEmpty)
    assert(route.local(dbl, 10L, "spec", Seq("v")).isDefined)
    val str = Seq(("7", 1L)).toDF("id", "v")
    assert(route.local(str, 10L, "spec", Seq("id")).isDefined)
    assert(route.local(str, 10L, "spec", Seq("id"), route.Integral).isEmpty)
    val nul = Seq((Some(1L), 1L), (None, 2L)).toDF("id", "v")
    assert(route.local(nul, 10L, "spec", Seq("v")).isDefined)
    assert(route.local(nul, 10L, "spec", Seq("id")).isEmpty)
  }

  test("route.lt is Spark's order: numeric for integers, UTF-8 bytes for strings") {
    import org.apache.spark.sql.types.{IntegerType, StringType}
    assert(route.lt(IntegerType)(9, 10) && !route.lt(IntegerType)(10, 9))
    assert(route.lt(StringType)("10", "9") && route.lt(StringType)("07", "10"))
    assert(route.lt(StringType)("￿", "😀"))
  }
}
