package graft

import org.apache.spark.sql.functions._
import graft.routing.{RouteSpec, Router}

/** Port of the reference's logpath flag semantics
  * (tests/light/functional_tests/logpath/test_flags_final.py,
  * test_flags_fallback.py, test_flags_catch_all.py): exact routed-row
  * expectations per destination.
  */
class RouterSpec extends SparkSpec {
  import spark.implicits._

  private val rows = Seq(
    // (id, kind)
    (1, "a"), (2, "b"), (3, "ab"), (4, "x")).toDF("id", "kind")

  private def routed(specs: Seq[RouteSpec]): Map[String, Set[Int]] = {
    val f = Router.withRouteFlags(rows, specs)
    specs.map(s => s.name ->
      Router.sink(f, s.name).select("id").as[Int].collect().toSet).toMap
  }

  test("plain paths: every matching path delivers (multiplexer fan-out)") {
    val r = routed(Seq(
      RouteSpec("pa", col("kind").contains("a")),
      RouteSpec("pb", col("kind").contains("b"))))
    assert(r("pa") == Set(1, 3))
    assert(r("pb") == Set(2, 3))
  }

  test("final: delivered rows stop propagating to later paths") {
    val r = routed(Seq(
      RouteSpec("first", col("kind").contains("a"), isFinal = true),
      RouteSpec("second", col("kind").contains("b"))))
    assert(r("first") == Set(1, 3))
    assert(r("second") == Set(2)) // 3 consumed by final path
  }

  test("final path declared later does not shield earlier paths") {
    val r = routed(Seq(
      RouteSpec("second", col("kind").contains("b")),
      RouteSpec("first", col("kind").contains("a"), isFinal = true)))
    assert(r("second") == Set(2, 3))
    assert(r("first") == Set(1, 3))
  }

  test("fallback: receives only rows unmatched by all non-fallback paths") {
    val r = routed(Seq(
      RouteSpec("pa", col("kind").contains("a")),
      RouteSpec("pb", col("kind").contains("b")),
      RouteSpec("fb", lit(true), isFallback = true)))
    assert(r("fb") == Set(4))
  }

  test("catch-all delivers everything without marking rows matched") {
    val r = routed(Seq(
      RouteSpec("all", lit(true), countsAsMatch = false),
      RouteSpec("pa", col("kind").contains("a")),
      RouteSpec("fb", lit(true), isFallback = true)))
    assert(r("all") == Set(1, 2, 3, 4))
    assert(r("fb") == Set(2, 4))
  }

  test("null predicate counts as non-match, not poison") {
    val df = Seq((1, Some("x")), (2, None: Option[String])).toDF("id", "v")
    val f = Router.withRouteFlags(df, Seq(
      RouteSpec("p", col("v") === "x"),
      RouteSpec("fb", lit(true), isFallback = true)))
    assert(Router.sink(f, "p").select("id").as[Int].collect().toSet == Set(1))
    assert(Router.sink(f, "fb").select("id").as[Int].collect().toSet == Set(2))
  }

  test("drop-unmatched removes rows delivered nowhere") {
    val f = Router.withRouteFlags(rows, Seq(RouteSpec("pa", col("kind") === "a")))
    assert(Router.dropUnmatched(f, Seq("pa")).select("id").as[Int].collect().toSet == Set(1))
  }
}
