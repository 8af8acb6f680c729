package graft

import graft.engine.GraftSession
import org.scalatest.funsuite.AnyFunSuite

/** The dev mains' environment variables and arguments fail with a named
  * error instead of a bare `NumberFormatException` or `MatchError` or, for
  * a mistyped query subset, an empty run that looks like a passing one. */
class DevMainConfSpec extends AnyFunSuite {

  test("repeat counts parse as positive ints, naming the variable when malformed") {
    for (name <- Seq("SPARK_GRAFT_BENCH_ROUNDS")) {
      assert(GraftSession.positiveInt(Map.empty[String, String].get, name).isEmpty)
      assert(GraftSession.positiveInt(Map(name -> " 3 ").get, name).contains(3))
      for (bad <- Seq("0", "-1", "", "three", "2.5", "99999999999")) {
        val e = intercept[IllegalArgumentException](GraftSession.positiveInt(Map(name -> bad).get, name))
        assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$bad'"), e.getMessage)
      }
    }
  }

  test("query subsets accept catalog names and reject unknown ones, listing the known names") {
    val known = SparkEntry.queries.keys.toSeq.sorted.take(2)
    for (name <- Seq("SPARK_GRAFT_BENCH_ONLY", "SPARK_GRAFT_VERIFY_ONLY")) {
      assert(SparkEntry.selected(Map.empty[String, String].get, name).isEmpty)
      assert(SparkEntry.selected(Map(name -> s" ${known(0)} ,${known(1)},").get, name)
        .contains(known.toSet))
      val e = intercept[IllegalArgumentException](
        SparkEntry.selected(Map(name -> s"${known(0)},q1_pricing_sumary").get, name))
      assert(e.getMessage.contains(name) && e.getMessage.contains("q1_pricing_sumary"), e.getMessage)
      assert(e.getMessage.contains("known: ") &&
        SparkEntry.queries.keys.forall(e.getMessage.contains), "every known name is listed")
      val empty = intercept[IllegalArgumentException](SparkEntry.selected(Map(name -> " , ").get, name))
      assert(empty.getMessage.contains(name), empty.getMessage)
    }
  }

  test("Bench runs exactly the queries SPARK_GRAFT_BENCH_ONLY names, else the headline") {
    val outside = SparkEntry.queries.keys.filterNot(Bench.headline.contains).min
    assert(Bench.selectNames(Map("SPARK_GRAFT_BENCH_ONLY" -> s"$outside,q1_pricing_summary").get) ==
      Seq(outside, "q1_pricing_summary").sorted)
    assert(Bench.selectNames(Map.empty[String, String].get) == Bench.headline)
  }

  test("Verify rejects a wrong argument count with its usage, before starting a session") {
    for (args <- Seq(Array.empty[String], Array("sf"), Array("sf", "out", "extra"))) {
      val e = intercept[IllegalArgumentException](Verify.main(args))
      assert(e.getMessage.contains("usage: Verify <sfDir> <outDir>"), e.getMessage)
    }
  }

  test("every Bench headline name is a catalog query") {
    assert(Bench.headline.filterNot(SparkEntry.queries.contains).isEmpty)
  }
}
