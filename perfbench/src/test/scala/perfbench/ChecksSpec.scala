package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {
  import Checks.Row

  private val expected = Map("http://a/1" -> "x", "http://a/2" -> "y", "http://b/1" -> "z")
  private val good = Seq(Row("http://a/1", "http://a/1", "x"), Row("http://a/2", "http://a/1", "y"), Row("http://b/1", "http://b/1", "z"))

  test("a correct assignment passes") {
    assert(Checks.assignment(good, expected).isEmpty)
  }

  test("each violated output property is reported") {
    assert(Checks.assignment(good :+ Row("http://a/2", "http://a/2", "y"), expected).exists(_.contains("several rows")))
    assert(Checks.assignment(good :+ Row("http://c/1", "http://c/1", "w"), expected).exists(_.contains("should not be there")))
    assert(Checks.assignment(good.init, expected).exists(_.contains("missing")))
    assert(Checks.assignment(good.updated(2, Row("http://b/1", "http://b/1", "z ")), expected).exists(_.contains("text changed")))
    assert(Checks.assignment(good.updated(0, Row("http://a/1", "http://a/2", "x")).updated(1, Row("http://a/2", "http://a/2", "y")), expected)
      .exists(_.contains("not their minimum url")))
  }

  test("F1 against gold pairs uses the gold partition restricted to the output's urls") {
    assert(Checks.f1(good, Seq("http://a/1" -> "http://a/2")) == 1.0)
    // a gold partner missing from the output does not count against it
    assert(Checks.f1(good, Seq("http://a/1" -> "http://a/2", "http://a/2" -> "http://gone/1")) == 1.0)
    assert(Checks.f1(good, Seq("http://a/1" -> "http://b/1")) == 0.0)
  }
}
