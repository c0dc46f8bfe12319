package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{LevScratch, SimKernels}
import graft.functions.SimilarityFunctions.lev_distance

/** The bit-parallel Levenshtein kernel against Spark's
  * `UTF8String.levenshteinDistance`, thresholded and not, over random
  * Unicode pairs: 1-, 2-, 3- and 4-byte chars (surrogate pairs in Java
  * strings), empty strings, and lengths across the 64- and 128-char word
  * boundaries. One scratch serves every case, so state left by one pair
  * would corrupt the next.
  */
class LevDistanceSpec extends SparkSpec {

  // few distinct chars per width, so pairs share many and distances vary
  private val char: Gen[Int] = Gen.frequency(
    6 -> Gen.choose('a'.toInt, 'e'.toInt),
    2 -> Gen.oneOf(0xe9, 0xfc, 0x3b1),
    2 -> Gen.oneOf(0x4e00, 0x20ac, 0xffef),
    2 -> Gen.oneOf(0x1f600, 0x1d11e, 0x10348)
  )

  private def str(n: Int): Gen[String] = Gen.listOfN(n, char).map { cs =>
    val sb = new java.lang.StringBuilder
    cs.foreach(sb.appendCodePoint)
    sb.toString
  }

  private val len: Gen[Int] =
    Gen.frequency(1 -> Gen.const(0), 2 -> Gen.oneOf(1, 63, 64, 65, 127, 128, 129, 130), 5 -> Gen.choose(0, 200))

  /** Random edits of `s`: close pairs, so small thresholds bite. */
  private def edited(s: String): Gen[String] = {
    val cps = s.codePoints().toArray.toVector
    Gen.listOfN(8, Gen.zip(Gen.choose(0, 2), Gen.choose(0, 1 << 20), char)).map { ops =>
      val out = ops.foldLeft(cps) { case (v, (op, at, c)) =>
        val i = if (v.isEmpty) 0 else at % v.size
        op match {
          case 0 => v.patch(i, Seq(c), 0)
          case 1 if v.nonEmpty => v.patch(i, Nil, 1)
          case _ if v.nonEmpty => v.updated(i, c)
          case _ => v
        }
      }
      new String(out.toArray, 0, out.size)
    }
  }

  private val pair: Gen[(String, String)] = for {
    a <- len.flatMap(str)
    b <- Gen.frequency(1 -> len.flatMap(str), 1 -> edited(a))
  } yield (a, b)

  private val pairs: Seq[(String, String)] =
    (0 until 3000).map(i => pair.pureApply(Gen.Parameters.default, Seed(9100L + i)))

  private val scratch = new LevScratch
  private def kernel(a: String, b: String, t: Int): Int =
    SimKernels.levenshtein(UTF8String.fromString(a), UTF8String.fromString(b), t, scratch)
  private def builtin(a: String, b: String): Int =
    UTF8String.fromString(a).levenshteinDistance(UTF8String.fromString(b))
  private def builtin(a: String, b: String, t: Int): Int =
    UTF8String.fromString(a).levenshteinDistance(UTF8String.fromString(b), t)

  test("the unthresholded kernel equals Spark's distance on random Unicode pairs") {
    def chars(s: String) = s.codePointCount(0, s.length)
    assert(pairs.exists { case (a, b) => chars(a) > 128 && chars(b) > 128 })
    assert(pairs.exists { case (a, b) => a.isEmpty || b.isEmpty })
    pairs.foreach { case (a, b) =>
      assert(kernel(a, b, Int.MaxValue) == builtin(a, b), s"'$a' vs '$b'")
    }
  }

  test("thresholded: equal to Spark at random thresholds, 0, exactly the distance and one under it") {
    val rng = new scala.util.Random(17)
    pairs.foreach { case (a, b) =>
      val d = builtin(a, b)
      for (t <- Seq(0, d, d - 1, rng.nextInt(130), Int.MaxValue) if t >= 0) {
        assert(kernel(a, b, t) == builtin(a, b, t), s"t=$t d=$d '$a' vs '$b'")
      }
      assert(kernel(a, b, d) == d)
      if (d > 0) assert(kernel(a, b, d - 1) == -1)
    }
  }

  test("empty strings and a zero threshold") {
    assert(kernel("", "", 0) == 0 && kernel("", "", Int.MaxValue) == 0)
    assert(kernel("", "ab😀", Int.MaxValue) == 3 && kernel("ab😀", "", 3) == 3 && kernel("", "ab😀", 2) == -1)
    assert(kernel("ab😀", "ab😀", 0) == 0 && kernel("ab😀", "ab😁", 0) == -1)
  }

  test("lev_distance in a plan equals the built-in levenshtein, codegen'd and interpreted, nulls included") {
    import spark.implicits._
    val df = (pairs.take(400).map { case (a, b) => (Option(a), Option(b)) } ++
      Seq((None, Some("x")), (Some("x"), None))).toDF("a", "b")
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      val codegen = (mode == "CODEGEN_ONLY").toString
      val diffs = withConf("spark.sql.codegen.factoryMode" -> mode, "spark.sql.codegen.wholeStage" -> codegen) {
        df.select(
            (lev_distance(col("a"), col("b"), 64) <=> levenshtein(col("a"), col("b"), 64)).as("banded"),
            (lev_distance(col("a"), col("b")) <=> levenshtein(col("a"), col("b"))).as("full")
          )
          .where(!col("banded") || !col("full"))
          .count()
      }
      assert(diffs == 0, mode)
    }
  }
}
