package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.Curation
import graft.util.DeterministicSeq

/** The running-sum kernel behind the W5 seq and sequence packing, checked
  * against engine-free oracles over random frame sizes (0 and 1 rows
  * included), random input partitionings and session shuffle widths in
  * {1, 3, 64}, with AQE partition coalescing on and off: the range
  * exchange is sized by the session, so no width may change a result.
  */
class DeterministicSeqSpec extends SparkSpec {

  /** Rows (id, n_tokens): ids unique but drawn in random order, so the
    * total order is unrelated to generation order.
    */
  private def rows(n: Int): Gen[Seq[(String, Long)]] = for {
    prefixes <- Gen.listOfN(n, Gen.alphaNumStr.map(_.take(4)))
    counts <- Gen.listOfN(n, Gen.frequency(1 -> Gen.const(0L), 4 -> Gen.choose(1L, 60L)))
  } yield prefixes.zipWithIndex.map { case (p, i) => s"$p#$i" }.zip(counts)

  private case class Case(rows: Seq[(String, Long)], inputParts: Int, width: Int, coalesce: Boolean)

  private val cases: Seq[Case] = (0 until 12).map { i =>
    val gen = for {
      n <- if (i < 2) Gen.const(i) else Gen.choose(2, 500)
      rs <- rows(n)
      parts <- Gen.choose(1, 8)
    } yield Case(rs, parts, Seq(1, 3, 64)(i % 3), coalesce = (i / 3) % 2 == 0)
    gen.pureApply(Gen.Parameters.default, Seed(700L + i))
  }

  private def inSession[T](c: Case)(body: => T): T = withConf(
    "spark.sql.shuffle.partitions" -> c.width.toString,
    "spark.sql.adaptive.coalescePartitions.enabled" -> c.coalesce.toString
  )(body)

  test("assign equals a single-partition row_number() oracle at every session width") {
    import spark.implicits._
    cases.foreach { c =>
      val df = c.rows.toDF("id", "n").repartition(c.inputParts)
      val (got, oracle) = inSession(c) {
        val got = DeterministicSeq.assign(df, "id").select("id", "seq").collect().map(r => r.getString(0) -> r.getLong(1))
        val oracle = df
          .withColumn("seq", row_number().over(Window.orderBy("id")).cast("long"))
          .select("id", "seq")
          .collect()
          .map(r => r.getString(0) -> r.getLong(1))
        (got, oracle)
      }
      assert(got.length == c.rows.size, s"$c: rows lost or duplicated")
      assert(got.toMap == oracle.toMap, s"$c: seq differs from row_number()")
    }
  }

  test("packSequences start_pos equals a driver-side prefix sum of the token counts at every session width") {
    import spark.implicits._
    cases.foreach { c =>
      val df = c.rows.toDF("id", "n").repartition(c.inputParts)
      val got = inSession(c) {
        Curation
          .packSequences(df, "id", col("id"), col("n"), budget = 64L)
          .select("id", "start_pos")
          .collect()
          .map(r => r.getString(0) -> r.getLong(1))
      }
      val sorted = c.rows.sortBy(_._1)
      val expected = sorted.map(_._1).zip(sorted.scanLeft(0L)(_ + _._2)).toMap
      assert(got.length == c.rows.size, s"$c: rows lost or duplicated")
      assert(got.toMap == expected, s"$c: start_pos differs from the prefix sum")
    }
  }
}
