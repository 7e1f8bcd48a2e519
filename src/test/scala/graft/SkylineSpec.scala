package graft

import org.apache.spark.sql.functions._
import graft.operators.{SizeGate, Skyline}

class SkylineSpec extends SparkSpec {

  // reference implementation: the literal NOT-EXISTS dominance spec
  private def bruteFrontier(pts: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] =
    pts.filterNot { case (_, x, y) =>
      pts.exists { case (_, x2, y2) =>
        x2 >= x && y2 >= y && (x2 > x || y2 > y)
      }
    }.toSet

  test("property: pareto2D equals the NOT-EXISTS dominance spec") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop}
    // narrow ranges force ties in both dims, duplicate points included
    val ptsGen = Gen.nonEmptyListOf(for {
      x <- Gen.choose(0L, 8L)
      y <- Gen.choose(0L, 8L)
    } yield (x, y)).map(_.take(50))
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(15),
      Prop.forAll(ptsGen) { raw =>
        val pts = raw.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
        val df = pts.toDF("id", "x", "y").repartition(4)
        val got = Skyline.pareto2D(df, "x", "y")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        got == bruteFrontier(pts)
      })
    assert(res.passed, res.status.toString)
  }

  test("property: the wide-path ladder (SizeGate.distributed) matches the spec too") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop}
    val ptsGen = Gen.nonEmptyListOf(for {
      x <- Gen.choose(0L, 8L); y <- Gen.choose(0L, 8L)
    } yield (x, y)).map(_.take(40))
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(10),
      Prop.forAll(ptsGen) { raw =>
        val pts = raw.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
        val df = pts.toDF("id", "x", "y").repartition(4)
        // forces the range-ladder path and the shuffled row-recovery
        // join on tiny data
        val got = SizeGate.distributed(Skyline.pareto2D(df, "x", "y")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
        got == bruteFrontier(pts)
      })
    assert(res.passed, res.status.toString)
  }

  test("duplicate frontier points all survive; dominated ties die") {
    import spark.implicits._
    val df = Seq(
      (1L, 5L, 5L), (2L, 5L, 5L), // duplicates of a frontier point
      (3L, 5L, 3L),               // same x, lower y -> dominated
      (4L, 6L, 5L),               // dominates nothing of (5,5)? x>5,y=5 -> dominates both
      (5L, 4L, 9L)
    ).toDF("id", "x", "y")
    val got = Skyline.pareto2D(df, "x", "y")
      .select($"id").collect().map(_.getLong(0)).toSet
    // (6,5) strictly dominates (5,5) twins and (5,3); (4,9) survives
    assert(got === Set(4L, 5L))
  }

  test("decimal y ordering is numeric, not lexicographic") {
    import spark.implicits._
    val df = Seq((1L, 1L, "9.00"), (2L, 1L, "10.00"), (3L, 2L, "2.00"))
      .toDF("id", "x", "ys")
      .withColumn("y", $"ys".cast("decimal(15,2)"))
      .select($"id", $"x", $"y")
    val got = Skyline.pareto2D(df, "x", "y")
      .select($"id").collect().map(_.getLong(0)).toSet
    // (1,10.00) beats (1,9.00); (2,2.00) has the best x -> survives
    assert(got === Set(2L, 3L))
  }
}
