package graft

import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Banding, Iterate}

class BandingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The per-band definition: no band below `band` is equal. */
  private def noSharedBelow(a: Long, b: Long, band: Int, w: Int) = {
    val mask = if (w == 64) -1L else (1L << w) - 1
    (0 until band).forall(bp => ((a ^ b) >>> (bp * w) & mask) != 0)
  }

  test("noSharedBandBelow matches the per-band definition at widths " +
      "1 to 64, with and without whole-stage codegen") {
    val rnd = new scala.util.Random(17)
    for (w <- Seq(1, 2, 3, 4, 8, 16, 32, 64)) {
      val bands = 64 / w
      val mask = if (w == 64) -1L else (1L << w) - 1
      // random, sparse (1–3 bits), one-band-equal and equal xors
      val xors = (0 until 240).map(i => i % 4 match {
        case 0 => rnd.nextLong()
        case 1 => (0 to rnd.nextInt(3)).map(_ => 1L << rnd.nextInt(64))
          .reduce(_ | _)
        case 2 => rnd.nextLong() & ~(mask << (rnd.nextInt(bands) * w))
        case _ => 0L
      })
      val rows = xors.flatMap { x =>
        val a = rnd.nextLong()
        (0 until bands).map(band => (a, a ^ x, band))
      }
      val want = rows.map { case (a, b, band) =>
        noSharedBelow(a, b, band, w) }
      for (wholeStage <- Seq("true", "false"))
        Iterate.scoped(spark, "spark.sql.codegen.wholeStage" -> wholeStage) {
          scope =>
            val df = scope.createDataFrame(scope.sparkContext
                .parallelize(rows, 2)).toDF("a", "b", "band")
              .select(Banding.noSharedBandBelow(col("a"), col("b"),
                col("band"), bands, w))
            val codegen = df.queryExecution.executedPlan.collect {
              case wsc: WholeStageCodegenExec => wsc
            }.exists(_.child.isInstanceOf[ProjectExec])
            assert(codegen === wholeStage.toBoolean,
              df.queryExecution.executedPlan.toString)
            assert(df.collect().map(_.getBoolean(0)).toSeq === want,
              s"width $w, wholeStage=$wholeStage")
        }
    }
  }

  test("keys splits a signature into its bands, a 64-bit band whole") {
    import spark.implicits._
    val sig = 0x0123456789abcdefL
    def keys(bands: Int, bandBits: Int) = Seq(sig).toDF("sig")
      .select(org.apache.spark.sql.functions.explode(
        Banding.keys(col("sig"), bands, bandBits)).as("k"))
      .select("k.band", "k.bkey").as[(Int, Long)].collect().toSeq
    assert(keys(4, 16) === Seq((0, 0xcdefL), (1, 0x89abL), (2, 0x4567L),
      (3, 0x0123L)))
    assert(keys(1, 64) === Seq((0, sig)))
    assert(keys(3, 3) === Seq((0, 7L), (1, 5L), (2, 7L)))
    intercept[IllegalArgumentException](Banding.keys(col("sig"), 9, 8))
  }
}
