package graft

import org.apache.spark.sql.functions._

import graft.ext.Layout
import graft.functions.ZOrder2

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Bit-by-bit reference interleave — the spec the mask chain must meet. */
  private def naiveInterleave(x: Long, y: Long): Long = {
    var z = 0L
    for (i <- 0 until 31) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
    }
    z
  }

  test("ZOrder2 mask chain equals bit-by-bit interleave; masks to 31 bits; non-negative") {
    val rnd = new scala.util.Random(11)
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (0x7FFFFFFFL, 0x7FFFFFFFL),
      (Long.MaxValue, Long.MinValue), (-1L, -1L)) ++
      Seq.fill(50)((rnd.nextLong(), rnd.nextLong()))
    cases.foreach { case (x, y) =>
      val got = ZOrder2.interleave(x, y)
      assert(got === naiveInterleave(x & 0x7FFFFFFFL, y & 0x7FFFFFFFL), s"($x,$y)")
      assert(got >= 0L)
    }
  }

  test("zValue column (codegen) matches the Scala implementation; z-order is locality-preserving") {
    val df = (0L until 500L).map(i => (i, i * 37 % 1000, i * 91 % 1000)).toDF("id", "x", "y")
    val got = df.select(col("id"), Layout.zValue(col("x"), col("y")).as("z"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    df.collect().foreach { r =>
      assert(got(r.getLong(0)) === ZOrder2.interleave(r.getLong(1), r.getLong(2)))
    }
    // locality: the quadrant (high bits of both dims) is the z prefix —
    // points in different quadrants never interleave in z order
    val q00max = ZOrder2.interleave(511, 511)       // both dims < 512
    val q11min = ZOrder2.interleave(512, 512)       // both dims >= 512
    assert(q00max < q11min)
  }
}
