package graft

import graft.ops.Layout
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zOrderKey interleaves bits exactly (hand-computed Morton codes)") {
    // x=3 (011), y=5 (101), n=2, bits=3: z bits are x0 y0 x1 y1 x2 y2
    // = 1,1,1,0,0,1 (LSB first) = 0b100111 = 39
    val rows = Seq((3L, 5L), (0L, 0L), (7L, 7L), (1L, 0L), (0L, 1L))
      .toDF("x", "y")
    val z = rows.select(Layout.zOrderKey(Seq(col("x"), col("y")), bits = 3))
      .collect().map(_.getLong(0)).toSeq
    assert(z == Seq(39L, 0L, 63L, 1L, 2L), s"got $z")
  }

  test("zOrderKey preserves locality: nested quadrants nest in key ranges") {
    // all points of the low quadrant (x,y < 4) sort strictly before any
    // point of the high quadrant (x,y >= 4) at bits=3
    val pts = for { x <- 0L to 7L; y <- 0L to 7L } yield (x, y)
    val keyed = pts.toDF("x", "y")
      .select(col("x"), col("y"),
        Layout.zOrderKey(Seq(col("x"), col("y")), bits = 3).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val low = keyed.filter { case (x, y, _) => x < 4 && y < 4 }.map(_._3)
    val high = keyed.filter { case (x, y, _) => x >= 4 && y >= 4 }.map(_._3)
    assert(low.max < high.min, "low quadrant must precede high quadrant")
    // bijective over the full 6-bit grid
    assert(keyed.map(_._3).distinct.length == 64)
  }

  test("zOrderKey rejects bad arity/bit sizing") {
    intercept[IllegalArgumentException](Layout.zOrderKey(Seq.empty, 8))
    intercept[IllegalArgumentException](
      Layout.zOrderKey(Seq(col("a"), col("b")), 32)) // 64 bits > 63
  }
}
