package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import org.apache.spark.sql.catalyst.expressions.graft.Morton

/** Morton interleave semantics + the layout scorecard's skipping
  * guarantees on a grid fixture where every cell population is known. */
class LayoutSpec extends AnyFunSuite with SparkFixture {

  test("morton2 interleaves bits: x at even positions, y at odd") {
    // hand-computed: x=5 (bits 0,2) lands at positions 0,4 → 1+16=17;
    // y=3 (bits 0,1) lands at positions 1,3 → 2+8=10; total 27.
    assert(Morton.interleave(5L, 3L) == 27L)
    assert(Morton.interleave(0L, 0L) == 0L)
    // only low 16 bits participate
    assert(Morton.interleave(0x10000L, 0L) == 0L)
    assert(Morton.interleave(0xFFFFL, 0xFFFFL) == 0xFFFFFFFFL)
    // the SQL-registered expression agrees with the Scala helper
    val got = spark.sql("SELECT morton2(CAST(5 AS BIGINT), CAST(3 AS BIGINT)) v")
      .head().getLong(0)
    assert(got == 27L)
  }

  test("morton cells are quadtree blocks: high bits select an 8x8 grid cell") {
    // For 16-bit coords, morton >> 26 keeps 3 high bits of each dim.
    // Coordinates in the same (x-octant, y-octant) must share a cell;
    // different octants must differ.
    def cell(x: Long, y: Long) = Morton.interleave(x, y) >> 26
    assert(cell(0L, 0L) == cell(8191L, 8191L))         // both in octant 0
    assert(cell(0L, 0L) != cell(8192L, 0L))            // x octant 1
    assert(cell(0L, 0L) != cell(0L, 8192L))            // y octant 1
    assert(cell(65535L, 65535L) == 63L)                // last cell
  }

  test("layout scorecard: zorder prunes both probes, linear only x, hash neither") {
    val s = spark; import s.implicits._
    // 64x64 uniform grid => every 8x8-octant pair is populated, and
    // min/max stats per cell are exact octant bounds.
    val grid = for { x <- 0 until 64; y <- 0 until 64 }
      yield (x.toLong, y.toLong, x * 64L + y)
    val df = grid.toDF("x", "y", "id")
    val out = Layout.layoutPruningStats(spark, df, "x", "y", Seq("id"))
      .collect().map(r => r.getAs[String]("layout") -> r).toMap

    assert(out.keySet == Set("zorder", "linear", "hash"))
    for (r <- out.values) {
      assert(r.getAs[Long]("n_cells") == 64L)
      // skipping never changes the answer, only the work
      assert(r.getAs[Long]("box_rows_matched") == out("hash").getAs[Long]("box_rows_matched"))
      assert(r.getAs[Long]("band_rows_scanned") >= r.getAs[Long]("band_rows_matched"))
    }
    val z = out("zorder"); val l = out("linear"); val h = out("hash")
    // probe band [29491, 36044]/65535 covers octants 3 and 4 of each dim
    assert(z.getAs[Long]("box_cells_scanned") == 4L)   // 2x2 octant block
    assert(z.getAs[Long]("band_cells_scanned") == 16L) // 8 x-octants x 2 y-octants
    assert(l.getAs[Long]("box_cells_scanned") < 64L)   // x-strips prune the box
    assert(l.getAs[Long]("band_cells_scanned") == 64L) // y-band: no pruning
    assert(h.getAs[Long]("box_cells_scanned") == 64L)  // hash never prunes
    assert(h.getAs[Long]("band_cells_scanned") == 64L)
    // rows scanned ordering: zorder strictly beats linear on the band
    assert(z.getAs[Long]("band_rows_scanned") < l.getAs[Long]("band_rows_scanned"))
  }
}
