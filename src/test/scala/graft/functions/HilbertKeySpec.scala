package graft.functions

import graft.SparkSpec
import graft.operators.Layout
import org.apache.spark.sql.functions._

class HilbertKeySpec extends SparkSpec {
  import spark.implicits._

  test("the curve property: a bijection whose consecutive indexes are grid-adjacent") {
    // ALL 256 cells of the 16×16 grid (bits = 4): d must be a bijection
    // onto 0..255 and |Δx|+|Δy| between consecutive d must be exactly 1
    // — the definition of a Hilbert curve, and exactly what the Morton
    // key violates at power-of-two boundaries
    val cells = for (x <- 0L until 16L; y <- 0L until 16L) yield (x, y)
    val d2xy = cells.toDF("x", "y")
      .select(col("x"), col("y"),
        Layout.hilbertKey(col("x"), col("y"), bits = 4).as("d"))
      .collect().map(r => r.getLong(2) -> (r.getLong(0), r.getLong(1)))
      .toMap
    assert(d2xy.keySet == (0L until 256L).toSet, "not a bijection onto 0..255")
    (0L until 255L).foreach { d =>
      val (x0, y0) = d2xy(d); val (x1, y1) = d2xy(d + 1)
      assert(math.abs(x1 - x0) + math.abs(y1 - y0) == 1,
        s"step d=$d jumps from ($x0,$y0) to ($x1,$y1)")
    }
  }

  test("interpreted eval ≡ whole-stage codegen") {
    val rows = (0L until 400L).map(i => ((i * 7919) % 200, (i * 104729) % 200))
    val df = rows.toDF("x", "y")
      .select(Layout.hilbertKey(col("x"), col("y"), bits = 8).as("d"))
    val gen = df.collect().map(_.getLong(0)).toSeq
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val interp =
      try df.collect().map(_.getLong(0)).toSeq
      finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
    assert(gen == interp)
  }

  test("out-of-range values clamp to the grid edge; null propagates") {
    val out = Seq((1000L, -5L)).toDF("x", "y")
      .select(Layout.hilbertKey(col("x"), col("y"), bits = 4).as("d"),
        Layout.hilbertKey(lit(15L), lit(0L), bits = 4).as("edge"))
      .head()
    assert(out.getLong(0) == out.getLong(1)) // (1000, -5) clamps to (15, 0)
    val n = Seq((Some(1L), None: Option[Long])).toDF("x", "y")
      .select(Layout.hilbertKey(col("x"), col("y"), bits = 4)).head()
    assert(n.isNullAt(0))
  }

  test("locality beats Morton: consecutive keys stay adjacent where Z-order jumps") {
    // a parquet file is a CONTIGUOUS key range, so the physical spread
    // of consecutive key values is what bounds a file's min/max box.
    // Walk both curves over the full 32×32 grid in key order and
    // measure the Manhattan step between consecutive cells: Hilbert is
    // exactly 1 everywhere (the curve property), Morton jumps across
    // the plane at every power-of-two boundary
    val cells = for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)
    val keyed = cells.toDF("x", "y").select(col("x"), col("y"),
      Layout.hilbertKey(col("x"), col("y"), bits = 5).as("hk"),
      Layout.zOrderKey(col("x"), col("y"), bits = 5).as("zk"))
      .collect()
    def meanStep(key: String): Double = {
      val walk = keyed.sortBy(_.getAs[Long](key))
        .map(r => (r.getLong(0), r.getLong(1)))
      walk.sliding(2).map { case Array((x0, y0), (x1, y1)) =>
        (math.abs(x1 - x0) + math.abs(y1 - y0)).toDouble
      }.sum / (walk.length - 1)
    }
    val h = meanStep("hk"); val z = meanStep("zk")
    assert(h == 1.0, s"hilbert walk mean step $h, expected exactly 1")
    assert(z > 1.3, s"morton walk unexpectedly tight: $z")
  }

  test("the SQL-registered function runs under GraftExtensions") {
    val d = spark.sql("SELECT hilbert_key(CAST(3 AS BIGINT), CAST(4 AS BIGINT))")
      .head().getLong(0)
    val direct = Seq((3L, 4L)).toDF("x", "y")
      .select(Layout.hilbertKey(col("x"), col("y"), bits = 16)).head().getLong(0)
    assert(d == direct)
  }
}
