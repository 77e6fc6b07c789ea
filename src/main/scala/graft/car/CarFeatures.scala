package graft.car

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** F1-F7 — the reference's scalar feature derivations (SURVEY.md §2.8),
  * as pure column expressions (no UDFs; everything codegens).
  */
object CarFeatures {

  /** F1 — "L*W*H" → 6 derived features (reference data.py:92-102).
    * The surface-area formula keeps the reference's own ×4 factor
    * (non-physical, preserved for parity).
    */
  def withDimensionFeatures(df: DataFrame, dimCol: String = "anonymousFeature12"): DataFrame = {
    // try_element_at: ANSI mode throws on out-of-bounds, and a malformed
    // dimension string (fewer than 3 '*'-parts) must yield nulls like the
    // reference's split does, not kill the job.
    val p = split(col(dimCol), "\\*")
    val l = try_element_at(p, lit(1)).cast("double")
    val w = try_element_at(p, lit(2)).cast("double")
    val h = try_element_at(p, lit(3)).cast("double")
    df.withColumn("carLength", l)
      .withColumn("carWidth", w)
      .withColumn("carHeight", h)
      .withColumn("carVolume", l * w * h)
      .withColumn("carSurface", lit(4) * (l * w + l * h + w * h))
      .withColumn("carPerimeter", lit(4) * (l + w + h))
  }

  /** F2 — price-adjustment JSON parse (reference utils.py:292-309): the
    * *last* map value is the final deal price; empty/absent map falls back
    * to pushPrice. JSON maps here are chronological, so last value =
    * latest adjustment (the reference relies on dict insertion order;
    * from_json preserves document order the same way).
    */
  def finalPrice(jsonCol: Column, pushPriceCol: Column): Column =
    coalesce(
      // try_element_at: ANSI mode (Spark 4 default) makes element_at throw
      // on the empty-map case, which is exactly the fallback case here
      try_element_at(map_values(from_json(jsonCol, lit("map<string,string>"))), lit(-1)).cast("double"),
      pushPriceCol)

  def withFinalPrice(df: DataFrame): DataFrame =
    df.withColumn("dealPrice",
      finalPrice(col("updatePriceTimeJson"), col("pushPrice")))

  /** F3 — "YYYY-MM-DD" → (year−2000, month−1, day−1) embedding indices
    * (reference data.py:35-37). Parsed from the raw string so unparseable
    * values become nulls rather than errors, like the reference's split.
    */
  def withDateComponents(df: DataFrame, dateCol: String, prefix: String): DataFrame = {
    val d = to_date(col(dateCol))
    df.withColumn(s"${prefix}YearIdx", (year(d) - 2000).cast("int"))
      .withColumn(s"${prefix}MonthIdx", (month(d) - 1).cast("int"))
      .withColumn(s"${prefix}DayIdx", (dayofmonth(d) - 1).cast("int"))
  }

  /** F4 — "YYYYMM" → date at day 01 (reference data.py:18,246). */
  def yyyymmToDate(c: Column): Column = to_date(c.cast("string"), "yyyyMM")

  /** F7 — 0/1 label from a null test (reference utils.py:245). */
  def dealLabel(dealTime: Column): Column = dealTime.isNotNull.cast("int")
}
