package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Unit conversions + dirty-string cleanup (SURVEY §2.4 F15–F17, F20–F22).
  * Reference: `ETL Scripts/transform_all_datasets.py:318-340`,
  * `ML Python Scripts/ML_Model_Data_Transformation_And_Preprocessing.ipynb:2456`.
  */
object UnitFns {
  // F15 family — plain arithmetic, codegen-friendly.
  def cmToKm(c: Column): Column       = c / 100000.0
  def msToSeconds(c: Column): Column  = c / 1000.0
  def secondsToHours(c: Column, scale: Int = 1): Column = round(c / 3600.0, scale)

  /** F16 — strip thousands commas then cast: "3,000" -> 3000.0. */
  def stripThousands(c: Column): Column =
    regexp_replace(c, ",", "").cast("double")

  /** F17 — sentinel '--' (or any given sentinel) -> default, else cast. */
  def sentinelToDefault(c: Column, sentinel: String = "--",
                        default: Double = 0.0): Column =
    when(c === sentinel, lit(default)).otherwise(stripThousands(c))

  /** F20 — 0/1 conditional flag. */
  def flag(cond: Column): Column = when(cond, 1).otherwise(0)
}
