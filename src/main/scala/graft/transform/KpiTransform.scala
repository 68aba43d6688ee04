package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** KPI derivation — the reference's curated-layer transform
  * (`scripts/transform_staging.py:24-40`): pass all staging columns through
  * and add CTR / CPM / CPC / CPA with the **÷0 ⇒ 0 (not NULL)** semantic of
  * `IFF(NULLIF(d,0) IS NULL, 0, n/d)` (transform_staging.py:35-38; SURVEY.md
  * §2.8 F3).
  *
  * Implemented as a single narrow `select` of codegen'd `when/otherwise`
  * expressions — no shuffle, no UDF; at scale this is a map-only stage fused
  * into the parquet scan by whole-stage codegen.
  */
object KpiTransform {

  /** Null-safe ratio defaulting to 0 — the engine's core scalar semantic.
    * NULL inputs also yield 0 (matches `IFF(NULLIF(d,0) IS NULL, 0, ...)`,
    * which is true for both d=0 and d NULL).
    */
  def safeDiv(n: Column, d: Column): Column =
    when(d.isNull || d === 0, lit(0.0)).otherwise(n.cast("double") / d.cast("double"))

  /** staging ads rows → curated rows with ctr/cpm/cpc/cpa appended
    * (FIXTURES.md §2). Input needs columns impressions, clicks, spend,
    * conversions.
    */
  def withKpis(staging: DataFrame): DataFrame =
    staging
      .withColumn("ctr", safeDiv(col("clicks"), col("impressions")))
      .withColumn("cpm", safeDiv(col("spend"), col("impressions")) * 1000)
      .withColumn("cpc", safeDiv(col("spend"), col("clicks")))
      .withColumn("cpa", safeDiv(col("spend"), col("conversions")))
}
