package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.plans.{AddressRepair, RepairAddressExpr}

/** The reference's in-database repair sequence
  * (the reference readme.md:42-103) as composable, immutable
  * `DataFrame => DataFrame` transforms over the canonical OSM schema
  * (`address` struct — FIXTURES.md §2). MongoDB's predicate-matched
  * `update(..., {$set/$unset}, multi=True)` loops become one scan
  * rewrite of the `address` column.
  *
  * Every transform is the native [[graft.plans.RepairAddressExpr]]
  * with a different set of [[graft.plans.AddressRepair]] steps, so each
  * repair has one implementation. [[clean]] runs all six in ONE
  * expression, one Project: its whole-stage method stays under the JIT
  * limit when fused with the OSM element serializer. Chaining the step
  * transforms gives the same rows but one Project per step.
  *
  * Order matters and mirrors the reference: merged-field split first
  * (it *produces* city/state/postcode values), then field moves, then
  * value fixes.
  *
  * `clean` is NOT idempotent: a repair can produce input for a rule
  * that already ran. The reference's street mapping `Arthur -> Arthur St`
  * feeds its own `St -> Street`, so "North Arthur" cleans to
  * "North Arthur St" and a second pass to "North Arthur Street"; a city
  * whose ", ST" suffix is stripped is initcapped or unified only on the
  * next pass ("spokane, WA" -> "spokane" -> "Spokane"). RepairsSpec pins
  * both exceptions.
  */
object Repairs {

  private def repair(df: DataFrame, steps: Int): DataFrame =
    df.withColumn("address", ColumnBridge.column(
      RepairAddressExpr(ColumnBridge.expression(col("address")), steps)))

  /** M3/F8 — readme.md:43-52,94-103: a merged postcode like
    * "Spokane, WA 99218" splits into city/state/postcode; fields only
    * change when the pattern captures (the reference writes each group
    * conditionally). */
  def splitMergedPostcode(df: DataFrame): DataFrame =
    repair(df, AddressRepair.SplitMergedPostcode)

  /** M2 — readme.md:53-64: a bare state code in the postcode field
    * moves to state ($set + $unset). */
  def movePostcodeToState(df: DataFrame): DataFrame =
    repair(df, AddressRepair.MovePostcodeToState)

  /** M1 — readme.md:59-64: the TIGER range artifact
    * '189872421:189872425' cross-referenced to its real ZIP. */
  def fixTigerPostcode(df: DataFrame): DataFrame =
    repair(df, AddressRepair.FixTigerPostcode)

  /** F7/M1 — readme.md:72-80: lowercase state codes uppercased. */
  def normalizeState(df: DataFrame): DataFrame =
    repair(df, AddressRepair.NormalizeState)

  /** M1 — readme.md:81-92: city repairs — initcap the all-lowercase
    * ones, unify the Coeur d'Alene spellings (regex `Coeur d[^']Alene`
    * catches the missing/typo'd apostrophe), strip a trailing ", ST". */
  def normalizeCity(df: DataFrame): DataFrame =
    repair(df, AddressRepair.NormalizeCity)

  /** F4 — street-suffix normalization as a repair pass (update_name,
    * ProjectCodeUsed/data.py:110-118), for data ingested uncleaned. */
  def normalizeStreets(df: DataFrame): DataFrame =
    repair(df, AddressRepair.NormalizeStreets)

  /** The full repair pipeline, reference order, in one expression. */
  def clean(df: DataFrame): DataFrame = repair(df, AddressRepair.All)
}
