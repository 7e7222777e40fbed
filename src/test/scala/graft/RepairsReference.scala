package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}

/** The M1-M4 repairs as built-in column expressions: each step one
  * `withField` rewrite of the `address` struct. This was the library's
  * implementation before the native `graft.plans.RepairAddressExpr`;
  * it stays here as the reference that `Repairs` must match row for
  * row (RepairsParitySpec).
  */
object RepairsReference {

  private def addr(field: String): Column = col("address").getField(field)

  def splitMergedPostcode(df: DataFrame): DataFrame = {
    val pc = addr("postcode")
    val city = T.mergedCity(pc)
    val state = T.mergedState(pc)
    val post = T.mergedPostcode(pc)
    val matched = state =!= "" && post =!= ""
    df.withColumn("address", col("address")
      .withField("city", when(matched && city =!= "", city).otherwise(addr("city")))
      .withField("state", when(matched, state).otherwise(addr("state")))
      .withField("postcode", when(matched, post).otherwise(pc)))
  }

  def movePostcodeToState(df: DataFrame): DataFrame = {
    val pc = addr("postcode")
    val isState = pc.rlike("^[A-Z]{2}$")
    df.withColumn("address", col("address")
      .withField("state", when(isState, pc).otherwise(addr("state")))
      .withField("postcode", when(isState, lit(null).cast("string")).otherwise(pc)))
  }

  def fixTigerPostcode(df: DataFrame): DataFrame =
    df.withColumn("address", col("address")
      .withField("postcode",
        when(addr("postcode") === "189872421:189872425", "99224")
          .otherwise(addr("postcode"))))

  def normalizeState(df: DataFrame): DataFrame =
    df.withColumn("address", col("address")
      .withField("state",
        when(addr("state").rlike("^[a-z]{2}$"), upper(addr("state")))
          .otherwise(addr("state"))))

  def normalizeCity(df: DataFrame): DataFrame = {
    val city = addr("city")
    val fixed =
      when(city.rlike("^Coeur d[^']Alene$"), "Coeur d'Alene")
        .when(city.rlike(", [A-Z]{2}$"), regexp_replace(city, ", [A-Z]{2}$", ""))
        .when(city.rlike("^[a-z]"), initcap(city))
        .otherwise(city)
    df.withColumn("address", col("address").withField("city", fixed))
  }

  def normalizeStreets(df: DataFrame): DataFrame =
    df.withColumn("address", col("address")
      .withField("street",
        when(addr("street").isNotNull, T.normalizeStreet(addr("street")))
          .otherwise(addr("street"))))

  def clean(df: DataFrame): DataFrame =
    df.transform(splitMergedPostcode)
      .transform(movePostcodeToState)
      .transform(fixTigerPostcode)
      .transform(normalizeState)
      .transform(normalizeCity)
      .transform(normalizeStreets)
}
