package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.plans.logical.Project
import graft.operators.Repairs
import graft.plans.RepairAddressExpr

/** Every dirty-data case from the reference's repair log
  * (readme.md:42-103; FIXTURES.md §2), through the composed clean().
  */
class RepairsSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", StringType),
    StructField("address", StructType(Seq(
      StructField("street", StringType), StructField("housenumber", StringType),
      StructField("postcode", StringType), StructField("city", StringType),
      StructField("state", StringType))))))

  private def mk(rows: (String, (String, String, String, String, String))*): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, (st, hn, pc, ct, sa)) =>
        Row(id, Row(st, hn, pc, ct, sa)) }: _*),
      schema)

  private def addrOf(df: DataFrame, id: String): (String, String, String, String) = {
    val r = df.filter(col("id") === id).select(
      col("address.street"), col("address.postcode"),
      col("address.city"), col("address.state")).collect()(0)
    (r.getString(0), r.getString(1), r.getString(2), r.getString(3))
  }

  test("the reference's dirty cases all repair in one composed pass") {
    val dirty = mk(
      "merged" -> (("Main St", "1", "Spokane, WA 99218", null, null)),
      "merged_nocity" -> (("Oak Rd.", "2", "WA 99021", null, null)),
      "bare_state" -> (("Elm Ave", "3", "WA", null, null)),
      "tiger" -> (("Pine Blvd", "4", "189872421:189872425", "Spokane", "WA")),
      "zip4" -> (("Ash St.", "5", "99218-1929", "Spokane", "WA")),
      "low_state" -> (("Fir Rd", "6", "99201", "Spokane", "wa")),
      "low_city" -> (("Birch Blvd.", "7", "99202", "spokane", "WA")),
      "cda_typo" -> (("Cedar St", "8", "83814", "Coeur d\"Alene", "ID")),
      "cda_space" -> (("Cedar St", "9", "83814", "Coeur d Alene", "ID")),
      "city_st" -> (("Hemlock Ave", "10", "99027", "Otis Orchards, WA", "WA")),
      "clean" -> (("Maple Street", "11", "99203", "Spokane", "WA")),
      "tab_street" -> (("Main St\t", "12", "99201", "Spokane", "WA")))

    val fixed = Repairs.clean(dirty)

    addrOf(fixed, "merged") shouldBe (("Main Street", "99218", "Spokane", "WA"))
    // no city captured → city stays absent, state+postcode land
    addrOf(fixed, "merged_nocity") shouldBe (("Oak Road", "99021", null, "WA"))
    // bare "WA" moves out of postcode ($set + $unset)
    addrOf(fixed, "bare_state") shouldBe (("Elm Avenue", null, null, "WA"))
    addrOf(fixed, "tiger") shouldBe (("Pine Boulevard", "99224", "Spokane", "WA"))
    // ZIP+4 kept as-is (readme.md:66-71: valid, left alone)
    addrOf(fixed, "zip4") shouldBe (("Ash Street", "99218-1929", "Spokane", "WA"))
    addrOf(fixed, "low_state") shouldBe (("Fir Road", "99201", "Spokane", "WA"))
    addrOf(fixed, "low_city") shouldBe (("Birch Boulevard", "99202", "Spokane", "WA"))
    addrOf(fixed, "cda_typo") shouldBe (("Cedar Street", "83814", "Coeur d'Alene", "ID"))
    addrOf(fixed, "cda_space") shouldBe (("Cedar Street", "83814", "Coeur d'Alene", "ID"))
    addrOf(fixed, "city_st") shouldBe (("Hemlock Avenue", "99027", "Otis Orchards", "WA"))
    addrOf(fixed, "clean") shouldBe (("Maple Street", "99203", "Spokane", "WA"))
    // Spark's trim strips spaces only: the tab leaves an empty last
    // token, so the name lands unchanged (ingest's Java-trim
    // update_name would clean it)
    addrOf(fixed, "tab_street") shouldBe (("Main St\t", "99201", "Spokane", "WA"))
  }

  test("clean is idempotent except where a repair feeds an earlier rule") {
    val dirty = mk(
      "a" -> (("Main St", "1", "Spokane, WA 99218", null, null)),
      "b" -> (("Elm Ave", "3", "WA", null, null)),
      "c" -> (("Cedar St", "8", "83814", "Coeur d Alene", "ID")),
      "arthur" -> (("North Arthur", "12", "99201", "Spokane", "WA")),
      "city_st" -> (("Elm Ave", "13", "99201", "spokane, WA", "WA")))
    val once = Repairs.clean(dirty)
    val twice = Repairs.clean(once)
    val fixedPoints = Seq("a", "b", "c")
    once.filter(col("id").isin(fixedPoints: _*))
      .exceptAll(twice.filter(col("id").isin(fixedPoints: _*))).count() shouldBe 0
    twice.filter(col("id").isin(fixedPoints: _*))
      .exceptAll(once.filter(col("id").isin(fixedPoints: _*))).count() shouldBe 0
    // the reference mapping Arthur -> Arthur St feeds its own St -> Street
    addrOf(once, "arthur")._1 shouldBe "North Arthur St"
    addrOf(twice, "arthur")._1 shouldBe "North Arthur Street"
    // a stripped ", ST" suffix is initcapped only on the next pass
    addrOf(once, "city_st")._3 shouldBe "spokane"
    addrOf(twice, "city_st")._3 shouldBe "Spokane"
  }

  test("the composed pipeline stays a single scan (projection collapse)") {
    // a scanned input: over a local relation the optimizer folds the
    // repair into the relation itself
    val path = graft.TempDirs.path("repairs-spec/one-row")
    mk("a" -> (("Main St", "1", "99201", "Spokane", "WA")))
      .write.mode("overwrite").parquet(path)
    val plan = Repairs.clean(spark.read.parquet(path)).queryExecution.optimizedPlan
    // one Project, holding the one repair expression, over the one relation
    plan.collectLeaves().size shouldBe 1
    val projects = plan.collect { case p: Project => p }
    projects.size shouldBe 1
    projects.head.projectList.flatMap(_.collect { case e: RepairAddressExpr => e }).size shouldBe 1
    plan.toString should not include "Exchange"
  }
}
