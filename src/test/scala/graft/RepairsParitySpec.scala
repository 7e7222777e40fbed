package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.{TextFunctions => T}
import graft.operators.Repairs

/** `Repairs` (the native address expression) against
  * [[RepairsReference]] (the built-in `withField` chain it replaced),
  * row for row: `clean` and each step on its own, over every RepairsSpec
  * and `m1_m4_repairs_composed` case plus generated addresses that reach
  * every branch of every step. */
class RepairsParitySpec extends SparkSpec {

  private type Addr = (String, String, String, String, String)

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("address", StructType(Seq(
      StructField("street", StringType), StructField("housenumber", StringType),
      StructField("postcode", StringType), StructField("city", StringType),
      StructField("state", StringType))))))

  private val listed: Seq[Option[Addr]] = Seq(
    // RepairsSpec
    ("Main St", "1", "Spokane, WA 99218", null, null),
    ("Oak Rd.", "2", "WA 99021", null, null),
    ("Elm Ave", "3", "WA", null, null),
    ("Pine Blvd", "4", "189872421:189872425", "Spokane", "WA"),
    ("Ash St.", "5", "99218-1929", "Spokane", "WA"),
    ("Fir Rd", "6", "99201", "Spokane", "wa"),
    ("Birch Blvd.", "7", "99202", "spokane", "WA"),
    ("Cedar St", "8", "83814", "Coeur d\"Alene", "ID"),
    ("Cedar St", "9", "83814", "Coeur d Alene", "ID"),
    ("Hemlock Ave", "10", "99027", "Otis Orchards, WA", "WA"),
    ("Maple Street", "11", "99203", "Spokane", "WA"),
    ("North Arthur", "12", "99201", "Spokane", "WA"),
    // m1_m4_repairs_composed
    ("Main St.", null, "Spokane, WA 99218", null, null),
    (null, null, "WA", "spokane", null),
    (null, null, "189872421:189872425", "Coeur d Alene", "wa"),
    (null, null, "99021", "Post Falls, ID", "ID"),
    ("Baldwin Rd.", null, null, null, null)).map(Some(_)) :+ None

  private def opt[T](g: Gen[T]): Gen[T] =
    Gen.frequency(6 -> g, 1 -> Gen.const(null.asInstanceOf[T]))

  private val pad: Gen[String] = Gen.oneOf("", "", " ", "  ", "\t", "\n")
  private val padded: Gen[String] => Gen[String] = g =>
    for (l <- pad; s <- g; r <- pad) yield l + s + r

  private val stateCode = Gen.oneOf("WA", "ID", "wa", "id", "Wa", "WA\n", "wa\n", "W", "WAS")
  private val postcode: Gen[String] = Gen.oneOf(
    Gen.oneOf("99218", "99218-1929", "WA", "wa", "WA\n", "189872421:189872425", "", "x"),
    for (c <- Gen.oneOf("Spokane", "spokane", "Post_Falls", "Coeur d Alene", "é");
         sep <- Gen.oneOf(", ", ",", " ", "");
         s <- stateCode; z <- Gen.oneOf("99218", "83814", "9921"))
      yield s"$c$sep$s $z",
    for (s <- stateCode; z <- Gen.oneOf("99021", "99")) yield s"$s $z")
  private val city: Gen[String] = Gen.oneOf(
    Gen.oneOf("Spokane", "spokane", "spokane valley", "spokane-valley", "élan", "Coeur d'Alene",
      "Coeur d Alene", "Coeur d\"Alene", "Coeur d?Alene", "Coeur d\nAlene", "coeur d alene",
      "", "1st City", "ǆungla"),
    for (c <- Gen.oneOf("Otis Orchards", "post falls", "Coeur d Alene"); s <- stateCode)
      yield s"$c, $s")
  private val street: Gen[String] = {
    val token = Gen.oneOf(T.streetMapping.keys.toSeq ++
      Seq("North", "Lincoln", "Street", "Avenue", "st", "", "Arthur St"))
    Gen.listOfN(3, token).flatMap(ts => Gen.choose(1, 3).map(n => ts.take(n).mkString(" ")))
  }
  private val address: Gen[Option[Addr]] = Gen.frequency(
    12 -> (for {
      st <- opt(padded(street)); hn <- opt(Gen.oneOf("1", "12B"))
      pc <- opt(padded(postcode)); ct <- opt(padded(city)); sa <- opt(padded(stateCode))
    } yield Some((st, hn, pc, ct, sa))),
    1 -> Gen.const(None))

  private lazy val generated: Seq[Option[Addr]] =
    (0 until 3000).flatMap(i => address(Gen.Parameters.default, Seed(i.toLong)))

  private def frame(addrs: Seq[Option[Addr]]): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(addrs.zipWithIndex.map {
      case (Some((st, hn, pc, ct, sa)), i) => Row(i, Row(st, hn, pc, ct, sa))
      case (None, i) => Row(i, null)
    }: _*),
    schema)

  private val steps: Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame)] = Seq(
    ("splitMergedPostcode", Repairs.splitMergedPostcode, RepairsReference.splitMergedPostcode),
    ("movePostcodeToState", Repairs.movePostcodeToState, RepairsReference.movePostcodeToState),
    ("fixTigerPostcode", Repairs.fixTigerPostcode, RepairsReference.fixTigerPostcode),
    ("normalizeState", Repairs.normalizeState, RepairsReference.normalizeState),
    ("normalizeCity", Repairs.normalizeCity, RepairsReference.normalizeCity),
    ("normalizeStreets", Repairs.normalizeStreets, RepairsReference.normalizeStreets),
    ("clean", Repairs.clean, RepairsReference.clean))

  private def rows(df: DataFrame): Map[Int, Row] =
    df.collect().map(r => r.getInt(0) -> r.getStruct(1)).toMap

  private def assertParity(addrs: Seq[Option[Addr]]): Unit = {
    val in = frame(addrs)
    steps.foreach { case (name, native, reference) =>
      val (got, want) = (rows(native(in)), rows(reference(in)))
      got.keySet shouldBe want.keySet
      addrs.indices.foreach { i =>
        withClue(s"$name on ${addrs(i)}: ") { got(i) shouldBe want(i) }
      }
    }
  }

  test("every listed repair case lands as the built-in chain lands it") {
    assertParity(listed)
  }

  test("generated addresses reach every branch and land as the built-in chain lands them") {
    val reached = generated.flatten
    def some(p: Addr => Boolean, what: String) = withClue(what) { reached.exists(p) shouldBe true }
    val merged = "(\\w+)?,? ?([A-Z][A-Z]) (\\d{5})".r.unanchored
    some(a => a._3 != null && merged.findFirstMatchIn(a._3).exists(_.group(1) != null), "merged with city")
    some(a => a._3 != null && merged.findFirstMatchIn(a._3).exists(_.group(1) == null), "merged without city")
    some(a => a._3 == "WA", "bare state code")
    some(a => a._3 == "WA\n", "bare state code + newline")
    some(a => a._5 != null && a._5.matches("[a-z]{2}\n?"), "lowercase state")
    some(a => a._3 == "189872421:189872425", "TIGER")
    some(a => a._4 != null && a._4.matches("Coeur d[^']Alene"), "Coeur d?Alene")
    some(a => a._4 != null && a._4.matches(".*, [A-Z]{2}\n?"), ", ST city suffix")
    some(a => a._4 != null && a._4.matches("[a-z].*"), "lowercase-initial city")
    some(a => a._1 != null && T.streetMapping.contains(a._1.trim.split("\\s+").last), "mapping key last")
    some(a => a._1 != null && a._1.startsWith("\t"), "leading tab")
    some(a => a._1 != null && a._1.endsWith(" "), "trailing space")
    Seq[Addr => Any](_._1, _._2, _._3, _._4, _._5).zipWithIndex.foreach { case (f, i) =>
      some(a => f(a) == null, s"null field $i")
    }
    generated.count(_.isEmpty) should be > 0
    assertParity(generated)
  }

  test("a missing or non-string address field fails at analysis") {
    val ok = frame(listed)
    val missing = ok.withColumn("address", col("address").dropFields("city"))
    an[AnalysisException] should be thrownBy RepairsReference.clean(missing)
    an[AnalysisException] should be thrownBy Repairs.clean(missing)
    // the built-in chain implicitly cast a numeric field to string; the
    // native expression takes only the string fields of the OSM schema
    val numeric = ok.withColumn("address", col("address").withField("state", lit(7)))
    an[AnalysisException] should be thrownBy Repairs.clean(numeric)
  }
}
