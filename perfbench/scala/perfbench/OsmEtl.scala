package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{Column, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions
import graft.operators.Repairs
import graft.sources.OsmSource

/** `osm_etl`: one operation is one full pass of the paper's pipeline at
  * the published scale — `OsmSource.elementsSplit` over the generated
  * XML, `Repairs.clean`, `OsmSource.writeParquet`. Cost grows with rows
  * (XML parsing, the repair projection, the parquet write); this is
  * where a parse, split or sink change must show. */
final class OsmEtl(spark: SparkSession, dir: Path, seed: Long, tracer: Tracer) extends Workload {
  import spark.implicits._

  private val xml = dir.resolve("map.osm")
  private val landed = dir.resolve("landed").toString
  private var plants: OsmGen.Plants = _
  private val ratios = mutable.ArrayBuffer.empty[Double]

  def storedRatios: Seq[Double] = ratios.toSeq

  def inputs: Map[String, Any] = OsmGen.facts(plants)

  def setup(): Unit = {
    plants = SetupPhases("generate")(OsmGen.write(xml, seed))
    SetupPhases("verify_input")(OsmGen.verify(xml))
    val check = SetupPhases("land")(pass())
    SetupPhases("check")(check()).foreach(m => throw new IllegalStateException(s"osm_etl landing pass: $m"))
    SetupPhases("warm_up") {
      for (_ <- 1 until OsmEtl.WarmPasses)
        pass()().foreach(m => throw new IllegalStateException(s"osm_etl warm-up pass: $m"))
    }
    ratios.clear()
  }

  def round(r: Int): Seq[Op] = Seq(Op("osm_etl.pass", () => pass(), () => probes()))

  private def pass(): () => Option[String] = {
    val ds = tracer.span("sources.elementsSplit")(
      OsmSource.elementsSplit(spark, xml.toString, OsmEtl.SplitBytes))
    val cleaned = tracer.span("repairs.clean")(Repairs.clean(ds.toDF()).as[OsmSource.OsmElement])
    tracer.span("sink.writeParquet") {
      OsmSource.writeParquet(cleaned, landed)
      if (tracer.enabled) {
        val (bytes, files) = Tree.parquet(landed)
        tracer.attr("bytes", bytes.toDouble)
        tracer.attr("files", files.toDouble)
      }
    }
    () => {
      ratios += Tree.parquet(landed)._1.toDouble / plants.bytes
      OsmEtl.checkLanded(spark, landed, plants)
    }
  }

  /** The layer split of a pass: parse alone, then parse + repair, each
    * materialized into the no-op sink; the sink's share is the full
    * pass minus the second. Then the readme's WA/ID `$geoWithin` split
    * over the landed parquet, which reads the scan rows behind each
    * point-in-polygon match (the box rewrite in `graft.plans`). */
  private def probes(): Unit = {
    tracer.span("probe.geo_within_split") {
      val docs = spark.read.parquet(landed)
      val wa = docs.filter(OsmEtl.within(OsmEtl.WaRing)).count()
      val id = docs.filter(OsmEtl.within(OsmEtl.IdRing)).count()
      require(wa == plants.waNodes && id == plants.idNodes,
        s"WA $wa + ID $id != ${plants.waNodes} + ${plants.idNodes} nodes")
      tracer.attr("pip_matches", (wa + id).toDouble)
    }
    tracer.span("probe.parse_only") {
      val obs = Observation("parse")
      OsmSource.elementsSplit(spark, xml.toString, OsmEtl.SplitBytes).toDF()
        .observe(obs, count(lit(1)).as("elements"))
        .write.format("noop").mode("overwrite").save()
      tracer.attr("elements", obs.get("elements").asInstanceOf[Long].toDouble)
    }
    tracer.span("probe.parse_repair") {
      val obs = Observation("repair")
      val parsed = OsmSource.elementsSplit(spark, xml.toString, OsmEtl.SplitBytes).toDF()
        .withColumn("_address_in", col("address"))
      Repairs.clean(parsed)
        .observe(obs, count(col("_address_in")).as("seen"),
          count(when(!(col("_address_in") <=> col("address")), 1)).as("changed"))
        .drop("_address_in")
        .write.format("noop").mode("overwrite").save()
      tracer.attr("addresses_seen", obs.get("seen").asInstanceOf[Long].toDouble)
      tracer.attr("addresses_changed", obs.get("changed").asInstanceOf[Long].toDouble)
    }
  }
}

object OsmEtl {
  /** 13 parse tasks for the ~54 MB extract on `local[4]`. */
  val SplitBytes: Long = 4L * 1024 * 1024
  /** Passes in set-up, the landing included: the parse path's JIT
    * warm-up, so the measured passes run compiled code. */
  val WarmPasses = 3

  private def ring(lo: Long, hi: Long): Array[(Double, Double)] = {
    val (x0, x1, y0, y1) = (lo / 1e7, hi / 1e7, OsmGen.MinLat / 1e7, OsmGen.MaxLat / 1e7)
    Array((x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0))
  }
  /** The readme's WA and ID boxes as `$geoWithin` polygons. */
  val WaRing: Array[(Double, Double)] = ring(OsmGen.MinLon, OsmGen.DivLon)
  val IdRing: Array[(Double, Double)] = ring(OsmGen.DivLon, OsmGen.MaxLon)

  def within(ring: Array[(Double, Double)]): Column =
    GeoFunctions.pointInPolygonNative(col("pos.lon"), col("pos.lat"), ring)

  /** Landed element counts and every repaired address against the plants. */
  def checkLanded(spark: SparkSession, landed: String, plants: OsmGen.Plants): Option[String] = {
    val df = spark.read.parquet(landed)
    val types = df.groupBy("type").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wantTypes = Map("node" -> plants.nodes.toLong, "way" -> plants.ways.toLong)
    if (types != wantTypes) return Some(s"landed $types, want $wantTypes")
    val a = col("address")
    val got = df.filter(a.isNotNull)
      .groupBy(a.getField("street"), a.getField("housenumber"), a.getField("postcode"),
        a.getField("city"), a.getField("state"))
      .count().collect()
      .map(r => OsmGen.Addr(r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getString(4)) -> r.getLong(5).toInt).toMap
    if (got == plants.addresses) None
    else {
      val diff = (got.keySet ++ plants.addresses.keySet)
        .filter(k => got.get(k) != plants.addresses.get(k)).take(3)
        .map(k => s"$k: landed ${got.getOrElse(k, 0)}, want ${plants.addresses.getOrElse(k, 0)}")
      Some(s"repaired addresses differ: ${diff.mkString("; ")}")
    }
  }
}
