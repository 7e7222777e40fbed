package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded OSM XML with the published shape of the reference's
  * Spokane WA / Coeur d'Alene ID extract (BASELINE.md):
  *
  *  - 241,729 nodes and 25,144 ways;
  *  - 315 users whose per-user element counts reproduce the readme's
  *    describe() row (min 1, quartiles 2 / 21 / 141, max 92,327);
  *  - every node strictly inside the WA box or the ID box, 147,184 /
  *    94,545 of them, so the `$geoWithin` split conserves all nodes;
  *  - the three city centers, the top amenities with the readme's
  *    10-mile counts around Spokane and Coeur d'Alene, the natural
  *    features of each box;
  *  - a known number of dirty addresses for each M1-M4 repair and of
  *    abbreviated streets, with the repaired value each must land as.
  *
  * Coordinates are whole multiples of 1e-7 degrees, so box membership
  * and the 10-mile rings (kept 300 m clear of every planted amenity)
  * are exact. The same seed gives the same bytes: every draw comes from
  * one `SplittableRandom`, whose algorithm is fixed by the JDK spec.
  */
object OsmGen {
  val Nodes = 241729
  val Ways = 25144
  val Users = 315
  val WaNodes = 147184
  val IdNodes: Int = Nodes - WaNodes

  // the readme's boxes, in 1e-7 degrees; WA | ID divide at -117.039971
  val MinLon = -1175543000L
  val DivLon = -1170399710L
  val MaxLon = -1166192000L
  val MinLat = 475560000L
  val MaxLat = 478898000L

  val NearMeters: Double = 10 * 1609.344
  private val RingClearance = 300.0

  final case class City(name: String, population: Long, latE7: Long, lonE7: Long)
  val Cities = Seq(
    City("Spokane", 208916L, 476587000L, -1174260000L),
    City("Coeur d'Alene", 41328L, 476777000L, -1167805000L),
    City("Post Falls", 30123L, 477180000L, -1169516000L))
  val SpokaneCenter: City = Cities(0)
  val CdaCenter: City = Cities(1)

  /** Amenity plants: (name, total, within 10 mi of Spokane, within 10 mi
    * of Coeur d'Alene, carried by ways). The readme's top 8 and its
    * five 10-mile rows are published; the rest of the top 20 and the
    * fuel/library/toilets/cafe ring counts are planted so that the
    * union and the intersect of the two rings differ. Totals are
    * distinct, so the top-20 order is fixed. */
  val Amenities: Seq[(String, Int, Int, Int, Int)] = Seq(
    ("parking", 740, 0, 0, 520),
    ("school", 224, 96, 34, 60),
    ("restaurant", 64, 18, 1, 0),
    ("fast_food", 44, 5, 2, 0),
    ("toilets", 33, 0, 2, 0),
    ("place_of_worship", 31, 12, 4, 0),
    ("fuel", 28, 4, 0, 0),
    ("grave_yard", 20, 0, 0, 8),
    ("bench", 19, 0, 0, 0),
    ("bank", 18, 0, 0, 0),
    ("cafe", 17, 0, 1, 0),
    ("post_office", 16, 0, 0, 0),
    ("library", 15, 3, 0, 0),
    ("hospital", 14, 3, 6, 0),
    ("pharmacy", 13, 0, 0, 0),
    ("fire_station", 12, 0, 0, 0),
    ("dentist", 11, 0, 0, 0),
    ("bar", 10, 0, 0, 0),
    ("doctors", 9, 0, 0, 0),
    ("shelter", 8, 0, 0, 0),
    ("pub", 5, 0, 0, 0),
    ("cinema", 4, 0, 0, 0),
    ("townhall", 3, 0, 0, 0),
    ("police", 2, 0, 0, 0),
    ("kindergarten", 1, 0, 0, 0))

  val NaturalWa: Seq[(String, Int)] =
    Seq("spring" -> 1, "tree" -> 216, "bay" -> 6, "wood" -> 23, "peak" -> 22, "cliff" -> 1)
  val NaturalId: Seq[(String, Int)] =
    Seq("bay" -> 29, "peak" -> 26, "beach" -> 4, "cliff" -> 1)

  /** One address as written, and as it must land after ingest street
    * cleaning and `Repairs.clean`. */
  final case class Addr(street: String, housenumber: String, postcode: String,
                        city: String, state: String)

  /** What the generator planted: the expected answer of every check. */
  final case class Plants(
      nodes: Int, ways: Int, waNodes: Int, idNodes: Int,
      contributions: Map[String, Int],
      addresses: Map[Addr, Int],
      dirty: Map[String, Int],
      bytes: Long)

  /** Sorted per-user element counts matching the readme's describe()
    * row: 50 users with 1 element, 60 with 2, geometric runs through
    * the median (21) and the 75% point (141), a tail fitted so the
    * counts sum to every element and the max is 92,327. */
  def contributions(): Array[Int] = {
    val total = Nodes + Ways
    val max = 92327
    def build(second: Int): Array[Int] = Array.tabulate(Users) { i =>
      def geo(a: Double, b: Double, t: Double) = math.round(a * math.pow(b / a, t)).toInt
      if (i < 50) 1
      else if (i < 110) 2
      else if (i <= 157) geo(3, 21, (i - 110) / 47.0)
      else if (i <= 235) geo(21, 140, (i - 157) / 78.0)
      else if (i == 236) 142
      else if (i < Users - 1) geo(142, second, math.pow((i - 236) / (Users - 2.0 - 236), 2.9))
      else max
    }
    var lo = 143
    var hi = max
    while (lo < hi) {
      val m = (lo + hi) / 2
      if (build(m).sum < total) lo = m + 1 else hi = m
    }
    val c = build(lo)
    c(Users - 2) += total - c.sum
    c
  }

  def haversine(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val r = 6371008.8
    val dLat = math.toRadians(lat2 - lat1) / 2
    val dLon = math.toRadians(lon2 - lon1) / 2
    val a = math.pow(math.sin(dLat), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) * math.pow(math.sin(dLon), 2)
    2 * r * math.asin(math.sqrt(a))
  }

  private def deg(e7: Long): Double = e7 / 1e7

  /** `e7` as a plain decimal with seven places ("-117.4260000"). */
  def e7(v: Long): String = {
    val a = math.abs(v)
    val frac = (a % 10000000L).toString
    (if (v < 0) "-" else "") + (a / 10000000L) + "." + ("0" * (7 - frac.length)) + frac
  }

  private val StreetBases = Seq("North Monroe", "West Francis", "East Sprague", "South Grand",
    "Division", "Ruby", "Northwest", "Government", "Sullivan", "Pines", "Argonne",
    "Barker", "Seltice", "Ramsey", "Ironwood", "Appleway", "Kathleen", "Prairie",
    "Hayden Lake", "Atlas", "West Indiana", "East Trent", "North Nevada", "Maple")
  private val CleanSuffix = Seq("Street", "Road", "Avenue", "Boulevard", "Drive", "Lane", "Court", "Way")
  /** Abbreviations the ingest street cleaning must expand. */
  private val Abbrev = Seq("St" -> "Street", "St." -> "Street", "Rd" -> "Road",
    "Rd." -> "Road", "Ave" -> "Avenue", "Blvd" -> "Boulevard", "Blvd." -> "Boulevard")
  private val Zips99 = Seq("99201", "99202", "99203", "99204", "99205", "99207", "99208",
    "99212", "99216", "99218", "99223", "99224")
  private val Zips83 = Seq("83814", "83815", "83854", "83835", "83858", "83877")

  private def pick[T](rng: SplittableRandom, xs: Seq[T]): T = xs(rng.nextInt(xs.size))

  private def shuffle(rng: SplittableRandom, a: Array[Int]): Unit = {
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
  }

  /** Raw and repaired addresses, with the count of each planted repair. */
  private def addresses(rng: SplittableRandom): (Seq[(Addr, Addr)], Map[String, Int]) = {
    val out = mutable.ArrayBuffer.empty[(Addr, Addr)]
    var abbreviated = 0
    def street(): (String, String) =
      if (rng.nextInt(100) < 35) {
        val (ab, full) = pick(rng, Abbrev)
        val base = pick(rng, StreetBases)
        abbreviated += 1
        (s"$base $ab", s"$base $full")
      } else {
        val s = s"${pick(rng, StreetBases)} ${pick(rng, CleanSuffix)}"
        (s, s)
      }
    def withStreet(raw: Addr, fixed: Addr, p: Int): Unit =
      if (rng.nextInt(100) < p) {
        val (r, f) = street()
        val hn = (1 + rng.nextInt(9999)).toString
        out += raw.copy(street = r, housenumber = hn) -> fixed.copy(street = f, housenumber = hn)
      } else out += raw -> fixed
    val none = Addr(null, null, null, null, null)
    // 380 clean 99xxx zips: 52 with state WA, 10 with lowercase "wa" (F7)
    for (i <- 0 until 380) {
      val z = pick(rng, Zips99)
      val city = if (rng.nextInt(100) < 30) pick(rng, Seq("Spokane", "Spokane Valley")) else null
      val (rs, fs) = if (i < 52) ("WA", "WA") else if (i < 62) ("wa", "WA") else (null, null)
      withStreet(none.copy(postcode = z, city = city, state = rs),
        none.copy(postcode = z, city = city, state = fs), 80)
    }
    // 96 clean 83xxx zips: 32 with state ID, 6 with lowercase "id"
    for (i <- 0 until 96) {
      val z = pick(rng, Zips83)
      val city = if (rng.nextInt(100) < 30) pick(rng, Seq("Coeur d'Alene", "Post Falls", "Hayden")) else null
      val (rs, fs) = if (i < 32) ("ID", "ID") else if (i < 38) ("id", "ID") else (null, null)
      withStreet(none.copy(postcode = z, city = city, state = rs),
        none.copy(postcode = z, city = city, state = fs), 80)
    }
    // M3: merged "City, ST 99999" postcodes split into city/state/zip
    for (i <- 0 until 18) {
      val (city, st, z) =
        if (i < 12) (pick(rng, Seq("Spokane", "Cheney", "Mead", "Colbert")), "WA", pick(rng, Zips99))
        else (pick(rng, Seq("Hayden", "Rathdrum", "Athol")), "ID", pick(rng, Zips83))
      withStreet(none.copy(postcode = s"$city, $st $z"), none.copy(postcode = z, city = city, state = st), 50)
    }
    // M1: the TIGER range artifact, cross-referenced to 99224
    for (_ <- 0 until 18)
      withStreet(none.copy(postcode = "189872421:189872425"), none.copy(postcode = "99224"), 100)
    // M2: a bare state code in the postcode field moves to state
    for (i <- 0 until 13) {
      val st = if (i < 8) "WA" else "ID"
      withStreet(none.copy(postcode = st), none.copy(state = st), 100)
    }
    // city repairs: lowercase, Coeur d'Alene spelling, trailing ", ST"
    val dirtyCities = Seq.fill(7)("spokane" -> "Spokane") ++ Seq.fill(5)("Coeur d Alene" -> "Coeur d'Alene") ++
      Seq.fill(4)("Post Falls, ID" -> "Post Falls") ++ Seq.fill(3)("liberty lake" -> "Liberty Lake")
    for ((raw, fixed) <- dirtyCities)
      withStreet(none.copy(city = raw), none.copy(city = fixed), 100)
    // street-only addresses
    for (_ <- 0 until 700) {
      val city = if (rng.nextInt(100) < 20) pick(rng, Seq("Spokane", "Coeur d'Alene", "Liberty Lake")) else null
      withStreet(none.copy(city = city), none.copy(city = city), 100)
    }
    val dirty = Map("state_lowercase" -> 16, "merged_postcode" -> 18, "tiger_postcode" -> 18,
      "state_in_postcode" -> 13, "city" -> dirtyCities.size, "street_abbreviated" -> abbreviated)
    (out.toSeq, dirty)
  }

  private sealed trait Role
  private case object Plain extends Role
  private final case class CityRole(c: City) extends Role
  private final case class AmenityRole(name: String, near: Int) extends Role // 0 far, 1 Spokane, 2 CdA
  private final case class NaturalRole(name: String) extends Role

  /** Writes the XML to `path` and returns what it planted. */
  def write(path: Path, seed: Long): Plants = {
    val rng = new SplittableRandom(seed)

    // ---- node roles: planted nodes first, plain nodes fill each box's quota
    val roles = mutable.ArrayBuffer.empty[(Role, Boolean)] // (role, in WA)
    Cities.foreach(c => roles += CityRole(c) -> (c.lonE7 < DivLon))
    for ((name, total, ns, nc, onWays) <- Amenities) {
      (0 until ns).foreach(_ => roles += AmenityRole(name, 1) -> true)
      (0 until nc).foreach(_ => roles += AmenityRole(name, 2) -> false)
      (0 until total - ns - nc - onWays).foreach(_ => roles += AmenityRole(name, 0) -> rng.nextBoolean())
    }
    NaturalWa.foreach { case (n, k) => (0 until k).foreach(_ => roles += NaturalRole(n) -> true) }
    NaturalId.foreach { case (n, k) => (0 until k).foreach(_ => roles += NaturalRole(n) -> false) }
    val plantedWa = roles.count(_._2)
    (0 until WaNodes - plantedWa).foreach(_ => roles += Plain -> true)
    (0 until Nodes - roles.size).foreach(_ => roles += Plain -> false)
    require(roles.size == Nodes && roles.count(_._2) == WaNodes, "node quota")
    val order = Array.range(0, Nodes)
    shuffle(rng, order)

    // ---- positions
    def inBox(wa: Boolean): (Long, Long) = {
      val (lo, hi) = if (wa) (MinLon, DivLon) else (DivLon, MaxLon)
      (MinLat + 1 + rng.nextLong(MaxLat - MinLat - 1), lo + 1 + rng.nextLong(hi - lo - 1))
    }
    def dist(p: (Long, Long), c: City) = haversine(deg(p._1), deg(p._2), deg(c.latE7), deg(c.lonE7))
    def place(role: Role, wa: Boolean): (Long, Long) = role match {
      case CityRole(c) => (c.latE7, c.lonE7)
      case AmenityRole(_, near) =>
        var p = inBox(wa)
        def ok(q: (Long, Long)) = near match {
          case 1 => dist(q, SpokaneCenter) < NearMeters - RingClearance
          case 2 => dist(q, CdaCenter) < NearMeters - RingClearance
          case _ => dist(q, SpokaneCenter) > NearMeters + RingClearance &&
            dist(q, CdaCenter) > NearMeters + RingClearance
        }
        while (!ok(p)) p = inBox(wa)
        p
      case _ => inBox(wa)
    }

    // ---- users: each element drawn from a shuffled multiset of counts
    val counts = contributions()
    val userPerm = Array.range(0, Users)
    shuffle(rng, userPerm)
    val userName = Array.tabulate(Users)(k => f"mapper${userPerm(k)}%03d")
    val elementUser = new Array[Int](Nodes + Ways)
    var e = 0
    for (u <- 0 until Users; _ <- 0 until counts(u)) { elementUser(e) = u; e += 1 }
    shuffle(rng, elementUser)

    // ---- addresses on plain nodes and plain ways
    val (addrs, dirty) = addresses(rng)
    val plainSlots = order.indices.filter(i => roles(order(i))._1 == Plain)
    val addrOnNode = mutable.HashMap.empty[Int, Addr]
    val addrOnWay = mutable.HashMap.empty[Int, Addr]
    addrs.foreach { case (raw, _) =>
      if (rng.nextInt(100) < 80) {
        var i = plainSlots(rng.nextInt(plainSlots.size))
        while (addrOnNode.contains(i)) i = plainSlots(rng.nextInt(plainSlots.size))
        addrOnNode(i) = raw
      } else {
        var w = rng.nextInt(Ways)
        while (addrOnWay.contains(w)) w = rng.nextInt(Ways)
        addrOnWay(w) = raw
      }
    }
    // ways carrying amenities skip address ways
    val amenityOnWay = mutable.HashMap.empty[Int, String]
    for ((name, _, _, _, onWays) <- Amenities; _ <- 0 until onWays) {
      var w = rng.nextInt(Ways)
      while (amenityOnWay.contains(w) || addrOnWay.contains(w)) w = rng.nextInt(Ways)
      amenityOnWay(w) = name
    }

    // ---- write
    val nodeIds = new Array[Long](Nodes)
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path.toFile), StandardCharsets.UTF_8), 1 << 20)
    val sb = new java.lang.StringBuilder(4096)
    val tsBase = 1199145600L // 2008-01-01T00:00:00Z
    val tsSpan = 240000000L // ~7.6 years
    def header(tag: String, id: Long, user: Int): Unit = {
      val ts = java.time.Instant.ofEpochSecond(tsBase + rng.nextLong(tsSpan)).toString
      sb.append(" <").append(tag).append(" id=\"").append(id)
        .append("\" visible=\"true\" version=\"").append(1 + rng.nextInt(20))
        .append("\" changeset=\"").append(1000000 + rng.nextInt(29000000))
        .append("\" timestamp=\"").append(ts)
        .append("\" user=\"").append(userName(user))
        .append("\" uid=\"").append(10000 + 37L * userPerm(user)).append('"')
    }
    def tag(k: String, v: String): Unit =
      sb.append("  <tag k=\"").append(k).append("\" v=\"").append(v).append("\"/>\n")
    def addrTags(a: Addr): Unit = {
      if (a.street != null) tag("addr:street", a.street)
      if (a.housenumber != null) tag("addr:housenumber", a.housenumber)
      if (a.postcode != null) tag("addr:postcode", a.postcode)
      if (a.city != null) tag("addr:city", a.city)
      if (a.state != null) tag("addr:state", a.state)
    }
    def flush(): Unit = { out.append(sb); sb.setLength(0) }

    out.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
    out.write("<osm version=\"0.6\" generator=\"perfbench\">\n")
    out.write(s""" <bounds minlat="${e7(MinLat)}" minlon="${e7(MinLon)}" maxlat="${e7(MaxLat)}" maxlon="${e7(MaxLon)}"/>\n""")
    var id = 30000000L
    var i = 0
    while (i < Nodes) {
      id += 1 + rng.nextInt(400)
      nodeIds(i) = id
      val (role, wa) = roles(order(i))
      val (lat, lon) = place(role, wa)
      header("node", id, elementUser(i))
      sb.append(" lat=\"").append(e7(lat)).append("\" lon=\"").append(e7(lon)).append('"')
      val tags = mutable.ArrayBuffer.empty[(String, String)]
      role match {
        case CityRole(c) =>
          tags += "name" -> c.name += "place" -> "city" += "population" -> c.population.toString
        case AmenityRole(n, _) =>
          tags += "amenity" -> n
          if (rng.nextInt(2) == 0) tags += "name" -> s"${n.capitalize} ${1 + rng.nextInt(500)}"
        case NaturalRole(n) => tags += "natural" -> n
        case Plain =>
      }
      val addr = addrOnNode.get(i)
      if (tags.isEmpty && addr.isEmpty) sb.append("/>\n")
      else {
        sb.append(">\n")
        tags.foreach { case (k, v) => tag(k, v) }
        addr.foreach(addrTags)
        sb.append(" </node>\n")
      }
      if (sb.length > 3000) flush()
      i += 1
    }
    id = 100000000L
    var w = 0
    while (w < Ways) {
      id += 1 + rng.nextInt(50)
      header("way", id, elementUser(Nodes + w))
      sb.append(">\n")
      val nd = 2 + rng.nextInt(25)
      val first = rng.nextInt(Nodes - nd)
      var k = 0
      while (k < nd) {
        sb.append("  <nd ref=\"").append(nodeIds(first + k)).append("\"/>\n")
        k += 1
      }
      amenityOnWay.get(w) match {
        case Some(a) => tag("amenity", a)
        case None =>
          tag("highway", pick(rng, Seq("residential", "service", "footway", "tertiary")))
          if (rng.nextInt(100) < 30) tag("building", "yes")
      }
      addrOnWay.get(w).foreach(addrTags)
      sb.append(" </way>\n")
      if (sb.length > 3000) flush()
      w += 1
    }
    flush()
    out.write("</osm>\n")
    out.close()

    Plants(
      nodes = Nodes, ways = Ways, waNodes = WaNodes, idNodes = IdNodes,
      contributions = (0 until Users).map(u => userName(u) -> counts(u)).toMap,
      addresses = addrs.groupBy(_._2).map { case (a, xs) => a -> xs.size },
      dirty = dirty,
      bytes = Files.size(path))
  }

  /** The generated input's published anchors, for the run record. */
  def facts(p: Plants): Map[String, Any] = Map(
    "xml_bytes" -> p.bytes, "nodes" -> p.nodes, "ways" -> p.ways,
    "users" -> p.contributions.size, "wa_nodes" -> p.waNodes, "id_nodes" -> p.idNodes,
    "contributions_describe" -> describe(p.contributions.values.map(_.toDouble).toSeq),
    "addresses" -> p.addresses.values.sum, "dirty_addresses" -> p.dirty)

  /** pandas `describe()`: count, mean, sample std, min, linear-interpolated
    * quartiles, max. */
  def describe(xs: Seq[Double]): Seq[Double] = {
    val v = xs.sorted.toIndexedSeq
    val n = v.size
    val mean = v.sum / n
    val std = math.sqrt(v.map(x => (x - mean) * (x - mean)).sum / (n - 1))
    def q(p: Double) = {
      val pos = p * (n - 1)
      val i = pos.toInt
      if (i + 1 < n) v(i) + (v(i + 1) - v(i)) * (pos - i) else v(i)
    }
    Seq(n.toDouble, mean, std, v.head, q(0.25), q(0.5), q(0.75), v.last)
  }

  /** `OsmGen <out.osm> <seed>`: writes one extract and checks it. */
  def main(args: Array[String]): Unit = {
    val out = java.nio.file.Paths.get(args(0))
    write(out, args(1).toLong)
    verify(out)
  }

  /** Re-reads the written file and checks the published anchors: node
    * and way counts, every node inside one of the two boxes, and
    * WA + ID nodes = all nodes. Returns (nodes, ways, wa, id). */
  def verify(path: Path): (Int, Int, Int, Int) = {
    var nodes, ways, wa, id = 0
    val lonKey = " lon=\""
    val it = Files.lines(path, StandardCharsets.UTF_8).iterator()
    while (it.hasNext) {
      val line = it.next()
      if (line.startsWith(" <node ")) {
        nodes += 1
        val p = line.indexOf(lonKey) + lonKey.length
        val lon = math.round(line.substring(p, line.indexOf('"', p)).toDouble * 1e7)
        val latP = line.indexOf(" lat=\"") + 6
        val lat = math.round(line.substring(latP, line.indexOf('"', latP)).toDouble * 1e7)
        require(lat > MinLat && lat < MaxLat && lon > MinLon && lon < MaxLon,
          s"node outside the WA/ID boxes: $line")
        if (lon < DivLon) wa += 1 else if (lon > DivLon) id += 1
      } else if (line.startsWith(" <way ")) ways += 1
    }
    require(nodes == Nodes, s"generated $nodes nodes, want $Nodes")
    require(ways == Ways, s"generated $ways ways, want $Ways")
    require(wa == WaNodes && id == IdNodes && wa + id == nodes,
      s"WA $wa + ID $id != all nodes $nodes")
    (nodes, ways, wa, id)
  }
}
