package graft.plans

import java.text.Normalizer
import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native expression — Spark has no
  * built-in normalizer, and a Scala UDF would pay SerDe on every row
  * of a 100 TB text scan. The semantics are `java.text.Normalizer`
  * NFC (canonical decomposition + composition): "cafe" + U+0301 and
  * "café" become the SAME bytes, which is what makes exact dedup,
  * line dedup, and posting terms see through encoding differences in
  * crawled text.
  *
  * Fast path: `Normalizer.isNormalized` is a cheap scan (most crawl
  * text is already NFC — every ASCII doc short-circuits on the
  * Latin-1 quick-check) and lets the already-normal row return its
  * INPUT UTF8String untouched — zero allocation on the hot path; only
  * rows that actually need composing pay the String round-trip.
  */
case class NfcNormalizeExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${child.dataType.simpleString}")

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"

  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    if (Normalizer.isNormalized(s, Normalizer.Form.NFC)) v
    else UTF8String.fromString(Normalizer.normalize(s, Normalizer.Form.NFC))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The M1-M4 address repairs ([[graft.operators.Repairs]]) as ONE
  * native expression over the `address` struct: each selected step of
  * [[AddressRepair]] runs in reference order, and the result is the
  * same struct with `street`/`postcode`/`city`/`state` replaced (bound
  * by name; every other field is kept as is). A null struct stays
  * null; a struct that no step changes is returned untouched.
  *
  * Why native: the built-in form stacked six `withField` rewrites into
  * three Projects, and fused with the OSM element serializer their
  * whole-stage method grew past HotSpot's 8,000-byte JIT limit
  * (`-XX:+DontCompileHugeMethods`), so every row of the ETL pass ran in
  * the bytecode interpreter. Here `doGenCode` is one static call into
  * [[AddressRepair.repair]], and the stage stays compiled.
  *
  * `steps` is a bit set of [[AddressRepair]]'s step flags.
  */
case class RepairAddressExpr(child: Expression, steps: Int) extends UnaryExpression {
  import AddressRepair.Fields

  @transient private lazy val struct = child.dataType.asInstanceOf[StructType]

  @transient private lazy val ordinals: Array[Int] =
    Fields.map(f => struct.fieldNames.indexWhere(SQLConf.get.resolver(_, f))).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case s: StructType =>
      Fields.zip(ordinals).collectFirst {
        case (f, i) if i < 0 || s(i).dataType != StringType => f
      } match {
        case None => TypeCheckResult.TypeCheckSuccess
        case Some(f) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects a string field '$f' in ${s.simpleString}")
      }
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a struct, got ${other.simpleString}")
  }

  /** The repaired fields may become null (M2 unsets the postcode). */
  override def dataType: DataType = StructType(struct.fields.zipWithIndex.map {
    case (f, i) => if (ordinals.contains(i)) f.copy(nullable = true) else f
  })
  override def prettyName: String = "graft_repair_address"

  /** `initcap` follows the session's case-mapping setting, as Spark's
    * `InitCap` does. */
  private lazy val useICU: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  @transient private lazy val types: Array[DataType] = struct.fields.map(_.dataType)

  override def nullSafeEval(v: Any): Any = AddressRepair.repair(
    v.asInstanceOf[InternalRow], steps, useICU,
    ordinals(0), ordinals(1), ordinals(2), ordinals(3), types)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ts = ctx.addReferenceObj("addressTypes", types, "org.apache.spark.sql.types.DataType[]")
    val Array(st, pc, ct, sa) = ordinals
    defineCodeGen(ctx, ev, row =>
      s"graft.plans.AddressRepair.repair($row, $steps, $useICU, $st, $pc, $ct, $sa, $ts)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The reference's repair steps (readme.md:42-103) in plain Scala over
  * Spark strings, with the semantics of the built-in functions they
  * replace: `rlike`/`regexp_extract` use `find()`, `trim` strips spaces
  * only, `split` keeps trailing empty strings, `initcap` is Spark's
  * own kernel. Each step reads the fields as the previous one left
  * them. */
object AddressRepair {
  val SplitMergedPostcode = 1
  val MovePostcodeToState = 2
  val FixTigerPostcode = 4
  val NormalizeState = 8
  val NormalizeCity = 16
  val NormalizeStreets = 32
  val All = 63

  /** The struct fields the steps read and write, in [[repair]]'s
    * argument order. */
  val Fields: Seq[String] = Seq("street", "postcode", "city", "state")

  final class Address(var street: UTF8String, var postcode: UTF8String,
                      var city: UTF8String, var state: UTF8String)

  private val Merged = Pattern.compile(graft.functions.TextFunctions.mergedPattern)
  private val BareState = Pattern.compile("^[A-Z]{2}$")
  private val Tiger = UTF8String.fromString("189872421:189872425")
  private val TigerZip = UTF8String.fromString("99224")
  private val LowerState = Pattern.compile("^[a-z]{2}$")
  private val CoeurDAlene = Pattern.compile("^Coeur d[^']Alene$")
  private val CoeurDAleneFixed = UTF8String.fromString("Coeur d'Alene")
  private val StateSuffix = Pattern.compile(", [A-Z]{2}$")
  private val LowerInitial = Pattern.compile("^[a-z]")
  private val Whitespace = UTF8String.fromString("\\s+")
  private val Space = UTF8String.fromString(" ")
  private val StreetMapping: Map[UTF8String, UTF8String] =
    graft.functions.TextFunctions.streetMapping.map { case (k, v) =>
      UTF8String.fromString(k) -> UTF8String.fromString(v) }

  private def found(p: Pattern, s: UTF8String): Boolean =
    s != null && p.matcher(s.toString).find()

  /** M3/F8: a merged postcode like "Spokane, WA 99218" splits into
    * city/state/postcode; the city only moves when it was captured. */
  def splitMergedPostcode(a: Address): Unit = if (a.postcode != null) {
    val m = Merged.matcher(a.postcode.toString)
    if (m.find()) {
      if (m.group(1) != null) a.city = UTF8String.fromString(m.group(1))
      a.state = UTF8String.fromString(m.group(2))
      a.postcode = UTF8String.fromString(m.group(3))
    }
  }

  /** M2: a bare state code in the postcode moves to state. */
  def movePostcodeToState(a: Address): Unit = if (found(BareState, a.postcode)) {
    a.state = a.postcode
    a.postcode = null
  }

  /** M1: the TIGER range artifact becomes its real ZIP. */
  def fixTigerPostcode(a: Address): Unit =
    if (Tiger == a.postcode) a.postcode = TigerZip

  /** F7/M1: lowercase state codes uppercased. */
  def normalizeState(a: Address): Unit =
    if (found(LowerState, a.state)) a.state = a.state.toUpperCase

  /** M1: Coeur d'Alene spellings unified, a trailing ", ST" stripped,
    * all-lowercase cities initcapped — first rule that matches wins. */
  def normalizeCity(a: Address, useICU: Boolean): Unit = if (a.city != null) {
    val s = a.city.toString
    if (CoeurDAlene.matcher(s).find()) a.city = CoeurDAleneFixed
    else if (StateSuffix.matcher(s).find())
      a.city = UTF8String.fromString(StateSuffix.matcher(s).replaceAll(""))
    else if (LowerInitial.matcher(s).find())
      a.city = CollationSupport.InitCap.exec(a.city, CollationFactory.UTF8_BINARY_COLLATION_ID, useICU)
  }

  /** F4 `update_name`: the last whitespace token of the space-trimmed
    * street is replaced through the street mapping; no mapping, no
    * change (the untrimmed name stays). */
  def normalizeStreets(a: Address): Unit = if (a.street != null) {
    val parts = a.street.trim().split(Whitespace, -1)
    StreetMapping.get(parts(parts.length - 1)).foreach { rep =>
      parts(parts.length - 1) = rep
      a.street = UTF8String.concatWs(Space, parts: _*)
    }
  }

  /** Runs the selected `steps` in reference order. */
  def run(a: Address, steps: Int, useICU: Boolean): Unit = {
    if ((steps & SplitMergedPostcode) != 0) splitMergedPostcode(a)
    if ((steps & MovePostcodeToState) != 0) movePostcodeToState(a)
    if ((steps & FixTigerPostcode) != 0) fixTigerPostcode(a)
    if ((steps & NormalizeState) != 0) normalizeState(a)
    if ((steps & NormalizeCity) != 0) normalizeCity(a, useICU)
    if ((steps & NormalizeStreets) != 0) normalizeStreets(a)
  }

  /** [[RepairAddressExpr]]'s row kernel: the repaired struct, or `row`
    * itself when no field changed. */
  def repair(row: InternalRow, steps: Int, useICU: Boolean, street: Int, postcode: Int,
             city: Int, state: Int, types: Array[DataType]): InternalRow = {
    def str(i: Int) = if (row.isNullAt(i)) null else row.getUTF8String(i)
    val st = str(street)
    val pc = str(postcode)
    val ct = str(city)
    val sa = str(state)
    val a = new Address(st, pc, ct, sa)
    run(a, steps, useICU)
    if ((a.street eq st) && (a.postcode eq pc) && (a.city eq ct) && (a.state eq sa)) row
    else {
      val out = new Array[Any](types.length)
      var i = 0
      while (i < out.length) {
        out(i) = if (row.isNullAt(i)) null else row.get(i, types(i))
        i += 1
      }
      out(street) = a.street
      out(postcode) = a.postcode
      out(city) = a.city
      out(state) = a.state
      new GenericInternalRow(out)
    }
  }
}
