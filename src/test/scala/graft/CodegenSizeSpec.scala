package graft

import graft.operators.Repairs
import graft.sources.OsmSource
import graft.tools.ExplainDump

/** The OSM ETL pass must stay JIT-compiled. HotSpot never compiles a
  * method over 8,000 bytecode bytes, and whole-stage codegen fuses the
  * element serializer with the repair projection into one method, so a
  * repair that grows that method past the limit sends every row of the
  * pass through the bytecode interpreter. */
class CodegenSizeSpec extends SparkSpec {

  test("the parse + repair stage compiles to methods under the JIT limit") {
    val p = OsmFixture.write("example.osm", OsmFixture.xml)
    val parsed = OsmSource.elementsSplit(spark, p.toString, splitBytes = 2048)
    val sizes = ExplainDump.codegenMethodBytes(Repairs.clean(parsed.toDF()))
    sizes should not be empty
    withClue(s"largest method per stage (id -> bytes) $sizes: ") {
      all(sizes.map(_._2)) should be <= ExplainDump.HugeMethodBytes
    }
  }
}
