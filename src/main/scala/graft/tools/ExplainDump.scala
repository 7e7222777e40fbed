package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Dump `explain("formatted")` for a set of declared queries /
  * bench workloads to files — the plan evidence the optimization
  * rounds commit under `plans/r<N>/` (the judge checks plan claims
  * against these files; it cannot run Spark itself).
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   SPARK_GRAFT_EXPLAIN_OUT=plans/r21 \
  *   SPARK_GRAFT_EXPLAIN_SUFFIX=_after \
  *   sbt "runMain graft.tools.ExplainDump rt12_topk_pruning sx74b..."
  *
  * Writes `<out>/<query><suffix>.txt` per name. Names resolve against
  * SparkEntry.queries first, then ScaleWorkloads.defs.
  *
  * Each file ends with the largest generated method of every
  * whole-stage-codegen stage, in bytecode bytes; the same sizes go to
  * stderr, one `[codegen]` line per query, and a stage over
  * [[HugeMethodBytes]] is marked `HUGE`.
  */
object ExplainDump {

  /** HotSpot JIT-compiles no method larger than this many bytecode
    * bytes (`-XX:+DontCompileHugeMethods`, the default), so a stage
    * whose method is larger runs every row in the interpreter. */
  val HugeMethodBytes = 8000

  /** `(codegen stage id, largest method in bytecode bytes)` for every
    * whole-stage-codegen stage of `df`, subqueries included. The plan
    * is made without adaptive execution, so every stage exists before
    * anything runs. */
  def codegenMethodBytes(df: DataFrame): Seq[(Int, Int)] = {
    val s = ColumnBridge.cloneSession(df.sparkSession)
    s.conf.set("spark.sql.adaptive.enabled", "false")
    ColumnBridge.rebindSession(df, s).queryExecution.executedPlan.collectWithSubqueries {
      case w: WholeStageCodegenExec =>
        w.codegenStageId -> CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize
    }.sortBy(_._1)
  }

  private def describe(sizes: Seq[(Int, Int)]): Seq[String] = sizes.map { case (id, bytes) =>
    s"*($id) $bytes B${if (bytes > HugeMethodBytes) " HUGE" else ""}"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_OUT", "plans/out")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_SUFFIX", "")
    val spark = graft.GraftSession.local()
    val all = graft.SparkEntry.queries ++ graft.queries.ScaleWorkloads.defs
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    args.foreach { name =>
      all.get(name) match {
        case None => System.err.println(s"[explain] unknown query: $name")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val codegen = describe(codegenMethodBytes(df))
            val text = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode) +
              s"\n== Codegen largest method (HUGE > $HugeMethodBytes bytecode bytes) ==\n" +
              codegen.map(_ + "\n").mkString
            val f = java.nio.file.Paths.get(outDir, s"$name$suffix.txt")
            java.nio.file.Files.writeString(f, text)
            System.err.println(s"[explain] wrote $f")
            System.err.println(s"[codegen] $name ${codegen.mkString(", ")}")
          } catch { case e: Throwable =>
            System.err.println(s"[explain] $name FAILED: $e")
          }
      }
    }
    spark.stop()
  }
}
