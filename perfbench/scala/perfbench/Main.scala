package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One operation of a workload. `run` is the timed part and returns the
  * answer check, which the runner calls after the timer stops (None =
  * correct, Some(why) = wrong). `probe` runs only in traced rounds,
  * before `run` and outside its timing: the extra materializations that
  * split an operation into layers. */
final case class Op(name: String, run: () => (() => Option[String]), probe: () => Unit = () => ())

trait Workload {
  /** Generates the inputs and lands or builds the stored state the
    * operations read, then warms up; throws if a check fails. */
  def setup(): Unit
  /** The operations of round `r`, run back to back. */
  def round(r: Int): Seq[Op]
  /** Stored bytes per input byte, one sample per landing or batch. */
  def storedRatios: Seq[Double]
  /** What the generated inputs hold, for the record. */
  def inputs: Map[String, Any]
}

/** Named set-up phases and their seconds, so work moved into set-up
  * shows by phase in the record. */
object SetupPhases {
  private[perfbench] val all = mutable.LinkedHashMap.empty[String, Double]

  def apply[T](name: String)(body: => T): T = {
    val t = System.nanoTime()
    try body finally all(name) = all.getOrElse(name, 0.0) + (System.nanoTime() - t) / 1e9
  }
}

/** Runs one workload: set-up, then a closed loop of operations
  * for `--seconds`, one client thread, each operation starting when the
  * previous one (and its answer check) has finished. Writes the raw
  * record (per-op times, spans, counts) as JSON for `run.py` to reduce.
  *
  * Traced runs alternate traced and untraced rounds, so the record
  * holds both and the tracing overhead is their difference. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        out: Path, work: Path, cores: Int)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("out")), Paths.get(need("work")), need("cores").toInt)
  }

  def workload(name: String, spark: SparkSession, dir: Path, seed: Long, tracer: Tracer): Workload =
    name match {
      case "osm_etl" => new OsmEtl(spark, dir, seed, tracer)
      case "index_ingest" => new IndexIngest(spark, dir, seed, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** (total, idle, this process, steal) CPU ticks, as `graft.Bench` reads them. */
  private def cpuTicks(): Option[(Long, Long, Long, Long)] =
    try {
      val stat = Files.readString(Paths.get("/proc/stat")).linesIterator.next()
        .trim.split("\\s+").drop(1).map(_.toLong)
      val idle = stat(3) + (if (stat.length > 4) stat(4) else 0L)
      val steal = if (stat.length > 7) stat(7) else 0L
      val self = Files.readString(Paths.get("/proc/self/stat")).split("\\s+")
      Some((stat.sum, idle, self(13).toLong + self(14).toLong, steal))
    } catch { case NonFatal(_) => None }

  /** Shares of all CPU capacity over an interval: (burned by anything but
    * this process — other processes and time the hypervisor stole —,
    * stolen alone); -1 when /proc is unreadable. */
  private def cpuShares(a: Option[(Long, Long, Long, Long)],
                        b: Option[(Long, Long, Long, Long)]): (Double, Double) =
    (a, b) match {
      case (Some((t0, i0, s0, st0)), Some((t1, i1, s1, st1))) if t1 > t0 =>
        (math.max(0.0, ((t1 - t0) - (i1 - i0) - (s1 - s0)).toDouble / (t1 - t0)),
          (st1 - st0).toDouble / (t1 - t0))
      case _ => (-1.0, -1.0)
    }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU ns the JIT compiler threads have used, from /proc/self/task
    * (run.py starts the JVM with -XX:-UseDynamicNumberOfCompilerThreads,
    * so none of them exits and takes its count along); 0 when /proc is
    * unreadable. An operation's `cpu_ms` leaves this out: how far
    * compilation has got differs from JVM to JVM, and it is recorded
    * apart as `jit_cpu_ms`. */
  private def jitCpuNs(): Long =
    try {
      val tasks = Files.list(Paths.get("/proc/self/task"))
      try tasks.iterator().asScala.map { t =>
        // other threads come and go while this reads; only compiler threads count
        try {
          val comm = Files.readString(t.resolve("comm"))
          if (!comm.startsWith("C1 CompilerThre") && !comm.startsWith("C2 CompilerThre")) 0L
          else {
            val stat = Files.readString(t.resolve("stat"))
            val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
            (f(11).toLong + f(12).toLong) * 10000000L // utime + stime, 100 ticks/s
          }
        } catch { case NonFatal(_) => 0L }
      }.sum finally tasks.close()
    } catch { case NonFatal(_) => 0L }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val ticks0 = cpuTicks()
    val dir = Files.createDirectories(a.work.resolve("data"))
    val t = System.nanoTime()
    val spark = SetupPhases("session")(graft.GraftSession.local(a.cores))
    val tracer = new Tracer(spark.sparkContext)
    val w = workload(a.workload, spark, dir, a.seed, tracer)
    w.setup()
    val setupS = (System.nanoTime() - t) / 1e9

    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val ticks1 = cpuTicks()
    val loop0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loop0) / 1e9
    var r = 0
    var opId = 0
    while (elapsed < a.seconds || (a.trace && r < 2)) {
      val traced = a.trace && r % 2 == 0
      if (traced) tracer.start()
      for (op <- w.round(r)) {
        tracer.op = opId
        if (traced) op.probe()
        val jit0 = jitCpuNs()
        val cpu0 = osBean.getProcessCpuTime
        val t0 = System.nanoTime()
        val res = try Right(tracer.span(s"op.${op.name}")(op.run())) catch { case NonFatal(e) => Left(e) }
        val ms = (System.nanoTime() - t0) / 1e6
        val cpu1 = osBean.getProcessCpuTime
        val jitMs = (jitCpuNs() - jit0) / 1e6
        val cpuMs = (cpu1 - cpu0) / 1e6 - jitMs
        val err = res match {
          case Right(check) => try check() catch { case NonFatal(e) => Some(s"check threw: $e") }
          case Left(e) => Some(s"operation threw: $e")
        }
        err.foreach(m => System.err.println(s"[perfbench] ${op.name} failed: $m"))
        ops += Map("id" -> opId, "name" -> op.name, "round" -> r, "traced" -> traced,
          "ms" -> ms, "cpu_ms" -> cpuMs, "jit_cpu_ms" -> jitMs, "ok" -> err.isEmpty, "error" -> err.getOrElse(""))
        opId += 1
      }
      if (traced) tracer.stop()
      r += 1
    }
    val loopS = elapsed
    val ticks2 = cpuTicks()

    val (extSetup, stealSetup) = cpuShares(ticks0, ticks1)
    val (extLoop, stealLoop) = cpuShares(ticks1, ticks2)
    val rec = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "cores" -> a.cores,
      "jvm_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq,
      "setup_s" -> setupS, "setup_phases" -> SetupPhases.all.toMap,
      "inputs" -> w.inputs, "loop_s" -> loopS, "ops" -> ops.toSeq,
      "stored_ratios" -> w.storedRatios,
      "ext_cpu_share_setup" -> extSetup, "steal_share_setup" -> stealSetup,
      "ext_cpu_share_loop" -> extLoop, "steal_share_loop" -> stealLoop,
      "spans" -> (if (a.trace) tracer.records() else Seq.empty))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(a.out, mapper.writeValueAsString(rec))
    spark.stop()
  }
}
