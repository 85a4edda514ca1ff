package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One benchmark run in one JVM, driven by perfbench/run.py.
  *
  * The run sets up once, from JVM start to the session being ready (and
  * for index_ingest the base index built), then times the workload in a
  * closed loop with one client thread — each operation is issued only
  * after the previous one returned. It keeps what the correctness check
  * needs and writes one raw JSON record; run.py turns both into metrics
  * and a verdict. With `--setup-only 1` the JVM sets up and exits, which
  * run.py uses to sample the set-up time of further fresh JVMs.
  *
  * Arguments (all required): --workload --kind batch|ingest --seed
  * --seconds --trace 0|1 --data <sf dir> --out <dir> --queries <a,b,…>
  * --setup-only 0|1 --warm-passes <n> --cpus <n>. */
object Main {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * clock as the millisecond timestamps of Spark's listener events. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final case class Opts(workload: String, kind: String, seed: Long,
      seconds: Double, trace: Boolean, data: String, out: String,
      queries: Seq[String], setupOnly: Boolean, warmPasses: Int, cpus: Int)

  def parse(args: Array[String]): Opts = {
    require(args.length % 2 == 0, s"expected --key value pairs, got ${args.mkString(" ")}")
    val m = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    Opts(m("workload"), m("kind"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("out"),
      m("queries").split(',').map(_.trim).filter(_.nonEmpty).toSeq,
      m("setup-only") == "1", m("warm-passes").toInt, m("cpus").toInt)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val run = new Run(o)
    val code = try {
      run.execute()
      0
    } catch {
      case e: Throwable =>
        run.fatal = Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}")
        e.printStackTrace()
        1
    }
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(o.out, "record.json"), json.writeValueAsBytes(run.record))
    run.stop()
    System.exit(code)
  }
}

final class Run(val o: Main.Opts) {
  import Main.nowMs

  var spark: SparkSession = _
  var fatal: Option[String] = None
  val recorder: Option[Recorder] = if (o.trace) Some(new Recorder) else None
  private var tracing = false

  var setupS = 0.0
  var setupCpuS = 0.0
  var setupJitS = 0.0
  val ops = ArrayBuffer.empty[Map[String, Any]]
  val passes = ArrayBuffer.empty[Map[String, Any]]
  val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  private val warehouse = s"${System.getProperty("java.io.tmpdir")}/graft_warehouse"

  /** The session `graft.Bench` builds, setting for setting. */
  private def buildSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.BucketCapMetrics.register(s)
    s
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  /** Tracing switches Spark's listeners on and off between passes, so a
    * traced run can time traced and untraced passes side by side. */
  def setTracing(on: Boolean): Unit = recorder.foreach { r =>
    if (on && !tracing) {
      spark.sparkContext.addSparkListener(r)
      spark.listenerManager.register(r)
    } else if (!on && tracing) {
      BusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(r)
      spark.listenerManager.unregister(r)
    }
    tracing = on
  }

  /** Set up from JVM start: class loading, the session, and what the
    * workload builds before its first operation. The CPU time is the
    * program's since the process started. */
  private def setUp(extraSetup: () => Unit): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    spark = buildSession()
    extraSetup()
    setupS = (nowMs - jvmStart) / 1000.0
    val c = Cpu.now()
    setupCpuS = c.program / 1e9
    setupJitS = c.jit / 1e9
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def storageMb: Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, rem) => max - rem }.sum / 1048576.0

  /** Lets the JVM settle before a pass, untimed: a full collection, then
    * a wait until the process has used under a tenth of a core for
    * `QuietMs` (at most `SettleCapMs`). Without it, JIT compilation and
    * concurrent GC work left over from the set-up or the pass before
    * land in this pass by timing alone: on a loaded host more of that
    * backlog spills over. */
  private def settle(): Unit = {
    val w0 = nowMs
    System.gc()
    var quietFrom = nowMs
    var mark = Cpu.processNs
    while (nowMs - quietFrom < Run.QuietMs && nowMs - w0 < Run.SettleCapMs) {
      Thread.sleep(Run.QuietMs / 5)
      val c = Cpu.processNs
      val t = nowMs
      if (c - mark > (t - quietFrom) * 1e5) { quietFrom = t; mark = c }
    }
  }

  /** One pass: codegen, GC and wall totals are recorded around it. With
    * `settled`, the JVM settles first: the cold pass, right after the
    * set-up, and passes measured one by one, such as micro-batch cycles.
    * Warm batch passes run back to back, as a user's queries would. */
  def pass(p: Int, traced: Boolean, settled: Boolean = false)(body: => Unit): Unit = {
    if (settled) settle()
    setTracing(traced)
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val n0 = CodeGenerator.compileTime
    val g0 = gcMs
    val a0 = Cpu.now()
    val t0 = nowMs
    body
    val t1 = nowMs
    val cpu = (Cpu.now() - a0).program
    passes += Map("pass" -> p, "traced" -> traced, "t0" -> t0, "t1" -> t1,
      "cpu_ns" -> cpu,
      "compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0),
      "compile_ns" -> (CodeGenerator.compileTime - n0), "gc_ms" -> (gcMs - g0))
  }

  /** One closed-loop operation. `issue` returns a thunk that completes
    * it: for a query, `issue` builds the DataFrame (the driver-side
    * build) and the thunk runs the action; for a micro-batch, `issue`
    * hands the data to the stream and the thunk waits for the batch.
    * Caches are cleared before the clock starts, as `graft.Bench` does,
    * so an operation pays its own cost. `unit` names what the
    * correctness check judges the operation by: a query, or a stream. */
  def op(name: String, p: Int, kind: String, unit: String = null)(
      issue: => (() => Unit)): Unit = {
    graft.CacheRegistry.releaseAll()
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    BusDrain(sc)
    val id = s"$p/$name"
    recorder.foreach(_.currentOp = id)
    sc.setJobGroup(s"pb:$id", name)
    val a0 = Cpu.now()
    val t0 = nowMs
    var tb = t0
    val err = try {
      val finish = issue
      tb = nowMs
      finish()
      None
    } catch {
      case e: Throwable =>
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).takeWhile(_ != '\n').take(300)}")
    }
    val t1 = nowMs
    val cpu = Cpu.now() - a0
    sc.clearJobGroup()
    val storage = storageMb
    BusDrain(sc)
    recorder.foreach(_.currentOp = "")
    err.foreach(e => System.err.println(s"[perfbench] $id failed: $e"))
    ops += Map("name" -> name, "unit" -> Option(unit).getOrElse(name), "pass" -> p,
      "kind" -> kind, "t0" -> t0,
      "tb" -> tb, "t1" -> t1, "cpu_ns" -> cpu.program, "jit_ns" -> cpu.jit,
      "ok" -> err.isEmpty, "err" -> err.orNull,
      "storage_mb" -> storage)
  }

  /** Seeded order of the operations in pass `p`. */
  def order[T](xs: Seq[T], p: Int): Seq[T] =
    new scala.util.Random(o.seed * 1000003L + p).shuffle(xs)

  /** Warm passes until `o.seconds` have elapsed, at least `min` of them.
    * The minimum is set per workload so that every run measures the same
    * stretch of the JIT's warm-up even when the host runs slow.
    * In a traced run, odd passes are traced and even ones are not. */
  def warmPasses(min: Int)(body: Int => Unit): Unit = {
    val start = nowMs
    var p = 1
    while (p <= min || nowMs - start < o.seconds * 1000) {
      pass(p, traced = o.trace && p % 2 == 1)(body(p))
      p += 1
    }
  }

  def execute(): Unit = {
    o.kind match {
      case "batch" =>
        setUp(() => ())
        if (!o.setupOnly) new BatchWorkload(this).run()
      case "ingest" =>
        val ingest = new IngestWorkload(this)
        setUp(() => ingest.setUp())
        if (!o.setupOnly) ingest.run()
      case k => sys.error(s"unknown workload kind $k")
    }
    setTracing(false)
    if (o.trace && !o.setupOnly) extra("kernels") = Kernels.run(spark, o.data, o.seed)
  }

  private def vmHwmKb: Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def record: Map[String, Any] = Map(
    "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
    "cpus" -> o.cpus, "fatal" -> fatal.orNull, "setup_s" -> setupS,
    "setup_cpu_s" -> setupCpuS, "setup_jit_s" -> setupJitS,
    "passes" -> passes.toSeq, "ops" -> ops.toSeq, "vm_hwm_kb" -> vmHwmKb,
    "trace_record" -> recorder.map(_.record).orNull) ++ extra
}

object Run {
  val QuietMs = 250L
  val SettleCapMs = 4000L
}

/** CPU time of the JVM process since it started, and the part of it
  * that its JIT compiler threads used. The gated figures are `program`:
  * every thread (driver, tasks, streams, listener bus, RPC, GC workers,
  * threads that have ended) but the JIT compiler's. Linux does not
  * charge a process for time the hypervisor stole from a vCPU, so on a
  * shared host it moves far less than the wall clock. The JIT compiler
  * is left out because its work depends on timing, not on the program
  * alone: HotSpot drops queued compile tasks that waited too long, so on
  * a loaded host it compiles a different amount of code. */
final case class Cpu(process: Long, jit: Long) {
  def program: Long = process - jit
  def -(o: Cpu): Cpu = Cpu(process - o.process, jit - o.jit)
}

object Cpu {
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processNs: Long = osBean.getProcessCpuTime

  /** Linux reports thread CPU in clock ticks of 1/100 s. */
  private val NsPerTick = 10000000L

  private def stat(task: java.io.File): Option[(String, Long)] =
    try {
      val st = new String(Files.readAllBytes(Paths.get(task.getPath, "stat")))
      val comm = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
      val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
      Some(comm -> (f(11).toLong + f(12).toLong) * NsPerTick) // utime, stime
    } catch { case _: java.io.IOException | _: RuntimeException => None }

  /** The JIT compiler threads, found by name once. run.py starts the JVM
    * with -XX:-UseDynamicNumberOfCompilerThreads, so all of them start
    * with it and none ends before it. */
  private lazy val jitTasks: Seq[java.io.File] =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten
      .filter(t => stat(t).exists(_._1.contains("CompilerThre")))

  def now(): Cpu = Cpu(processNs, jitTasks.flatMap(stat).map(_._2).sum)
}
