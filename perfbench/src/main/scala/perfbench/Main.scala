package perfbench

import graft.{SparkEntry, core}
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Runs one workload against the program's public entry points
  * (`SparkEntry.queries(name)(spark, dir)` plus `collect()` of the result)
  * and writes every raw record to `--out` as JSON: op spans with their
  * result hashes, passes, host samples and, with `--trace 1`, the engine
  * events of [[Tracer]]. run.py turns the records into metrics.
  *
  * Modes:
  *  - `cold`: each pass copies the input tables to a fresh directory, points
  *    `graft.scratch.dir` at a fresh scratch directory, starts a fresh
  *    session and runs the op list once in order. An untimed first pass
  *    over the smaller `--warmup-data` tables warms the JVM; timed passes
  *    over `--data` follow while another one fits in
  *    `--seconds` from the first timed op.
  *  - `warm`: one session; an untimed pass over every gate, then rounds
  *    of seeded permutations of the op list, op after op (a closed loop
  *    with one client), while another complete round fits in `--seconds`.
  */
object Main {
  private val t0Ms = System.currentTimeMillis()
  private val t0Ns = System.nanoTime()
  /** Epoch milliseconds with nanosecond-clock resolution. */
  def now(): Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  final case class Opts(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  }

  def main(args: Array[String]): Unit = {
    val o = Opts(args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val work = Paths.get(o("work")).toAbsolutePath
    Files.createDirectories(work)
    System.setProperty("derby.stream.error.file", work.resolve("derby.log").toString)
    System.setProperty("derby.system.home", work.toString)
    val ops = Files.readAllLines(Paths.get(o("ops"))).asScala.toSeq
      .filter(_.nonEmpty).map { l => val Array(p, g) = l.split("\t"); (p, g) }
    val run = new Run(o, work, ops)
    try {
      if (o("mode") == "cold") run.cold() else run.warm()
    } finally {
      run.stopSession()
      Files.writeString(Paths.get(o("out")), Json(run.result()))
    }
  }

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** JIT compile and GC seconds so far in this JVM. */
  def jvmS(): (Double, Double) = (
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3)

  def readFile(p: String): String = Files.readString(Paths.get(p))

  /** Host steal seconds so far (the `steal` column of /proc/stat's cpu line,
    * in USER_HZ = 1/100 s ticks). */
  def stealS(): Double =
    try readFile("/proc/stat").linesIterator.next().trim.split("\\s+")(8).toDouble / 100
    catch { case _: Throwable => 0.0 }

  def load1(): Double =
    try readFile("/proc/loadavg").split(" ")(0).toDouble catch { case _: Throwable => 0.0 }

  def vmHwmKb(): Long =
    readFile("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }
}

final class Run(o: Main.Opts, work: Path, ops: Seq[(String, String)]) {
  import Main._

  private val queries = SparkEntry.queries
  private val traced = o("trace") == "1"
  private val seconds = o("seconds").toDouble
  private val cores = o("cores")
  private var spark: SparkSession = _
  private val tracers = ArrayBuffer[Tracer]()
  private val opRecs = ArrayBuffer[Map[String, Any]]()
  private val passes = ArrayBuffer[Map[String, Any]]()
  private var firstOp = Double.NaN
  private var windowEnd = Double.NaN
  private var host0: (Double, Double) = (0, 0)
  private var host1: (Double, Double) = (0, 0)
  private var ledger0: Map[String, Double] = Map()
  private var ledger1: Map[String, Double] = Map()
  private var loadMax = 0.0

  def startSession(scratch: Path): Unit = {
    System.setProperty("graft.scratch.dir", scratch.toString)
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) {
      val tracer = new Tracer
      tracers += tracer
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }
  }

  def stopSession(): Unit =
    if (spark != null) { spark.stop(); spark = null }

  private def module(gate: String): String =
    SparkEntry.modules.find(_._2.exists(_.name == gate)).map(_._1).getOrElse("?")

  /** One op: the timed call and full materialization, then the untimed
    * result hash. A throw is recorded as a failed op, never skipped. */
  def runOp(phase: String, gate: String, dir: String, round: Int, timed: Boolean): Map[String, Any] = {
    core.releaseSessionState(spark)
    val t = now()
    val rec: Map[String, Any] =
      try {
        val df = queries(gate)(spark, dir)
        val tRun = now()
        val rows = df.collect()
        val tEnd = now()
        val (cols, n, h) = Canon.of(df.schema, rows)
        Map("run_end" -> tRun, "end" -> tEnd, "ok" -> true,
          "cols" -> cols, "rows" -> n, "hash" -> h, "cached_b" -> cachedBytes())
      } catch {
        case e: Throwable =>
          Map("run_end" -> now(), "end" -> now(), "ok" -> false,
            "error" -> s"${e.getClass.getName}: ${e.getMessage}".take(300))
      }
    loadMax = math.max(loadMax, load1())
    if (timed) opRecs += rec ++ Map("phase" -> phase, "gate" -> gate,
      "module" -> module(gate), "round" -> round, "t" -> t)
    rec
  }

  /** Bytes of persisted blocks (memory and disk) the session holds now. */
  private def cachedBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def beginWindow(): Unit = {
    firstOp = now()
    host0 = (stealS(), load1())
    loadMax = host0._2
    ledger0 = core.buildLedger.toMap
  }

  private def endWindow(): Unit = {
    windowEnd = now()
    host1 = (stealS(), load1())
    ledger1 = core.buildLedger.toMap
  }

  private def passRecord(w0: Double, c0: Long, j0: (Double, Double), stored: Long) = {
    val (w1, c1, j1) = (now(), cpuNs(), jvmS())
    Map("t" -> w0, "end" -> w1, "cpu_s" -> (c1 - c0) / 1e9, "jit_s" -> (j1._1 - j0._1),
      "gc_s" -> (j1._2 - j0._2), "stored_b" -> stored)
  }

  private def elapsed: Double = (now() - firstOp) / 1000

  /** One cold pass: a fresh copy of the inputs, a fresh scratch directory
    * and a fresh session, then every op once in order. */
  private def coldPass(pass: Int, timed: Boolean): Unit = {
    val dir = work.resolve(s"pass-$pass")
    deleteTree(dir)
    copyTree(Paths.get(o(if (timed) "data" else "warmup-data")), dir.resolve("data"))
    val scratch = dir.resolve("scratch")
    startSession(scratch)
    if (timed && pass == 1) beginWindow()
    val (w0, c0, j0) = (now(), cpuNs(), jvmS())
    ops.foreach { case (p, g) => runOp(p, g, dir.resolve("data").toString, pass, timed) }
    if (timed) passes += passRecord(w0, c0, j0, treeBytes(scratch))
    stopSession()
    deleteTree(dir)
  }

  def cold(): Unit = {
    coldPass(0, timed = false)
    var pass = 1
    // another pass only when one more of the same length ends inside the
    // window, so a pass is never cut and the pass count stays steady
    while (pass == 1 || elapsed + elapsed / (pass - 1) <= seconds) {
      coldPass(pass, timed = true)
      pass += 1
    }
    endWindow()
  }

  def warm(): Unit = {
    val dir = work.resolve("warm")
    deleteTree(dir)
    val scratch = dir.resolve("scratch")
    startSession(scratch)
    val data = o("data")
    ops.foreach { case (p, g) => runOp(p, g, data, -1, timed = false) }
    beginWindow()
    val gates = ops.map(_._2)
    var round = 0
    // another round only when one more of the same length ends inside the
    // window, as in cold(): a round is never cut, so every timed op belongs
    // to a complete round
    while (round == 0 || elapsed + elapsed / round <= seconds) {
      val perm = new scala.util.Random(o("seed").toLong * 1000003L + round).shuffle(gates)
      val (w0, c0, j0) = (now(), cpuNs(), jvmS())
      // read-only gates write no scratch; what a round keeps is the
      // persisted blocks each op holds when it ends
      val held = perm.map { g =>
        runOp(s"round-$round", g, data, round, timed = true)
          .getOrElse("cached_b", 0L).asInstanceOf[Long]
      }.sum
      passes += passRecord(w0, c0, j0, held)
      round += 1
    }
    endWindow()
    stopSession()
    deleteTree(dir)
  }

  def result(): Map[String, Any] = Map(
    "jvm_start" -> ManagementFactory.getRuntimeMXBean.getStartTime.toDouble,
    "first_op" -> firstOp, "window_end" -> windowEnd,
    "ops" -> opRecs.toList, "passes" -> passes.toList,
    "oracle" -> ops.map(_._2).distinct.flatMap(g => SparkEntry.oracleSql.get(g).map(g -> _)).toMap,
    "host" -> Map("steal0" -> host0._1, "steal1" -> host1._1,
      "load1_start" -> host0._2, "load1_end" -> host1._2, "load1_max" -> loadMax),
    "rss_peak_kb" -> vmHwmKb(),
    "ledger" -> Map("before" -> ledger0, "after" -> ledger1),
    "trace" -> tracers.map(_.toMap).toList)
}

/** Minimal JSON writer for the record maps above. */
object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
