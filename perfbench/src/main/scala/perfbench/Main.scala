package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** A workload: set-up after the session exists, a timed closed loop over a fixed
  * amount of work, an untimed dump of what the output checks need, and counters only
  * a traced run collects. */
trait Workload {
  def setup(spark: SparkSession, rec: Recorder): Unit = ()
  def run(spark: SparkSession, rec: Recorder): Unit
  def checkData(spark: SparkSession): Map[String, Any]
  def tracedCounters(spark: SparkSession): Map[String, Any] = Map.empty
  /** Directories whose on-disk bytes the workload leaves stored. */
  def storedDirs(tmp: String): Seq[String]
}

/**
 * JVM side of the benchmark: one process, one client thread, `local[cpus]`.
 * Arguments are key=value pairs (workload, input, work, trace, seed, setupReps,
 * warmPasses, keys, cpus, out); the run report goes to `out` as JSON and run.py
 * turns it into metrics. How much work a run does is fixed by the arguments and the
 * input, never by the clock.
 *
 * Set-up is repeated `setupReps` times, each time from nothing: the session is
 * stopped, and `java.io.tmpdir` (StarCache's root) moves to a fresh directory, so
 * every repetition rebuilds what a user pays once per data version.
 */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val (input, work, seed) = (a("input"), a("work"), a("seed").toLong)
    val cpus = a("cpus").toInt
    val rec = new Recorder(a("trace") == "1")
    val workload: Workload = a("workload") match {
      case "olap_star" => new OlapStar(input, work, seed, a("warmPasses").toInt)
      case "ingest_serve" => new IngestServe(input, work, seed, a("keys").toInt)
    }
    val (calibBefore, memBefore) = Calibrate.ms()
    var spark: SparkSession = null
    // each set-up's (wall-clock, JVM CPU) seconds
    val setups = (0 until a("setupReps").toInt).map { r =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val tmp = new File(s"$work/tmp-$r")
      tmp.mkdirs()
      System.setProperty("java.io.tmpdir", tmp.getAbsolutePath)
      val t0 = System.nanoTime()
      val c0 = Recorder.processCpuNs
      spark = rec.span("session.build")(GraftSession.get(s"local[$cpus]", cpus))
      spark.sparkContext.setLogLevel("ERROR")
      workload.setup(spark, rec)
      val (s, cpu) = ((System.nanoTime() - t0) / 1e9, (Recorder.processCpuNs - c0) / 1e9)
      System.err.println(f"[perfbench] set-up ${r + 1}: $s%.2f s, $cpu%.2f CPU-s")
      (s, cpu)
    }
    val listener = new EngineListener
    if (rec.tracing) spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    workload.run(spark, rec)
    val wallMs = (System.nanoTime() - t0) / 1e6
    System.err.println(f"[perfbench] timed phase: ${rec.ops.size} ops in ${wallMs / 1000}%.1f s")
    if (rec.tracing) org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    val engine = listener.snapshot
    val (calibAfter, memAfter) = Calibrate.ms()
    val counters = if (rec.tracing) workload.tracedCounters(spark) else Map.empty
    val check = workload.checkData(spark)
    val tmp = System.getProperty("java.io.tmpdir")
    val report = Map(
      "setup_wall_s" -> setups.map(_._1),
      "setup_cpu_s" -> setups.map(_._2),
      "wall_ms" -> wallMs,
      "cpus" -> cpus,
      "ops" -> rec.ops.map(o => Map("id" -> o.id, "kind" -> o.kind, "name" -> o.name,
        "pass" -> o.pass, "ms" -> o.ms, "cpu_ms" -> o.cpuMs, "jit_ms" -> o.jitMs,
        "cold" -> o.cold, "ok" -> o.ok, "error" -> o.error)),
      "spans" -> rec.spans.map(s => Seq(s.id, s.name, s.start, s.end, s.parent, s.op)),
      "engine" -> engine,
      "counters" -> counters,
      "check" -> check,
      "stored_bytes" -> workload.storedDirs(tmp).map(d => duBytes(new File(d))).sum,
      "calib_before_ms" -> calibBefore,
      "calib_after_ms" -> calibAfter,
      "mem_calib_before_ms" -> memBefore,
      "mem_calib_after_ms" -> memAfter,
      "peak_rss_mb" -> peakRssMb)
    Files.write(new File(a("out")).toPath, Json(report).getBytes(StandardCharsets.UTF_8))
    spark.stop()
    System.exit(0)
  }

  def duBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(duBytes).sum
    else if (f.isFile) f.length()
    else 0L

  /** The process's peak resident set (VmHWM), in MiB. */
  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

/** Host-noise control: two fixed, JVM-only loops. The same binary on a healthy host
  * takes the same time; a slow reading marks a degraded host window. An integer loop
  * reads the core's speed; a dependent walk over a 64 MiB cycle, which misses the
  * caches at every step, reads the memory system's, which neighbours sharing the
  * caches and memory bus slow down more than they slow the core. */
object Calibrate {
  /** (integer loop ms, memory walk ms) */
  def ms(): (Double, Double) = {
    loop(20000000) // let the JIT compile the loops first
    walk(100000)
    val t0 = System.nanoTime()
    val x = loop(200000000)
    val t1 = System.nanoTime()
    val y = walk(4000000)
    val t2 = System.nanoTime()
    if (x == 42 && y == 42) println() // keep the results live
    ((t1 - t0) / 1e6, (t2 - t1) / 1e6)
  }

  private def loop(n: Int): Long = {
    var x = 88172645463325252L
    var i = 0
    while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  /** One random cycle through all slots (Sattolo's shuffle, fixed seed). */
  private lazy val cycle: Array[Int] = {
    val n = 1 << 24
    val next = Array.tabulate(n)(identity)
    val rnd = new java.util.Random(42)
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i)
      val t = next(i); next(i) = next(j); next(j) = t
      i -= 1
    }
    next
  }

  private def walk(steps: Int): Int = {
    val next = cycle
    var p = 0
    var i = 0
    while (i < steps) { p = next(p); i += 1 }
    p
  }
}
