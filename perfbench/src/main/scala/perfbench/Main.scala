package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --data <dir>`. Prints the workload's named figures, then
  * as its last line one JSON object `{correct, attempted, failed,
  * metrics}`: the end-to-end metrics untraced, the per-layer metrics
  * traced. Exits 1 when an output check failed. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, data: String) {
    def runId: String = s"$workload-seed$seed"
  }

  /** Every workload reports the same end-to-end metrics, each with the
    * meaning its workload gives it (see README.md). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cpu_s" -> "s", "heap_live_mb" -> "MB",
    "rate_per_s" -> "1/s", "latency_ms_p50" -> "ms",
    "latency_ms_p90" -> "ms")

  val Workloads: Map[String, Args => Outcome] = Map(
    "capture_scan" -> CaptureScan.run,
    "live_mux" -> LiveMux.run)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val a = Args(need("--workload"), need("--seed").toLong,
      need("--seconds").toInt, need("--trace") == "1", need("--work"),
      need("--data"))
    require(Workloads.contains(a.workload),
      s"unknown workload ${a.workload}; one of " +
        Workloads.keys.toSeq.sorted.mkString(", "))
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val out = try Workloads(a.workload)(a) catch {
      case e: Throwable =>
        // no result line: the run could not be made
        e.printStackTrace()
        Runtime.getRuntime.halt(2)
        throw e
    }
    out.failures.foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
    out.named.foreach { case (k, (v, u)) => println(f"$k%-32s $v%.4f $u") }
    val metrics =
      if (a.trace) Layers.All.map { case (k, u, _) =>
        k -> (out.layers.getOrElse(k, 0.0), u)
      }
      else EndToEnd.map { case (k, u) =>
        k -> (out.e2e.getOrElse(k,
          throw new IllegalStateException(s"workload did not measure $k")), u)
      }
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u"}"""
    }.mkString(",")
    println(s"""{"correct":${out.correct},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":{$body}}""")
    System.out.flush()
    // Spark leaves non-daemon threads behind; the run is over
    Runtime.getRuntime.halt(if (out.correct) 0 else 1)
  }
}

/** What one run of a workload measured and checked. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  /** The workload's own figures under the names its README uses. */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]

  def correct: Boolean = failed == 0 && failures.isEmpty

  /** Count one checked operation; a false `ok` fails the run. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
  }
}

/** Process-level readings. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs(): Long = os.getProcessCpuTime

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${uptimeS()}%7.2fs $msg")

  /** Seconds since the JVM started. */
  def uptimeS(): Double =
    ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  /** Heap still reachable after a full collection, in MB. Spark's context
    * cleaner frees shuffle and broadcast state only after a collection has
    * shown it unreachable, so collect, let it run, and collect again. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }

  /** Run `setup` `times` times, tearing down every instance but the last;
    * returns the last instance and each setup's wall seconds. The first
    * one also counts the JVM's own start. */
  def repeatSetup[R](times: Int)(setup: => R)(teardown: R => Unit)
      : (R, Seq[Double]) = {
    val secs = mutable.ArrayBuffer.empty[Double]
    var last: Option[R] = None
    (1 to times).foreach { i =>
      last.foreach(teardown)
      val jvm = if (i == 1) uptimeS() else 0.0
      val t0 = System.nanoTime()
      last = Some(setup)
      secs += jvm + (System.nanoTime() - t0) / 1e9
    }
    (last.get, secs.toSeq)
  }
}
