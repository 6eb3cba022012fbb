package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Process-wide counters fed by a `SparkListener` and a
  * `StreamingQueryListener`. Spans read them at open and close, so each
  * span carries the deltas of what ran inside it. */
object Counters {
  val jobs = new AtomicLong
  val jobNanos = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val gcMs = new AtomicLong
  val executorCpuNs = new AtomicLong
  val batches = new AtomicLong
  val batchInputRows = new AtomicLong

  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]

  def snapshot(): Map[String, Long] = Map(
    "jobs" -> jobs.get, "job_ns" -> jobNanos.get, "stages" -> stages.get,
    "tasks" -> tasks.get, "shuffle_write_bytes" -> shuffleWriteBytes.get,
    "spill_bytes" -> spillBytes.get, "gc_ms" -> gcMs.get,
    "executor_cpu_ns" -> executorCpuNs.get, "batches" -> batches.get,
    "batch_input_rows" -> batchInputRows.get)

  def delta(from: Map[String, Long], to: Map[String, Long])
      : Map[String, Long] = to.map { case (k, v) => k -> (v - from(k)) }

  object Spark extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.put(e.jobId, System.nanoTime())
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobs.incrementAndGet()
      Option(jobStart.remove(e.jobId)).foreach(t0 =>
        jobNanos.addAndGet(System.nanoTime() - t0))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        gcMs.addAndGet(m.jvmGCTime)
        executorCpuNs.addAndGet(m.executorCpuTime)
      }
    }
  }

  object Streaming extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      batches.incrementAndGet()
      batchInputRows.addAndGet(e.progress.numInputRows)
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  @volatile private var context: Option[org.apache.spark.SparkContext] = None

  /** Attach both listeners to a session's context; the listener bus
    * drops them when the context stops. */
  def attach(s: org.apache.spark.sql.SparkSession): Unit = {
    s.sparkContext.addSparkListener(Spark)
    s.streams.addListener(Streaming)
    context = Some(s.sparkContext)
  }

  def detach(s: org.apache.spark.sql.SparkSession): Unit = {
    s.sparkContext.removeSparkListener(Spark)
    s.streams.removeListener(Streaming)
    context = None
  }

  /** Wait until every event posted so far has reached the counters. */
  def drain(): Unit =
    context.foreach(org.apache.spark.perfbench.ListenerBus.drain)
}

/** In-memory span recorder for a traced run: a span is a name, a start
  * and end, the span it ran inside and the run it belongs to, plus the
  * counter deltas of everything that ran during it. Written as JSON when
  * the run ends. An untraced run uses the same calls with recording off,
  * so both run the same code. */
final class Trace(val runId: String, val enabled: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long,
      endNs: Long, counters: Map[String, Long]) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val t0 = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = synchronized { nextId += 1; nextId }
    val parent = synchronized { stack.headOption.getOrElse(0) }
    synchronized { stack = id :: stack }
    Counters.drain()
    val c0 = Counters.snapshot()
    val s0 = System.nanoTime()
    try body
    finally {
      val s1 = System.nanoTime()
      Counters.drain()
      val c1 = Counters.snapshot()
      synchronized {
        stack = stack.tail
        spans += Span(id, name, parent, s0, s1, Counters.delta(c0, c1))
      }
    }
  }

  def all: Seq[Span] = synchronized(spans.toSeq)

  def find(name: String): Option[Span] = all.find(_.name == name)

  def json: String = {
    val rows = all.sortBy(_.startNs).map { s =>
      val c = s.counters.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"id":${s.id},"name":"${Json.esc(s.name)}","parent":${s.parent},""" +
        s""""run":"${Json.esc(runId)}","start_ms":${
          (s.startNs - t0) / 1e6},"end_ms":${(s.endNs - t0) / 1e6},""" +
        s""""counters":{$c}}"""
    }
    rows.mkString("{\"run\":\"" + Json.esc(runId) + "\",\"spans\":[\n",
      ",\n", "\n]}\n")
  }

  def write(path: String): Unit =
    if (enabled) java.nio.file.Files.write(java.nio.file.Paths.get(path),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
}

object Json {
  def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a number")
    java.lang.Double.toString(v)
  }
}
