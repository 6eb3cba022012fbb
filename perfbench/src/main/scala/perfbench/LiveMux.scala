package perfbench

import java.net.{DatagramPacket, DatagramSocket, InetAddress, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.http.DocServer
import graft.sources.UdpSource
import graft.streaming.{StreamingOps, TableState}
import graft.ts.TsCodec

/** live_mux: the generator's stream sent open-loop as 1316-byte datagrams
  * into `UdpSource`, through decode → PSI-PID filter →
  * `StreamingOps.sectionsStream` → `TableState.latestTablesStream` →
  * `DocServer.startLive`, while one closed-loop HTTP poller reads
  * `/program_processors` on one connection.
  *
  * A seeded schedule bumps one program's PMT version every 150 ms,
  * round-robin over the programs. A bump is visible when a GET shows
  * that version (or a later one) for its program; its latency counts
  * from the bump's due time.
  *
  * Every run sends the whole rate ladder: one 19.39 Mbit/s ATSC mux
  * (12 892 pkt/s) and its doublings. A rung is sustained when its p90
  * push-to-visible latency is at most 2.5 s, its backlog does not grow,
  * and nothing is lost. End to end: `latency_ms_*` are the base rung's
  * push-to-visible percentiles, `rate_per_s` the packet rate received at
  * the top rung, `cpu_s` the process CPU over the base rung. */
object LiveMux {
  val Cores = 4
  /** A broadcast mux carries about eight programs. */
  val Programs = 8
  /** Packets per second of one ATSC mux. At twice this rate (one 38 Mbit/s
    * mux) the pipeline's one-partition decode runs near its capacity, so a
    * batch's length, and with it latency, grows about three times as fast
    * as the per-packet cost: over ten runs the base rung's p50 spread by
    * 0.27–0.31 of its median there, against 0.08–0.13 at this rate. */
  val BaseRate = 19.39e6 / (8 * TsCodec.PacketSize)
  val RungFactors = Seq(1, 2, 4, 8)
  /** The base rate sent, without bumps, before the first rung is
    * measured: it warms the JIT and brings the stream to its steady batch
    * size. In a traced run, the base rung measured straight after set-up
    * read 15–20 % slower than the one measured a rung later. */
  val LeadNs = 4000000000L
  /** Shares of `--seconds`: the base rung and each rung above it. */
  val BaseShare = 0.7
  val UpperShare = 0.1
  /** One bump every 150 ms: over 100 a run, and few enough that a traced
    * run's bumps fit in each program's 32 versions (`versionBound`). */
  val BumpEveryNs = 150000000L
  val GateMs = 2500.0
  val ReferenceMs = 1000.0
  val DeadlineNs = 10000000000L
  /** The base-rate tail after the ladder: one and a half cycles, so at
    * least one whole PSI burst. */
  val TailNs = 300000000L
  val MaxSlopeShare = 0.2
  val SetupRepeats = 3
  val PacketsPerDatagram = 7
  val DocPath = "/api/1.0/stream_procs/mpeg2_sp-0/program_processors"

  /** The most bumps one run makes: one per 150 ms of every rung, plus two
    * per rung for rounding and sender lateness. A traced run measures the
    * base rung once more, untraced, before its ladder. */
  def maxBumps(seconds: Int, trace: Boolean): Long = {
    val base = if (trace) 2 else 1
    val ns = seconds * 1e9 * (base * BaseShare +
      (RungFactors.length - 1) * UpperShare)
    (ns / BumpEveryNs).toLong + 2 * (base - 1 + RungFactors.length)
  }

  /** Bound on the initial versions that keeps every program from passing
    * 31 in a run. `TableState.composeToRegister` keeps the highest version
    * number when one micro-batch completes several versions of a table, so
    * a wrap from 31 to 0 inside one batch leaves the live document stale
    * until the next bump (README.md, "Findings"; `RegisterWrapSpec`). */
  def versionBound(seconds: Int, trace: Boolean): Int = {
    val perProgram = (maxBumps(seconds, trace) + Programs - 1) / Programs
    require(perProgram <= 31,
      s"--seconds $seconds would bump a program past version 31")
    (32 - perProgram).toInt
  }

  final class Bump(val program: Int, val version: Int, val dueNs: Long,
      val rung: Int) {
    @volatile var visibleNs = 0L
    /** Push-to-visible latency; a bump never seen counts as the deadline. */
    def latencyMs: Double =
      if (visibleNs == 0L) DeadlineNs / 1e6 else (visibleNs - dueNs) / 1e6
  }

  final case class Get(startNs: Long, endNs: Long, changed: Boolean,
      ok: Boolean) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  final case class Progress(atNs: Long, sent: Long, p: StreamingQueryProgress) {
    def endOffset: Long = p.sources.map(_.endOffset.toLong).sum
    def backlog: Long = sent - endOffset
  }

  /** One running pipeline: session, streaming query, document server. */
  final class Live(val s: SparkSession, val q: StreamingQuery,
      val srv: DocServer, val udpPort: Int, val mux: Mux) {
    val sent = new AtomicLong
    val progress = new ConcurrentLinkedQueue[Progress]()
    private val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.id == q.id)
          progress.add(Progress(System.nanoTime(), sent.get, e.progress))
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    s.streams.addListener(listener)

    /** Records the stream has taken in, read from the query itself: the
      * listener's copy can trail the stream by a batch. */
    def processed: Long =
      Option(q.lastProgress).map(_.sources.map(_.endOffset.toLong).sum)
        .getOrElse(0L)

    def stop(): Unit = {
      q.stop()
      srv.stop()
      Session.stop(s)
    }
  }

  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()

  def get(port: Int): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$port$DocPath")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private val DocRe =
    """\{"program_number":(\d+),"reference_pid":(\d+),"pat_version":(\d+),"pcr_pid":(\d+),"n_es":(\d+),"pmt_version":(\d+)\}""".r

  /** program → (reference_pid, pat_version, pcr_pid, n_es, pmt_version) */
  def parseDoc(body: String): Map[Int, (Int, Int, Int, Int, Int)] =
    DocRe.findAllMatchIn(body).map(m =>
      m.group(1).toInt -> (m.group(2).toInt, m.group(3).toInt,
        m.group(4).toInt, m.group(5).toInt, m.group(6).toInt)).toMap

  def expectedDoc(versions: Seq[Int]): Map[Int, (Int, Int, Int, Int, Int)] =
    versions.zipWithIndex.map { case (v, i) =>
      val p = Gen.program(i + 1, v)
      p.number -> (p.referencePid, 1, p.pcrPid, p.nEs, p.pmtVersion)
    }.toMap

  private val loopback = InetAddress.getByName("127.0.0.1")

  /** Start a pipeline, put one cycle of PSI on the wire and wait until
    * the document shows every program. */
  def start(a: Main.Args, idx: Int, initial: Array[Int]): Live = {
    val s = Session.start(Cores, a.work)
    import s.implicits._
    UdpSource.boundPorts.remove(0)
    val psiPids: Set[Int] =
      Set(0, Gen.SdtPid) ++ (1 to Programs).map(Gen.pmtPid)
    val pkts = s.readStream.format("graft.sources.UdpSource")
      .option("port", "0").option("recordLength", "188").load()
      .as[(Long, Array[Byte])]
      .flatMap { case (seq, bytes) => TsCodec.decode(bytes, seq) }
      .filter(p => psiPids.contains(p.pid))
    val tables = TableState.latestTablesStream(
      StreamingOps.sectionsStream(pkts))
    val (srv, q) = DocServer.startLive(s, tables,
      s"${a.work}/register-$idx")
    val deadline = System.nanoTime() + 30000000000L
    while (!UdpSource.boundPorts.containsKey(0)) {
      require(System.nanoTime() < deadline, "UDP source never bound")
      Thread.sleep(5)
    }
    val live = new Live(s, q, srv, UdpSource.boundPorts.get(0),
      new Mux(Programs, initial))
    sendCycle(live)
    val want = expectedDoc(initial.toSeq)
    var shown = Map.empty[Int, (Int, Int, Int, Int, Int)]
    while (shown != want) {
      require(System.nanoTime() < deadline,
        s"initial document never converged: $shown")
      val r = get(srv.port)
      shown = if (r.statusCode() == 200) parseDoc(r.body()) else Map.empty
      if (shown != want) Thread.sleep(20)
    }
    live
  }

  /** Send one cycle of the stream as fast as the socket takes it. */
  def sendCycle(live: Live): Unit = {
    val sock = new DatagramSocket()
    try {
      val buf = new Array[Byte](PacketsPerDatagram * TsCodec.PacketSize)
      (0 until Gen.CyclePackets / PacketsPerDatagram).foreach { _ =>
        live.mux.fill(buf)
        sock.send(new DatagramPacket(buf, buf.length, loopback, live.udpPort))
        live.sent.addAndGet(PacketsPerDatagram)
      }
    } finally sock.close()
  }

  /** Closed-loop poller: one GET after another on one connection. Marks
    * bumps visible as the document shows their versions. */
  final class Poller(live: Live, bumps: ConcurrentLinkedQueue[Bump])
      extends Thread("perfbench-poller") {
    @volatile var running = true
    val gets = new ConcurrentLinkedQueue[Get]()
    private val pending = mutable.Map.empty[Int, mutable.Queue[Bump]]
    private val seen = new java.util.HashSet[Bump]()

    override def run(): Unit = {
      var prev = ""
      while (running) {
        val t0 = System.nanoTime()
        val r = try Some(get(live.srv.port)) catch {
          case _: java.io.IOException => None
        }
        val t1 = System.nanoTime()
        val ok = r.exists(_.statusCode() == 200)
        val body = if (ok) r.get.body() else prev
        gets.add(Get(t0, t1, body != prev, ok))
        prev = body
        bumps.forEach { b =>
          if (seen.add(b))
            pending.getOrElseUpdate(b.program, mutable.Queue.empty) += b
        }
        parseDoc(body).foreach { case (p, (_, _, _, _, v)) =>
          pending.get(p).foreach { q =>
            val i = q.indexWhere(_.version == v)
            // the shown version, and every earlier bump it superseded
            if (i >= 0) (0 to i).foreach(_ => q.dequeue().visibleNs = t1)
          }
        }
      }
    }
  }

  /** What one rung's sender did. Statistics cover `[tm, t1]`: the first
    * `lead` of a rung only brings the stream to its steady state. */
  final case class Sent(t0: Long, tm: Long, t1: Long, lateNs: Long,
      cpuNs: Long)

  /** Open-loop sender for one rung: datagram `i` is due at
    * `t0 + i * 7 / rate`; bumps, when on, are due every 150 ms after the
    * lead-in. */
  def sendRung(live: Live, rate: Double, leadNs: Long, durNs: Long,
      rung: Int, order: IndexedSeq[Int], bumpCount: AtomicLong,
      bumps: ConcurrentLinkedQueue[Bump], bump: Boolean = true): Sent = {
    val sock = new DatagramSocket()
    val buf = new Array[Byte](PacketsPerDatagram * TsCodec.PacketSize)
    val pkt = new DatagramPacket(buf, buf.length, loopback, live.udpPort)
    val nsPerDatagram = PacketsPerDatagram * 1e9 / rate
    val t0 = System.nanoTime()
    val tm = t0 + leadNs
    var cpu0 = if (leadNs == 0L) Proc.cpuNs() else -1L
    var bumpDue = tm + BumpEveryNs / 2
    var late = 0L
    var i = 0L
    var last = t0
    try {
      var due = t0
      while (due - t0 < leadNs + durNs) {
        var now = System.nanoTime()
        // park, never spin: a spinning sender would hold a core the
        // four-core pipeline needs; a datagram a wake-up finds overdue goes
        // out at once, so the rate holds and lateness stays reported
        while (now < due) {
          LockSupport.parkNanos(due - now)
          now = System.nanoTime()
        }
        if (cpu0 < 0 && now >= tm) cpu0 = Proc.cpuNs()
        late = math.max(late, now - due)
        while (bump && bumpDue <= now) {
          val p = order((bumpCount.getAndIncrement() % order.length).toInt)
          bumps.add(new Bump(p, live.mux.bump(p), bumpDue, rung))
          bumpDue += BumpEveryNs
        }
        live.mux.fill(buf)
        sock.send(pkt)
        live.sent.addAndGet(PacketsPerDatagram)
        last = System.nanoTime()
        i += 1
        due = t0 + (i * nsPerDatagram).toLong
      }
    } finally sock.close()
    Sent(t0, tm, last, late, Proc.cpuNs() - cpu0)
  }

  /** Wait until the stream has taken in everything received: no trigger
    * active and the processed offset steady for two looks. */
  def drain(live: Live): Unit = {
    val deadline = System.nanoTime() + 30000000000L
    Thread.sleep(100)
    var steady = 0
    var last = -1L
    while (steady < 2 && System.nanoTime() < deadline) {
      val now = live.processed
      val idle = !live.q.status.isTriggerActive
      steady = if (idle && now == last) steady + 1 else 0
      last = now
      Thread.sleep(100)
    }
    require(steady >= 2, "stream never drained")
  }

  /** Wait until every bump is visible or past `deadline(bump)`. */
  def awaitVisible(bs: Seq[Bump], deadline: Bump => Long): Unit =
    bs.foreach { b =>
      while (b.visibleNs == 0L && System.nanoTime() < deadline(b))
        Thread.sleep(10)
    }

  final case class RungOut(factor: Int, id: Int, sent: Sent,
      records: Long, received: Long, progress: Seq[Progress],
      gets: Seq[Get]) {
    def bumps(all: ConcurrentLinkedQueue[Bump]): Seq[Bump] =
      all.asScala.filter(_.rung == id).toSeq
    def cpuS: Double = sent.cpuNs / 1e9
    def rung(all: ConcurrentLinkedQueue[Bump]): Stats.Rung = Stats.Rung(
      offered = BaseRate * factor,
      received = received / ((sent.t1 - sent.t0) / 1e9),
      visibleP90Ms = Stats.percentile(bumps(all).map(_.latencyMs), 90),
      backlogSlope = Stats.slope(progress.map(p =>
        ((p.atNs - sent.tm) / 1e9, p.backlog.toDouble))),
      lost = records - received)
  }

  private val rungIds = new java.util.concurrent.atomic.AtomicInteger

  /** Send each rung, draining the stream after it so its received count
    * is its own; then wait once for every bump's visibility. The first
    * rung opens with a lead-in that is sent but not measured. */
  def ladder(live: Live, factors: Seq[Int], leadNs: Long,
      rungNs: Int => Long, poller: Poller,
      bumps: ConcurrentLinkedQueue[Bump], order: IndexedSeq[Int],
      bumpCount: AtomicLong): Seq[RungOut] = {
    val outs = factors.zipWithIndex.map { case (f, k) =>
      val id = rungIds.incrementAndGet()
      val sent0 = live.sent.get
      val recv0 = live.processed
      val s = sendRung(live, BaseRate * f, if (k == 0) leadNs else 0L,
        rungNs(k), id, order, bumpCount, bumps)
      drain(live)
      val prog = live.progress.asScala.toSeq
        .filter(p => p.atNs >= s.tm && p.atNs <= s.t1)
      val gets = poller.gets.asScala.filter(g =>
        g.startNs >= s.tm && g.endNs <= s.t1).toSeq
      RungOut(f, id, s, live.sent.get - sent0, live.processed - recv0,
        prog, gets)
    }
    // base-rung bumps get the full deadline; above it a bump only has to
    // be seen within the gate, so waiting longer would not change a rung
    val head = outs.head.bumps(bumps)
    awaitVisible(head, _.dueNs + DeadlineNs)
    val upper = outs.tail.flatMap(_.bumps(bumps))
    upper.lastOption.foreach(last => awaitVisible(upper,
      _ => last.dueNs + (GateMs * 1e6).toLong))
    outs.foreach(r => Proc.log(s"rung x${r.factor}: ${r.rung(bumps)} over " +
      s"${r.bumps(bumps).length} bumps, ${r.progress.length} batches, " +
      s"${r.gets.length} GETs; batch ms " + r.progress.map(p =>
        s"${p.p.durationMs.get("triggerExecution")}/${p.p.numInputRows}")
        .mkString(" ")))
    outs
  }

  def run(a: Main.Args): Outcome = {
    val out = new Outcome
    val t = new Trace(a.runId, a.trace)
    val initial = Gen.initialVersions(a.seed, Programs,
      versionBound(a.seconds, a.trace))
    val order = new scala.util.Random(a.seed).shuffle((1 to Programs).toVector)
    var idx = 0
    val (live, setups) = Proc.repeatSetup(SetupRepeats) {
      idx += 1
      start(a, idx, initial)
    }(_.stop())
    out.e2e("setup_s") = Stats.median(setups)
    Proc.log(s"set up: $setups")

    val bumps = new ConcurrentLinkedQueue[Bump]()
    val bumpCount = new AtomicLong
    val poller = new Poller(live, bumps)
    poller.setDaemon(true)
    poller.start()
    def rungNs(k: Int): Long =
      (a.seconds * (if (k == 0) BaseShare else UpperShare) * 1e9).toLong
    def run(factors: Seq[Int], leadNs: Long) =
      ladder(live, factors, leadNs, rungNs, poller, bumps, order, bumpCount)

    val untraced = if (a.trace) run(Seq(1), LeadNs).headOption else None
    if (a.trace) Counters.attach(live.s)
    val rungs = t.span("ladder")(run(RungFactors, if (a.trace) 0L else LeadNs))
    poller.running = false
    poller.join(30000)
    // end on a few cycles at the base rate: PSI repetition brings back any
    // table whose last copies were lost at the top rung, and the stream's
    // last batch (kept until the next one) is small when the heap is read
    sendRung(live, BaseRate, 0L, TailNs, 0, order, bumpCount, bumps,
      bump = false)
    drain(live)
    val heap = Proc.liveHeapMb()

    // every bump of the base rung visible before its deadline, and the
    // document equal to the generator's final PSI state
    val base = rungs.head
    val baseBumps = base.bumps(bumps)
    baseBumps.foreach(b => out.check(b.visibleNs != 0L,
      s"bump of program ${b.program} to version ${b.version} not visible " +
        s"within ${DeadlineNs / 1000000} ms"))
    val want = expectedDoc(live.mux.versions.toSeq)
    val deadline = System.nanoTime() + DeadlineNs
    var shown = Map.empty[Int, (Int, Int, Int, Int, Int)]
    while (shown != want && System.nanoTime() < deadline) {
      val r = get(live.srv.port)
      shown = if (r.statusCode() == 200) parseDoc(r.body()) else Map.empty
      if (shown != want) Thread.sleep(20)
    }
    out.check(shown == want, s"final document differs: $shown vs $want")

    val measured = rungs.map(_.rung(bumps))
    val sustained = Stats.sustainedRate(measured, GateMs, MaxSlopeShare)
    val baseLat = baseBumps.map(_.latencyMs)
    out.e2e("cpu_s") = base.cpuS
    out.e2e("heap_live_mb") = heap
    out.e2e("rate_per_s") = measured.last.received
    out.e2e("latency_ms_p50") = Stats.median(baseLat)
    out.e2e("latency_ms_p90") = Stats.percentile(baseLat, 90)
    out.named("visible_ms_p50") = (Stats.median(baseLat), "ms")
    out.named("visible_ms_p90") = (Stats.percentile(baseLat, 90), "ms")
    out.named("visible_within_reference_1s_share") = (
      baseLat.count(_ <= ReferenceMs).toDouble / baseLat.length, "ratio")
    out.named("doc_get_ms_p50") = (Stats.median(base.gets.map(_.ms)), "ms")
    out.named("sustained_pkts_per_s") = (sustained, "pkt/s")
    out.named("overload_received_pkts_per_s") =
      (measured.last.received, "pkt/s")
    out.named("bumps") = (bumps.size.toDouble, "count")
    // a failed GET is reported, not a failed check: the live register is
    // rewritten in place, so a GET that races a batch's upsert can read a
    // file the upsert just replaced (README.md, "Findings")
    out.named("doc_get_errors") =
      (poller.gets.asScala.count(!_.ok).toDouble, "count")
    rungs.zip(measured).foreach { case (r, m) =>
      val k = s"rung_x${r.factor}"
      out.named(s"$k.received_pkts_per_s") = (m.received, "pkt/s")
      out.named(s"$k.visible_ms_p90") = (m.visibleP90Ms, "ms")
      out.named(s"$k.backlog_slope") = (m.backlogSlope, "1/s")
      out.named(s"$k.lost") = (m.lost.toDouble, "count")
    }

    untraced.foreach(u => layers(out, rungs, u, bumps, poller))
    live.stop()
    t.write(s"${a.work}/trace-${a.runId}.json")
    out.named("failed_ratio") =
      (out.failed.toDouble / math.max(1L, out.attempted), "ratio")
    out
  }

  private def layers(out: Outcome, rungs: Seq[RungOut], untraced: RungOut,
      bumps: ConcurrentLinkedQueue[Bump], poller: Poller): Unit = {
    val L = out.layers
    val base = rungs.head
    val sent = rungs.map(_.records).sum
    val received = rungs.map(_.received).sum
    L("sources.udp.records_sent") = sent.toDouble
    L("sources.udp.records_received") = received.toDouble
    L("sources.udp.loss_ratio") = (sent - received).toDouble / sent
    L("sources.udp.backlog_records_max") =
      rungs.flatMap(_.progress.map(_.backlog.toDouble)).maxOption.getOrElse(0.0)
    L("sources.udp.backlog_slope_records_per_s") =
      base.rung(bumps).backlogSlope
    L("gen.late_ms_max") = rungs.map(_.sent.lateNs).max / 1e6

    val ps = base.progress.map(_.p)
    def p50(f: StreamingQueryProgress => Double): Double =
      if (ps.isEmpty) 0.0 else Stats.median(ps.map(f))
    def dur(k: String)(p: StreamingQueryProgress): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    L("streaming.batch.batches") = rungs.map(_.progress.length).sum.toDouble
    L("streaming.batch.input_rows_p50") = p50(_.numInputRows.toDouble)
    L("streaming.batch.trigger_ms_p50") = p50(dur("triggerExecution"))
    L("streaming.batch.add_batch_ms_p50") = p50(dur("addBatch"))
    L("streaming.batch.query_planning_ms_p50") = p50(dur("queryPlanning"))
    L("streaming.batch.wal_commit_ms_p50") = p50(dur("walCommit"))
    L("streaming.batch.commit_offsets_ms_p50") = p50(dur("commitOffsets"))
    L("streaming.batch.latest_offset_ms_p50") = p50(dur("latestOffset"))
    L("streaming.batch.get_batch_ms_p50") = p50(dur("getBatch"))
    // progress lists state operators top-down: the table state sits
    // above the section assembly in the plan
    Seq("tables" -> 0, "sections" -> 1).foreach { case (op, i) =>
      val st = ps.filter(_.stateOperators.length > i)
        .map(_.stateOperators(i))
      def med(f: org.apache.spark.sql.streaming.StateOperatorProgress =>
          Long): Double =
        if (st.isEmpty) 0.0 else Stats.median(st.map(x => f(x).toDouble))
      L(s"streaming.state.$op.rows_total") =
        st.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)
      L(s"streaming.state.$op.memory_bytes") =
        st.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0)
      L(s"streaming.state.$op.commit_ms_p50") = med(_.commitTimeMs)
      L(s"streaming.state.$op.all_updates_ms_p50") = med(_.allUpdatesTimeMs)
    }

    val gets = base.gets
    def gp50(gs: Seq[Get]): Double =
      if (gs.isEmpty) 0.0 else Stats.median(gs.map(_.ms))
    L("http.gets") = poller.gets.size.toDouble
    L("http.get_ms_p50") = gp50(gets)
    L("http.get_ms_unchanged_p50") = gp50(gets.filterNot(_.changed))
    L("http.get_ms_changed_p50") = gp50(gets.filter(_.changed))
    L("trace.overhead.visible_ms_p50") =
      Stats.median(base.bumps(bumps).map(_.latencyMs)) -
        Stats.median(untraced.bumps(bumps).map(_.latencyMs))
  }
}
