package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ts.TsPipeline

/** capture_scan: repeated batch passes over one seeded capture file.
  *
  * A pass is `TsPipeline.packets` → `ccAudit` and `psiSections` →
  * `latestTables` → PAT/PMT/SDT → `programsSummaryFromTables` → one JSON
  * document per program. Every pass is checked against the generator's
  * closed form. End to end: `rate_per_s` is packets per second of the
  * median pass, `latency_ms_*` the pass wall times, `cpu_s` the median
  * pass's process CPU, all over the passes after the JIT warm-up
  * (`WarmShare`). */
object CaptureScan {
  val Cores = 4
  val Programs = 32
  val Cycles = 150 // 375 000 packets, 70 MB
  val Bumps = 40
  val CcGaps = 25
  val SetupRepeats = 3
  /** Passes counted at the least. */
  val MinPasses = 3
  /** Share of `--seconds` whose passes warm the JIT to the full-size input
    * and are logged but not counted: pass times fall by up to a fifth over
    * the first 8 s of a run. The first pass is never counted. */
  val WarmShare = 0.4

  /** What one pass produced. */
  final case class PassOut(packets: Long, ccPids: Long, ccPackets: Long,
      ccErrors: Long, sections: Long, tableVersions: Long, latestRows: Long,
      docs: Seq[String])

  def pass(s: SparkSession, path: String, t: Trace): PassOut = {
    val pk = TsPipeline.packets(s, path)
    // psiSections pins the decoded packets; the CC audit reads the pin
    val secs = t.span("psi_sections")(TsPipeline.psiSections(s, pk).cache())
    try {
      val nPk = pk.count()
      val cc = t.span("cc_audit")(TsPipeline.ccAudit(pk).collect())
      val nSecs = t.span("psi_sections.count")(secs.count())
      val versions = secs.filter(col("crcOk"))
        .select("pid", "tableId", "tableIdExtension", "versionNumber")
        .distinct().count()
      val latest = t.span("latest_tables")(
        TsPipeline.latestTables(secs).cache())
      try {
        val nLatest = latest.count()
        val summary = TsPipeline.programsSummaryFromTables(
          TsPipeline.patFromLatest(s, latest),
          TsPipeline.pmtFromLatest(s, latest),
          TsPipeline.sdtFromLatest(s, latest))
        val docs = t.span("doc_json")(docsOf(summary))
        PassOut(nPk, cc.length.toLong, cc.map(_.getLong(1)).sum,
          cc.map(_.getLong(2)).sum, nSecs, versions, nLatest, docs)
      } finally latest.unpersist(blocking = true)
    } finally {
      secs.unpersist(blocking = true)
      pk.unpersist(blocking = true)
    }
  }

  def docsOf(summary: DataFrame): Seq[String] =
    summary.orderBy("program_number")
      .select(to_json(struct(summary.columns.map(col).toIndexedSeq: _*)))
      .collect().map(_.getString(0)).toSeq

  def expectedDocs(c: Capture): Seq[String] =
    c.finalPrograms.map(p =>
      s"""{"program_number":${p.number},"reference_pid":${p.referencePid},""" +
        s""""service_name":"${p.serviceName}","pcr_pid":${p.pcrPid},""" +
        s""""n_es":${p.nEs}}""")

  def check(out: Outcome, c: Capture, p: PassOut, tag: String): Unit = {
    def eq(what: String, got: Long, want: Long): Unit =
      out.check(got == want, s"$tag $what: got $got, want $want")
    eq("packets", p.packets, c.packets)
    eq("cc pids", p.ccPids, c.payloadPids)
    eq("cc payload packets", p.ccPackets,
      c.packets - c.cycles.toLong * c.programs)
    eq("cc errors", p.ccErrors, c.ccErrors)
    eq("sections", p.sections, c.sections)
    eq("table versions", p.tableVersions, c.tableVersions)
    eq("latest rows", p.latestRows, c.latestRows)
    val want = expectedDocs(c)
    out.check(p.docs == want, s"$tag summary docs differ: got " +
      p.docs.take(3).mkString(" ") + " ... want " + want.take(3).mkString(" "))
  }

  def run(a: Main.Args): Outcome = {
    val out = new Outcome
    val t = new Trace(a.runId, a.trace)
    val warmPath = s"${a.work}/warmup.ts"
    val path = s"${a.work}/capture.ts"
    val warm = Capture.write(warmPath, a.seed + 1, Programs, 20, 4, 3)
    val cap = Capture.write(path, a.seed, Programs, Cycles, Bumps, CcGaps)
    Proc.log("inputs written")

    val (s, setups) = Proc.repeatSetup(SetupRepeats) {
      val s = Session.start(Cores, a.work)
      check(out, warm, pass(s, warmPath, new Trace("warmup", false)),
        "warm-up")
      s
    }(Session.stop)
    out.e2e("setup_s") = Stats.median(setups)
    Proc.log(s"set up: $setups")

    // a traced run only needs the untraced median to set tracing against;
    // returns every pass's wall and CPU seconds, and the counted ones
    def passes(tr: Trace)
        : (Seq[(Double, Double)], Seq[(Double, Double)]) = {
      val start = System.nanoTime()
      val runNs = if (a.trace) 0L else a.seconds * 1000000000L
      val warmEnd = start + (runNs * WarmShare).toLong
      val res = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
      val counted = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
      while (counted.length < MinPasses ||
          System.nanoTime() < start + runNs) {
        val c0 = Proc.cpuNs()
        val t0 = System.nanoTime()
        val p = tr.span("composed")(pass(s, path, tr))
        val r = ((System.nanoTime() - t0) / 1e9, (Proc.cpuNs() - c0) / 1e9)
        if (res.nonEmpty && t0 >= warmEnd) counted += r
        res += r
        check(out, cap, p, s"pass ${res.length}")
      }
      (res.toSeq, counted.toSeq)
    }

    val (all, measured) = passes(new Trace(a.runId, false))
    Proc.log(s"passes: ${all.map(_._1)}, counted: ${measured.map(_._1)}")
    val walls = measured.map(_._1)
    out.e2e("cpu_s") = Stats.median(measured.map(_._2))
    out.e2e("rate_per_s") = cap.packets / Stats.median(walls)
    out.e2e("latency_ms_p50") = Stats.median(walls) * 1000
    out.e2e("latency_ms_p90") = Stats.percentile(walls, 90) * 1000
    out.e2e("heap_live_mb") = Proc.liveHeapMb()
    Proc.log("heap read")
    out.named("capture_pkts_per_s") = (out.e2e("rate_per_s"), "pkt/s")
    out.named("capture_pass_s_p50") = (Stats.median(walls), "s")
    out.named("capture_passes") = (walls.length.toDouble, "count")

    if (a.trace) {
      Counters.attach(s)
      traced(s, path, cap, t, out, Stats.median(walls))
    }
    Session.stop(s)
    Proc.log("stopped")
    if (a.trace) {
      // the same composed pass on one core: the baseline the four-core
      // figure scales against
      val s1 = Session.start(1, a.work)
      val t0 = System.nanoTime()
      check(out, cap, pass(s1, path, new Trace("single", false)), "local[1]")
      out.layers("ts.single_core.pkts_per_s") =
        cap.packets / ((System.nanoTime() - t0) / 1e9)
      Session.stop(s1)
      QuerySweep.traced(a, out, t)
      t.write(s"${a.work}/trace-${a.runId}.json")
    }
    out.named("failed_ratio") =
      (out.failed.toDouble / math.max(1L, out.attempted), "ratio")
    out
  }

  /** Each layer alone over its input materialized beforehand, then the
    * composed pass with Spark counters, then the overhead of tracing. */
  private def traced(s: SparkSession, path: String, cap: Capture, t: Trace,
      out: Outcome, untracedPassS: Double): Unit = {
    val L = out.layers
    def timed[T](name: String)(body: => T): (T, t.Span) = {
      val r = t.span(name)(body)
      (r, t.all.filter(_.name == name).last)
    }
    val pkAlone = TsPipeline.packets(s, path)
    val c0 = Proc.cpuNs()
    val (_, dec) = timed("layer.decode")(pkAlone.count())
    L("ts.decode.s") = dec.seconds
    L("ts.decode.cpu_s") = (Proc.cpuNs() - c0) / 1e9
    L("ts.decode.pkts_per_s") = cap.packets / dec.seconds

    val pk = TsPipeline.packets(s, path).cache()
    pk.count()
    val (_, cc) = timed("layer.cc_audit")(TsPipeline.ccAudit(pk).collect())
    L("ts.cc_audit.s") = cc.seconds
    L("ts.cc_audit.shuffle_write_bytes") =
      cc.counters("shuffle_write_bytes").toDouble
    val (nSecs, ps) = timed("layer.psi_sections")(
      TsPipeline.psiSections(s, pk, pin = false).count())
    L("ts.psi_sections.s") = ps.seconds
    L("ts.psi_sections.shuffle_write_bytes") =
      ps.counters("shuffle_write_bytes").toDouble
    L("ts.psi_sections.sections_out") = nSecs.toDouble
    out.check(nSecs == cap.sections, s"layer sections $nSecs")

    val secs = TsPipeline.psiSections(s, pk, pin = false).cache()
    secs.count()
    val (_, lt) = timed("layer.latest_tables")(
      TsPipeline.latestTables(secs).collect())
    L("ts.latest_tables.s") = lt.seconds
    val latest = TsPipeline.latestTables(secs).cache()
    latest.count()
    val pat = TsPipeline.patFromLatest(s, latest).cache()
    val pmt = TsPipeline.pmtFromLatest(s, latest).cache()
    val sdt = TsPipeline.sdtFromLatest(s, latest).cache()
    Seq(pat, pmt, sdt).foreach(_.count())
    val (_, sj) = timed("layer.summary_join")(
      TsPipeline.programsSummaryFromTables(pat, pmt, sdt).collect())
    L("ts.summary_join.s") = sj.seconds
    val summary = TsPipeline.programsSummaryFromTables(pat, pmt, sdt).cache()
    summary.count()
    val (docs, dj) = timed("layer.doc_json")(docsOf(summary))
    L("ts.doc_json.s") = dj.seconds
    out.check(docs == expectedDocs(cap), "layer docs differ")
    Seq(summary, pat, pmt, sdt, latest, secs, pk)
      .foreach(_.unpersist(blocking = true))

    val (p, comp) = timed("composed.traced")(pass(s, path, t))
    check(out, cap, p, "traced pass")
    L("ts.composed.stages") = comp.counters("stages").toDouble
    L("ts.composed.tasks") = comp.counters("tasks").toDouble
    L("ts.composed.gc_ms") = comp.counters("gc_ms").toDouble
    L("ts.composed.spill_bytes") = comp.counters("spill_bytes").toDouble
    L("trace.overhead.capture_pass_s") = comp.seconds - untracedPassS
  }
}
