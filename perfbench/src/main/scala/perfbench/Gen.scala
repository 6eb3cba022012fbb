package perfbench

import scala.collection.mutable

import graft.ts.{Descriptor, EsEntry, Fixtures, PatRow, PmtProgram, PsiCodec, TsCodec}

/** Seeded synthetic multi-program transport stream, built only with the
  * engine's own encoders (`PsiCodec`, `Fixtures.sectionToPackets`,
  * `TsCodec.encode`).
  *
  * The stream is a run of fixed-length cycles; one cycle stands for
  * 100 ms of stream time. Every cycle opens with a PSI burst (PAT, SDT,
  * one PMT per program) and one PCR-only packet per program, then fills
  * up with ES packets spread round-robin over every program's video and
  * audio PID. At one broadcast mux rate (≈25 000 pkt/s) a 2 500-packet
  * cycle is 100 ms and the PSI burst is about 1 % of the packets.
  *
  * Program `p` (1-based) carries its PMT on `pmtPid(p)` and its PCR on
  * its video PID. A PMT version's ES loop holds video and audio, plus a
  * subtitle stream when the version is odd, so a bump changes the
  * document and not only the version number. */
object Gen {
  val TsId = 0x0BEB
  val SdtPid = 0x11
  val CyclePackets = 2500
  /** Stream time one cycle stands for, in 27 MHz PCR ticks (100 ms). */
  val CyclePcrTicks = 2700000L

  def pmtPid(p: Int): Int = 0x100 + 0x10 * p
  def videoPid(p: Int): Int = pmtPid(p) + 1
  def audioPid(p: Int): Int = pmtPid(p) + 2
  def subtitlePid(p: Int): Int = pmtPid(p) + 3
  def serviceName(p: Int): String = s"Service $p"

  def esList(p: Int, version: Int): Seq[EsEntry] =
    Seq(EsEntry(0x1B, videoPid(p), Nil), EsEntry(0x03, audioPid(p), Nil)) ++
      (if ((version & 1) == 1) Seq(EsEntry(0x06, subtitlePid(p), Nil))
       else Nil)

  def pmtSection(p: Int, version: Int): Array[Byte] =
    PsiCodec.encodePmt(PmtProgram(p, videoPid(p), Nil, esList(p, version)),
      version)

  def patSection(programs: Int): Array[Byte] =
    PsiCodec.encodePat((1 to programs).map(p => PatRow(p, pmtPid(p))),
      TsId, version = 1)

  def sdtSection(programs: Int): Array[Byte] = {
    val services = (1 to programs).map { p =>
      val desc = PsiCodec.encodeDescriptors(Seq(Descriptor(0x48,
        Array.emptyByteArray, Some(1), Some("perfbench"),
        Some(serviceName(p)), None)))
      Array[Byte]((p >> 8).toByte, p.toByte, 0xFC.toByte,
        ((4 << 5) | (desc.length >> 8 & 0x0F)).toByte,
        (desc.length & 0xFF).toByte) ++ desc
    }
    PsiCodec.encodeSection(0x42, TsId, 3, currentNext = true, 0, 0,
      Array[Byte](0x00, 0x01, 0xFF.toByte) ++ services.flatten)
  }

  /** Initial PMT version of each program, drawn from the seed below
    * `bound`. */
  def initialVersions(seed: Long, programs: Int, bound: Int = 32)
      : Array[Int] = {
    require(bound >= 1 && bound <= 32, "versions are 5-bit")
    val rng = new scala.util.Random(seed)
    Array.fill(programs)(rng.nextInt(bound))
  }

  /** One program's row in the programs summary. */
  case class Program(number: Int, referencePid: Int, serviceName: String,
      pcrPid: Int, nEs: Int, pmtVersion: Int)

  def program(p: Int, version: Int): Program =
    Program(p, pmtPid(p), serviceName(p), videoPid(p),
      esList(p, version).length, version)
}

/** Packet-at-a-time multiplexer over [[Gen]]'s layout. `bump` raises one
  * program's PMT version and puts the new section on the wire with the
  * next packet; the regular PSI burst then repeats it every cycle.
  * `ccGaps` and `discontinuity` are indices into the run of ES packets:
  * a gap skips one continuity-counter value (one CC error), the
  * discontinuity packet jumps the counter with its AF discontinuity flag
  * set (legal, not an error). */
final class Mux(val programs: Int, initial: Array[Int],
    ccGaps: Set[Long] = Set.empty, discontinuity: Long = -1L) {
  require(programs >= 1 && programs <= 400, "programs out of range")
  require(initial.length == programs, "one initial version per program")
  import Gen._

  val versions: Array[Int] = initial.clone()
  private val cc = new Array[Int](0x2000)
  private val pending = mutable.Queue.empty[Array[Byte]]
  private val sdt = sdtSection(programs)
  private val esPids =
    (1 to programs).flatMap(p => Seq(videoPid(p), audioPid(p))).toArray
  private val esPayload = Array.tabulate[Byte](184)(i => (i * 7).toByte)
  private val discPayload = esPayload.take(182)
  private var pos = 0
  private var esIndex = 0L
  private var cycle = 0L

  /** Packets the PSI burst and PCRs take from every cycle. */
  val psiPacketsPerCycle: Int =
    packetCount(patSection(programs)) + packetCount(sdt) + 2 * programs
  require(psiPacketsPerCycle < CyclePackets / 4, "PSI burst too large")
  /** ES packets in one cycle without live bumps. */
  val esPerCycle: Int = CyclePackets - psiPacketsPerCycle

  private def packetCount(sec: Array[Byte]): Int =
    Fixtures.sectionToPackets(0, sec, 0L, 0).length

  private def enqueueSection(pid: Int, sec: Array[Byte]): Unit = {
    val pkts = Fixtures.sectionToPackets(pid, sec, 0L, cc(pid))
    cc(pid) += pkts.length
    pkts.foreach(p => pending += TsCodec.encode(p))
  }

  private def burst(): Unit = {
    enqueueSection(0, patSection(programs))
    enqueueSection(SdtPid, sdt)
    (1 to programs).foreach(p =>
      enqueueSection(pmtPid(p), pmtSection(p, versions(p - 1))))
    (1 to programs).foreach { p =>
      val pid = videoPid(p)
      pending += TsCodec.encodePcrOnly(pid, (cc(pid) - 1) & 0xF,
        cycle * CyclePcrTicks + p * 1000L)
    }
  }

  /** Raise program `p`'s PMT version by one (mod 32). With `now` the new
    * section goes out with the next packet; without, it first goes out
    * in the next cycle's PSI burst. */
  def bump(p: Int, now: Boolean = true): Int = {
    val v = (versions(p - 1) + 1) & 0x1F
    versions(p - 1) = v
    if (now) enqueueSection(pmtPid(p), pmtSection(p, v))
    v
  }

  private def esPacket(): Array[Byte] = {
    val pid = esPids(((esIndex + cycle) % esPids.length).toInt)
    val idx = esIndex
    esIndex += 1
    if (ccGaps.contains(idx)) cc(pid) += 1
    val disc = idx == discontinuity
    if (disc) cc(pid) += 5
    val c = cc(pid) & 0xF
    cc(pid) += 1
    if (disc) {
      val af = graft.ts.AdaptationField(1, discontinuity = true,
        randomAccess = false, esPriority = false, pcr = None, opcr = None,
        spliceCountdown = None, privateData = false, extension = false,
        Array.emptyByteArray)
      TsCodec.encode(graft.ts.TsPacket(0L, pid, tei = false, pusi = false,
        priority = false, scrambling = 0, hasAf = true, hasPayload = true,
        cc = c, af = Some(af), payload = discPayload))
    } else {
      TsCodec.encode(graft.ts.TsPacket(0L, pid, tei = false, pusi = false,
        priority = false, scrambling = 0, hasAf = false, hasPayload = true,
        cc = c, af = None, payload = esPayload))
    }
  }

  /** The next 188-byte packet of the stream. */
  def next(): Array[Byte] = {
    if (pos == 0) burst()
    val out = if (pending.nonEmpty) pending.dequeue() else esPacket()
    pos += 1
    if (pos == CyclePackets) { pos = 0; cycle += 1 }
    out
  }

  /** Fill `buf` (a multiple of 188 bytes) with the next packets. */
  def fill(buf: Array[Byte]): Unit = {
    var off = 0
    while (off < buf.length) {
      System.arraycopy(next(), 0, buf, off, TsCodec.PacketSize)
      off += TsCodec.PacketSize
    }
  }
}

/** A seeded capture file and the closed form of what the batch pipeline
  * must find in it. */
final case class Capture(
    seed: Long, programs: Int, cycles: Int, bumps: Int, ccGaps: Int,
    finalVersions: Seq[Int]) {
  import Gen._
  def packets: Long = cycles.toLong * CyclePackets
  /** PSI sections `TsPipeline.psiSections` assembles: PAT, SDT and every
    * PMT, once per cycle. */
  def sections: Long = cycles.toLong * (2 + programs)
  /** Distinct complete (table, version) pairs in the stream. */
  def tableVersions: Long = 2L + programs + bumps
  /** Rows `latestTables` keeps: one single-section table per key. */
  def latestRows: Long = 2L + programs
  def ccErrors: Long = ccGaps.toLong
  def finalPrograms: Seq[Gen.Program] =
    (1 to programs).map(p => program(p, finalVersions(p - 1)))
  /** PIDs whose packets carry payload (the CC audit's PID set). */
  def payloadPids: Int = 2 + programs + 2 * programs
}

object Capture {
  /** Write `cycles` cycles of a `programs`-program stream to `path`.
    * `bumps` PMT version bumps land at the start of distinct cycles
    * (never the first), on seeded programs; `ccGaps` CC gaps and one
    * discontinuity land on seeded ES packets after the first cycle. */
  def write(path: String, seed: Long, programs: Int, cycles: Int,
      bumps: Int, ccGaps: Int): Capture = {
    require(cycles >= 2 && bumps < cycles && bumps <= 31 * programs)
    val rng = new scala.util.Random(seed ^ 0x5DEECE66DL)
    val initial = Gen.initialVersions(seed, programs)
    val probe = new Mux(programs, initial)
    val esTotal = probe.esPerCycle.toLong * cycles
    val firstEs = probe.esPerCycle.toLong
    val faults = mutable.LinkedHashSet.empty[Long]
    while (faults.size < ccGaps + 1)
      faults += firstEs + (rng.nextDouble() * (esTotal - firstEs - 1)).toLong
    val disc = faults.head
    val gaps = faults.tail.toSet
    val bumpCycles = rng.shuffle((1 until cycles).toVector).take(bumps).toSet
    val mux = new Mux(programs, initial, gaps, disc)
    val bumpCount = new Array[Int](programs)
    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(path), 1 << 20)
    try {
      var c = 0
      while (c < cycles) {
        if (bumpCycles.contains(c)) {
          // a program is bumped at most 31 times, so versions never wrap
          // onto an earlier one
          var p = 1 + rng.nextInt(programs)
          while (bumpCount(p - 1) >= 31) p = 1 + (p % programs)
          bumpCount(p - 1) += 1
          mux.bump(p, now = false)
        }
        var i = 0
        while (i < Gen.CyclePackets) { out.write(mux.next()); i += 1 }
        c += 1
      }
    } finally out.close()
    Capture(seed, programs, cycles, bumps, ccGaps, mux.versions.toSeq)
  }
}
