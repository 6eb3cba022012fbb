package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.ts.{PsiCodec, PsiSection, SectionAssembler, TsCodec, TsPacket}

/** The generator's closed form, checked by decoding a tiny capture back
  * through the engine's own `TsCodec.decode` and `SectionAssembler`. */
class GenSpec extends AnyFunSuite {

  private def decodeAll(bytes: Array[Byte]): Seq[TsPacket] =
    bytes.grouped(TsCodec.PacketSize).zipWithIndex.map { case (b, i) =>
      TsCodec.decode(b, i.toLong).getOrElse(fail(s"packet $i does not decode"))
    }.toSeq

  /** The CC rule of `TsPipeline.ccAudit`, per PID over payload packets. */
  private def ccErrors(pkts: Seq[TsPacket]): (Int, Long) = {
    val byPid = pkts.filter(p => p.pid != TsCodec.NullPid && p.hasPayload)
      .groupBy(_.pid)
    val errs = byPid.values.map { ps =>
      ps.sortBy(_.seq).sliding(2).count {
        case Seq(a, b) =>
          !b.af.exists(_.discontinuity) && ((a.cc + 1) % 16) != b.cc
        case _ => false
      }.toLong
    }.sum
    (byPid.size, errs)
  }

  private def sections(pkts: Seq[TsPacket], pids: Set[Int])
      : Seq[PsiSection] =
    pkts.filter(p => pids.contains(p.pid)).groupBy(_.pid).toSeq.flatMap {
      case (pid, ps) => SectionAssembler.assemble(pid, ps.sortBy(_.seq).iterator)
    }

  test("a tiny capture decodes to exactly the closed-form counts") {
    val f = Files.createTempFile("perfbench-gen", ".ts")
    try {
      val c = Capture.write(f.toString, seed = 7, programs = 3, cycles = 6,
        bumps = 4, ccGaps = 3)
      val pkts = decodeAll(Files.readAllBytes(f))
      assert(pkts.length == c.packets)
      val (pids, errs) = ccErrors(pkts)
      assert(pids == c.payloadPids)
      assert(errs == c.ccErrors)
      assert(pkts.count(_.af.exists(_.discontinuity)) == 1)
      assert(pkts.count(_.af.exists(_.pcr.isDefined)) ==
        c.cycles * c.programs)

      val psiPids = Set(0, Gen.SdtPid) ++ (1 to c.programs).map(Gen.pmtPid)
      val secs = sections(pkts, psiPids)
      assert(secs.length == c.sections)
      assert(secs.forall(s => s.crcOk && s.currentNext))
      assert(secs.map(s => (s.pid, s.tableId, s.tableIdExtension,
        s.versionNumber)).distinct.length == c.tableVersions)

      // the last PMT of each program is the generator's final state
      val finalPmts = secs.filter(_.tableId == 2).groupBy(_.pid).values
        .map(_.maxBy(_.firstSeq)).flatMap(s =>
          PsiCodec.decodePmt(s).map(p => (p.programNumber, s.versionNumber,
            p.pcrPid, p.es.length))).toSeq.sortBy(_._1)
      assert(finalPmts == c.finalPrograms.map(p =>
        (p.number, p.pmtVersion, p.pcrPid, p.nEs)))
      val pat = secs.filter(_.tableId == 0).maxBy(_.firstSeq)
      assert(PsiCodec.decodePat(pat).map(r => (r.programNumber,
        r.referencePid)) == c.finalPrograms.map(p => (p.number,
          p.referencePid)))
    } finally Files.deleteIfExists(f)
  }

  test("the same seed writes the same bytes; another seed does not") {
    val (a, b, d) = (Files.createTempFile("pb", ".ts"),
      Files.createTempFile("pb", ".ts"), Files.createTempFile("pb", ".ts"))
    try {
      Capture.write(a.toString, 3, 4, 5, 2, 2)
      Capture.write(b.toString, 3, 4, 5, 2, 2)
      Capture.write(d.toString, 4, 4, 5, 2, 2)
      assert(java.util.Arrays.equals(Files.readAllBytes(a),
        Files.readAllBytes(b)))
      assert(!java.util.Arrays.equals(Files.readAllBytes(a),
        Files.readAllBytes(d)))
    } finally Seq(a, b, d).foreach(Files.deleteIfExists)
  }

  test("a live bump goes out with the next packet") {
    val mux = new Mux(4, Array(0, 5, 9, 31))
    (1 to 100).foreach(_ => mux.next())
    val v = mux.bump(4)
    assert(v == 0) // 31 + 1 wraps to 0
    val pkt = TsCodec.decode(mux.next(), 0L).get
    assert(pkt.pid == Gen.pmtPid(4) && pkt.pusi)
    val sec = SectionAssembler.assemble(pkt.pid, Iterator(pkt)).toSeq.head
    assert(sec.crcOk && sec.versionNumber == 0 &&
      PsiCodec.decodePmt(sec).get.es.length == Gen.esList(4, 0).length)
  }
}
