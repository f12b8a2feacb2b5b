package graftbench

import java.nio.file.Files
import graft.sources.WorkloadFixture
import org.scalatest.funsuite.AnyFunSuite

class CdcGenSpec extends AnyFunSuite with SparkSuite {

  private def bytes(b: CdcGen.Batches): Seq[Seq[Byte]] =
    b.files.indices.map(i => b.render(i).toSeq)

  test("trickle and bulk generators are byte-deterministic per seed") {
    assert(bytes(CdcGen.trickle(7, 5, 400)) == bytes(CdcGen.trickle(7, 5, 400)))
    assert(bytes(CdcGen.bulk(7, 500, 10, 4, 0.03)) == bytes(CdcGen.bulk(7, 500, 10, 4, 0.03)))
  }

  test("different seeds give different inputs") {
    assert(bytes(CdcGen.trickle(7, 5, 400)) != bytes(CdcGen.trickle(8, 5, 400)))
    assert(bytes(CdcGen.bulk(7, 500, 10, 4, 0.03)) != bytes(CdcGen.bulk(8, 500, 10, 4, 0.03)))
  }

  test("trickle repeats hot keys within a batch and mixes c/u/d") {
    val b = CdcGen.trickle(3, 4, 2000)
    val ops = b.events.toSeq.groupBy(_.op).map { case (k, v) => k -> v.size }
    assert(ops.keySet == Set("c", "u", "d"))
    val first = b.files.head
    val keys = first.map(e => Option(e.after).getOrElse(e.before).bookingId)
    assert(keys.distinct.size < keys.size * 0.8, "updates should hit keys of the same batch")
    assert(b.dataEvents > 2 * b.expected.size, "the log should be a few times the live keys")
  }

  test("bulk is a snapshot plus replay at least ten times the live keys, with redeliveries") {
    val b = CdcGen.bulk(3, 1000, 10, 5, 0.03)
    val evs = b.events.toVector
    assert(evs.take(1000).forall(_.op == "r"))
    assert(b.dataEvents >= 10 * b.expected.size)
    val dupLsn = evs.groupBy(_.lsn).count(_._2.size > 1)
    assert(dupLsn > 0.01 * evs.size)
  }

  test("reference walkthrough reproduces the golden 6-row FINAL") {
    val golden = Seq("b1" -> "Open", "b10" -> "Completed", "b2" -> "Created",
      "b7" -> "Completed", "b8" -> "Cancelled", "b9" -> "Cancelled")
    val expected = CdcGen.walkthrough().expected
    assert(expected.map(r => r.bookingId -> r.status) == golden)
    assert(expected.map(_.bookingId) == WorkloadFixture.goldenKeys)
    val fixture = WorkloadFixture.foldToState(WorkloadFixture.events)
    assert(expected.map(r => r.bookingId -> r.status) ==
      fixture.toSeq.map { case (k, v) => k -> v.status }.sortBy(_._1))
  }

  test("walkthrough JSON through the streaming pipeline passes every gate check") {
    val dir = Files.createTempDirectory("graftbench-walkthrough")
    try {
      val b = CdcGen.walkthrough()
      CdcGen.write(b, dir.resolve("in"))
      val opts = Main.Opts("cdc_trickle", 1, trace = false, dir, dir, dir.resolve("x"), None,
        "test")
      val work = Main.Cdc.timedWork(spark, opts, new Trace(spark, enabled = false),
        dir.resolve("in"), "t", warmReads = 0, reads = 1)
      assert(work.batches.size == 3)
      val checks = Gate.cdc(spark, work.logDir.toString, b.dataEvents, b.expected)
      assert(checks.forall(_.ok), checks.filterNot(_.ok).mkString("; "))
    } finally Main.deleteTree(dir)
  }
}
