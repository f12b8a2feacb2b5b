package graftbench

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GateSpec extends AnyFunSuite with SparkSuite {

  private lazy val walk = CdcGen.walkthrough()

  test("the gate passes the expected FINAL against itself") {
    val e = Gate.expectedDf(spark, walk.expected)
    assert(Gate.sameRows("self", e, e).ok)
  }

  test("the gate fails a FINAL with one dropped row") {
    val e = Gate.expectedDf(spark, walk.expected)
    val dropped = e.filter(col("booking_id") =!= "b7")
    val c = Gate.sameRows("dropped", dropped, e)
    assert(!c.ok)
    assert(c.detail.startsWith("0 unexpected, 1 missing"))
  }

  test("the gate fails a FINAL with one stale version") {
    // b1's snapshot row replaced by an older version of itself
    val stale = walk.expected.map(r =>
      if (r.bookingId == "b1") r.copy(version = r.version - 1) else r)
    val c = Gate.sameRows("stale", Gate.expectedDf(spark, stale),
      Gate.expectedDf(spark, walk.expected))
    assert(!c.ok)
    assert(c.detail.startsWith("1 unexpected, 1 missing"))
  }

  test("the gate counts duplicates: a repeated row is not equal") {
    val e = Gate.expectedDf(spark, walk.expected)
    assert(!Gate.sameRows("dup", e.union(e.limit(1)), e).ok)
  }

  test("a log missing the deletes fails the CDC checks") {
    val dir = java.nio.file.Files.createTempDirectory("graftbench-gate")
    try {
      val noDeletes = new CdcGen.Batches(walk.files.map(_.filterNot(_.op == "d")))
      CdcGen.write(noDeletes, dir.resolve("in"))
      val opts = Main.Opts("cdc_trickle", 1, trace = false, dir, dir, dir.resolve("x"), None,
        "test")
      val work = Main.Cdc.timedWork(spark, opts, new Trace(spark, enabled = false),
        dir.resolve("in"), "t", warmReads = 0, reads = 1)
      val checks = Gate.cdc(spark, work.logDir.toString, walk.dataEvents, walk.expected)
      assert(checks.count(!_.ok) == 5, checks.mkString("; "))
    } finally Main.deleteTree(dir)
  }

  test("analytics rows are checked by count and, where recorded, by hash") {
    val exp = Map("a" -> (3L, Some("42")), "b" -> (5L, None))
    assert(Gate.analytics("a", (3L, "42"), exp).ok)
    assert(!Gate.analytics("a", (3L, "41"), exp).ok)
    assert(!Gate.analytics("a", (4L, "42"), exp).ok)
    assert(Gate.analytics("b", (5L, "anything"), exp).ok)
    assert(!Gate.analytics("c", (1L, "1"), exp).ok)
  }

  test("the content hash ignores row order") {
    val df = spark.range(100).select(col("id"), (col("id") * 2).as("x"))
    assert(Gate.contentHash(df) == Gate.contentHash(df.orderBy(col("id").desc)))
    assert(Gate.contentHash(df) != Gate.contentHash(df.filter(col("id") =!= 5)))
  }
}
