package graftbench

import graft.operators.{LatestAggregator, VersionedUpsert}
import graft.schema.ChangeEvent.Booking
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Correctness gate: every CDC run is checked against the generator's
  * expected `FINAL`, every analytics row against its recorded count and
  * content hash. A failed check counts as a failed operation.
  */
object Gate {

  final case class Check(name: String, ok: Boolean, detail: String)

  private val bookingCols = Seq("booking_id", "status", "is_deleted",
    "is_canceled", "created_at", "modified_at", "version")

  /** The expected `FINAL` as a Booking-shaped DataFrame. */
  def expectedDf(spark: SparkSession, rows: Seq[CdcGen.Row]): DataFrame = {
    import spark.implicits._
    rows.map(r => (r.bookingId, r.status, r.isDeleted, r.isCanceled,
        r.createdAt, r.modifiedAt, r.version))
      .toDF("booking_id", "status", "is_deleted", "is_canceled",
        "created_at_us", "modified_at_us", "version")
      .select(col("booking_id"), col("status"), col("is_deleted"),
        col("is_canceled"), timestamp_micros(col("created_at_us")).as("created_at"),
        timestamp_micros(col("modified_at_us")).as("modified_at"), col("version"))
  }

  /** Multiset equality: `exceptAll` in both directions, computed in one
    * pass — both sides tagged, unioned and counted per distinct row.
    */
  def sameRows(name: String, actual: DataFrame, expected: DataFrame): Check = {
    val cols = bookingCols.map(col)
    val tagged = actual.select(cols :+ lit(1).as("__a"): _*)
      .unionByName(expected.select(cols :+ lit(0).as("__a"): _*))
    val r = tagged.groupBy(cols: _*)
      .agg(sum(col("__a")).as("na"), sum(lit(1) - col("__a")).as("ne"))
      .agg(coalesce(sum(greatest(col("na") - col("ne"), lit(0L))), lit(0L)),
        coalesce(sum(greatest(col("ne") - col("na"), lit(0L))), lit(0L)))
      .head()
    val (extra, missing) = (r.getLong(0), r.getLong(1))
    Check(name, extra == 0 && missing == 0, s"$extra unexpected, $missing missing rows")
  }

  /** The CDC checks over a landed log: its row count, the three FINAL
    * strategies, and compaction without tombstones.
    */
  def cdc(spark: SparkSession, logDir: String, dataEvents: Long,
          expected: Seq[CdcGen.Row]): Seq[Check] = {
    // read the landed log once; every FINAL variant runs over the same rows
    val log = spark.read.parquet(logDir).localCheckpoint()
    val truth = expectedDf(spark, expected)
    val logRows = log.count()
    val typed = log.select(bookingCols.map(col): _*).as(Encoders.product[Booking])
    val checks = Seq(
      Check("log_rows", logRows == dataEvents, s"$logRows rows for $dataEvents events"),
      sameRows("finalView", VersionedUpsert.finalView(log), truth),
      sameRows("finalViewAgg", VersionedUpsert.finalViewAgg(log), truth),
      sameRows("LatestAggregator.finalView", LatestAggregator.finalView(typed).toDF(), truth),
      sameRows("compact(keepTombstones=false)",
        VersionedUpsert.compact(log, keepTombstones = false), truth))
    checks
  }

  /** Order-independent content hash and row count of a result. */
  def contentHash(df: DataFrame): (Long, String) = {
    val cols = df.columns.toSeq.map(c => col(s"`$c`"))
    // xxhash64 takes every type but maps; those rows hash their JSON form
    val hasMap = df.schema.fields.exists(_.dataType.sql.contains("MAP<"))
    val h = if (hasMap) xxhash64(to_json(struct(cols: _*))) else xxhash64(cols: _*)
    val r = df.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }

  /** Expected analytics results: name → (row count, hash or None). */
  def loadExpected(path: java.nio.file.Path): Map[String, (Long, Option[String])] =
    if (!java.nio.file.Files.exists(path)) Map.empty
    else scala.io.Source.fromFile(path.toFile, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, c, h) = l.split("\t")
        n -> (c.toLong, if (h == "-") None else Some(h))
      }.toMap

  def analytics(name: String, got: (Long, String),
                expected: Map[String, (Long, Option[String])]): Check =
    expected.get(name) match {
      case None => Check(name, ok = false, "no recorded expectation")
      case Some((c, h)) =>
        val ok = got._1 == c && h.forall(_ == got._2)
        Check(name, ok, s"rows ${got._1} (expected $c)" +
          h.map(x => s", hash ${got._2} (expected $x)").getOrElse(", count only"))
    }
}
