package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded, single-threaded Debezium-envelope generator for the CDC
  * workloads, plus the expected `FINAL` table folded from the same events.
  *
  * graft only ever sees the rendered JSON lines (one file per micro-batch);
  * the generator's own event objects never cross into the engine. The
  * expected table is computed here, independently of graft: every data
  * event is projected the way the MV projects it (deletes carry the
  * `before` image with `is_deleted = 1`, everything else the `after` image,
  * `version = lsn`), and per key the newest row wins under the recency
  * order of `VersionedUpsert.newer` — version, then is_deleted, then
  * modified_at (nulls last), then the payload — with tombstones dropped.
  * Over a log whose LSNs are unique per change this is exactly
  * `WorkloadFixture.foldToState`; the explicit order only decides
  * at-least-once redeliveries, which repeat an LSN.
  */
object CdcGen {

  /** 2024-01-01T00:00:00Z in epoch microseconds. */
  val baseMicros = 1704067200000000L

  final case class Img(id: Long, bookingId: String, status: String,
                       isCanceled: Boolean, createdAt: Long, modifiedAt: Long)

  /** One change event; `before` is null for c/r, `after` null for d. */
  final case class Ev(op: String, before: Img, after: Img, lsn: Long) {
    def tsMs: Long = baseMicros / 1000L + lsn
  }

  /** A row of the expected `FINAL` table (Booking shape, times in µs). */
  final case class Row(bookingId: String, status: String, isDeleted: Int,
                       isCanceled: Boolean, createdAt: Long,
                       modifiedAt: Long, version: Long)

  /** Generated input: one event vector per micro-batch file. */
  final class Batches(val files: Vector[Vector[Ev]]) {
    def events: Iterator[Ev] = files.iterator.flatten
    /** Every generated event is a data op (c/r/u/d): each lands as one
      * log row, redeliveries included. */
    def dataEvents: Long = files.map(_.size.toLong).sum
    lazy val expected: Vector[Row] = fold(events)
    def render(i: Int): Array[Byte] = {
      val sb = new java.lang.StringBuilder(files(i).size * 260)
      files(i).foreach { e => json(e, sb); sb.append('\n') }
      sb.toString.getBytes(StandardCharsets.UTF_8)
    }
  }

  /** MV projection of one event (`MvTransform` semantics). */
  def project(e: Ev): Row = {
    val (img, del) = if (e.op == "d") (e.before, 1) else (e.after, 0)
    Row(img.bookingId, img.status, del, img.isCanceled, img.createdAt,
      img.modifiedAt, e.lsn)
  }

  /** Strict "a is newer than b": the order of `VersionedUpsert.newer`. */
  def newer(a: Row, b: Row): Boolean = {
    if (a.version != b.version) return a.version > b.version
    if (a.isDeleted != b.isDeleted) return a.isDeleted > b.isDeleted
    if (a.modifiedAt != b.modifiedAt) return a.modifiedAt > b.modifiedAt
    if (a.status != b.status) return a.status > b.status
    if (a.createdAt != b.createdAt) return a.createdAt > b.createdAt
    a.isCanceled && !b.isCanceled
  }

  /** Expected `FINAL`: newest row per key, tombstones dropped, sorted by key. */
  def fold(events: Iterator[Ev]): Vector[Row] = {
    val latest = mutable.HashMap.empty[String, Row]
    events.foreach { e =>
      val r = project(e)
      latest.get(r.bookingId) match {
        case Some(cur) if !newer(r, cur) =>
        case _ => latest.update(r.bookingId, r)
      }
    }
    latest.valuesIterator.filter(_.isDeleted == 0).toVector.sortBy(_.bookingId)
  }

  private def img(sb: java.lang.StringBuilder, i: Img): Unit =
    if (i == null) sb.append("null")
    else sb.append("{\"id\":").append(i.id)
      .append(",\"booking_id\":\"").append(i.bookingId)
      .append("\",\"status\":\"").append(i.status)
      .append("\",\"is_deleted\":0,\"is_canceled\":").append(i.isCanceled)
      .append(",\"created_at\":").append(i.createdAt)
      .append(",\"modified_at\":").append(i.modifiedAt).append('}')

  /** Debezium JSON envelope (schemaless `JsonConverter` form). */
  def json(e: Ev, sb: java.lang.StringBuilder): Unit = {
    sb.append("{\"before\":"); img(sb, e.before)
    sb.append(",\"after\":"); img(sb, e.after)
    sb.append(",\"source\":{\"sequence\":\"[\\\"0\\\",\\\"").append(e.lsn)
      .append("\\\"]\",\"lsn\":").append(e.lsn)
      .append("},\"op\":\"").append(e.op)
      .append("\",\"ts_ms\":").append(e.tsMs).append('}')
  }

  /** Write one JSON file per micro-batch, named and stamped in batch
    * order so the file source (oldest first) replays them in that order.
    */
  def write(b: Batches, dir: Path): Unit = {
    Files.createDirectories(dir)
    b.files.indices.foreach { i =>
      val f = dir.resolve(f"batch-$i%05d.json")
      Files.write(f, b.render(i))
      f.toFile.setLastModified(1700000000000L + i * 1000L)
    }
  }

  private def micros(lsn: Long): Long = baseMicros + lsn * 1000L
  private def key(id: Long): String = f"bk$id%08d"

  /** Booking-shaped status vocabulary of the reference table. */
  private val statuses = Vector("Open", "Created", "In Progress", "Delayed",
    "Completed", "Cancelled", "New", "Closed")

  /** `cdc_trickle`: many small micro-batches of recency-skewed traffic.
    *
    * Each booking lives New → In Progress → Closed → deleted; the update
    * and delete draws pick among the most recently touched open (closed)
    * bookings with an exponential recency skew, so a booking usually
    * moves on within the same or the next batch and hot keys repeat
    * inside a batch. Op mix ≈ 40% c, 45% u, 15% d: the log ends a few
    * times the number of live keys.
    */
  def trickle(seed: Long, files: Int, perFile: Int): Batches = {
    val rng = new SplittableRandom(seed)
    val open = mutable.ArrayBuffer.empty[Img]
    val closed = mutable.ArrayBuffer.empty[Img]
    var lsn = 0L
    var nextId = 0L
    def recent(n: Int): Int = {
      val back = (-math.log(1.0 - rng.nextDouble()) * 40.0).toInt
      n - 1 - math.min(back, n - 1)
    }
    def event(): Ev = {
      lsn += 1
      val r = rng.nextDouble()
      if (r < 0.40 || open.isEmpty) {
        nextId += 1
        val a = Img(nextId, key(nextId), "New", rng.nextInt(20) == 0,
          micros(lsn), micros(lsn))
        open += a
        Ev("c", null, a, lsn)
      } else if (r < 0.85 || closed.isEmpty) {
        val i = recent(open.size)
        val prev = open(i)
        val next = prev.copy(
          status = if (prev.status == "New") "In Progress" else "Closed",
          modifiedAt = micros(lsn))
        if (next.status == "Closed") { open.remove(i); closed += next }
        else { open.remove(i); open += next }
        Ev("u", prev, next, lsn)
      } else {
        val prev = closed.remove(recent(closed.size))
        Ev("d", prev, null, lsn)
      }
    }
    new Batches(Vector.fill(files)(Vector.fill(perFile)(event())))
  }

  /** `cdc_bulk`: backfill plus replay. An `op='r'` snapshot of `keys`
    * bookings, then uniform updates (90%), deletes (5%) and inserts (5%)
    * until the log holds `logFactor × keys` changes; `redeliver` of the
    * changes are delivered twice with the same LSN (at-least-once ties).
    * Split evenly into `files` large batches.
    */
  def bulk(seed: Long, keys: Int, logFactor: Int, files: Int,
           redeliver: Double): Batches = {
    val rng = new SplittableRandom(seed)
    val live = mutable.ArrayBuffer.empty[Img]
    val out = mutable.ArrayBuffer.empty[Ev]
    var lsn = 0L
    var nextId = 0L
    def insert(op: String): Unit = {
      lsn += 1; nextId += 1
      val a = Img(nextId, key(nextId), statuses(rng.nextInt(6)),
        rng.nextInt(10) == 0, micros(lsn), micros(lsn))
      live += a
      out += Ev(op, null, a, lsn)
    }
    (1 to keys).foreach(_ => insert("r"))
    while (out.size < logFactor.toLong * keys) {
      val r = rng.nextDouble()
      if (r < 0.05 || live.isEmpty) insert("c")
      else {
        val i = rng.nextInt(live.size)
        val prev = live(i)
        lsn += 1
        val e =
          if (r < 0.10) {
            live(i) = live(live.size - 1); live.remove(live.size - 1)
            Ev("d", prev, null, lsn)
          } else {
            val next = prev.copy(
              status = statuses((statuses.indexOf(prev.status) + 1 +
                rng.nextInt(statuses.size - 1)) % statuses.size),
              isCanceled = if (rng.nextInt(20) == 0) !prev.isCanceled
                           else prev.isCanceled,
              modifiedAt = micros(lsn))
            live(i) = next
            Ev("u", prev, next, lsn)
          }
        out += e
        if (rng.nextDouble() < redeliver) out += e
      }
    }
    val per = (out.size + files - 1) / files
    new Batches(out.toVector.grouped(per).toVector)
  }

  /** The reference walkthrough (`README.md:142-152,288-329`) as three
    * micro-batches: snapshot of b1..b10, inserts b11..b13, then the two
    * status UPDATEs and the DELETE. Its `FINAL` is the golden 6 rows.
    */
  def walkthrough(): Batches = {
    val initial = Vector("Open", "Created", "In Progress", "In Progress",
      "Delayed", "Delayed", "Completed", "Cancelled", "Cancelled", "Completed")
    var lsn = 0L
    val state = mutable.LinkedHashMap.empty[String, Img]
    def put(op: String, before: Img, after: Img): Ev = {
      if (op == "d") state.remove(before.bookingId)
      else state.update(after.bookingId, after)
      Ev(op, before, after, lsn)
    }
    val snapshot = initial.zipWithIndex.map { case (s, i) =>
      lsn += 1
      val bid = s"b${i + 1}"
      put("r", null, Img(i + 1L, bid, s, bid == "b8" || bid == "b9",
        micros(lsn), micros(lsn)))
    }
    val inserts = (11 to 13).map { i =>
      lsn += 1
      put("c", null, Img(i.toLong, s"b$i", "New", isCanceled = false,
        micros(lsn), micros(lsn)))
    }.toVector
    def update(pred: Img => Boolean, to: String): Vector[Ev] =
      state.values.toVector.sortBy(_.id).filter(pred).map { prev =>
        lsn += 1
        put("u", prev, prev.copy(status = to, modifiedAt = micros(lsn)))
      }
    val changes =
      update(i => i.status == "Delayed" || i.status == "New", "In Progress") ++
        update(_.status == "In Progress", "Closed") ++
        state.values.toVector.sortBy(_.id).filter(_.status == "Closed")
          .map { prev => lsn += 1; put("d", prev, null) }
    new Batches(Vector(snapshot, inserts, changes))
  }
}
