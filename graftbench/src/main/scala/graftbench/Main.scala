package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.SparkEntry
import graft.operators.{LatestAggregator, MvTransform, VersionedUpsert}
import graft.schema.ChangeEvent.Booking
import graft.sources.ChangeLog
import graft.streaming.CdcPipeline
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

/** The benchmark JVM: runs one workload, prints a report, and ends its
  * standard output with the one-line JSON result.
  *
  * {{{
  * Main --workload cdc_trickle|cdc_bulk|analytics_mix --seed N --trace 0|1
  *      --work DIR --data DIR [--expected FILE] [--record FILE] [--commit ID]
  * }}}
  *
  * Every workload does a fixed amount of work; `--seconds` is accepted and
  * ignored.
  *
  * Untraced runs (`--trace 0`) report the end-to-end metrics. Traced runs
  * (`--trace 1`) do the same work with the span tracer on, add the
  * per-layer probes, report the per-layer metrics — among them the traced
  * run's own end-to-end figures (`trace.e2e.*`), whose difference to the
  * untraced figures is the tracing overhead — and write the spans to
  * `DIR/spans-<workload>.json`.
  */
object Main {

  final case class Opts(workload: String, seed: Long, trace: Boolean, work: Path,
                        data: Path, expected: Path, record: Option[Path], commit: String)

  /** Metric value with its unit. */
  final case class M(value: Double, unit: String)

  /** What one workload run produced. */
  final class Out {
    val e2e = mutable.LinkedHashMap.empty[String, M]      // result-line metrics
    val named = mutable.LinkedHashMap.empty[String, M]    // the workload's own metrics
    val timings = mutable.LinkedHashMap.empty[String, Seq[Double]]
    val layer = mutable.LinkedHashMap.empty[String, M]
    val checks = mutable.ArrayBuffer.empty[Gate.Check]
    var attempted = 0L
    var failed = 0L
    def check(c: Gate.Check): Unit = {
      checks += c
      attempted += 1
      if (!c.ok) failed += 1
    }
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv.getOrElse("seed", "1").toLong,
      kv.getOrElse("trace", "0") == "1", Paths.get(kv("work")).toAbsolutePath,
      Paths.get(kv.getOrElse("data", "data/sf0.01")).toAbsolutePath,
      Paths.get(kv.getOrElse("expected", "expected/analytics.tsv")).toAbsolutePath,
      kv.get("record").map(Paths.get(_).toAbsolutePath), kv.getOrElse("commit", "unknown"))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    Files.createDirectories(o.work)

    val cpus = Runtime.getRuntime.availableProcessors()
    // graft runs on Hadoop's local file system without its child processes
    val spark = LocalFs.conf.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("spark-warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    System.err.println(f"[graftbench] step session ${sinceJvmStart()}%.3f s")

    val out = new Out
    val gc0 = gcSeconds()
    val tr = new Trace(spark, o.trace)
    try o.workload match {
      case "cdc_trickle" | "cdc_bulk" => Cdc.run(spark, o, tr, out)
      case "analytics_mix" => Analytics.run(spark, o, tr, out)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        out.check(Gate.Check("run", ok = false, s"${e.getClass.getName}: ${e.getMessage}"))
    }
    tr.close()
    out.e2e("peak_rss_mb") = M(peakRssMb(), "MB")
    out.named("peak_rss_mb") = out.e2e("peak_rss_mb")
    out.named("failed_frac") = M(out.failed.toDouble / math.max(1L, out.attempted), "ratio")
    if (o.trace) {
      // the traced run's own end-to-end figures: overhead = these − untraced
      out.e2e.foreach { case (k, m) => out.layer(s"trace.e2e.$k") = m }
      System.gc()
      out.layer("jvm.gc_s") = M(gcSeconds() - gc0, "s")
      out.layer("jvm.heap_after_mb") = M(ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / 1048576.0, "MB")
    }
    report(spark, o, cpus, out)
    step("spark stop")(spark.stop())
  }

  val Workloads = Seq("cdc_trickle", "cdc_bulk", "analytics_mix")

  /** Wall seconds since this JVM started: `setup_s` when set-up ends. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** VmHWM of this JVM; heap high-water mark where /proc is absent. */
  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (Files.exists(status))
      Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0
  }

  /** Run `body`, logging its wall time to standard error. */
  def step[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"[graftbench] step $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }

  /** Wall seconds of `body`. */
  def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Materialize through the `noop` sink — `count()` would let Catalyst
    * prune the work away. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
      .foreach(Files.delete)
    finally s.close()
  }

  private def report(spark: SparkSession, o: Opts, cpus: Int, out: Out): Unit = {
    val args = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    val stamp = Seq(
      "nproc" -> cpus.toString, "master" -> s"local[$cpus]",
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap" -> args.filter(a => a.startsWith("-Xmx") || a.startsWith("-Xms")).mkString(" "),
      "gc" -> args.filter(_.startsWith("-XX:")).mkString(" "),
      "fs" -> org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
        spark.sparkContext.hadoopConfiguration).getClass.getName,
      "java" -> System.getProperty("java.version"),
      "scala" -> scala.util.Properties.versionNumberString,
      "spark" -> spark.version, "seed" -> o.seed.toString, "commit" -> o.commit)
    val w = o.workload
    println(s"[graftbench] $w host " + stamp.map { case (k, v) => s"$k=$v" }.mkString(" "))
    out.named.foreach { case (k, m) =>
      println(f"[graftbench] $w $k%-22s ${m.value}%.6g ${m.unit}")
    }
    out.timings.foreach { case (k, xs) =>
      val s = Percentiles.summary(xs)
      println(s"[graftbench] $w timing $k " + s.toSeq.sortBy(_._1)
        .map { case (a, b) => f"$a=$b%.6g" }.mkString(" "))
    }
    out.layer.foreach { case (k, m) =>
      println(f"[graftbench] $w layer $k%-48s ${m.value}%.6g ${m.unit}")
    }
    out.checks.filterNot(_.ok).foreach(c =>
      println(s"[graftbench] $w CHECK FAILED ${c.name}: ${c.detail}"))
    def metrics(ms: collection.Map[String, M]) = Json.obj(ms.toSeq.map { case (k, m) =>
      k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))
    })
    val full = Json.obj(Seq(
      "workload" -> Json.str(w), "trace" -> o.trace.toString,
      "stamp" -> Json.obj(stamp.map { case (k, v) => k -> Json.str(v) }),
      "correct" -> (out.failed == 0).toString,
      "attempted" -> out.attempted.toString, "failed" -> out.failed.toString,
      "metrics" -> metrics(out.e2e), "named" -> metrics(out.named),
      "timings" -> Json.obj(out.timings.toSeq.map { case (k, xs) =>
        k -> Json.obj(Percentiles.summary(xs).toSeq.sortBy(_._1)
          .map { case (a, b) => a -> Json.num(b) })
      }),
      "per_layer" -> metrics(out.layer),
      "checks" -> out.checks.map(c => Json.obj(Seq("name" -> Json.str(c.name),
        "ok" -> c.ok.toString, "detail" -> Json.str(c.detail)))).mkString("[", ",", "]")))
    Files.write(o.work.resolve(s"result-$w${if (o.trace) "-traced" else ""}.json"),
      (full + "\n").getBytes("UTF-8"))
    println(Json.obj(Seq(
      "correct" -> (out.failed == 0).toString,
      "attempted" -> math.max(1L, out.attempted).toString,
      "failed" -> out.failed.toString,
      "metrics" -> metrics(if (o.trace) out.layer else out.e2e))))
  }

  /** Spark engine metrics of one phase group, named `spark.<group>.<metric>`. */
  def engineLayer(out: Out, res: Trace.Resolved, group: String): Unit =
    res.engine(group).foreach { case (k, v) =>
      val unit = if (k.endsWith("_s")) "s" else if (k.endsWith("_bytes")) "B"
                 else if (k.endsWith("_mb")) "MB" else "count"
      out.layer(s"spark.$group.$k") = M(v, unit)
    }

  /** Tracer bookkeeping shared by every workload. */
  def traceLayer(out: Out, o: Opts, tr: Trace, res: Trace.Resolved): Unit = {
    res.selfSeconds.toSeq.sortBy(_._1).foreach { case (kind, s) =>
      out.layer(s"trace.self.${kind}_s") = M(s, "s")
    }
    out.layer("trace.spans") = M(res.spans.size, "count")
    out.layer("trace.listener_s") = M(tr.listenerNanos.get / 1e9, "s")
    Files.write(o.work.resolve(s"spans-${o.workload}.json"), res.spansJson.getBytes("UTF-8"))
  }

  /** The CDC workloads: generated Debezium JSON → stream → log → FINAL. */
  object Cdc {

    /** Timed FINAL reads per run. */
    val FinalReads = 15

    /** The reference connector's `poll.interval.ms`, in seconds. */
    val PollBudgetS = 0.5

    def generate(o: Opts): CdcGen.Batches = o.workload match {
      case "cdc_trickle" => CdcGen.trickle(o.seed, files = 101, perFile = 1000)
      case _ => CdcGen.bulk(o.seed, keys = 32000, logFactor = 10, files = 10, redeliver = 0.03)
    }

    final case class Work(progress: Seq[StreamingQueryProgress], reads: Seq[Double],
                          logDir: Path) {
      val batches: Seq[StreamingQueryProgress] =
        progress.filter(_.numInputRows > 0).sortBy(_.batchId)
      def startMs(p: StreamingQueryProgress): Double =
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      def dur(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      /** First batch start → last commit, seconds. */
      val streamS: Double = (startMs(batches.last) + dur(batches.last, "triggerExecution") -
        startMs(batches.head)) / 1e3
      /** Warm batches: the first (cold) batch is excluded. */
      val batchS: Seq[Double] = batches.drop(1).map(dur(_, "triggerExecution") / 1e3)
    }

    /** Stream `inDir` into a fresh log, then read FINAL: `warmReads`
      * untimed reads, then `reads` timed ones.
      */
    def timedWork(spark: SparkSession, o: Opts, tr: Trace, inDir: Path, tag: String,
                  warmReads: Int, reads: Int): Work = {
      val logDir = o.work.resolve(s"log-$tag")
      val ckpt = o.work.resolve(s"ckpt-$tag")
      val progress = tr.phase("stream", "write") {
        val raw = spark.readStream.option("maxFilesPerTrigger", "1").text(inDir.toString)
        val q = CdcPipeline.writeTo(MvTransform(ChangeLog.fromJsonValues(raw)),
          logDir.toString, ckpt.toString, Trigger.AvailableNow())
        tr.bindQuery(q.id)
        q.awaitTermination()
        q.recentProgress.toSeq
      }
      def read(): Double =
        time(noop(VersionedUpsert.finalView(spark.read.parquet(logDir.toString))))
      // the first reads of a fresh log run cold code paths (0.8 s, 0.6 s,
      // then about 0.4 s on cdc_trickle): warm-up, not measurement
      (1 to warmReads).foreach(i => tr.phase(s"final warm-up $i", "setup")(read()))
      val timed = (0 until reads).map(i => tr.phase(s"final $i", "read")(read()))
      System.err.println(s"[graftbench] $tag reads " + timed.map(r => f"$r%.3f").mkString(" "))
      System.err.println(s"[graftbench] $tag batches " + progress.filter(_.numInputRows > 0)
        .map(_.durationMs.get("triggerExecution")).mkString(" "))
      Work(progress, timed, logDir)
    }

    def run(spark: SparkSession, o: Opts, tr: Trace, out: Out): Unit = {
      // set-up: generate + stage the input files
      val inDir = o.work.resolve("input")
      val staged = step("staging")(generate(o))
      step("staging write")(CdcGen.write(staged, inDir))
      // warm-up: a separate stream of the same shape (a trickle batch keeps
      // getting faster for tens of batches as the driver's per-batch code
      // compiles), then FINAL reads of its log until the read path's
      // planning and scheduling code is compiled
      val warmIn = o.work.resolve("warm-input")
      step("warm-up") {
        CdcGen.write(o.workload match {
          case "cdc_trickle" => CdcGen.trickle(o.seed + 1, files = 21, perFile = 1000)
          case _ => CdcGen.bulk(o.seed + 1, keys = 1000, logFactor = 10, files = 3,
            redeliver = 0.03)
        }, warmIn)
        timedWork(spark, o, new Trace(spark, enabled = false), warmIn, "warm",
          warmReads = 8, reads = 0)
      }
      out.e2e("setup_s") = M(sinceJvmStart(), "s")
      out.named("setup_s") = out.e2e("setup_s")

      val events = staged.dataEvents.toDouble
      val base = step("timed work")(timedWork(spark, o, tr, inDir, "timed",
        warmReads = 4, reads = FinalReads))
      out.attempted += base.batches.size + base.reads.size
      out.check(Gate.Check("batches", base.batches.size == staged.files.size,
        s"${base.batches.size} micro-batches for ${staged.files.size} files"))
      val logBytes = Files.list(base.logDir).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).sum
      out.named("ingest_events_per_s") = M(events / base.streamS, "events/s")
      out.named("batch_p50_s") = M(Percentiles.median(base.batchS), "s")
      if (Percentiles.supports(base.batchS.size, 0.9)) {
        val p90 = Percentiles.tail(base.batchS, 0.9)
        out.named("batch_p90_s") = M(p90, "s")
        // the reference polls every 500 ms (poll.interval.ms=500): above 1
        // the stream falls behind its source. Reported, not gated: CPU steal
        // on a shared 4-core host alone moves p90 across the budget
        out.named("batch_p90_over_poll") = M(p90 / PollBudgetS, "ratio")
      }
      out.named("final_s") = M(Percentiles.median(base.reads), "s")
      out.e2e("write_s") = out.named("batch_p50_s")
      out.e2e("read_s") = out.named("final_s")
      out.named("log_bytes_per_event") = M(logBytes / events, "B")
      out.timings("batch_s") = base.batchS
      out.timings("final_s") = base.reads

      step("checks")(Gate.cdc(spark, base.logDir.toString, staged.dataEvents, staged.expected))
        .foreach(out.check)

      if (o.trace) {
        layers(spark, o, tr, out, inDir, base, events)
        tr.drain()
        val res = tr.resolve()
        Seq("write", "read", "probe").foreach(engineLayer(out, res, _))
        traceLayer(out, o, tr, res)
      }
    }

    /** Per-layer probes: batch passes that isolate one graft layer each. */
    def layers(spark: SparkSession, o: Opts, tr: Trace, out: Out, inDir: Path,
               w: Work, events: Double): Unit = {
      def L(k: String, v: Double, unit: String): Unit = out.layer(k) = M(v, unit)
      def best(name: String)(body: => Unit): Double =
        tr.phase(name, "probe")((1 to 2).map(_ => time(body)).min)
      val text = () => spark.read.text(inDir.toString)
      val textS = best("probe text")(noop(text()))
      val parseS = best("probe parse")(noop(ChangeLog.fromJsonValues(text())))
      val mvS = best("probe mv")(noop(MvTransform(ChangeLog.fromJsonValues(text()))))
      val rowsOut = MvTransform(ChangeLog.fromJsonValues(text())).count().toDouble
      L("sources.ChangeLog.parse_s", parseS - textS, "s")
      L("sources.ChangeLog.parse_rows_per_s", events / math.max(1e-6, parseS - textS), "rows/s")
      L("operators.MvTransform.s", mvS - parseS, "s")
      L("operators.MvTransform.rows_in", events, "count")
      L("operators.MvTransform.rows_out", rowsOut, "count")
      L("operators.MvTransform.rows_out_per_in", rowsOut / events, "ratio")

      val ks = Seq("latestOffset" -> "latest_offset_ms", "getBatch" -> "get_batch_ms",
        "queryPlanning" -> "query_planning_ms", "addBatch" -> "add_batch_ms",
        "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms")
      val bs = w.batches.drop(1)
      ks.foreach { case (k, n) =>
        val xs = bs.map(w.dur(_, k))
        L(s"streaming.CdcPipeline.${n}_p50", Percentiles.median(xs), "ms")
        L(s"streaming.CdcPipeline.${n}_sum", xs.sum, "ms")
      }
      L("streaming.CdcPipeline.batches", w.batches.size, "count")
      L("streaming.CdcPipeline.driver_overhead_frac",
        1 - w.batches.map(w.dur(_, "addBatch")).sum /
          w.batches.map(w.dur(_, "triggerExecution")).sum, "ratio")
      val files = Files.list(w.logDir).iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".parquet"))
      L("streaming.CdcPipeline.log_files", files.size, "count")
      L("streaming.CdcPipeline.log_bytes", files.map(Files.size).sum.toDouble, "B")

      val log = () => spark.read.parquet(w.logDir.toString)
      val typed = () => log().select(col("booking_id"), col("status"), col("is_deleted"),
        col("is_canceled"), col("created_at"), col("modified_at"), col("version"))
        .as(Encoders.product[Booking])
      L("operators.VersionedUpsert.final_view_s", Percentiles.median(w.reads), "s")
      L("operators.VersionedUpsert.final_view_agg_s",
        best("probe finalViewAgg")(noop(VersionedUpsert.finalViewAgg(log()))), "s")
      L("operators.VersionedUpsert.compact_s",
        best("probe compact")(noop(VersionedUpsert.compact(log()))), "s")
      val logRows = log().count().toDouble
      val finalRows = VersionedUpsert.finalView(log()).count().toDouble
      L("operators.VersionedUpsert.log_rows", logRows, "count")
      L("operators.VersionedUpsert.final_rows", finalRows, "count")
      L("operators.VersionedUpsert.log_rows_per_final_row", logRows / finalRows, "ratio")
      L("operators.LatestAggregator.final_view_s",
        best("probe LatestAggregator")(noop(LatestAggregator.finalView(typed()).toDF())), "s")
    }
  }

  /** The training-data analytics mix over the checked-in sf0.01 tables. */
  object Analytics {

    /** Warm rows: the heaviest row of each operator family that fits the
      * run (dedup has only its cold build), plus the batch CDC FINAL;
      * family label for the per-family sums.
      */
    val warm: Seq[(String, String)] = Seq(
      "q_fuzzy_names2" -> "fuzzy",
      "ann_ivf2_search" -> "ann", "text_bigram_nll" -> "text",
      "emb_abtt_residual" -> "emb", "q_hll_incremental" -> "sketches",
      "cdc_final" -> "cdc_batch")

    /** Cold-build rows: recompute their memoized artifact on every pass. */
    val cold: Seq[(String, String)] = Seq(
      "dedup_truth_build" -> "dedup", "fuzzy_candidates_build" -> "fuzzy",
      "text_winnow_build" -> "text")

    /** Rows served from a session memo after their first pass. */
    val memoized: Set[String] = Set("q_fuzzy_names2", "ann_ivf2_search")

    def run(spark: SparkSession, o: Opts, tr: Trace, out: Out): Unit = {
      val all = SparkEntry.queries ++ SparkEntry.benchOnly
      val dir = o.data.toString
      step("warm-up")(noop(spark.read.parquet(s"$dir/lineitem.parquet")))
      out.e2e("setup_s") = M(sinceJvmStart(), "s")
      out.named("setup_s") = out.e2e("setup_s")

      val expected = Gate.loadExpected(o.expected)
      val recorded = mutable.LinkedHashMap.empty[String, (Long, String)]
      // (row, family, first pass s, timed s): the timed figure is the
      // fastest of `passes` noop passes, which start after a System.gc()
      def pass(rows: Seq[(String, String)], group: String, dir: String,
               passes: Int): Seq[(String, String, Double, Double)] =
        rows.flatMap { case (name, family) =>
          out.attempted += 1
          try {
            val (first, got) = tr.phase(s"first $name", "first") {
              val t0 = System.nanoTime()
              val h = Gate.contentHash(all(name)(spark, dir))
              ((System.nanoTime() - t0) / 1e9, h)
            }
            recorded(name) = got
            out.check(Gate.analytics(name, got, expected))
            System.gc()
            val ts = (1 to passes).map { _ =>
              tr.phase(s"row $name", group)(time(noop(all(name)(spark, dir))))
            }
            val s = ts.min
            System.err.println(f"[graftbench] row $name first $first%.3f s passes " +
              ts.map(t => f"$t%.3f").mkString(" "))
            Some((name, family, first, s))
          } catch {
            case e: Throwable =>
              out.failed += 1
              out.checks += Gate.Check(name, ok = false, s"${e.getClass.getName}: ${e.getMessage}")
              None
          }
        }
      val (w, c) = step("timed work")((pass(warm, "read", dir, passes = 4),
        pass(cold, "write", dir, passes = 8)))
      val queryTotal = w.map(_._4).sum
      val coldTotal = c.map(_._4).sum
      out.e2e("write_s") = M(coldTotal, "s")
      out.e2e("read_s") = M(queryTotal, "s")
      out.named("query_total_s") = M(queryTotal, "s")
      out.named("cold_build_s") = M(coldTotal, "s")
      out.timings("row_s") = (w ++ c).map(_._4)
      if (o.trace) {
        (w ++ c).foreach { case (n, _, _, s) => out.layer(s"analytics.$n.s") = M(s, "s") }
        (w ++ c).groupBy(_._2).toSeq.sortBy(_._1).foreach { case (f, xs) =>
          out.layer(s"analytics.$f.s") = M(xs.map(_._4).sum, "s")
        }
        val memo = w.filter(r => memoized(r._1))
        out.layer("memo.first_pass_s") = M(memo.map(_._3).sum, "s")
        out.layer("memo.warm_pass_s") = M(memo.map(_._4).sum, "s")
        out.layer("memo.warm_over_first") = M(memo.map(_._4).sum / memo.map(_._3).sum, "ratio")
        tr.drain()
        val res = tr.resolve()
        Seq("write", "read", "first").foreach(engineLayer(out, res, _))
        traceLayer(out, o, tr, res)
      }
      o.record.foreach { path =>
        // a row whose hash moved between recordings is checked by count only
        val before = Gate.loadExpected(path)
        val lines = recorded.toSeq.sortBy(_._1).map { case (n, (cnt, h)) =>
          val stable = before.get(n).forall { case (_, bh) => bh.contains(h) }
          s"$n\t$cnt\t${if (stable) h else "-"}"
        }
        Files.write(path, (("# row\trows\tcontent hash (- = count only)" +: lines)
          .mkString("", "\n", "\n")).getBytes("UTF-8"))
      }
    }
  }
}
