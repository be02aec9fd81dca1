package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.BusDrain
import org.apache.spark.sql.SparkSession

import graft.core.Sessions
import graft.etl.{FileRouter, ParquetWarehouse, Pipeline}

/** One benchmark run in a fresh JVM: session set-up, then one workload
  * driven through `graft.etl.Pipeline.run` in the cron loop's shape
  * (`CronMain` without the sleep), with every output checked against the
  * expected reports derived from the input manifest.
  *
  *   Harness --workload <etl-ticks|etl-bulk> --inputs <dir> --work <dir>
  *           --ops <n> --warmup <n> --trace <0|1> --launched-ms <epoch ms>
  *
  * The last stdout line is one JSON object for the launcher
  * (`perfbench/run.py`).
  */
object Harness {

  val UserAgent = "some user agent"
  val EmptyFiresPerTick = 4

  final case class FileRow(drop: String, name: String, eventType: String, date: String, hour: Int, matched: Int, rows: Int)

  final case class Op(kind: String, seconds: Double, rows: Long)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchedMs = args("launched-ms").toLong
    val t0 = System.nanoTime()
    val spark = Sessions.local("perfbench")
    val sessionsLocal = (System.nanoTime() - t0) / 1e9
    spark.range(1).count()
    val setup = (System.currentTimeMillis() - launchedMs) / 1e3
    val out = mutable.LinkedHashMap[String, String]("setup_s" -> num(setup), "sessions_local_s" -> num(sessionsLocal))
    try {
      val run = new Run(spark, Paths.get(args("inputs")), Paths.get(args("work")), trace = args("trace") == "1")
      args("workload") match {
        case "etl-ticks" => run.ticks(args("warmup").toInt, args("ops").toInt)
        case "etl-bulk"  => run.bulk(args("warmup").toInt, args("ops").toInt)
        case other       => throw new IllegalArgumentException(s"unknown workload $other")
      }
      out ++= run.result()
    } finally spark.stop()
    out("peak_rss_mb") = num(peakRssMb())
    println(out.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
  }

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  /** Resident high-water mark of this JVM (`VmHWM`), in MB. */
  def peakRssMb(): Double =
    Files
      .readAllLines(Paths.get("/proc/self/status"))
      .asScala
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  /** Expected warehouse state: the reference's load semantics over dense
    * day reports (range delete + insert, archive of overlapped rows not yet
    * archived, quarantine upsert keyed on datetime and source file).
    */
  final class WarehouseModel {
    val table = mutable.Map[String, IndexedSeq[(Long, Long)]]()
    val archived = mutable.Set[(String, Int)]()
    val invalid = mutable.Set[(String, Int)]()

    /** Applies one day's load; returns the rows it archived. */
    def load(date: String, report: IndexedSeq[(Long, Long)]): Int = {
      val fresh = if (table.contains(date)) (0 until 24).map(h => (date, h)).filterNot(archived) else Seq.empty
      archived ++= fresh
      table(date) = report
      invalid ++= report.indices.filter(h => report(h)._2 > report(h)._1).map(h => (date, h))
      fresh.size
    }
    def rows: Long = table.size * 24L
    def impressions: Long = table.values.flatten.map(_._1).sum
    def clicks: Long = table.values.flatten.map(_._2).sum
  }

  final class Run(spark: SparkSession, inputs: Path, work: Path, trace: Boolean) {
    private val manifest: Map[String, Seq[FileRow]] =
      Files
        .readAllLines(inputs.resolve("manifest.tsv"))
        .asScala
        .filter(_.nonEmpty)
        .map { l =>
          val f = l.split("\t")
          FileRow(f(0), f(1), f(2), f(3), f(4).toInt, f(5).toInt, f(5).toInt + f(6).toInt)
        }
        .toSeq
        .groupBy(_.drop)
    private val tracer = new Tracer("graft.etl.Pipeline$", "run")
    private val ops = mutable.ArrayBuffer[Op]()
    private val layers = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    private val errors = mutable.ArrayBuffer[String]()
    private var attempted = 0
    private var failed = 0
    private val input = work.resolve("input")
    private val empty = work.resolve("empty")
    Files.createDirectories(input)
    Files.createDirectories(empty)

    /** Cron ticks: each lands a small two-day drop, the first day of which
      * the previous tick loaded; every tick is followed by empty fires.
      */
    def ticks(warmup: Int, timed: Int): Unit = {
      val drops = manifest.keys.toSeq.sorted
      require(drops.size >= warmup + timed, s"only ${drops.size} drops for ${warmup + timed} ticks")
      val warehouse = work.resolve("warehouse")
      val sink = new ParquetWarehouse(spark, warehouse.toString)
      val model = new WarehouseModel
      drops.take(warmup + timed).zipWithIndex.foreach { case (drop, k) =>
        val measured = k >= warmup
        val traced = trace && measured
        tick(drop, input, sink, warehouse, model, measured, traced)
        emptyFires(sink, warehouse, model, measured, traced)
      }
    }

    /** The bulk catch-up drop, landed again into a fresh warehouse for
      * every run; the first `warmup` runs are not timed.
      */
    def bulk(warmup: Int, timed: Int): Unit =
      (0 until warmup + timed).foreach { r =>
        val warehouse = work.resolve(s"warehouse-$r")
        val sink = new ParquetWarehouse(spark, warehouse.toString)
        val model = new WarehouseModel
        val measured = r >= warmup
        val traced = trace && measured
        tick("bulk", input, sink, warehouse, model, measured, traced)
        emptyFires(sink, warehouse, model, measured, traced)
      }

    /** Cron fires that find no new files; each is cheap, so a few of them
      * follow every timed tick to steady their median.
      */
    private def emptyFires(sink: ParquetWarehouse, warehouse: Path, model: WarehouseModel, measured: Boolean, traced: Boolean): Unit =
      (1 to (if (measured) EmptyFiresPerTick else 1)).foreach(_ => tick("", empty, sink, warehouse, model, measured, traced))

    /** Lands `drop` (nothing for an empty fire), runs one `Pipeline.run`
      * and checks its outputs. Only the run itself is timed.
      */
    private def tick(
        drop: String,
        dir: Path,
        sink: ParquetWarehouse,
        warehouse: Path,
        model: WarehouseModel,
        measured: Boolean,
        traced: Boolean
    ): Unit = {
      val files = if (drop.isEmpty) Seq.empty else manifest(drop)
      val output = work.resolve("output")
      // a hard link lands a file without copying it; the run deletes the link
      files.foreach(f => Files.createLink(dir.resolve(f.name), inputs.resolve(f.drop).resolve(f.name)))
      val opIndex = ops.size
      attempted += 1
      val archivedBefore = model.archived.size
      if (traced) {
        setTracing(on = true)
        if (drop.nonEmpty) {
          // the router is driver-side only: time the same call the run makes
          val r0 = System.nanoTime()
          val routed = FileRouter.route(FileRouter.listParquet(dir.toString))
          record("file_router.s", (System.nanoTime() - r0) / 1e9)
          record("file_router.files", routed.allFiles.size)
        }
        BusDrain(spark.sparkContext)
        tracer.begin(opIndex)
      }
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val result =
        try Right(Pipeline.run(spark, dir.toString, output.toString, sink, UserAgent, deleteInputs = true))
        catch { case NonFatal(e) => Left(e) }
      val seconds = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      if (traced) {
        BusDrain(spark.sparkContext)
        tracer.end()
        setTracing(on = false)
      }
      val kind = if (!measured) "warmup" else if (drop.isEmpty) "noop" else "tick"
      ops += Op(kind, seconds, files.map(_.rows.toLong).sum)

      val problems = result match {
        case Left(e)  => Seq(s"Pipeline.run threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        case Right(r) => check(r, files, dir, output, warehouse, model)
      }
      if (problems.nonEmpty) {
        failed += 1
        errors ++= problems.map(p => s"${if (drop.isEmpty) "empty fire" else drop}: $p")
      }
      if (traced && drop.nonEmpty) {
        tracer.summarize(opIndex, startMs, endMs).foreach { case (k, v) => record(k, v) }
        val loaded = result.toOption.map(_.loaded.map(_._2).sum).getOrElse(0L)
        val written = layers("warehouse.bytes_written").last
        // bytes the warehouse wrote per byte of report rows loaded (4 x 8-byte columns a row)
        record("warehouse.write_amp", if (loaded > 0) written / (loaded * 32.0) else Double.NaN)
        record("warehouse.archived_rows", model.archived.size - archivedBefore)
        record("warehouse.table_rows", model.rows.toDouble)
        record("quality_rules.quarantined_rows", result.toOption.map(_.quarantinedRows.toDouble).getOrElse(Double.NaN))
      }
    }

    private def setTracing(on: Boolean): Unit =
      if (on) {
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      } else {
        spark.sparkContext.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
      }

    private def record(name: String, v: Double): Unit = layers.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

    /** Every output of one run against the manifest-derived expectation. */
    private def check(
        r: Pipeline.RunResult,
        files: Seq[FileRow],
        dir: Path,
        output: Path,
        warehouse: Path,
        model: WarehouseModel
    ): Seq[String] = {
      val problems = mutable.ArrayBuffer[String]()
      def expect(what: String, got: Any, want: Any): Unit =
        if (got != want) problems += s"$what: got $got, want $want"

      val dates = files.map(_.date).distinct.sorted
      val reports = dates.map { d =>
        d -> (0 until 24).map { h =>
          def n(t: String) = files.filter(f => f.date == d && f.hour == h && f.eventType == t).map(_.matched.toLong).sum
          (n("impressions"), n("clicks"))
        }
      }
      expect("failed dates", r.failedDates, Seq.empty)
      expect("processed dates", r.processedDates.map(_.date), dates)
      expect("files deleted", r.filesDeleted, files.size)
      val left = Files.list(dir)
      try expect("files left in the input directory", left.count(), 0L)
      finally left.close()
      reports.foreach { case (d, report) =>
        val csv = output.resolve(s"task1_output_$d.csv")
        val want = ("date,hour,impression_count,click_count" +: report.zipWithIndex.map { case ((i, c), h) =>
          s"$d,$h,$i,$c"
        }).mkString("", "\n", "\n")
        val got = if (Files.exists(csv)) new String(Files.readAllBytes(csv), StandardCharsets.UTF_8) else "<missing>"
        if (got != want) problems += s"$csv differs from the expected dense report"
      }
      expect(
        "quarantined rows",
        r.quarantinedRows,
        reports.map(_._2.count { case (i, c) => c > i }.toLong).sum
      )
      reports.foreach { case (d, report) => model.load(d, report) }
      expect("rows loaded per day", r.loaded.map(_._2), dates.map(_ => 24L))
      expect("warehouse rows", r.warehouseSummary.get("row_count"), Some(model.rows))
      if (model.rows > 0) {
        expect("warehouse impressions", r.warehouseSummary.get("total_impressions"), Some(model.impressions))
        expect("warehouse clicks", r.warehouseSummary.get("total_clicks"), Some(model.clicks))
      }
      def tableRows(name: String): Long = {
        val p = warehouse.resolve(name)
        if (Files.isDirectory(p)) spark.read.parquet(p.toString).count() else 0L
      }
      if (files.nonEmpty) {
        expect("archived rows", tableRows(ParquetWarehouse.ClientReportArchive), model.archived.size.toLong)
        expect("quarantine rows", tableRows(ParquetWarehouse.ClientReportInvalid), model.invalid.size.toLong)
      }
      problems.toSeq
    }

    def result(): Seq[(String, String)] = {
      if (errors.nonEmpty) errors.take(20).foreach(e => System.err.println(s"[perfbench] check failed: $e"))
      def arr(xs: Iterable[String]) = xs.mkString("[", ",", "]")
      val ticks = ops.indices.filter(ops(_).kind == "tick").toSet
      // jobs per timed tick by issuing Module.function; empty unless traced
      val jobsBySite = tracer.jobsBySite(ticks).toSeq.sorted.map { case (site, n) =>
        s""""$site":${num(n.toDouble / ticks.size)}"""
      }
      if (trace) Files.write(work.resolve("spans.jsonl"), tracer.spans.asJava)
      val opsJson = ops.map(o => s"""{"kind":"${o.kind}","s":${num(o.seconds)},"rows":${o.rows}}""")
      val layerJson = layers.map { case (k, vs) => s""""$k":${arr(vs.map(num))}""" }.mkString("{", ",", "}")
      Seq(
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "ops" -> arr(opsJson),
        "layers" -> layerJson,
        "jobs_by_site" -> jobsBySite.mkString("{", ",", "}")
      )
    }
  }
}
