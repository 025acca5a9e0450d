package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The timed client: one closed loop in one JVM. It builds the session
  * the way graft declares it, runs untimed warmup passes, then timed
  * passes over a fixed operation list, and writes everything it measured as JSON for `run.py`, which checks
  * the outputs and reports the metrics.
  *
  * Usage (see run.py for the full argument list):
  *   perfbench.Main --mode queries --queries q01,q02 --inputs DIR \
  *     --work DIR --out FILE --warmup 3 --passes 4 --max-steal 0.01 --extra-passes 2 \
  *     --trace 0 --launch-ms EPOCH_MS
  */
object Main {

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchMs = o("launch-ms").toDouble
    val work = o("work")
    val traceOn = o("trace") == "1"

    val spark = session(work)
    val sessionS = (System.currentTimeMillis() - launchMs) / 1e3
    val tracer = new Tracer
    val workload: Workload = o("mode") match {
      case "etl" => new EtlWorkload(spark, o("inputs"), work, o("etl-pages").toInt,
        o("etl-threshold").toDouble)
      case _ => new QueryWorkload(spark, o("inputs"), o("queries").split(",").toSeq,
        o.get("oracle-out"))
    }
    val ctx = new Ctx(spark, tracer)

    // warmup passes are numbered -n .. -1
    val warmups = (-o("warmup").toInt until 0).map(i => workload.pass(ctx, i, traced = false))
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3
    val storageAfterWarm = if (traceOn) ctx.storageMb() else 0.0

    // A fixed number of timed passes: run.py derives it from --seconds,
    // so every run of a workload follows the same schedule. With
    // tracing, untraced and traced passes alternate, starting and ending
    // untraced: each traced pass is compared with the untraced passes on
    // either side of it (tracing overhead, free of the warm-up trend).
    // Untraced, a pass during which the hypervisor took more than
    // --max-steal of the machine's CPU time measured the neighbours as
    // much as graft: up to --extra-passes more passes follow, until
    // `count` passes ran below it. run.py keeps the `count` passes with
    // the least steal.
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    warmups.foreach(ops ++= _._2)
    val count = if (traceOn) math.max(3, o("passes").toInt) | 1 else o("passes").toInt
    val maxSteal = o("max-steal").toDouble
    val extra = o("extra-passes").toInt
    var (i, clean) = (0, 0)
    while (if (traceOn) i < count else clean < count && i < count + extra) {
      val traced = traceOn && i % 2 == 1
      if (traced) {
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      }
      val before = tracer.snapshot()
      val fetch0 = graft.sources.ApiPartitionReader.fetchCount.get
      val cpu0 = cpuJiffies()
      val (passOps, opRows) = workload.pass(ctx, i, traced)
      val steal = stealSince(cpu0)
      if (steal <= maxSteal) clean += 1
      ops ++= opRows
      val rec = mutable.LinkedHashMap[String, Any](
        "pass" -> i, "traced" -> traced, "steal_frac" -> steal,
        "fetches" -> (graft.sources.ApiPartitionReader.fetchCount.get - fetch0)) ++ passOps
      if (traced) {
        val after = tracer.snapshot()
        rec("counters") = (after.keySet ++ before.keySet)
          .map(k => k -> (after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0))).toMap
        // after every query's releaseCheckpoints: storage the session
        // holds, and what of it the pass's operators stored and kept
        rec("retained_storage_mb") = ctx.storageMb() - storageAfterWarm
        rec("ops_retained_mb") = ctx.settled(tracer.liveBlockMb())
        spark.sparkContext.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
      }
      passes += rec.toMap
      i += 1
    }

    val host = Map(
      "spark_version" -> spark.version,
      "jvm_version" -> System.getProperty("java.version"),
      "jvm_vendor" -> System.getProperty("java.vm.name"),
      "cores" -> spark.sparkContext.defaultParallelism)
    val result = Map(
      "session_s" -> sessionS, "setup_s" -> setupS, "warmup_passes_s" -> warmups.map(_._1("wall_s")),
      "host" -> host, "target_passes" -> count, "passes" -> passes.toSeq, "ops" -> ops.toSeq)
    Files.writeString(Paths.get(o("out")), Json.write(result))
    if (traceOn) {
      val spans = tracer.allSpans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "trace" -> s.trace, "name" -> s.name, "start" -> s.start, "end" -> s.end))
      Files.writeString(Paths.get(o("out") + ".spans.json"), Json.write(spans))
    }
    spark.stop()
  }

  /** The session as graft declares it: the extensions class, the
    * session conf every graft session needs, UTC and no UI. Returns
    * once the extensions are installed and a first job has run. */
  def session(work: String): SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/tmp")
    graft.Tables.sessionConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sessionState.optimizer // builds the session state: extensions injected
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }

  /** (steal, total) CPU time of the machine so far, in jiffies, from
    * /proc/stat; (0, 0) where that cannot be read. */
  def cpuJiffies(): (Long, Long) = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val cpu = try src.getLines().next() finally src.close()
    val f = cpu.trim.split("\\s+").slice(1, 9).map(_.toLong)
    (f(7), f.sum)
  }.getOrElse((0L, 0L))

  /** Share of the machine's CPU time the hypervisor took since `from`. */
  def stealSince(from: (Long, Long)): Double = {
    val now = cpuJiffies()
    val total = now._2 - from._2
    if (total > 0) (now._1 - from._1).toDouble / total else 0.0
  }

  /** Per-run services the workloads share. */
  final class Ctx(val spark: SparkSession, val tracer: Tracer) {
    /** Block storage held by RDDs. Unpersist is asynchronous, so the
      * reading is settled. */
    def storageMb(): Double =
      settled(spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6)

    /** A reading taken once two in a row, 25 ms apart, agree (up to 0.5 s). */
    def settled(now: => Double): Double = {
      var (last, tries) = (now, 0)
      var same = false
      while (!same && tries < 20) {
        Thread.sleep(25)
        val n = now
        same = n == last
        last = n
        tries += 1
      }
      last
    }

    /** A fresh span id when tracing, else 0 (no span). */
    def newId(traced: Boolean): Long = if (traced) tracer.nextId() else 0L

    /** Run `body` as a span named `name` under `parent`; jobs it submits
      * become child spans through the local properties. */
    def span[T](id: Long, name: String, parent: Long, trace: Long)(body: => T): (T, Double) = {
      val traced = id != 0L
      val sc = spark.sparkContext
      if (traced) {
        sc.setLocalProperty("perfbench.span", id.toString)
        sc.setLocalProperty("perfbench.trace", trace.toString)
      }
      val start = tracer.nowMs()
      val t0 = System.nanoTime()
      try {
        val r = body
        (r, (System.nanoTime() - t0) / 1e9)
      } finally {
        if (traced) {
          tracer.record(Span(id, parent, trace, name, start, tracer.nowMs()))
          sc.setLocalProperty("perfbench.span", null)
          sc.setLocalProperty("perfbench.trace", null)
        }
      }
    }

    /** Planning phases, exchanges and fingerprint of the executions
      * reported since the last drain. */
    def planFields(last: String, planOf: String => Boolean): Map[String, Any] = {
      val (execs, clean) = tracer.drain(last)
      val planned = execs.filter(e => planOf(e._1))
      def phase(n: String) = planned.map { case (_, qe) =>
        qe.tracker.phases.get(n).map(_.durationMs).getOrElse(0L) }.sum
      Map(
        "drain_clean" -> clean,
        "actions" -> execs.map(_._1),
        "analysis_ms" -> phase("analysis"),
        "optimize_ms" -> phase("optimization"),
        "planning_ms" -> phase("planning"),
        "exchanges" -> planned.map(e => scala.util.Try(Plans.exchanges(e._2.executedPlan)).getOrElse(0)).sum,
        "fingerprint" -> planned.map(e => Plans.fingerprint(e._2))
          .foldLeft(17L)((a, f) => Math.floorMod(a * 31 + f, 1L << 48)))
    }
  }

  trait Workload {
    /** One pass: (pass-level fields incl. wall_s, one record per op). */
    def pass(ctx: Ctx, index: Int, traced: Boolean): (Map[String, Any], Seq[Map[String, Any]])
  }

  /** An error as one line. */
  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}"

  /** Hash of every output row, order-independent, computed by the
    * timed write itself (Dataset.observe). Maps cannot be hashed
    * directly, so outputs holding one are hashed through their JSON. */
  def observed(df: DataFrame): (DataFrame, Observation) = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType => hasMap(a.elementType)
      case _ => false
    }
    val all = df.columns.map(c => df.col(s"`$c`")).toSeq
    val h: Column =
      if (df.schema.fields.exists(f => hasMap(f.dataType))) xxhash64(to_json(struct(all: _*)))
      else xxhash64(all: _*)
    val obs = Observation("perfbench_out")
    val out = df.observe(obs, count(lit(1)).as("rows"),
      sum(h.bitwiseAND(lit(0xffffffffL))).as("hsum"), bit_xor(h).as("hxor"))
    (out, obs)
  }

  final class QueryWorkload(spark: SparkSession, dir: String, names: Seq[String],
                            oracleOut: Option[String]) extends Workload {
    private val registry = graft.SparkEntry.queries
    private val queries: Seq[(String, String, graft.Q)] = names.map { n =>
      val (key, fn) = registry.find(_._1.startsWith(n + "_")).getOrElse(
        throw new IllegalArgumentException(s"no registered query $n"))
      (n, key, fn)
    }
    private var oracleWritten = oracleOut.isEmpty
    oracleOut.foreach { d =>
      Files.createDirectories(Paths.get(d))
      val sql = graft.SparkEntry.oracleSql
      val entries = queries.flatMap { case (_, key, _) => sql.get(key).map(key -> _) }.toMap
      Files.writeString(Paths.get(d, "oracle_sql.json"), Json.write(entries))
    }

    def pass(ctx: Ctx, index: Int, traced: Boolean) = {
      val recs = queries.map { case (n, key, fn) => runOne(ctx, index, traced, n, key, fn) }
      oracleWritten = true // the first pass writes the oracle's parquet
      (Map("wall_s" -> recs.map(_("wall_s").asInstanceOf[Double]).sum), recs)
    }

    private def runOne(ctx: Ctx, index: Int, traced: Boolean, n: String, key: String,
                       fn: graft.Q): Map[String, Any] = {
      val rec = mutable.LinkedHashMap[String, Any]("pass" -> index, "name" -> n, "key" -> key)
      val root = ctx.newId(traced)
      val start = ctx.tracer.nowMs()
      val t0 = System.nanoTime()
      val buildSpan = ctx.newId(traced)
      var obs: Observation = null
      try {
        val (df, buildS) = ctx.span(buildSpan, "queries.build", root, root) {
          fn(spark, dir)
        }
        val (out, o) = observed(df)
        obs = o
        val (_, writeS) = ctx.span(ctx.newId(traced), "write", root, root) {
          oracleOut.filter(_ => !oracleWritten) match {
            case Some(d) => out.coalesce(1).write.mode("overwrite").parquet(s"$d/$key")
            case None    => out.write.mode("overwrite").format("noop").save()
          }
        }
        rec ++= Seq("build_s" -> buildS, "write_s" -> writeS, "ok" -> true)
      } catch {
        case e: Throwable => rec ++= Seq("ok" -> false, "error" -> describe(e))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (traced) ctx.tracer.record(Span(root, 0L, root, "query", start, ctx.tracer.nowMs()))
      rec("wall_s") = wall
      // outside the timed span
      if (obs != null) {
        try {
          val row = Await.result(obs.future, 60.seconds)
          rec("rows") = row.getAs[Long]("rows")
          rec("hsum") = Option(row.get(1)).map(_.toString).orNull
          rec("hxor") = Option(row.get(2)).map(_.toString).orNull
        } catch { case e: Throwable => rec("ok") = false; rec("error") = "no output hash: " + describe(e) }
      }
      graft.ops.Sampling.releaseCheckpoints()
      if (traced) {
        rec ++= ctx.planFields("overwrite", _ == "overwrite")
        rec("build_jobs") = ctx.tracer.jobsIn(buildSpan)
      }
      rec.toMap
    }
  }

  /** The paper's pipeline: graft-api scan → Ingest.run (normalize +
    * overwrite snapshot load) → read back → Report.highVolumeSales →
    * Report.writeReport, plus the inverted-threshold step that must
    * take the empty short-circuit and write nothing. */
  final class EtlWorkload(spark: SparkSession, dir: String, work: String, pages: Int,
                          threshold: Double) extends Workload {
    private val categories = Files.readAllLines(Paths.get(dir, "categories.txt"))
      .toArray.map(_.toString.trim).filter(_.nonEmpty)
    private val out = Paths.get(work, "etl")
    private val snapshot = out.resolve("products")
    private val report = out.resolve("report.html")
    private val emptyReport = out.resolve("report_empty.html")

    /** Data files, their bytes and their rows (from the parquet
      * footers, so the check submits no Spark job). */
    private def dirStats(p: Path): (Long, Long, Long) = {
      val files = Option(p.toFile.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isFile && f.getName.startsWith("part-"))
      val conf = spark.sparkContext.hadoopConfiguration
      val rows = files.map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toURI), conf))
        try r.getRecordCount finally r.close()
      }.sum
      (files.length.toLong, files.map(_.length).sum, rows)
    }

    def pass(ctx: Ctx, index: Int, traced: Boolean) = {
      val recs = Seq(
        step(ctx, index, traced, "ingest", "pipeline.ingest", "command") {
          val payloads = spark.read.format("graft-api")
            .option("categories", categories.mkString(","))
            .option("pages", pages.toString).load()
          graft.pipeline.Ingest.run(payloads, "payload", snapshot.toString)
          Map.empty[String, Any]
        } { r =>
          val (files, bytes, landed) = dirStats(snapshot)
          r ++= Seq("rows" -> landed, "expected_rows" -> categories.length.toLong * pages * 3,
            "files" -> files, "bytes" -> bytes)
        },
        reportStep(ctx, index, traced, "report", threshold, report, expectWritten = true),
        reportStep(ctx, index, traced, "report_empty", Double.MaxValue, emptyReport,
          expectWritten = false))
      (Map("wall_s" -> recs.map(_("wall_s").asInstanceOf[Double]).sum), recs)
    }

    private def reportStep(ctx: Ctx, index: Int, traced: Boolean, name: String,
                           thr: Double, path: Path, expectWritten: Boolean) = {
      Files.deleteIfExists(path)
      step(ctx, index, traced, name, "pipeline.report", if (expectWritten) "collect" else "isEmpty") {
        val res = graft.pipeline.Report.highVolumeSales(spark.read.parquet(snapshot.toString), thr)
        Map[String, Any]("written" -> graft.pipeline.Report.writeReport(res, "high volume sales", path.toString))
      } { r =>
        r ++= Seq("expect_written" -> expectWritten, "artifact" -> Files.exists(path),
          "artifact_bytes" -> (if (Files.exists(path)) Files.size(path) else 0L))
      }
    }

    private def step(ctx: Ctx, index: Int, traced: Boolean, name: String, spanName: String,
                     last: String)(body: => Map[String, Any])(
                     check: mutable.LinkedHashMap[String, Any] => Unit): Map[String, Any] = {
      val rec = mutable.LinkedHashMap[String, Any]("pass" -> index, "name" -> name, "key" -> name)
      val root = ctx.newId(traced)
      val start = ctx.tracer.nowMs()
      val t0 = System.nanoTime()
      try {
        val (fields, s) = ctx.span(ctx.newId(traced), spanName, root, root)(body)
        rec ++= fields
        rec ++= Seq("step_s" -> s, "ok" -> true)
      } catch {
        case e: Throwable => rec ++= Seq("ok" -> false, "error" -> describe(e))
      }
      rec("wall_s") = (System.nanoTime() - t0) / 1e9
      if (traced) {
        ctx.tracer.record(Span(root, 0L, root, "query", start, ctx.tracer.nowMs()))
        rec ++= ctx.planFields(last, _ => true)
      }
      try check(rec) catch {
        case e: Throwable => rec ++= Seq("ok" -> false, "error" -> ("check: " + describe(e)))
      }
      rec.toMap
    }
  }
}
