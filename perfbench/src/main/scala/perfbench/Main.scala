package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.pipeline.{ExportPipeline, PipelineConfig, StageStatus}

/** One run of one workload: set up, then a closed loop with one client
  * thread (each call starts after the previous one returns) for at least
  * `--seconds`, checking every output. Writes every metric it measured to
  * `<work>/result.json`; `run.py` builds and launches this and prints the
  * result line.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <workDir> <dataDir>
  * [expectedFile]; with an expected file it records the suite's expected
  * digests there instead (see [[Record]]). */
object Main {
  final case class Call(key: String, family: String, seconds: Double, error: Option[String])
  final case class Pass(calls: Seq[Call], cpu: Double) {
    def seconds: Double = calls.map(_.seconds).sum
  }

  private def now(): Long = System.nanoTime()
  private def since(t0: Long): Double = (now() - t0) / 1e9
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuSeconds(): Double = osBean.getProcessCpuTime / 1e9

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear interpolation between closest ranks; +Inf ranks last. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val (lo, hi) = (s(pos.floor.toInt), s(pos.ceil.toInt))
      if (lo == hi || hi.isInfinite) (if (pos == pos.floor) lo else hi) else lo + (hi - lo) * (pos - pos.floor)
    }
  }

  private def stealTicks(): Long =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toLong
    catch { case _: Throwable => 0L }

  private def vmHwmMb(): Double =
    try {
      val l = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
        .find(_.startsWith("VmHWM:")).get
      l.split("\\s+")(1).toDouble / 1024
    } catch { case _: Throwable => Double.NaN }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, data) = args.take(6)
    val record = args.lift(6)
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors()

    val tSetup = now()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = since(tSetup)

    if (record.nonEmpty) { Record.run(spark, data, work, record.get); spark.stop(); return }

    val w: Workload = workload match {
      case "eth_export" => new EthExport(spark, seed, work)
      case "suite" => new Suite(spark, work, data)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val prepareS = w.prepare()
    val tWarm = now()
    w.warmUp()
    val setupS = sessionS + prepareS + since(tWarm)
    System.err.println(f"[setup] session $sessionS%.2f prepare $prepareS%.2f warm ${since(tWarm)}%.2f")

    val trace = if (traced) Some(new Trace(spark.sparkContext)) else None
    trace.foreach(spark.sparkContext.addSparkListener)
    val steal0 = stealTicks()
    val t0 = now()
    val passes = mutable.ArrayBuffer[Pass]()
    while (passes.isEmpty || since(t0) < seconds)
      passes += w.pass(passes.size, trace)
    val wall = since(t0)
    val stealPct = (stealTicks() - steal0) / 100.0 / wall / cores * 100
    trace.foreach(t => Trace.drain(spark.sparkContext))

    val calls = passes.flatMap(_.calls)
    val failed = calls.filter(_.error.nonEmpty)
    failed.groupBy(_.key).foreach { case (k, cs) =>
      System.err.println(s"FAILED $k (${cs.size}x): ${cs.head.error.get}")
    }
    // a failed call ranks as infinitely slow, so it never looks fast
    val latencies = calls.map(c => if (c.error.isEmpty) c.seconds else Double.PositiveInfinity)
    val n = passes.size.toDouble
    val m = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (median(passes.map(p => if (p.calls.exists(_.error.nonEmpty)) Double.PositiveInfinity else p.seconds).toSeq), "s"),
      "call_p50_s" -> (quantile(latencies.toSeq, 0.5), "s"),
      "call_p90_s" -> (quantile(latencies.toSeq, 0.9), "s"),
      "cpu_s" -> (median(passes.map(_.cpu).toSeq), "cpu-s"),
      "peak_rss_mb" -> (vmHwmMb(), "MB"),
      "bench.fail_frac" -> (failed.size.toDouble / calls.size, "ratio"),
      "host.steal_pct" -> (stealPct, "%"),
      "host.loadavg" -> (Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble, "load"),
      "bench.passes" -> (n, "count"),
      "bench.calls" -> (calls.size.toDouble, "count"))
    trace.foreach { t =>
      val per = (k: String) => t.counts(k) / n
      val self = Trace.selfSeconds(t.spans.toSeq)
      Seq("operation", "action", "job", "stage").foreach(l =>
        m(s"trace.${l}_self_s") = (self.getOrElse(l, 0.0) / n, "s"))
      Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks", "etl.files_written",
        "etl.partitions_written").foreach(k => m(k) = (per(k), "count"))
      Seq("spark.task_wait_s", "spark.gc_s").foreach(k => m(k) = (per(k), "s"))
      m("spark.executor_cpu_s") = (per("spark.executor_cpu_s"), "cpu-s")
      Seq("spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes", "etl.bytes_written")
        .foreach(k => m(k) = (per(k), "bytes"))
      m("spark.shuffle_records") = (per("spark.shuffle_records"), "count")
      m("spark.core_busy_frac") = (t.counts("spark.executor_run_s") / (passes.map(_.seconds).sum * cores), "ratio")
      m("ingest.read_amplification") = (per("ingest.input_bytes") / w.inputBytes, "ratio")
      m("trace.pass_s") = m("pass_s")
      val top = t.actions.filter(_._1.parent.startsWith("op"))
      m("etl.null_scan_s") = (top.filter(_._2 == "head").map(_._1.dur).sum / 1e3 / n, "s")
      m("etl.write_s") = (top.filter(a => a._2 == "save" || a._2 == "command").map(_._1.dur).sum / 1e3 / n, "s")
    }
    // a layer the workload does not run reports zero work
    (Chain.Tables.map(t => s"pipeline.${t}_s" -> "s") ++ Seq("pipeline.stage_attempts" -> "count",
      "etl.lake_bytes_ratio" -> "ratio", "memo.cached_mb" -> "MB", "memo.cached_rdds" -> "count") ++
      Suites.OpsFamilies.map(f => s"ops.${f}_s" -> "s") ++ Suites.LlmFamilies.map(f => s"llm.${f}_s" -> "s") ++
      Suites.Carried.map(k => s"key.${k}_s" -> "s")).foreach { case (k, u) => m(k) = (0.0, u) }
    w.layers(passes.toSeq, trace).foreach { case (k, v) => m(k) = v }

    val ok = failed.isEmpty && w.problems.isEmpty
    w.problems.foreach(p => System.err.println(s"WRONG $p"))
    trace.foreach(t => writeSpans(s"$work/trace-$workload-$seed.json", t))
    spark.stop()
    val metrics = m.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    val failures = failed.map(_.key).distinct.map(k => s""""$k"""").mkString(",")
    Files.writeString(Paths.get(s"$work/result.json"),
      s"""{"correct":$ok,"attempted":${calls.size},"failed":${failed.size + w.problems.size},""" +
        s""""failures":[$failures],"metrics":{$metrics}}""" + "\n")
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length()

  def deleteDir(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteDir)
    f.delete(): Unit
  }

  def num(v: Double): String =
    if (v.isNaN) "NaN" else if (v.isInfinite) "Infinity" else java.lang.Double.toString(v)

  private def writeSpans(file: String, t: Trace): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""
    val spans = t.spans.map(s =>
      s"""{"level":"${s.level}","id":"${s.id}","name":${q(s.name)},"start":${s.start},""" +
        s""""end":${s.end},"parent":"${s.parent}","op":${s.op}}""")
    val counts = t.counts.map { case (k, v) => s""""$k":${num(v)}""" }
    Files.writeString(Paths.get(file),
      s"""{"spans":[${spans.mkString(",\n")}],"counts":{${counts.mkString(",")}}}""" + "\n")
  }
}

/** One workload: its inputs, an untimed warm-up, and one timed pass. */
trait Workload {
  /** Builds the inputs; returns seconds taken. */
  def prepare(): Double
  def warmUp(): Unit
  def pass(i: Int, trace: Option[Trace]): Main.Pass
  /** Bytes of raw input one pass reads. */
  def inputBytes: Double
  /** Wrong outputs, by description. */
  def problems: Seq[String]
  def layers(passes: Seq[Main.Pass], trace: Option[Trace]): Seq[(String, (Double, String))]
}

/** The paper's workload: a full 7-table export of a seeded chain corpus,
  * written under the reference's 131-partition layout. */
final class EthExport(spark: SparkSession, seed: Long, work: String) extends Workload {
  /** 1/500 of the 5M-block chain. The 131-partition write costs the same at
    * any scale; an export takes about 20 s on 4 cores at 1/500 and 1/100. */
  val ScaleDiv = 500L
  private var corpus: Chain.Corpus = _
  private val found = mutable.ArrayBuffer[String]()
  def problems: Seq[String] = found.toSeq
  private var attempts = 0L
  private var lakeRatio = 0.0
  private val stageSeconds = mutable.Map[String, Double]().withDefaultValue(0.0)
  def inputBytes: Double = corpus.csvBytes.toDouble

  def prepare(): Double = {
    val t0 = System.nanoTime()
    corpus = Chain.generate(spark, seed, ScaleDiv, s"$work/raw")
    (System.nanoTime() - t0) / 1e9
  }

  private def export(c: Chain.Corpus, lake: String, trace: Option[Trace]): (Double, Double) = {
    trace.foreach(_.beginOp("export"))
    val cpu0 = Main.cpuSeconds()
    val t0 = System.nanoTime()
    val result = ExportPipeline.run(spark,
      PipelineConfig(partitionBounds = Some(ExportPipeline.referenceBounds(c.scaleDiv))), c.raw, lake)
    val dt = (System.nanoTime() - t0) / 1e9
    val cpu = Main.cpuSeconds() - cpu0
    trace.foreach(_.endOp())
    attempts += result.stages.values.map {
      case StageStatus.Succeeded(n) => n.toLong
      case StageStatus.Failed(n, _) => n.toLong
      case _ => 0L
    }.sum
    result.stages.collect { case (s, st) if !st.isInstanceOf[StageStatus.Succeeded] => found += s"stage $s: $st" }
    trace.foreach(_.beginOp("check", counted = false))
    found ++= Chain.check(result.tables, lake, c)
    trace.foreach(_.endOp())
    (dt, cpu)
  }

  /** The same corpus under uniform 1,000-block partitions runs every code
    * path of the timed export for half of its 131-partition write cost. */
  def warmUp(): Unit = ExportPipeline.run(spark, PipelineConfig(), corpus.raw, s"$work/warm-lake"): Unit

  def pass(i: Int, trace: Option[Trace]): Main.Pass = {
    val lake = s"$work/lake-$i"
    val before = found.size
    val (dt, cpu) = export(corpus, lake, trace)
    if (i == 0) lakeRatio = Main.dirBytes(new java.io.File(lake)).toDouble / corpus.csvBytes
    trace.foreach(attribute)
    Main.deleteDir(new java.io.File(lake))
    val err = if (found.size > before) Some(found.drop(before).mkString("; ")) else None
    Main.Pass(Seq(Main.Call("export", "export", dt, err)), cpu)
  }

  /** Each top-level action or job of the export belongs to the stage whose
    * lake table it writes or lists; the actions before a write (the stage's
    * null-field scan and join builds) belong to that write's stage. */
  private def attribute(t: Trace): Unit = {
    val exportOp = t.spans.filter(s => s.level == "operation" && s.name == "export").last.op
    val lakeTable = s".*/lake-\\d+/(${Chain.Tables.mkString("|")})(/.*)?".r
    var pending = 0.0
    t.topLevel(exportOp).foreach { case (s, paths) =>
      pending += s.dur / 1e3
      paths.collectFirst { case lakeTable(tb, _) => tb }
        .foreach { tb => stageSeconds(tb) += pending; pending = 0.0 }
    }
  }

  def layers(passes: Seq[Main.Pass], trace: Option[Trace]): Seq[(String, (Double, String))] = {
    val n = passes.size.toDouble
    Seq("etl.lake_bytes_ratio" -> (lakeRatio, "ratio"),
      "pipeline.stage_attempts" -> (attempts / n, "count")) ++
      (if (trace.isEmpty) Nil else Chain.Tables.map(tb => s"pipeline.${tb}_s" -> (stageSeconds(tb) / n, "s")))
  }
}
