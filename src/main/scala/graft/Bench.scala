package graft
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Runs every (or a selected subset of)
  * `SparkEntry.queries` key against `SPARK_GRAFT_SF_DIR` and prints ONE
  * compact JSON line as the LAST line of output.
  *
  * The driver captures only the last ~2,000 chars of this process's output,
  * so the final line must stay small: it carries the totals, per-query times
  * for the slowest [[BenchReport.LineTopN]] keys, and capped diagnostic
  * lists (see [[BenchReport]], whose spec pins the worst-case line length).
  * The complete per-query map is written to `BENCH_FULL.json` in the working
  * directory (the repo root under sbt) for offline reading.
  *
  * This is a measuring instrument only: it judges nothing. Comparing a
  * change against its parent is `perfbench/run.py`'s job; host contention
  * is recorded (`steal_pct_cpu`, `contended`), never waited out or retried.
  */
object Bench {
  private val SlowGuardSec = 60.0
  /** Steal above this percent of one CPU over the timed passes stamps the
    * run `contended`. */
  private val ContendedStealPct = 5.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Unknown query keys in args must fail loudly: a typo'd key would
    // otherwise filter to an empty run that "succeeds" with total 0.
    val unknown = args.filterNot(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown query keys: ${unknown.mkString(", ")}; " +
        s"valid keys: ${SparkEntry.queries.keySet.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val whDir = java.nio.file.Files.createTempDirectory("graft_wh")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", whDir.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Per-task executor CPU accumulator (ns): executorCpuTime +
    // executorDeserializeCpuTime from every completed task. Read per key
    // after draining the async listener bus (GraftBridge) so a key's total
    // is complete before the next key starts. Hypervisor steal pauses the
    // vCPU clock, not the thread's CPU accounting, so this reads far less
    // host noise than wall time.
    val cpuNanos = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null)
          cpuNanos.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime): Unit
      }
    })
    def drainedCpuNanos(): Long = {
      try org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(spark)
      catch { case _: Throwable => } // backlogged bus → best-effort reading
      cpuNanos.get()
    }
    // Warm the JVM (codegen, parquet footers, shuffle machinery) once so
    // per-query numbers measure the queries, not first-touch costs.
    graft.Tables.testTables.foreach { t =>
      try graft.Tables.t(spark, sfDir, t).count() catch { case _: Throwable => }
    }
    // Warm the write path too (output committer, csv/parquet writer codegen):
    // the sink queries otherwise pay several seconds of first-touch setup
    // that has nothing to do with their data volume.
    val warmDir = java.nio.file.Files.createTempDirectory("graft_warm")
    try {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{col, row_number, broadcast}
      import spark.implicits._
      val tiny = Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v")
      Seq("csv", "parquet").foreach { fmt =>
        graft.etl.EtlOps.writePartitioned(
          tiny, s"$warmDir/$fmt", fmt, col("k"), col("k"))
      }
      // Warm the remaining cold codegen paths a first query would otherwise
      // pay for (typed Dataset encoders, broadcast-join build, window exec),
      // so per-key numbers measure the keys rather than first-touch
      // compilation.
      tiny.as[(Long, Double)].mapPartitions(_.map { case (k, v) => (k, v + 1) })
        .toDF("k", "v")
        .join(broadcast(tiny.select(col("k"))), "k")
        .withColumn("rn", row_number().over(Window.partitionBy("k").orderBy("v")))
        .count(): Unit
    } catch { case _: Throwable => }
    // SPARK_GRAFT_BENCH_EXCLUDE: keys to SKIP, recorded in the JSON as
    // `excluded` so the record stays honest about coverage. Exists for the
    // single-box ceiling at scale-probe corpora: the two Θ(n²)-contract
    // multimodal keys at 100× exceed this host's disk/heap (PLANS.md probe
    // #21 — at that scale `multimodal_dup_clusters`' GC stall starved
    // executor heartbeats and took down the whole suite's SparkContext,
    // failing 112 innocent keys). An exclude run is not the full suite, so
    // it writes BENCH_SUBSET.json like any subset run.
    val excluded = sys.env.get("SPARK_GRAFT_BENCH_EXCLUDE").toSeq
      .flatMap(_.split("[,\\s]+")).filter(_.nonEmpty)
    val unknownExcl = excluded.filterNot(SparkEntry.queries.keySet)
    if (unknownExcl.nonEmpty) {
      System.err.println(s"unknown SPARK_GRAFT_BENCH_EXCLUDE keys: ${unknownExcl.mkString(", ")}")
      sys.exit(2)
    }
    val selected =
      (if (args.isEmpty) SparkEntry.queries
       else SparkEntry.queries.view.filterKeys(args.toSet).toMap) -- excluded
    // Median-of-N per key (default 3): single-shot numbers on a shared host
    // inflate up to ~4x under load (COVERAGE.md), which polluted the r4→r5
    // round-over-round comparison. Reps run PASS-MAJOR — the whole key list
    // rep times, not each key rep times back-to-back — so a multi-minute
    // host-load window pollutes each key in at most ONE pass (back-to-back
    // reps all landed inside the window, and the median absorbed nothing:
    // 4 keys read 2-9x high in r6's final run). The median across separated
    // passes is load-immune up to floor(reps/2) polluted passes, and
    // /proc/loadavg sampled per pass boundary makes a polluted run
    // self-identifying in the JSON.
    //
    // Warm vs cold: the memoized write-then-read operators and cached dedup
    // intermediates make passes 2..N warm, so the median reports
    // steady-state query cost — NOT comparable to the r1-r5 single-shot
    // totals. The cross-round-comparable number is `cold_total` = the
    // pass-1 (first-touch) sum, which is exactly what a single-shot run
    // measured. SPARK_GRAFT_BENCH_COLD=1 additionally clears every memo
    // cache before each key, making every rep a true first touch (no
    // cross-key warming either, beyond the shared JVM/codegen warmup
    // above, which IS wanted).
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val coldMode = sys.env.get("SPARK_GRAFT_BENCH_COLD").contains("1")
    def loadavg(): Double =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // Hypervisor steal ticks (/proc/stat cpu field 9). Steal on this sandbox
    // is USAGE-DEPENDENT — ~0% sampled at idle, measured 143% of one CPU
    // during a single-key bench (PLANS.md "Floor epoch") — so a pre-run
    // probe cannot predict it; the passes' own steal total, emitted as
    // steal_pct_cpu (percent of ONE cpu stolen over the passes' wall time),
    // is the environment every number in the record was measured in.
    def stealTicks(): Long =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/stat"))).linesIterator
        .find(_.startsWith("cpu ")).map(_.trim.split("\\s+")(8).toLong).getOrElse(-1L)
      catch { case _: Throwable => -1L }
    val stealStart = stealTicks()
    val wallStart = System.nanoTime()
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    val keys = selected.toSeq.sortBy(_._1)
    val perPass = scala.collection.mutable.LinkedHashMap[String, Vector[Double]](
      keys.map { case (k, _) => k -> Vector.empty[Double] }: _*)
    val perPassCpu = scala.collection.mutable.LinkedHashMap[String, Vector[Double]](
      keys.map { case (k, _) => k -> Vector.empty[Double] }: _*)
    val passLoads = scala.collection.mutable.ArrayBuffer[Double]()
    for (rep <- 1 to reps) {
      passLoads += loadavg()
      keys.foreach { case (name, fn) =>
        if (coldMode) {
          graft.SessionMemo.clear(spark)
          graft.ops.Relational.clearStaged()
          graft.streaming.StreamOps.clearStagedRuns()
        }
        val cpu0 = drainedCpuNanos()
        val t0 = System.nanoTime()
        // A crashing key must never masquerade as a fast pass: record it in
        // `failed` (surfaced in both JSON lines + stderr), don't swallow it.
        try { fn(spark, sfDir).count() } catch {
          case e: Throwable =>
            if (!failed.contains(name)) failed += name
            System.err.println(s"WARNING: query '$name' FAILED: " +
              s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        }
        perPass(name) = perPass(name) :+ (System.nanoTime() - t0) / 1e9
        perPassCpu(name) = perPassCpu(name) :+ (drainedCpuNanos() - cpu0) / 1e9
      }
    }
    passLoads += loadavg()
    val stealPct: Double = {
      val end = stealTicks()
      if (stealStart < 0 || end < 0) -1.0
      else (end - stealStart) / 100.0 /
        math.max((System.nanoTime() - wallStart) / 1e9, 0.001) * 100.0
    }
    val contended = stealPct > ContendedStealPct
    spark.stop()
    deleteRecursively(warmDir.toFile)
    deleteRecursively(whDir.toFile)

    // Lower median over exactly `reps` passes (the true median for odd reps).
    def lowerMedian(ts: Vector[Double]): Double = ts.sorted.apply((ts.length - 1) / 2)
    val results = perPass.toSeq.map { case (name, ts) => name -> lowerMedian(ts) }
    val cpuByKey = perPassCpu.map { case (name, ts) => name -> lowerMedian(ts) }.toMap
    val coldTotal = perPass.valuesIterator.map(_.head).sum
    val total = results.map(_._2).sum
    val cpuTotal = cpuByKey.values.sum
    val bySlowest = results.sortBy(-_._2)
    val mode = if (coldMode) "cold" else "warm"
    val stealJson = if (stealPct < 0) "-1" else f"$stealPct%.1f"

    def fmt(v: Double): String = f"$v%.3f"
    def strs(ks: Seq[String]): String = ks.map(k => s""""$k"""").mkString("[", ",", "]")
    val fullJson = bySlowest.map { case (k, v) => s""""$k":${fmt(v)}""" }
      .mkString("{", ",", "}")
    val fullCpuJson = bySlowest.map { case (k, _) => s""""$k":${fmt(cpuByKey(k))}""" }
      .mkString("{", ",", "}")
    // Raw per-pass wall times, so pass-to-pass disagreement (a host-load
    // window hitting one pass) can be read offline without rerunning.
    val passesJson = bySlowest.map { case (k, _) =>
      s""""$k":${perPass(k).map(fmt).mkString("[", ",", "]")}""" }.mkString("{", ",", "}")
    // Subset runs (key args given) must not clobber the committed full-suite
    // record — write BENCH_FULL.json only when the whole suite ran.
    val benchOut =
      if (args.isEmpty && excluded.isEmpty) "BENCH_FULL.json" else "BENCH_SUBSET.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(benchOut),
      (s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},""" +
        s""""reps":$reps,"stat":"median_across_passes","mode":"$mode",""" +
        s""""cold_total":${fmt(coldTotal)},"cpu_total":${fmt(cpuTotal)},""" +
        s""""loadavg":${passLoads.map(fmt).mkString("[", ",", "]")},""" +
        s""""steal_pct_cpu":$stealJson,"contended":$contended,""" +
        s""""failed":${strs(failed.sorted.toSeq)},"excluded":${strs(excluded)},""" +
        s""""queries":$fullJson,"queries_cpu":$fullCpuJson,"passes":$passesJson,""" +
        s""""sf":"$sfDir"}""" + "\n").getBytes("UTF-8"))
    // Guardrail: a degenerate operator must never hide inside a green round.
    val slow = bySlowest.takeWhile(_._2 > SlowGuardSec)
    slow.foreach { case (k, v) =>
      System.err.println(f"WARNING: query '$k' took $v%.1f s (> $SlowGuardSec%.0f s guardrail) — scale-suspect")
    }
    // Final line via BenchReport: every variable-length field hard-capped
    // (top-10 per-query maps, counts instead of full diagnostic lists) so
    // the driver's 2,000-char tail capture ALWAYS contains the complete
    // JSON object. The full detail is in the file written above.
    println(BenchReport.finalLine(
      total = total, nQueries = results.size, reps = reps, mode = mode,
      coldTotal = coldTotal, cpuTotal = cpuTotal,
      stealPctJson = stealJson, contended = contended,
      failed = failed.toSeq, excluded = excluded, slowOver60s = slow.map(_._1),
      queriesBySlowest = bySlowest, cpuByKey = cpuByKey, sf = sfDir))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete(): Unit
  }
}
