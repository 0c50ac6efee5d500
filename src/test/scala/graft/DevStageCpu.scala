package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

// scratch profiling main (test scope, not shipped): runs one declared query
// with a stage-completion listener and prints per-stage executor CPU / run
// time so a key's CPU total can be attributed to specific stages.
//   graft.DevStageCpu <sfDir> <key> [reps] [--metrics] [--plan <outDir>]
// --metrics prints the executed plan tree with every operator's SQL metrics;
// --plan writes <outDir>/<key>.txt with the explain("formatted") plan and the
// executed AQE final plan, for committing before/after plan evidence.
// Session confs mirror Bench's (shuffle.partitions = cpus, UTC) so the plans
// match what the bench actually runs.
object DevStageCpu {
  def main(args: Array[String]): Unit = {
    val planDir = args.indexOf("--plan") match {
      case -1 => None
      case i => Some(args(i + 1))
    }
    val positional = args.filterNot(a => a == "--metrics" || a == "--plan" || planDir.contains(a))
    val dir = positional(0)
    val key = positional(1)
    val reps = if (positional.length > 2) positional(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val stages = scala.collection.mutable.ArrayBuffer[(Int, String, Long, Long, Int)]()
    var shuffleWrite = 0L
    var shuffleRecords = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        stages += ((si.stageId, si.name.takeWhile(_ != '\n').take(90),
          si.taskMetrics.executorCpuTime / 1000000L,
          si.taskMetrics.executorRunTime, si.numTasks))
        shuffleWrite += si.taskMetrics.shuffleWriteMetrics.bytesWritten
        shuffleRecords += si.taskMetrics.shuffleWriteMetrics.recordsWritten
      }
    })
    var lastDf: org.apache.spark.sql.DataFrame = null
    (1 to reps).foreach { r =>
      stages.clear(); shuffleWrite = 0L; shuffleRecords = 0L
      val t0 = System.nanoTime()
      lastDf = SparkEntry.queries(key)(spark, dir)
      lastDf.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let stage-completed events drain to the listener
      println(f"=== pass $r wall=$wall%.3f s cpuSum=${stages.map(_._3).sum / 1000.0}%.3f s " +
        f"shuffleWrite=${shuffleWrite / 1048576.0}%.2f MiB ($shuffleRecords%d records) ===")
      stages.sortBy(-_._3).take(25).foreach { case (id, name, cpuMs, runMs, nt) =>
        println(f"stage $id%4d cpu=${cpuMs / 1000.0}%7.3f run=${runMs / 1000.0}%7.3f tasks=$nt%4d  $name")
      }
    }
    planDir.foreach { out =>
      val qe = lastDf.queryExecution
      val formatted = qe.explainString(ExplainMode.fromString("formatted"))
      // The noop write above ran under its own QueryExecution; executing
      // this one lets AQE settle its final plan (what actually ran).
      qe.toRdd.foreach(_ => ())
      val txt = s"=== FORMATTED ===\n$formatted\n=== EXECUTED (AQE final) ===\n${qe.executedPlan}\n"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      java.nio.file.Files.write(java.nio.file.Paths.get(out, s"$key.txt"), txt.getBytes("UTF-8"))
      println(s"wrote $out/$key.txt (${txt.length} chars)")
    }
    if (args.contains("--metrics") || sys.env.contains("DEV_METRICS")) {
      def walk(p: SparkPlan, depth: Int): Unit = {
        val m = p.metrics.map { case (k, v) => s"$k=${v.value}" }.mkString(", ")
        println(("  " * depth) + p.nodeName + (if (m.nonEmpty) s"  [$m]" else ""))
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
          case q: QueryStageExec => walk(q.plan, depth + 1)
          case r: ReusedExchangeExec => walk(r.child, depth + 1)
          case _ => p.children.foreach(walk(_, depth + 1))
        }
      }
      walk(lastDf.queryExecution.executedPlan, 0)
    }
    spark.stop()
  }
}
