package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The timed keys at the committed testdata: every key once per pass, in
  * sorted order, each call starting with cleared memo and staging state.
  * The order is fixed: a seeded order moves first-touch class loading and
  * JIT costs from key to key, which spread the median call time by a fifth
  * between seeds. The suite's inputs are the committed files, whatever the
  * seed. */
final class Suite(spark: SparkSession, work: String, data: String)
    extends Workload {
  import Suites._
  val Sf = "sf0.01"
  private val keys = Suites.timed
  private val expected = readExpected(Paths.get(data, "expected.tsv"))
  private val sfDir = s"$work/$Sf"
  private var dataBytes = 0L
  private val memoPeak = Array(0.0, 0.0)
  val problems: Seq[String] = Nil
  def inputBytes: Double = dataBytes.toDouble

  def prepare(): Double = {
    val t0 = System.nanoTime()
    dataBytes = copyDir(Paths.get(data, Sf), Paths.get(sfDir))
    (System.nanoTime() - t0) / 1e9
  }

  /** Loads the SQL machinery before timing: a scan, join, aggregate and
    * window over the testdata and one partitioned Parquet write. Each key's
    * own generated code is still compiled in its timed call, as in a first
    * call to a warm JVM. */
  def warmUp(): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val t = (name: String) => spark.read.parquet(s"$sfDir/$name.parquet")
    val joined = t("lineitem").join(t("orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey")).agg(sum(col("l_quantity")).as("q"), count(lit(1)).as("n"))
      .withColumn("r", rank().over(Window.partitionBy(col("n")).orderBy(col("q"))))
    Digest.of(joined)
    joined.write.mode("overwrite").partitionBy("n").parquet(s"$work/warm")
  }

  /** A wrong output is an error like an exception. */
  private def call(key: String, q: (SparkSession, String) => DataFrame): (Double, Option[String]) = {
    val t0 = System.nanoTime()
    val got = try Right(Digest.of(q(spark, sfDir))) catch { case e: Throwable => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    val err = got match {
      case Left(e) => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      case Right(d) => expected.get(key) match {
        case None => Some("no expected digest recorded")
        case Some(want) if want != d => Some(s"expected $want, got $d")
        case _ => None
      }
    }
    (dt, err)
  }

  def pass(i: Int, trace: Option[Trace]): Main.Pass = {
    val cpu0 = Main.cpuSeconds()
    val calls = keys.map { case (key, q) =>
      clear(spark)
      trace.foreach(_.beginOp(key))
      val (dt, err) = call(key, q)
      trace.foreach { t =>
        t.endOp()
        val cached = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
        memoPeak(0) = math.max(memoPeak(0), cached.map(r => r.memSize + r.diskSize).sum / 1048576.0)
        memoPeak(1) = math.max(memoPeak(1), cached.length.toDouble)
      }
      System.err.println(f"[call] $i $key $dt%.3f ${err.getOrElse("")}")
      Main.Call(key, family(key), dt, err)
    }
    Main.Pass(calls, Main.cpuSeconds() - cpu0)
  }

  def layers(passes: Seq[Main.Pass], trace: Option[Trace]): Seq[(String, (Double, String))] = {
    val n = passes.size.toDouble
    val calls = passes.flatMap(_.calls)
    val byFamily = calls.groupBy(_.family).view.mapValues(_.map(_.seconds).sum / n).toMap
    val perKey = calls.groupBy(_.key).view.mapValues(cs => Main.median(cs.map(_.seconds))).toMap
    Seq("memo.cached_mb" -> (memoPeak(0), "MB"), "memo.cached_rdds" -> (memoPeak(1), "count")) ++
      OpsFamilies.map(f => s"ops.${f}_s" -> (byFamily.getOrElse(f, 0.0), "s")) ++
      LlmFamilies.map(f => s"llm.${f}_s" -> (byFamily.getOrElse(f, 0.0), "s")) ++
      Carried.map(k => s"key.${k}_s" -> (perKey.getOrElse(k, 0.0), "s"))
  }
}

/** Records the expected digest of every timed key: each key runs twice,
  * cold, in opposite orders. A key whose output does not repeat is listed on
  * stderr and not recorded, so its calls fail until it is fixed. */
object Record {
  def run(spark: SparkSession, data: String, work: String, out: String): Unit = {
    val sf = s"$work/sf"
    Suites.copyDir(Paths.get(data, "sf0.01"), Paths.get(sf))
    val all = Suites.timed
    def once(order: Seq[(String, (SparkSession, String) => DataFrame)]) =
      order.map { case (k, q) =>
        Suites.clear(spark)
        k -> (try Right(Digest.of(q(spark, sf))) catch { case e: Throwable => Left(e.toString.take(200)) })
      }.toMap
    val a = once(all)
    val b = once(all.reverse)
    val lines = mutable.ArrayBuffer("# key\trows\thash (recorded at sf0.01 by perfbench Record)")
    all.map(_._1).foreach { k =>
      (a(k), b(k)) match {
        case (Right(x), Right(y)) if x == y => lines += s"$k\t$x"
        case (x, y) => System.err.println(s"UNSTABLE $k: $x vs $y")
      }
    }
    Files.writeString(Paths.get(out), lines.mkString("", "\n", "\n"))
  }
}
