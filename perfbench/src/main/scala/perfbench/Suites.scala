package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The keys of `SparkEntry.queries` in two suites: the keys served by
  * `graft.llm` and the curation pipeline, and every other key. */
object Suites {
  val LlmFamilies = Seq("dedup", "text", "sim", "multimodal", "llm", "embed", "corpus", "sample")
  val OpsFamilies = Seq("agg", "join", "win", "scan", "sink", "etl", "stream", "other")

  /** The keys ROADMAP carries as open performance items. */
  val Carried = Seq("agg_robust_mad", "dedup_edit_distance", "sink_partitioned_csv",
    "dedup_setsim_prefix", "dedup_containment", "dedup_ngram_jaccard", "join_skew_aqe",
    "llm_corpus_pipeline_staged")

  def family(key: String): String = {
    val p = key.takeWhile(_ != '_')
    if (LlmFamilies.contains(p) || OpsFamilies.contains(p)) p else "other"
  }

  def keys(suite: String): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val llm = suite == "llm_suite"
    graft.SparkEntry.queries.toSeq.sortBy(_._1).filter(k => LlmFamilies.contains(family(k._1)) == llm)
  }

  /** A cold pass over all 206 keys takes about 160 s on 4 cores, too long
    * for one run. A timed pass takes every stride-th key of each suite in
    * sorted order, the carried keys, and the first key of each family these
    * miss: every family's layer metric then has a key behind it. */
  val Stride = Map("ops_suite" -> 12, "llm_suite" -> 20)

  def timed: Seq[(String, (SparkSession, String) => DataFrame)] =
    Stride.toSeq.sorted.flatMap { case (suite, stride) =>
      val all = keys(suite)
      val picked = all.zipWithIndex.collect { case (k, i) if i % stride == 0 => k._1 } ++
        Carried.filter(c => all.exists(_._1 == c))
      val missed = all.map(k => family(k._1)).distinct.filterNot(f => picked.exists(family(_) == f))
        .map(f => all.find(k => family(k._1) == f).get._1)
      all.filter(k => picked.contains(k._1) || missed.contains(k._1))
    }

  /** Every call starts from the state a fresh caller sees: no memoized
    * frames, staged directories or stream runs from earlier calls. */
  def clear(spark: SparkSession): Unit = {
    graft.SessionMemo.clear(spark)
    graft.ops.Relational.clearStaged()
    graft.streaming.StreamOps.clearStagedRuns()
  }

  /** Expected digests, one `key<TAB>rows<TAB>hash` line per key. */
  def readExpected(file: Path): Map[String, Digest] =
    Files.readAllLines(file).asScala.filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
      val Array(k, rows, hash) = l.split("\t")
      k -> Digest(rows.toLong, BigDecimal(hash))
    }.toMap

  def copyDir(from: Path, to: Path): Long = {
    Files.createDirectories(to)
    Files.list(from).iterator().asScala.map { f =>
      Files.copy(f, to.resolve(f.getFileName)); Files.size(f)
    }.sum
  }
}
