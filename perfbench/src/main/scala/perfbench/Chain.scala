package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded chain corpus for the export workload, after the column recipes of
  * `EthE2E.synthesizeChain`, plus the lake the export must produce from it.
  *
  * The chain has `5M / scaleDiv` blocks. Block density follows the reference
  * partition plan (config.py:10-14): at most 1 transaction per block in the
  * sparse first tier, at most 3 in the middle tier and at most 8 in the dense
  * final tier; the seed draws each block's count. Transaction values and
  * difficulties are uint256 strings up to 10^38-1, and every token is
  * transferred at least once. */
object Chain {
  val Tables: Seq[String] =
    Seq("blocks", "transactions", "receipts", "logs", "contracts", "token_transfers", "tokens")
  val Max38: String = "9" * 38
  val Partitions = 131

  final case class Corpus(raw: String, scaleDiv: Long, csvBytes: Long, expected: Map[String, Digest])

  private def hex64(c: Column) = concat(lit("0x"), lpad(lower(hex(c)), 64, "0"))
  private def hex40(c: Column) = concat(lit("0x"), lpad(lower(hex(c)), 40, "0"))

  /** A canonical (no leading zeros) decimal string below 10^38 drawn from
    * the seed; every 101st draw is exactly 10^38-1. */
  private def uint256(seed: Long, id: Column, salt: Int): Column = {
    def draw(k: Int, m: Long) = pmod(xxhash64(lit(seed), id, lit(salt * 3 + k)), lit(m))
    val (top, hi, lo) = (draw(0, 100L), draw(1, 1000000000000000000L), draw(2, 1000000000000000000L))
    when(pmod(xxhash64(lit(seed), id, lit(-salt)), lit(101L)) === 0, lit(Max38))
      .when(top > 0, concat(top.cast(StringType), lpad(hi.cast(StringType), 18, "0"), lpad(lo.cast(StringType), 18, "0")))
      .when(hi > 0, concat(hi.cast(StringType), lpad(lo.cast(StringType), 18, "0")))
      .otherwise(lo.cast(StringType))
  }

  /** The reference's 131-partition bounds at this scale, written
    * independently of the program's: partition column values of the lake. */
  private def bounds(scaleDiv: Long, n: Column): (Column, Column) = {
    val (t1, w2, w3) = (1000000L / scaleDiv, 100000L / scaleDiv, 10000L / scaleDiv)
    val start = when(n < t1, lit(0L)).when(n < 4 * t1, n - pmod(n, lit(w2))).otherwise(n - pmod(n, lit(w3)))
    val width = when(n < t1, lit(t1)).when(n < 4 * t1, lit(w2)).otherwise(lit(w3))
    (format_string("%08d", start), format_string("%08d", start + width - 1))
  }

  /** Writes the raw headered CSVs under `raw` and returns the digests the
    * exported lake must match. */
  def generate(spark: SparkSession, seed: Long, scaleDiv: Long, raw: String): Corpus = {
    val nBlocks = 5000000L / scaleDiv
    val t1 = 1000000L / scaleDiv
    val nTokens = 100L
    val number = col("number")
    val txCount = pmod(xxhash64(lit(seed), number),
      when(number < t1, lit(2L)).when(number < 4 * t1, lit(4L)).otherwise(lit(9L)))

    val blocks = spark.range(nBlocks).toDF("number").select(
      number,
      hex64(number).as("hash"),
      hex64(number - 1).as("parent_hash"),
      lpad(lower(hex(pmod(number * 2654435761L, lit(1L << 62)))), 16, "0").as("nonce"),
      hex40(pmod(number, lit(1000))).as("miner"),
      uint256(seed, number, 1).as("difficulty"),
      uint256(seed, number, 2).as("total_difficulty"),
      (lit(500) + pmod(number, lit(30000))).as("size"),
      lit(8000000L).as("gas_limit"),
      pmod(number * 21000, lit(8000000L)).as("gas_used"),
      (lit(1438269973L) + number * 15).as("timestamp"),
      txCount.as("transaction_count"),
      lit(null).cast(StringType).as("all_null_col"))

    // transaction id i = block * 16 + index within the block: unique, and
    // no shuffle is needed to number them
    val tx = blocks.filter(col("transaction_count") > 0)
      .select(number.as("block_number"),
        explode(sequence(lit(0L), col("transaction_count") - 1)).as("idx"))
      .withColumn("i", col("block_number") * 16 + col("idx"))
    val i = col("i")
    val txHash = hex64(i + 1000000000L)
    val creates = pmod(xxhash64(lit(seed), i, lit(7)), lit(50L)) === 0
    val transfers = tx.filter(pmod(xxhash64(lit(seed), i, lit(8)), lit(10L)) === 0)
      .withColumn("token", pmod(xxhash64(lit(seed), i, lit(9)), lit(nTokens)))

    val rawFrames = Seq(
      "blocks" -> blocks,
      "transactions" -> tx.select(
        txHash.as("hash"), pmod(i, lit(100)).as("nonce"), hex64(col("block_number")).as("block_hash"),
        col("block_number"), col("idx").as("transaction_index"),
        hex40(pmod(i * 7, lit(100000))).as("from_address"),
        hex40(pmod(i * 13 + 1, lit(100000))).as("to_address"),
        uint256(seed, i, 3).as("value"), lit(21000L).as("gas"),
        (lit(1000000000L) + pmod(i, lit(100)) * 1000000L).as("gas_price"),
        when(pmod(i, lit(10)) === 0, lit("0xa9059cbb")).otherwise(lit("0x")).as("input")),
      "receipts" -> tx.select(
        txHash.as("transaction_hash"),
        when(creates, hex40(i + 5000000000L)).as("contract_address"),
        lit(21000L).as("gas_used"), lit(1L).as("status")),
      "logs" -> tx.select(
        txHash.as("transaction_hash"), pmod(i, lit(4)).as("log_index"),
        hex40(pmod(i * 3, lit(100000))).as("address"), hex64(pmod(i, lit(16))).as("topics"),
        lit("0x00").as("data"), col("block_number")),
      "contracts" -> tx.filter(creates).select(
        hex40(i + 5000000000L).as("address"),
        concat(lit("0x60806040"), lpad(lower(hex(pmod(i, lit(65536)))), 8, "0")).as("bytecode")),
      "token_transfers" -> transfers.select(
        hex40(col("token") + 7000000000L).as("token_address"),
        hex40(pmod(i * 7, lit(100000))).as("from_address"),
        hex40(pmod(i * 13 + 1, lit(100000))).as("to_address"),
        uint256(seed, i, 4).as("value"), txHash.as("transaction_hash"),
        pmod(i, lit(4)).as("log_index"), col("block_number")),
      "tokens" -> spark.range(nTokens).select(
        hex40(col("id") + 7000000000L).as("address"), concat(lit("TOK"), col("id")).as("symbol"),
        concat(lit("Token "), col("id")).as("name"), lit(18L).as("decimals"),
        uint256(seed, col("id"), 5).as("total_supply")))
    rawFrames.foreach { case (name, df) =>
      df.write.mode("overwrite").option("header", "true").csv(s"$raw/$name.csv")
    }

    val referenced = transfers.select("token").distinct().count()
    require(referenced == nTokens, s"transfers reference $referenced of $nTokens tokens")

    // the lake: all-null columns dropped, fan-out tables keyed to the block
    // that introduced them, every row carrying its partition bounds
    val r = rawFrames.toMap
    val txBlock = r("transactions").select(col("hash").as("transaction_hash"), col("block_number"))
    val contractBlock = r("receipts").filter(col("contract_address").isNotNull)
      .join(txBlock, "transaction_hash")
      .select(col("contract_address").as("address"), col("block_number"))
    val tokenBlock = r("token_transfers").groupBy(col("token_address").as("address"))
      .agg(min("block_number").as("block_number"))
    val lake = Map(
      "blocks" -> (r("blocks").drop("all_null_col"), "number"),
      "transactions" -> (r("transactions"), "block_number"),
      "receipts" -> (r("receipts").join(txBlock, "transaction_hash"), "block_number"),
      "logs" -> (r("logs"), "block_number"),
      "contracts" -> (r("contracts").join(contractBlock, "address"), "block_number"),
      "token_transfers" -> (r("token_transfers"), "block_number"),
      "tokens" -> (r("tokens").join(tokenBlock, "address"), "block_number"))
    val expected = lake.map { case (name, (df, blockCol)) =>
      val (s, e) = bounds(scaleDiv, col(blockCol))
      name -> Digest.of(df.withColumn("start_block", s).withColumn("end_block", e))
    }
    Corpus(raw, scaleDiv, Main.dirBytes(new File(raw)), expected)
  }

  private val PartitionDir = "start_block=(\\d{8})".r
  private val EndDir = "end_block=(\\d{8})".r
  private val Uint256 = Map("blocks" -> Seq("difficulty", "total_difficulty"),
    "transactions" -> Seq("value"), "token_transfers" -> Seq("value"))

  /** Problems found in an exported lake; empty when it is correct. */
  def check(tables: Map[String, DataFrame], lakeDir: String, corpus: Corpus): Seq[String] =
    Tables.flatMap { t =>
      val dir = new File(s"$lakeDir/$t")
      val starts = Option(dir.listFiles()).toSeq.flatten.filter(_.isDirectory)
      val ends = starts.flatMap(s => Option(s.listFiles()).toSeq.flatten.filter(_.isDirectory))
      val badDirs = starts.map(_.getName).filter(PartitionDir.unapplySeq(_).isEmpty) ++
        ends.map(_.getName).filter(EndDir.unapplySeq(_).isEmpty)
      val layout =
        if (badDirs.nonEmpty) Seq(s"$t: partition dirs not 8-digit zero-padded: ${badDirs.take(3).mkString(",")}")
        else if (t == "blocks" && ends.size != Partitions) Seq(s"blocks: ${ends.size} partitions, want $Partitions")
        else if (ends.size > Partitions) Seq(s"$t: ${ends.size} partitions, want <= $Partitions")
        else Nil
      val types = tables.get(t).toSeq.flatMap { df =>
        Uint256.getOrElse(t, Nil).flatMap { c =>
          df.schema.find(_.name == c).map(_.dataType) match {
            case Some(d: DecimalType) if d == DecimalType(38, 0) => None
            case other => Some(s"$t.$c is ${other.map(_.simpleString).getOrElse("missing")}, want decimal(38,0)")
          }
        }
      }
      val content = tables.get(t) match {
        case None => Seq(s"$t: not exported")
        case Some(df) =>
          val got = Digest.of(df)
          if (got == corpus.expected(t)) Nil else Seq(s"$t: got $got, want ${corpus.expected(t)}")
      }
      layout ++ types ++ content
    }
}
