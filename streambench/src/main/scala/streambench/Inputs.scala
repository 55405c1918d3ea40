package streambench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.Instant

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.etl.ScoringPipeline

/** One generated transaction. `value` is a multiple of 0.25, so sums of
  * values are exact in double and the dashboard's averages do not depend
  * on the order in which partitions are combined.
  */
final case class Tx(id: String, payer: String, payee: String, region: String,
                    modality: String, epochSec: Long, value: Double)

/** Every input of a run, derived from its seed: the users and regions
  * dimensions, the transactions, and the ids they carry. The program
  * only ever sees what is generated here.
  */
final class Inputs(seed: Long) {
  private val rnd = new Random(seed)
  val nRegions = 27
  val nUsers = 10000
  private val modalities = Array("PIX", "PIX", "PIX", "TED", "DOC", "Boleto")
  private val day0 = Instant.parse("2024-03-01T00:00:00Z").getEpochSecond

  val regions: Seq[Row] = (0 until nRegions).map { r =>
    Row(r.toString, -33.75 + rnd.nextInt(160) * 0.25,
      -73.75 + rnd.nextInt(160) * 0.25)
  }
  val users: Seq[Row] = (0 until nUsers).map { u =>
    val saldo = rnd.nextInt(40000) * 0.25
    val lim = rnd.nextInt(20000) * 0.25
    Row(f"u$u%05d", rnd.nextInt(nRegions).toString, saldo,
      lim + 100, lim + 200, lim + 50, lim + 150)
  }

  // ids are fresh per run: the seed picks the offset they start from
  private var nextId = 1000000000L + (seed & 0xffffL) * 10000000L
  private def takeIds(n: Int): Long = { val first = nextId; nextId += n; first }

  def events(n: Int): Array[Tx] = {
    val first = takeIds(n)
    Array.tabulate(n) { j =>
      val quarters = math.min(400000L,
        math.max(1L, math.round(math.exp(5.0 + 1.4 * rnd.nextGaussian()) * 4)))
      Tx(s"t${first + j}", f"u${rnd.nextInt(nUsers)}%05d",
        f"u${rnd.nextInt(nUsers)}%05d", rnd.nextInt(nRegions).toString,
        modalities(rnd.nextInt(modalities.length)),
        day0 + rnd.nextInt(86400), quarters * 0.25)
    }
  }

  /** `n` events replayed from `base` in a seed-shuffled order, each with a
    * fresh id: the backlog a restarted pipeline finds waiting.
    */
  def replay(base: Array[Tx], n: Int): Array[Tx] = {
    val first = takeIds(n)
    val order = rnd.shuffle(base.indices.toVector)
    Array.tabulate(n)(j =>
      base(order(j % base.length)).copy(id = s"t${first + j}"))
  }

  def shuffle[T](xs: Seq[T]): Seq[T] = rnd.shuffle(xs)
}

/** The Kafka-shaped wire format: one JSON line per record with the
  * event's JSON in `value` and the producer stamp in `timestamp`.
  */
object Wire {
  val rawSchema: StructType = StructType(Seq(
    StructField("value", StringType), StructField("timestamp", TimestampType)))

  val userSchema: StructType = StructType(Seq(
    StructField("id_usuario", StringType), StructField("id_regiao", StringType),
    StructField("saldo", DoubleType), StructField("limite_PIX", DoubleType),
    StructField("limite_TED", DoubleType), StructField("limite_DOC", DoubleType),
    StructField("limite_Boleto", DoubleType)))

  val regionSchema: StructType = StructType(Seq(
    StructField("id_regiao", StringType), StructField("latitude", DoubleType),
    StructField("longitude", DoubleType)))

  def json(t: Tx): String =
    s"""{"id_transacao":"${t.id}","id_usuario_pagador":"${t.payer}",""" +
      s""""id_usuario_recebedor":"${t.payee}","id_regiao":"${t.region}",""" +
      s""""modalidade_pagamento":"${t.modality}",""" +
      s""""data_horario":"${Instant.ofEpochSecond(t.epochSec)}",""" +
      s""""valor_transacao":${t.value}}"""

  def line(t: Tx, stampMs: Long): String =
    "{\"value\":\"" + json(t).replace("\"", "\\\"") + "\",\"timestamp\":\"" +
      Instant.ofEpochMilli(stampMs) + "\"}\n"

  /** Writes one file next to `dir` and renames it in, so a file source
    * watching `dir` never lists a partly written file.
    */
  def drop(dir: Path, name: String, records: Iterator[String]): Unit = {
    val tmp = dir.resolveSibling(s"${dir.getFileName}.tmp-$name")
    val w = Files.newBufferedWriter(tmp, UTF_8)
    try records.foreach(w.write) finally w.close()
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** The same transactions as typed rows, for the batch reference path. */
  def transactions(spark: SparkSession, txs: Seq[Tx]): DataFrame =
    frame(spark, txs.map(t => Row(t.id, t.payer, t.payee, t.region, t.modality,
      new java.sql.Timestamp(t.epochSec * 1000L), t.value)),
      ScoringPipeline.transactionSchema)
}
