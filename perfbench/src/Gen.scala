package graftbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.util.zip.GZIPOutputStream

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** How CDC updates pick their target row. */
sealed trait Shape
/** Updates hit one of the `recentRows` newest rows: 1-2 day partitions per tick. */
case object Hot extends Shape
/** The reference faker's rule: one of the latest 3 rows of a uniformly
  * random account, so updates land on random history days.
  */
case object Scatter extends Shape

/** Input sizes of one workload.
  *
  * @param historyEvents events before the export (70% inserts), spread over `historyDays`
  * @param cdcMinutes    landing minutes of CDC after the export, one tick each
  * @param eventsPerMinute mean CDC rate
  * @param recentRows    update window of the hot shape
  */
final case class Sizes(historyEvents: Int, historyDays: Int, cdcMinutes: Int,
                       eventsPerMinute: Int, recentRows: Int)

/** One source-table row; `updateAt` and `note` are the only mutable fields. */
final class Item(val account: String, val createAt: String, var updateAt: String,
                 val entity: String, val amount: Int, val isCredit: Int, var note: String) {
  def id: String = "account:" + account + ",create_at:" + createAt
}

/** A CDC event: the row image at the time of the change. */
final case class Event(account: String, createAt: String, updateAt: String,
                       entity: String, amount: Int, isCredit: Int, note: String)

/** Seeded source-table simulator following the reference faker's rules
  * (data_faker.py:105-163): 70% inserts / 30% updates, inserts reuse a
  * random existing account half the time, updates rewrite `note` and
  * `update_at`, and the clock is strictly monotone. Every step is O(1):
  * accounts live in an indexable buffer and each account keeps only the
  * indices of its 3 newest rows (the only update targets).
  */
final class Generator(seed: Long, sizes: Sizes, shape: Shape) {
  private val rnd = new Random(seed)
  val items = ArrayBuffer.empty[Item]
  private val accounts = ArrayBuffer.empty[String]
  private val accountIdx = mutable.HashMap.empty[String, Int]
  // 3 slots per account, oldest first; -1 = empty
  private val newest3 = ArrayBuffer.empty[Int]
  private val words = Vector("three", "way", "peace", "sing", "town", "trial",
    "indeed", "opportunity", "determine", "specific", "market", "value")

  // history ends near noon, so the CDC window sits mid-day and the hot
  // day partition has the same size whatever the seed
  private val start = Instant.parse("2023-06-30T12:00:00Z")
  private var clock: Long = start.getEpochSecond * 1000000L // epoch micros

  private def ts(micros: Long): String = {
    val t = LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L),
      (Math.floorMod(micros, 1000000L) * 1000L).toInt, ZoneOffset.UTC)
    f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02dT" +
      f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d.${t.getNano / 1000}%06d+0000"
  }
  /** Advance by `base` plus 0..100% jitter: strictly monotone. */
  private def tick(base: Long): String = {
    clock += base + rnd.nextLong(base)
    ts(clock)
  }
  private def phone(): String =
    f"${rnd.nextInt(900) + 100}%03d-${rnd.nextInt(900) + 100}%03d-${rnd.nextInt(9000) + 1000}%04d"
  private def word(): String = words(rnd.nextInt(words.size))
  private def sentence(): String =
    Seq.fill(3 + rnd.nextInt(5))(word()).mkString(" ").capitalize + "."
  private def entity(): String =
    word().capitalize + ", " + word().capitalize + " and " + word().capitalize

  private def insert(step: Long): Item = {
    val t = tick(step)
    val acct = if (accounts.nonEmpty && rnd.nextDouble() < 0.5)
      accounts(rnd.nextInt(accounts.size)) else phone()
    val a = accountIdx.getOrElseUpdate(acct, {
      accounts += acct
      newest3 ++= Seq(-1, -1, -1)
      accounts.size - 1
    })
    val item = new Item(acct, t, t, entity(), rnd.nextInt(1000) + 1, rnd.nextInt(2), sentence())
    items += item
    newest3(3 * a) = newest3(3 * a + 1)
    newest3(3 * a + 1) = newest3(3 * a + 2)
    newest3(3 * a + 2) = items.size - 1
    item
  }

  private def update(step: Long, rule: Shape): Item = {
    val target = rule match {
      case Scatter =>
        val a = rnd.nextInt(accounts.size)
        val n = (0 until 3).count(i => newest3(3 * a + i) >= 0)
        newest3(3 * a + 2 - rnd.nextInt(n))
      case Hot =>
        val lo = math.max(0, items.size - sizes.recentRows)
        lo + rnd.nextInt(items.size - lo)
    }
    val item = items(target)
    item.updateAt = tick(step)
    item.note = sentence()
    item
  }

  private def step(base: Long, rule: Shape): Item =
    if (items.isEmpty || rnd.nextDouble() < 0.7) insert(base) else update(base, rule)

  /** History up to the export: the reference rule over `historyDays`. */
  def history(): Unit = {
    val mean = sizes.historyDays * 86400L * 1000000L / sizes.historyEvents
    (0 until sizes.historyEvents).foreach(_ => step(mean * 2 / 3, Scatter))
    // the CDC clock starts on a fresh minute after the export
    clock = (clock / 60000000L + 1) * 60000000L
  }

  /** CDC after the export: `cdcMinutes` minutes at `eventsPerMinute`. */
  def cdc(): Vector[Event] = {
    val end = clock + sizes.cdcMinutes * 60000000L
    val base = 60000000L / sizes.eventsPerMinute * 2 / 3
    val out = Vector.newBuilder[Event]
    // one step advances the clock by less than 2 * base, so every event
    // lands inside the window and the tick count is exactly cdcMinutes
    while (clock + 2 * base < end) {
      val it = step(base, shape)
      out += Event(it.account, it.createAt, it.updateAt, it.entity,
        it.amount, it.isCredit, it.note)
    }
    out.result()
  }

  def accountCount: Int = accounts.size

  /** The newest 3 rows of `account`, newest first: what
    * `latestOfKey(account, k = 3)` must return, since create_at grows
    * with the monotone clock.
    */
  def newestOf(account: String): Seq[Item] = {
    val a = accountIdx(account)
    (2 to 0 by -1).map(i => newest3(3 * a + i)).filter(_ >= 0).map(items(_))
  }

  def randomAccount(r: Random): String = accounts(r.nextInt(accounts.size))
}

/** The files a run reads, written once during set-up. */
final case class Inputs(root: Path, exportRows: Long, events: Vector[Event],
                        truthRows: Long, accounts: Int, previewIds: Seq[String],
                        gen: Generator) {
  def exportRoot: String = root.resolve("exports").toString
  def manifestDir: String = root.resolve("manifest").toString
  def exportTracker: String = root.resolve("export_tracker.json").toString
  def cdcPath: String = root.resolve("cdc.parquet").toString
  def truthPath: String = root.resolve("truth.parquet").toString
}

object Inputs {
  val exportId = "01690000000000-0bench00"
  private val exportFiles = 4

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def itemJson(it: Item): String =
    s"""{"Item":{"account":{"S":${jsonStr(it.account)}},"create_at":{"S":${jsonStr(it.createAt)}},""" +
      s""""update_at":{"S":${jsonStr(it.updateAt)}},"entity":{"S":${jsonStr(it.entity)}},""" +
      s""""amount":{"N":"${it.amount}"},"is_credit":{"N":"${it.isCredit}"},"note":{"S":${jsonStr(it.note)}}}}"""

  /** DynamoDB export layout: gzip JSON-lines data files, a manifest-files
    * listing (one JSON line per data file) and the export tracker naming
    * the export ARN.
    */
  private def writeExport(root: Path, items: Iterable[Item]): Unit = {
    val dataDir = root.resolve(s"exports/AWSDynamoDB/$exportId/data")
    Files.createDirectories(dataDir)
    val chunks = items.toIndexedSeq.grouped(math.max(1, (items.size + exportFiles - 1) / exportFiles)).toSeq
    val manifest = chunks.zipWithIndex.map { case (chunk, i) =>
      val name = f"$i%06d.json.gz"
      val f = dataDir.resolve(name)
      val w = new BufferedWriter(new OutputStreamWriter(
        new GZIPOutputStream(Files.newOutputStream(f)), StandardCharsets.UTF_8))
      try chunk.foreach { it => w.write(itemJson(it)); w.write('\n') } finally w.close()
      val md5 = MessageDigest.getInstance("MD5").digest(Files.readAllBytes(f))
        .map("%02x".format(_)).mkString
      s"""{"itemCount":${chunk.size},"md5Checksum":"$md5","etag":"$md5",""" +
        s""""dataFileS3Key":"AWSDynamoDB/$exportId/data/$name"}"""
    }
    Files.createDirectories(root.resolve("manifest"))
    Files.writeString(root.resolve("manifest/manifest-files.json"), manifest.mkString("", "\n", "\n"))
    Files.writeString(root.resolve("export_tracker.json"),
      s"""{"export_arn": "arn:aws:dynamodb:us-east-1:000000000000:table/transactions/export/$exportId"}""")
  }

  val flatSchema: StructType = StructType(Seq(
    StructField("account", StringType), StructField("create_at", StringType),
    StructField("update_at", StringType), StructField("entity", StringType),
    StructField("amount", IntegerType), StructField("is_credit", IntegerType),
    StructField("note", StringType)))

  /** The lake's 13 columns, derived here independently of the program. */
  val lakeSchema: StructType = StructType(StructField("id", StringType) +: flatSchema.fields ++:
    Seq("create_year", "create_month", "create_day", "create_hour", "create_minute")
      .map(StructField(_, StringType)))

  private def lakeRow(it: Item): Row = {
    val c = it.createAt
    Row(it.id, it.account, c, it.updateAt, it.entity, it.amount, it.isCredit, it.note,
      c.substring(0, 4), c.substring(5, 7), c.substring(8, 10), c.substring(11, 13), c.substring(14, 16))
  }

  /** Generate a workload from its seed and write its DynamoDB export
    * under `root`. Pure JVM work: repeated during set-up.
    */
  def generate(root: Path, seed: Long, sizes: Sizes, shape: Shape): Inputs = {
    Files.createDirectories(root)
    val gen = new Generator(seed, sizes, shape)
    gen.history()
    val exportRows = gen.items.size.toLong
    writeExport(root, gen.items)
    val events = gen.cdc()
    val previewIds = gen.items.iterator.map(_.id).toVector.sorted.take(10)
    Inputs(root, exportRows, events, gen.items.size.toLong, gen.accountCount, previewIds, gen)
  }

  /** Write the CDC events and the final truth table as parquet. */
  def writeTables(spark: SparkSession, in: Inputs): Unit = {
    val cdcRows = in.events.map(e => Row(e.account, e.createAt, e.updateAt, e.entity,
      e.amount, e.isCredit, e.note))
    spark.createDataFrame(spark.sparkContext.parallelize(cdcRows, 4), flatSchema)
      .write.parquet(in.cdcPath)
    spark.createDataFrame(spark.sparkContext.parallelize(in.gen.items.map(lakeRow).toSeq, 4), lakeSchema)
      .write.parquet(in.truthPath)
  }
}
