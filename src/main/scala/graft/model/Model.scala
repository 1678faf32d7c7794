package graft.model

import org.apache.spark.sql.types._

/** Domain model of the reference pipeline.
  *
  * The reference's single domain type is the `Transaction` record
  * (reference: dynamodb_to_datalake/dynamodb_table.py:13-29). Timestamps
  * travel as strings end-to-end in format `%Y-%m-%dT%H:%M:%S.%f%z`
  * (µs precision, `+0000` offset — dynamodb_table.py:11); we keep that
  * invariant and parse only for partition derivation / windows.
  */
final case class Transaction(
    account: String,   // hash key, "ddd-ddd-dddd"
    create_at: String, // range key, immutable ISO string
    update_at: String, // precombine field — latest wins
    entity: String,    // immutable
    amount: Int,       // immutable
    is_credit: Int,    // immutable, 0/1
    note: String       // the ONLY mutable field
)

/** CDC change event as emitted by the stream
  * (reference: lambda_functions/dynamodb_stream_consumer.py:37-49).
  */
final case class CdcEvent(
    eventName: String, // INSERT | MODIFY | REMOVE
    account: String,
    create_at: String,
    update_at: String,
    entity: String,
    amount: Int,
    is_credit: Int,
    note: String
)

object Schemas {
  /** The timestamp wire format: `2023-07-27T22:14:26.066612+0000`. */
  val TsPattern = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSZ"

  /** [[TsPattern]] as a whole-string regex, for checks that must not
    * parse: 6 fractional digits and the `+0000` offset. The offset is
    * pinned because the day partitions are cut from the string as
    * written, and versions compare as strings: another offset would file
    * a row under its local day and order it wrongly.
    */
  val TsRegex = "^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}\\.\\d{6}\\+0000$"

  private def s(name: String) =
    StructField(name, StructType(Seq(StructField("S", StringType))))
  private def n(name: String) =
    StructField(name, StructType(Seq(StructField("N", StringType))))

  /** DynamoDB-JSON attribute wrappers for one item: only S and N occur
    * (reference: …post_processor_worker.py:40-46). `N` values are
    * string-encoded numbers.
    */
  val ddbItem: StructType = StructType(Seq(
    s("account"), s("create_at"), s("update_at"), s("entity"),
    n("amount"), n("is_credit"), s("note")))

  /** One export data line: `{"Item": {...}}` (README.rst:162-167). */
  val exportLine: StructType =
    StructType(Seq(StructField("Item", ddbItem)))

  /** Stream event: Keys + NewImage wrappers + eventName
    * (dynamodb_stream_consumer.py:37-49).
    */
  val streamEvent: StructType = StructType(Seq(
    StructField("eventName", StringType),
    StructField("dynamodb", StructType(Seq(
      StructField("Keys", StructType(Seq(s("account"), s("create_at")))),
      StructField("NewImage", ddbItem))))))

  /** A lake row without its partition columns: synthetic id + the flat
    * CDC payload. The shape of an EMPTY lake (nothing merged yet).
    */
  lazy val lakeFlat: StructType =
    StructType(StructField("id", StringType) +: flatCdcRow.fields)

  /** The lake's full row: [[lakeFlat]] plus the five `create_*`
    * partition columns, as the zero-padded strings they are written as
    * (`Ingest.withPartitionColumns`). Reading the lake with this schema
    * needs no schema-inference job, and a user schema turns off
    * partition type inference, so `create_day=08` stays `"08"`.
    */
  lazy val lakeRow: StructType = StructType(lakeFlat.fields ++
    Seq("create_year", "create_month", "create_day", "create_hour", "create_minute")
      .map(StructField(_, StringType)))

  /** Flat CDC row landed as JSON-lines (README.rst:198-205). */
  val flatCdcRow: StructType = StructType(Seq(
    StructField("account", StringType),
    StructField("create_at", StringType),
    StructField("update_at", StringType),
    StructField("entity", StringType),
    StructField("amount", IntegerType),
    StructField("is_credit", IntegerType),
    StructField("note", StringType)))
}
