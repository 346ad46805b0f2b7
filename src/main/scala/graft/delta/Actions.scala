package graft.delta

import org.apache.spark.sql.types._

/** Delta log action model (reference: kernel/src/actions/mod.rs — Metadata
  * :326, Protocol :558, CommitInfo :804, Add :860, Remove :934, Cdc :999,
  * DomainMetadata :1326; kernel/src/actions/set_transaction.rs:14).
  *
  * One JSON object per action per log line; a commit file is newline-
  * delimited JSON. These case classes mirror the protocol field names
  * exactly — they are both the Jackson (de)serialization surface and the
  * source of the log read `StructType`.
  */
case class DeletionVectorDescriptor(
    storageType: String,
    pathOrInlineDv: String,
    offset: Option[Int],
    sizeInBytes: Int,
    cardinality: Long) {

  /** Unique id for log-replay dedup (reference
    * kernel/src/actions/deletion_vector.rs: uniqueId = storageType +
    * pathOrInlineDv [+ '@' + offset]).
    */
  def uniqueId: String =
    offset match {
      case Some(o) => s"$storageType$pathOrInlineDv@$o"
      case None    => s"$storageType$pathOrInlineDv"
    }
}

case class AddFile(
    path: String,
    partitionValues: Map[String, String],
    size: Long,
    modificationTime: Long,
    dataChange: Boolean,
    stats: Option[String] = None,
    tags: Option[Map[String, String]] = None,
    deletionVector: Option[DeletionVectorDescriptor] = None,
    baseRowId: Option[Long] = None,
    defaultRowCommitVersion: Option[Long] = None,
    clusteringProvider: Option[String] = None) {
  /** The tombstone retiring this add. It carries the add's DV
    * descriptor: replay dedups on (path, dvUniqueId), so a DV-less
    * remove would never shadow a DV-carrying add.
    */
  private[delta] def toRemove(dataChange: Boolean = true): RemoveFile =
    RemoveFile(path, Some(System.currentTimeMillis()), dataChange,
      extendedFileMetadata = Some(true),
      partitionValues = Some(partitionValues), size = Some(size),
      deletionVector = deletionVector)
}

case class RemoveFile(
    path: String,
    deletionTimestamp: Option[Long],
    dataChange: Boolean,
    extendedFileMetadata: Option[Boolean] = None,
    partitionValues: Option[Map[String, String]] = None,
    size: Option[Long] = None,
    stats: Option[String] = None,
    tags: Option[Map[String, String]] = None,
    deletionVector: Option[DeletionVectorDescriptor] = None,
    baseRowId: Option[Long] = None,
    defaultRowCommitVersion: Option[Long] = None)

case class Format(
    provider: String = "parquet",
    options: Map[String, String] = Map.empty)

case class Metadata(
    id: String,
    name: Option[String],
    description: Option[String],
    format: Format,
    schemaString: String,
    partitionColumns: Seq[String],
    configuration: Map[String, String],
    createdTime: Option[Long]) {

  def schema: StructType = {
    val raw = GeoTypes.parseSchemaString(schemaString)
    // stale `delta.columnMapping.*` annotations with mapping disabled
    // are inert — resolve every field by its logical name (reference
    // StaleAnnotationPolicy::Ignore, #2886; delta-spark NoMapping
    // behavior). Stripping HERE, at the one parse boundary, means no
    // read or write path can resolve a stale physical name.
    if (configuration.getOrElse(ColumnMapping.MODE_KEY, "none") == "none")
      ColumnMapping.stripAnnotations(raw)
    else raw
  }
}

case class Protocol(
    minReaderVersion: Int,
    minWriterVersion: Int,
    readerFeatures: Option[Seq[String]] = None,
    writerFeatures: Option[Seq[String]] = None)

case class SetTransaction(
    appId: String,
    version: Long,
    lastUpdated: Option[Long])

case class CommitInfo(
    timestamp: Long,
    operation: String,
    operationParameters: Map[String, String] = Map.empty,
    engineInfo: Option[String] = None,
    inCommitTimestamp: Option[Long] = None,
    /** Opaque caller-supplied id joining this commit to the caller's
      * own request/operation id (reference transaction/mod.rs
      * `with_correlation_id`, #2834). Never interpreted.
      */
    correlationId: Option[String] = None)

case class AddCDCFile(
    path: String,
    partitionValues: Map[String, String],
    size: Long,
    dataChange: Boolean = false)

case class DomainMetadata(
    domain: String,
    configuration: String,
    removed: Boolean)

/** V2-checkpoint sidecar reference (reference actions/mod.rs:1251). */
case class Sidecar(
    path: String,
    sizeInBytes: Long,
    modificationTime: Long,
    tags: Option[Map[String, String]] = None)

/** V2-checkpoint self-description (reference actions/mod.rs:1303). */
case class CheckpointMetadata(
    version: Long,
    tags: Option[Map[String, String]] = None)

/** A single log line: exactly one of the fields is non-null. */
case class SingleAction(
    txn: Option[SetTransaction] = None,
    add: Option[AddFile] = None,
    remove: Option[RemoveFile] = None,
    metaData: Option[Metadata] = None,
    protocol: Option[Protocol] = None,
    cdc: Option[AddCDCFile] = None,
    commitInfo: Option[CommitInfo] = None,
    domainMetadata: Option[DomainMetadata] = None,
    sidecar: Option[Sidecar] = None,
    checkpointMetadata: Option[CheckpointMetadata] = None)

object LogSchema {
  private def m(k: DataType, v: DataType) = MapType(k, v, true)
  private val str = StringType
  private val strMap = m(str, str)

  val deletionVector: StructType = StructType(Seq(
    StructField("storageType", str),
    StructField("pathOrInlineDv", str),
    StructField("offset", IntegerType),
    StructField("sizeInBytes", IntegerType),
    StructField("cardinality", LongType)))

  val add: StructType = StructType(Seq(
    StructField("path", str),
    StructField("partitionValues", strMap),
    StructField("size", LongType),
    StructField("modificationTime", LongType),
    StructField("dataChange", BooleanType),
    StructField("stats", str),
    StructField("tags", strMap),
    StructField("deletionVector", deletionVector),
    StructField("baseRowId", LongType),
    StructField("defaultRowCommitVersion", LongType),
    StructField("clusteringProvider", str)))

  val remove: StructType = StructType(Seq(
    StructField("path", str),
    StructField("deletionTimestamp", LongType),
    StructField("dataChange", BooleanType),
    StructField("extendedFileMetadata", BooleanType),
    StructField("partitionValues", strMap),
    StructField("size", LongType),
    StructField("stats", str),
    StructField("tags", strMap),
    StructField("deletionVector", deletionVector),
    StructField("baseRowId", LongType),
    StructField("defaultRowCommitVersion", LongType)))

  val metaData: StructType = StructType(Seq(
    StructField("id", str),
    StructField("name", str),
    StructField("description", str),
    StructField("format", StructType(Seq(
      StructField("provider", str),
      StructField("options", strMap)))),
    StructField("schemaString", str),
    StructField("partitionColumns", ArrayType(str)),
    StructField("configuration", strMap),
    StructField("createdTime", LongType)))

  val protocol: StructType = StructType(Seq(
    StructField("minReaderVersion", IntegerType),
    StructField("minWriterVersion", IntegerType),
    StructField("readerFeatures", ArrayType(str)),
    StructField("writerFeatures", ArrayType(str))))

  val txn: StructType = StructType(Seq(
    StructField("appId", str),
    StructField("version", LongType),
    StructField("lastUpdated", LongType)))

  val cdc: StructType = StructType(Seq(
    StructField("path", str),
    StructField("partitionValues", strMap),
    StructField("size", LongType),
    StructField("dataChange", BooleanType)))

  val commitInfo: StructType = StructType(Seq(
    StructField("timestamp", LongType),
    StructField("operation", str),
    StructField("operationParameters", strMap),
    StructField("engineInfo", str),
    StructField("inCommitTimestamp", LongType)))

  val domainMetadata: StructType = StructType(Seq(
    StructField("domain", str),
    StructField("configuration", str),
    StructField("removed", BooleanType)))

  /** Schema-first read schema for commit JSON and checkpoint parquet —
    * no inference anywhere (reference kernel/src/schema design).
    */
  val full: StructType = StructType(Seq(
    StructField("txn", txn),
    StructField("add", add),
    StructField("remove", remove),
    StructField("metaData", metaData),
    StructField("protocol", protocol),
    StructField("cdc", cdc),
    StructField("commitInfo", commitInfo),
    StructField("domainMetadata", domainMetadata)))

  /** Checkpoint parquet schema (no commitInfo/cdc in checkpoints). */
  val checkpoint: StructType = StructType(Seq(
    StructField("txn", txn),
    StructField("add", add),
    StructField("remove", remove),
    StructField("metaData", metaData),
    StructField("protocol", protocol),
    StructField("domainMetadata", domainMetadata)))

  val sidecar: StructType = StructType(Seq(
    StructField("path", str),
    StructField("sizeInBytes", LongType),
    StructField("modificationTime", LongType),
    StructField("tags", strMap)))

  val checkpointMetadata: StructType = StructType(Seq(
    StructField("version", LongType),
    StructField("tags", strMap)))

  /** Top-level V2 checkpoint schema: checkpoint actions + sidecar refs +
    * the checkpointMetadata self-description (reference
    * checkpoint/checkpoint_shape.rs).
    */
  val v2Checkpoint: StructType = StructType(
    checkpoint.fields ++ Seq(
      StructField("sidecar", sidecar),
      StructField("checkpointMetadata", checkpointMetadata)))
}
