package graft.delta

/** Row tracking (reference kernel/src/row_tracking.rs:19-68): stable row
  * ids assigned at commit time from the `delta.rowTracking` domain
  * metadata high-water mark. A file's rows get
  * `row_id = baseRowId + row_index` and
  * `row_commit_version = defaultRowCommitVersion` unless materialized
  * columns override them (we never materialize).
  */
object RowTracking {

  val DOMAIN = "delta.rowTracking"
  val ENABLED_KEY = "delta.enableRowTracking"
  val MAT_ROW_ID_KEY = "delta.rowTracking.materializedRowIdColumnName"
  val MAT_RCV_KEY =
    "delta.rowTracking.materializedRowCommitVersionColumnName"

  /** (row-id column, row-commit-version column) PHYSICAL names fixed at
    * enablement. File rewrites (OPTIMIZE/REORG) write the original row
    * ids under these names; reads prefer them over
    * baseRowId + row_index (the protocol's materialized-override rule).
    */
  def materializedCols(m: Metadata): Option[(String, String)] =
    for {
      idCol <- m.configuration.get(MAT_ROW_ID_KEY)
      vCol <- m.configuration.get(MAT_RCV_KEY)
    } yield (idCol, vCol)

  /** Fresh uuid-suffixed materialized names (collision-proof against
    * user columns, like delta-spark's `_row-id-col-<uuid>`).
    */
  def freshMaterializedNames(): Map[String, String] = {
    val sfx = java.util.UUID.randomUUID().toString.substring(0, 8)
    Map(MAT_ROW_ID_KEY -> s"_row-id-col-$sfx",
      MAT_RCV_KEY -> s"_row-commit-version-col-$sfx")
  }

  /** HWM for a table with no assigned row ids — first baseRowId is 0. */
  val MISSING_HIGH_WATER_MARK: Long = -1L

  def enabled(m: Metadata): Boolean =
    m.configuration.get(ENABLED_KEY).exists(_.equalsIgnoreCase("true"))

  def highWaterMark(snapshot: Snapshot): Long =
    snapshot.domainMetadata(DOMAIN)
      .map(cfg => JsonLog.parseLine(cfg).get("rowIdHighWaterMark").asLong)
      .getOrElse(MISSING_HIGH_WATER_MARK)

  def domainMetadataFor(hwm: Long): DomainMetadata =
    DomainMetadata(DOMAIN, s"""{"rowIdHighWaterMark":$hwm}""",
      removed = false)

  /** Assign baseRowId/defaultRowCommitVersion to the adds that carry
    * none yet, advancing the high-water mark by each such file's
    * numRecords (from its stats); adds that already own a range (DV
    * swaps, restored files) keep it. Returns (annotated adds, new
    * high-water mark).
    */
  def assign(adds: Seq[AddFile], hwm: Long,
      commitVersion: Long): (Seq[AddFile], Long) = {
    var cursor = hwm
    val out = adds.map {
      case a if a.baseRowId.isDefined => a
      case a =>
        val n = a.stats
          .map(s => JsonLog.parseLine(s).get("numRecords").asLong)
          .getOrElse(throw new IllegalStateException(
            s"row tracking requires numRecords stats on ${a.path}"))
        val base = cursor + 1
        cursor += n
        a.copy(baseRowId = Some(base),
          defaultRowCommitVersion = Some(commitVersion))
    }
    (out, cursor)
  }
}
