package graft.compact

/** Snapshot-metadata data model for the InfluxDB3 file-storage layout the
  * engine compacts (reference: /root/reference/README.md:74-106, parsed at
  * /root/reference/kompactor.ts:167-170).
  *
  * All time fields are int64 nanoseconds since epoch and MUST stay `Long`:
  * ns epoch values (~1.7e18) exceed double's 2^53 integer range, so any
  * float path silently corrupts them — a reference bug (JS `Math.min/max`
  * at kompactor.ts:276-277) this engine deliberately does not replicate
  * (SURVEY.md §7.4 bug 1).
  */
final case class FileMeta(
    id: Long,
    path: String,
    size_bytes: Long,
    row_count: Long,
    chunk_time: Long,
    min_time: Long,
    max_time: Long)

/** One `[tableId, files]` pair from the pair-encoded `tables` array. */
final case class TableFiles(tableId: Long, files: Vector[FileMeta])

/** One `[dbId, {tables: ...}]` pair from the pair-encoded `databases`
  * array. */
final case class DbTables(dbId: Long, tables: Vector[TableFiles])

/** A `*.info.json` snapshot document (README.md:74-106). `databases` and
  * `tables` are JSON arrays of `[id, value]` 2-tuples — order is preserved
  * for faithful rewrite. `extra` keeps the top-level fields the model does
  * not name (sequence numbers, id counters, …): empty when there are
  * none, else EVERY top-level field in document order, the modeled ones
  * as `MissingNode` placeholders, so a rewrite keeps the key order. */
final case class SnapshotMeta(
    writer_id: String,
    parquet_size_bytes: Long,
    row_count: Long,
    min_time: Long,
    max_time: Long,
    databases: Vector[DbTables],
    extra: Vector[(String, com.fasterxml.jackson.databind.JsonNode)] =
      Vector.empty) {

  def allFiles: Vector[FileMeta] =
    databases.flatMap(_.tables.flatMap(_.files))
}
