package graft.compact

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.core.util.{DefaultIndenter, DefaultPrettyPrinter}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, MissingNode, ObjectNode}
import scala.jdk.CollectionConverters._

/** JSON (de)serialization for [[SnapshotMeta]] using Jackson (ships inside
  * Spark — the offline build resolves nothing new).
  *
  * The wire format pair-encodes maps: `databases` and `tables` are arrays
  * of `[id, value]` 2-tuples (README.md:82-104; destructured at
  * kompactor.ts:190-191). Jackson's tree model handles the heterogeneous
  * tuples; codegen'd data-binding cannot, hence the hand round-trip.
  * Unknown top-level fields are preserved verbatim, in document order
  * ([[SnapshotMeta.extra]]), as the reference's `JSON.parse` →
  * `JSON.stringify` keeps them (kompactor.ts:167-170,309), so a rewrite is
  * faithful for documents richer than the spec. Unknown keys INSIDE
  * database and file objects are still not kept.
  */
object SnapshotCodec {
  private val mapper = new ObjectMapper()
  private val Modeled = Vector("writer_id", "parquet_size_bytes", "row_count",
    "min_time", "max_time", "databases")

  /** Byte-exact `JSON.stringify(value, null, 2)` formatting
    * (kompactor.ts:309): `": "` key separator (Jackson's default is
    * `" : "`), every array element on its own 2-space-indented line
    * (Jackson's default inlines arrays), empty containers as `[]`/`{}`
    * (not `[ ]`). Number VALUES above 2^53 are where we deliberately
    * diverge: the reference's JS renderer rounds them through a double
    * (bug 1, SURVEY §7.4); Longs here print exactly. */
  private class StringifyPrinter extends DefaultPrettyPrinter {
    indentArraysWith(DefaultIndenter.SYSTEM_LINEFEED_INSTANCE)
    indentObjectsWith(DefaultIndenter.SYSTEM_LINEFEED_INSTANCE)
    override def createInstance(): DefaultPrettyPrinter = new StringifyPrinter
    override def writeObjectFieldValueSeparator(g: JsonGenerator): Unit =
      g.writeRaw(": ")
    override def writeEndArray(g: JsonGenerator, nrOfValues: Int): Unit = {
      if (!_arrayIndenter.isInline) _nesting -= 1
      if (nrOfValues > 0) _arrayIndenter.writeIndentation(g, _nesting)
      g.writeRaw(']')
    }
    override def writeEndObject(g: JsonGenerator, nrOfEntries: Int): Unit = {
      if (!_objectIndenter.isInline) _nesting -= 1
      if (nrOfEntries > 0) _objectIndenter.writeIndentation(g, _nesting)
      g.writeRaw('}')
    }
  }

  def parse(json: String): SnapshotMeta = {
    val root = mapper.readTree(json)
    val fields = root.properties().asScala.toVector.map(e => e.getKey -> e.getValue)
    SnapshotMeta(
      writer_id = root.path("writer_id").asText(),
      parquet_size_bytes = root.path("parquet_size_bytes").asLong(),
      row_count = root.path("row_count").asLong(),
      min_time = root.path("min_time").asLong(),
      max_time = root.path("max_time").asLong(),
      databases = root.path("databases").elements.asScala.map { pair =>
        val dbId = pair.get(0).asLong()
        val tables = pair.get(1).path("tables").elements.asScala.map { tp =>
          val tableId = tp.get(0).asLong()
          val files = tp.get(1).elements.asScala.map(parseFile).toVector
          TableFiles(tableId, files)
        }.toVector
        DbTables(dbId, tables)
      }.toVector,
      extra =
        if (fields.forall(f => Modeled.contains(f._1))) Vector.empty
        else fields.map { case (k, v) =>
          k -> (if (Modeled.contains(k)) MissingNode.getInstance else v) })
  }

  private def parseFile(n: JsonNode): FileMeta = FileMeta(
    id = n.path("id").asLong(),
    path = n.path("path").asText(),
    size_bytes = n.path("size_bytes").asLong(),
    row_count = n.path("row_count").asLong(),
    chunk_time = n.path("chunk_time").asLong(),
    min_time = n.path("min_time").asLong(),
    max_time = n.path("max_time").asLong())

  /** Pretty 2-space render mirroring the reference's
    * `JSON.stringify(..., null, 2)` output shape (kompactor.ts:309), in
    * the parsed document's key order; modeled fields it lacked follow. */
  def render(m: SnapshotMeta): String = {
    val root = mapper.createObjectNode()
    val placed = m.extra.map(_._1).toSet
    (m.extra ++ Modeled.filterNot(placed).map(_ -> MissingNode.getInstance)).foreach {
      case (k, v) if !v.isMissingNode => root.set[JsonNode](k, v)
      case ("writer_id", _) => root.put("writer_id", m.writer_id)
      case ("parquet_size_bytes", _) =>
        root.put("parquet_size_bytes", m.parquet_size_bytes)
      case ("row_count", _) => root.put("row_count", m.row_count)
      case ("min_time", _) => root.put("min_time", m.min_time)
      case ("max_time", _) => root.put("max_time", m.max_time)
      case _ => renderDatabases(root.putArray("databases"), m.databases)
    }
    mapper.writer(new StringifyPrinter).writeValueAsString(root)
  }

  private def renderDatabases(dbs: ArrayNode, databases: Vector[DbTables]): Unit =
    databases.foreach { db =>
      val pair = dbs.addArray()
      pair.add(db.dbId)
      val obj = pair.addObject()
      val tables = obj.putArray("tables")
      db.tables.foreach { t =>
        val tp = tables.addArray()
        tp.add(t.tableId)
        val fs = tp.addArray()
        t.files.foreach(f => fs.add(renderFile(f)))
      }
    }

  private def renderFile(f: FileMeta): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("id", f.id)
    n.put("path", f.path)
    n.put("size_bytes", f.size_bytes)
    n.put("row_count", f.row_count)
    n.put("chunk_time", f.chunk_time)
    n.put("min_time", f.min_time)
    n.put("max_time", f.max_time)
    n
  }
}
