package kbench

import java.nio.file.{Files => JFiles, Path}
import scala.collection.mutable
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import graft.compact.{DbTables, FileMeta, SnapshotCodec, SnapshotMeta, TableFiles}

/** A time-range count over one table's files, with the answer the
  * generator knows. */
final case class Scan(host: String, db: String, table: String, lo: Long,
    hi: Long, expected: Long)

/** What the generator wrote: sizes, the planted variants and the scans. */
final case class InfluxFixture(files: Int, rows: Long, bytes: Long,
    buckets: Int, snapshots: Int, hotInputs: Seq[String], missing: Set[String],
    scans: Seq[Scan], stats: Map[String, FileStats])

/** Rows, time bounds, an order-independent content digest (wrapping sum of
  * per-row hashes) and the number of rows whose time is below the previous
  * row's, in file order. */
final case class FileStats(rows: Long, minTime: Long, maxTime: Long,
    digest: Long, descents: Long) {
  def +(o: FileStats): FileStats = FileStats(rows + o.rows,
    math.min(minTime, o.minTime), math.max(maxTime, o.maxTime),
    digest + o.digest, descents + o.descents)
}
object FileStats { val Empty = FileStats(0, Long.MaxValue, Long.MinValue, 0L, 0L) }

/** Seeded InfluxDB 3 storage tree (layout of FIXTURES.md §1):
  * `<host>/dbs/<db>/<table>/<date>/<HH-MM>/<wal10>.parquet` raw WAL files
  * every 10 minutes, one `snapshots/<wal10>.info.json` per host and hour.
  *
  * 2 hosts x 2 dbs x 3 tables x `hours` hourly buckets. One hot table
  * (host-0/db-0/table-0) writes `hotFactor` times the rows of the others.
  * Rows: `time` int64 ns (above 2^53, out of order within a file), tags
  * `region` and `sensor`, fields `value` (double) and `count` (int64), and
  * the high-cardinality string `trace_id`.
  *
  * Planted variants: the last file of each hour of host-0/db-0/table-1 is
  * referenced again by the next hour's snapshot; one referenced file of
  * host-1/db-1/table-2 is never written; host-1/db-0/table-1 writes one
  * file in its last hour (a singleton bucket); host-0/db-1/table-0 holds
  * hour 1's first three slots as an already-compacted `c_*` file.
  *
  * Files are written by parquet-mr directly (no Spark, raw local FS, no
  * checksum sidecars), so one seed always yields the same bytes. */
object InfluxTree {
  val Hosts = Seq("host-0", "host-1")
  val Dbs = Seq("db-0", "db-1")
  val Tables = Seq("table-0", "table-1", "table-2")
  val Date = "2025-01-26"
  val DayStartNs = 1737849600L * 1000000000L // 2025-01-26T00:00:00Z
  val SlotNs = 600L * 1000000000L // 10-minute WAL files
  val SlotsPerHour = 6
  val Hot = ("host-0", "db-0", "table-0")
  val DupTable = ("host-0", "db-0", "table-1")
  val MissingAt = ("host-1", "db-1", "table-2", 1, 2) // hour, slot in hour
  val SingletonAt = ("host-1", "db-0", "table-1")
  val PreCompactedAt = ("host-0", "db-1", "table-0", 1)

  private val schema = MessageTypeParser.parseMessageType(
    """message wal {
      |  required int64 time;
      |  required binary region (STRING);
      |  required binary sensor (STRING);
      |  required double value;
      |  required int64 count;
      |  required binary trace_id (STRING);
      |}""".stripMargin)

  private final case class Row(time: Long, region: String, sensor: String,
      value: Double, count: Long, traceId: String) {
    def hash: Long = rowHash(time, region, sensor, value, count, traceId)
  }

  def rowHash(time: Long, region: String, sensor: String, value: Double,
      count: Long, traceId: String): Long = {
    import scala.util.hashing.MurmurHash3.{mix, stringHash}
    val a = mix(mix(mix(time.toInt, (time >>> 32).toInt), stringHash(region)),
      stringHash(sensor))
    val b = mix(mix(mix(java.lang.Double.hashCode(value), count.toInt),
      stringHash(traceId)), (count >>> 32).toInt)
    (a.toLong << 32) ^ (b.toLong & 0xffffffffL)
  }

  private def statsOf(rows: Iterator[(Long, Long)]): FileStats = {
    var n, digest, descents = 0L
    var lo = Long.MaxValue
    var hi = Long.MinValue
    var prev = Long.MinValue
    rows.foreach { case (t, h) =>
      n += 1; digest += h
      if (t < prev) descents += 1
      prev = t; lo = math.min(lo, t); hi = math.max(hi, t)
    }
    FileStats(n, lo, hi, digest, descents)
  }

  /** Stats of any parquet file with this schema (raw or compacted), read
    * on the driver by parquet-mr, independently of Spark. */
  def readStats(file: Path): FileStats = {
    val r = ParquetReader.builder(new GroupReadSupport(), new HPath(file.toUri))
      .withConf(rawConf).build()
    try statsOf(Iterator.continually(r.read()).takeWhile(_ != null).map { g: Group =>
      val t = g.getLong("time", 0)
      t -> rowHash(t, g.getString("region", 0), g.getString("sensor", 0),
        g.getDouble("value", 0), g.getLong("count", 0), g.getString("trace_id", 0))
    }) finally r.close()
  }

  private def rawConf: Configuration = {
    val conf = new Configuration(false)
    conf.set("fs.file.impl", classOf[RawLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    conf
  }

  private def rowsFor(rnd: scala.util.Random, n: Int, slotStart: Long): Vector[Row] =
    Vector.fill(n) {
      val sensor = rnd.nextInt(64)
      Row(slotStart + (rnd.nextDouble() * SlotNs).toLong,
        "r" + rnd.nextInt(8), (if (sensor < 10) "s-00" else "s-0") + sensor,
        math.round(rnd.nextGaussian() * 1e4) / 100.0, rnd.nextInt(100000).toLong,
        java.lang.Long.toHexString(rnd.nextLong() | Long.MinValue))
    }

  private def write(conf: Configuration, file: Path, rows: Seq[Row]): Unit = {
    JFiles.createDirectories(file.getParent)
    val out = HadoopOutputFile.fromPath(new HPath(file.toUri), conf)
    val w = ExampleParquetWriter.builder(out).withType(schema)
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val f = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      w.write(f.newGroup().append("time", r.time).append("region", r.region)
        .append("sensor", r.sensor).append("value", r.value)
        .append("count", r.count).append("trace_id", r.traceId))
    } finally w.close()
  }

  /** Write the tree under `root` (replacing it). `smallRows` rows per
    * 10-minute file; the hot table writes `hotFactor` x as many. */
  def generate(root: Path, seed: Long, hours: Int, smallRows: Int,
      hotFactor: Int, nScans: Int): InfluxFixture = {
    Files.deleteTree(root)
    val conf = rawConf
    val rnd = new scala.util.Random(seed)
    // every row's time, per (host, db, table), for the scan answers
    val times = mutable.Map[(String, String, String), mutable.ArrayBuilder.ofLong]()
    val missing = mutable.Set[String]()
    val stats = mutable.Map[String, FileStats]()
    var hotInputs = Vector.empty[String]
    var nFiles = 0
    var nRows = 0L
    var nBuckets = 0
    var nSnaps = 0
    for (host <- Hosts) {
      var nextId = 0L
      def id(): Long = { nextId += 1; nextId }
      var carried: Option[(String, String, FileMeta)] = None // dup reference
      for (hour <- 0 until hours) {
        val entries = mutable.LinkedHashMap[(String, String), mutable.ArrayBuffer[FileMeta]]()
        carried.foreach { case (db, t, m) =>
          entries.getOrElseUpdate(db -> t, mutable.ArrayBuffer()) += m }
        carried = None
        for (db <- Dbs; table <- Tables) {
          val key = (host, db, table)
          val n = if (key == Hot) smallRows * hotFactor else smallRows
          val slots =
            if (key == SingletonAt && hour == hours - 1) Seq(0)
            else 0 until SlotsPerHour
          val preCompacted = (host, db, table, hour) == PreCompactedAt
          val groups: Seq[Seq[Int]] =
            if (preCompacted) Seq(slots.take(3)) ++ slots.drop(3).map(Seq(_))
            else slots.map(Seq(_))
          if (slots.length > 1) nBuckets += 1
          groups.foreach { g =>
            val slot0 = hour * SlotsPerHour + g.head
            val wal0 = slot0 + 1L
            val rows = g.flatMap(s =>
              rowsFor(rnd, n, DayStartNs + (hour * SlotsPerHour + s) * SlotNs))
            val rel =
              if (g.length > 1) f"$host/dbs/$db/$table/$Date/$hour%02d-00/" +
                f"c_$wal0%010d_${wal0 + g.length - 1}%010d_h$hour%02d.parquet"
              else f"$host/dbs/$db/$table/$Date/$hour%02d-${g.head * 10}%02d/$wal0%010d.parquet"
            val (toWrite, sorted) =
              if (g.length > 1) (rows.sortBy(_.time), true) else (rows, false)
            val isMissing = (host, db, table, hour, g.head) == MissingAt
            val size =
              if (isMissing) { missing += rel; 4096L }
              else {
                val f = root.resolve(rel)
                write(conf, f, toWrite)
                stats(rel) = statsOf(toWrite.iterator.map(r => r.time -> r.hash))
                nFiles += 1
                nRows += rows.length
                rows.foreach(r => times.getOrElseUpdate(key,
                  new mutable.ArrayBuilder.ofLong) += r.time)
                JFiles.size(f)
              }
            if (key == Hot && hour == 0) hotInputs :+= rel
            val ts = rows.map(_.time)
            val m = FileMeta(id(), rel, size, rows.length,
              DayStartNs + slot0 * SlotNs, ts.min, ts.max)
            entries.getOrElseUpdate(db -> table, mutable.ArrayBuffer()) += m
            if ((host, db, table) == DupTable && g.head == SlotsPerHour - 1)
              carried = Some((db, table, m))
            assert(sorted || g.length == 1)
          }
        }
        val byDb = Dbs.map { db =>
          DbTables(Dbs.indexOf(db), Tables.flatMap { t =>
            entries.get(db -> t).map(fs => TableFiles(Tables.indexOf(t), fs.toVector))
          }.toVector)
        }.toVector
        val all = byDb.flatMap(_.tables.flatMap(_.files))
        val snap = SnapshotMeta(s"$host-writer", all.map(_.size_bytes).sum,
          all.map(_.row_count).sum, all.map(_.min_time).min,
          all.map(_.max_time).max, byDb)
        val lastWal = (hour + 1) * SlotsPerHour
        val sp = root.resolve(f"$host/snapshots/$lastWal%010d.info.json")
        JFiles.createDirectories(sp.getParent)
        JFiles.write(sp, SnapshotCodec.render(snap).getBytes("UTF-8"))
        nSnaps += 1
      }
    }
    val sortedTimes = times.map { case (k, b) =>
      k -> { val a = b.result(); java.util.Arrays.sort(a); a } }
    val keys = sortedTimes.keys.toVector.sorted
    val scans = (0 until nScans).map { _ =>
      val k = keys(rnd.nextInt(keys.length))
      val span = (1 + rnd.nextInt(3)) * 1800L * 1000000000L
      val lo = DayStartNs + (rnd.nextDouble() * (hours * 3600L * 1000000000L - span)).toLong
      val a = sortedTimes(k)
      val cnt = lowerBound(a, lo + span) - lowerBound(a, lo)
      Scan(k._1, k._2, k._3, lo, lo + span, cnt.toLong)
    }
    InfluxFixture(nFiles, nRows, Files.bytes(root), nBuckets, nSnaps,
      hotInputs, missing.toSet, scans, stats.toMap)
  }

  private def lowerBound(a: Array[Long], x: Long): Int = {
    val i = java.util.Arrays.binarySearch(a, x)
    if (i < 0) -i - 1
    else { var j = i; while (j > 0 && a(j - 1) == x) j -= 1; j }
  }
}
