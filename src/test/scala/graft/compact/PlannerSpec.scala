package graft.compact

import org.scalatest.funsuite.AnyFunSuite

class WalSeqSpec extends AnyFunSuite {
  test("raw WAL name") {
    assert(WalSeq.extract("0000000042.parquet").contains(42L))
  }
  test("compacted name (h and g markers)") {
    assert(WalSeq.extract("c_0000000007_0000000021_h05.parquet").contains(7L))
    assert(WalSeq.extract("c_0000000007_0000000021_g05.parquet").contains(7L))
  }
  test("garbage throws via extractOrThrow") {
    assert(WalSeq.extract("data.parquet").isEmpty)
    intercept[IllegalArgumentException](WalSeq.extractOrThrow("data.parquet"))
  }
  test("split-output part names stay re-compactable (regression)") {
    // oversized buckets emit c_<a>_<b>_hHH_pNN.parquet; a later run over
    // that hour (late WAL arrival) must parse them, not crash the host
    assert(WalSeq.extract("c_0000000007_0000000021_h05_p00.parquet").contains(7L))
    assert(WalSeq.extract("c_0000000007_0000000021_h05_p13.parquet").contains(7L))
  }
}

class SnapshotCodecSpec extends AnyFunSuite {
  // > 2^53 on purpose: regression for the reference's JS number precision
  // bug (kompactor.ts:276-277)
  private val big = 1737928861362000123L
  private val sample = SnapshotMeta(
    writer_id = "writer-1",
    parquet_size_bytes = 123456789L,
    row_count = 42L,
    min_time = big,
    max_time = big + 999999999L,
    databases = Vector(
      DbTables(0, Vector(
        TableFiles(3, Vector(FileMeta(14,
          "host/dbs/db-0/table-3/2025-01-26/22-00/0000000001.parquet",
          10377L, 50L, big - 61362000123L, big, big + 296230000L))),
        TableFiles(5, Vector.empty))),
      DbTables(2, Vector.empty)))

  test("round-trip preserves pair encoding, order, and >2^53 longs") {
    val json = SnapshotCodec.render(sample)
    assert(SnapshotCodec.parse(json) == sample)
    // wire shape: databases is an array of [id, {tables: [[id, [...]]]}]
    assert(json.contains("\"databases\": [\n    [\n      0,"))
    assert(json.contains(big.toString))
  }

  test("render is byte-exact JSON.stringify(meta, null, 2) format") {
    // golden generated by `json.dumps(doc, indent=2)`, which matches JS
    // JSON.stringify(doc, null, 2) byte-for-byte for this content
    // (kompactor.ts:309). The >2^53 values print EXACTLY — the one
    // deliberate divergence from the reference's JS renderer, which
    // rounds them through a double (SURVEY §7.4 bug 1).
    val base = 1737928861362000000L
    val meta = SnapshotMeta("edge0", 100, 5, base, base + 1,
      Vector(DbTables(0, Vector(
        TableFiles(0, Vector(FileMeta(1, "p.parquet", 10, 2, base, base, base + 1))),
        TableFiles(1, Vector.empty)))))
    val expected =
      """{
        |  "writer_id": "edge0",
        |  "parquet_size_bytes": 100,
        |  "row_count": 5,
        |  "min_time": 1737928861362000000,
        |  "max_time": 1737928861362000001,
        |  "databases": [
        |    [
        |      0,
        |      {
        |        "tables": [
        |          [
        |            0,
        |            [
        |              {
        |                "id": 1,
        |                "path": "p.parquet",
        |                "size_bytes": 10,
        |                "row_count": 2,
        |                "chunk_time": 1737928861362000000,
        |                "min_time": 1737928861362000000,
        |                "max_time": 1737928861362000001
        |              }
        |            ]
        |          ],
        |          [
        |            1,
        |            []
        |          ]
        |        ]
        |      }
        |    ]
        |  ]
        |}""".stripMargin
    assert(SnapshotCodec.render(meta) == expected)
  }

  test("round-trip survives 200 seeded random snapshot trees") {
    val rnd = new scala.util.Random(4242)
    def randMeta(): SnapshotMeta = {
      def long() = rnd.nextLong() & Long.MaxValue // non-negative, > 2^53 often
      def files(n: Int) = Vector.tabulate(n)(i => FileMeta(
        rnd.nextInt(1000).toLong,
        s"h${rnd.nextInt(3)}/dbs/db-${rnd.nextInt(4)}/table-${rnd.nextInt(4)}/" +
          f"2025-01-${1 + rnd.nextInt(28)}%02d/${rnd.nextInt(24)}%02d-00/" +
          f"${rnd.nextInt(100000)}%010d.parquet",
        long(), long(), long(), long(), long()))
      SnapshotMeta(
        writer_id = s"w${rnd.nextInt(100)}",
        parquet_size_bytes = long(), row_count = long(),
        min_time = long(), max_time = long(),
        databases = Vector.tabulate(rnd.nextInt(4))(d => DbTables(d.toLong,
          Vector.tabulate(rnd.nextInt(4))(t =>
            TableFiles(t.toLong, files(rnd.nextInt(4)))))))
    }
    (1 to 200).foreach { i =>
      val m = randMeta()
      assert(SnapshotCodec.parse(SnapshotCodec.render(m)) == m, s"trial $i")
    }
  }

  test("parses the README-style document") {
    val json =
      """{
        |  "writer_id": "w", "parquet_size_bytes": 1, "row_count": 2,
        |  "min_time": 1737928861362000001, "max_time": 1737930192543000002,
        |  "databases": [[7, {"tables": [[9, [
        |    {"id": 1, "path": "h/dbs/db-7/table-9/2025-01-26/22-00/0000000001.parquet",
        |     "size_bytes": 3, "row_count": 4, "chunk_time": 5,
        |     "min_time": 1737928861362000001, "max_time": 1737928861362000002}
        |  ]]]}]]
        |}""".stripMargin
    val m = SnapshotCodec.parse(json)
    assert(m.min_time == 1737928861362000001L) // exact, not 2^53-rounded
    assert(m.databases.head.dbId == 7)
    assert(m.databases.head.tables.head.files.head.row_count == 4)
  }
}

class PlannerSpec extends AnyFunSuite {
  private def fm(path: String, rows: Long = 10, id: Long = 1): FileMeta =
    FileMeta(id, path, 100L, rows, 0L, 1737928861362000000L, 1737928861362000999L)
  private def snap(files: FileMeta*): SnapshotMeta =
    SnapshotMeta("w", 0, 0, 0, 0,
      Vector(DbTables(0, Vector(TableFiles(0, files.toVector)))))

  test("buckets by (db, table, date, hour); no cross-table merge") {
    // same hour, two different tables — the reference would merge these
    // into one bucket (kompactor.ts:197); we must not (SURVEY §7.4 bug 2)
    val (buckets, _) = Planner.plan(Seq(snap(
      fm("h/dbs/db-0/table-0/2025-01-26/22-00/0000000001.parquet"),
      fm("h/dbs/db-0/table-0/2025-01-26/22-10/0000000002.parquet"),
      fm("h/dbs/db-0/table-1/2025-01-26/22-00/0000000003.parquet"),
      fm("h/dbs/db-0/table-1/2025-01-26/22-20/0000000004.parquet"))))
    assert(buckets.length == 2)
    assert(buckets.map(_.table).toSet == Set("table-0", "table-1"))
    assert(buckets.forall(_.files.length == 2))
  }

  test("dedup across snapshots; singleton buckets dropped") {
    val f1 = fm("h/dbs/db-0/table-0/2025-01-26/22-00/0000000001.parquet")
    val f2 = fm("h/dbs/db-0/table-0/2025-01-26/23-00/0000000002.parquet")
    val (buckets, _) = Planner.plan(Seq(snap(f1, f2), snap(f1, f2)))
    assert(buckets.isEmpty) // each hour has ONE unique file -> nothing to do
  }

  test("WAL sort order + output naming") {
    val (buckets, _) = Planner.plan(Seq(snap(
      fm("h/dbs/db-0/table-0/2025-01-26/05-40/0000000031.parquet"),
      fm("h/dbs/db-0/table-0/2025-01-26/05-00/0000000007.parquet"),
      fm("h/dbs/db-0/table-0/2025-01-26/05-20/c_0000000002_0000000005_h05.parquet"))))
    val b = buckets.head
    assert(b.files.map(f => WalSeq.extractOrThrow(f.path.split('/').last)) ==
      Vector(2L, 7L, 31L))
    assert(b.outputName == "c_0000000002_0000000031_h05.parquet")
    assert(b.outputPath ==
      "h/dbs/db-0/table-0/2025-01-26/05-00/c_0000000002_0000000031_h05.parquet")
  }

  test("daily window (resurrected timeWindowNanos config)") {
    val (buckets, _) = Planner.plan(Seq(snap(
      fm("h/dbs/db-0/table-0/2025-01-26/05-00/0000000001.parquet"),
      fm("h/dbs/db-0/table-0/2025-01-26/23-00/0000000002.parquet"))),
      windowHours = 24)
    assert(buckets.length == 1)
    assert(buckets.head.outputName == "c_0000000001_0000000002_h00.parquet")
  }

  test("unparseable paths surfaced, not silently dropped") {
    val (buckets, skipped) = Planner.plan(Seq(snap(
      fm("not/a/valid/layout.parquet"),
      fm("h/dbs/db-0/table-0/2025-01-26/05-00/0000000001.parquet"),
      fm("h/dbs/db-0/table-0/2025-01-26/05-30/0000000002.parquet"))))
    assert(buckets.length == 1)
    assert(skipped == Vector("not/a/valid/layout.parquet"))
  }

  test("unknown top-level fields survive a compaction rewrite unchanged, in place") {
    // a snapshot richer than the README's fields (InfluxDB 3 carries id
    // counters and sequence numbers); one > 2^53 on purpose
    val json =
      """{"writer_id": "w", "next_file_id": 9007199254740993,
        | "parquet_size_bytes": 200, "row_count": 20,
        | "min_time": 1737928861362000000, "max_time": 1737928861362000999,
        | "databases": [[0, {"tables": [[0, [
        |   {"id": 1, "path": "h/dbs/db-0/table-0/2025-01-26/22-00/0000000001.parquet",
        |    "size_bytes": 100, "row_count": 10, "chunk_time": 0,
        |    "min_time": 1737928861362000000, "max_time": 1737928861362000999},
        |   {"id": 2, "path": "h/dbs/db-0/table-0/2025-01-26/22-10/0000000002.parquet",
        |    "size_bytes": 100, "row_count": 10, "chunk_time": 0,
        |    "min_time": 1737928861362000000, "max_time": 1737928861362000999}]]]}]],
        | "removed_files": [], "wal_file_sequence_number": 7,
        | "catalog": {"sequence": 3, "tags": ["a", {"b": null}]}}""".stripMargin
    val snapIn = SnapshotCodec.parse(json)
    val (buckets, _) = Planner.plan(Seq(snapIn))
    assert(buckets.length == 1)
    val merged = fm("h/dbs/db-0/table-0/2025-01-26/22-00/c_0000000001_0000000002_h22.parquet",
      rows = 20, id = 3)
    val out = Orchestrator.rewriteSnapshot(snapIn,
      buckets.head.sources.map(_ -> Vector(merged)).toMap)
    assert(out.allFiles == Vector(merged) && out.row_count == 20)
    val rendered = SnapshotCodec.render(out)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val (before, after) = (mapper.readTree(json), mapper.readTree(rendered))
    def keys(n: com.fasterxml.jackson.databind.JsonNode) = {
      import scala.jdk.CollectionConverters._
      n.properties().asScala.toVector.map(_.getKey)
    }
    assert(keys(after) == keys(before), "top-level key order changed")
    Seq("next_file_id", "removed_files", "wal_file_sequence_number", "catalog")
      .foreach(k => assert(after.get(k) == before.get(k), k))
    assert(rendered.contains("\"next_file_id\": 9007199254740993,\n"))
    assert(SnapshotCodec.render(SnapshotCodec.parse(rendered)) == rendered)
  }
}
