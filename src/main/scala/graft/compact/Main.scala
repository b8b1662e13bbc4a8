package graft.compact

import graft.Sessions

/** CLI mirroring the reference's arg surface (kompactor.ts:326-372):
  * `graft.compact.Main <data-dir> [--hosts h1,h2] [--dry-run] [--verbose]
  * [--window-hours N] [--target-file-size-mb N] [--time-column NAME]
  * [--parallelism N]`.
  *
  * Differences, all deliberate: `--dry-run` is honored (the reference
  * parses but never reads it, kompactor.ts:34); `--window-hours` makes the
  * dead `timeWindowNanos` daily-compaction config real; sizing flags
  * resurrect the dead 100 MB/30% cutoff logic (SURVEY.md §2C).
  */
object Main {
  private val usage =
    """usage: graft.compact.Main <data-dir> [options]
      |  --hosts h1,h2           only compact these hosts (default: discover)
      |  --dry-run               plan and log, write nothing
      |  --verbose               log per-bucket detail to stderr
      |  --window-hours N        compaction window (1=hourly, 24=daily; default 1)
      |  --target-file-size-mb N desired output size (default 100)
      |  --time-column NAME      sort/time column (default "time")
      |  --zorder-col A[,B...]   opt-in z-order layout: interleave time with
      |                          these columns' hashes (default: time sort;
      |                          N columns = an (N+1)-axis curve)
      |  --parallelism N         concurrent bucket merges (default 4)
      |  --help                  this text""".stripMargin

  def parseArgs(args: Seq[String]): Either[String, CompactConfig] = {
    if (args.contains("--help")) return Left(usage)
    var cfg = CompactConfig(dataDir = "")
    var rest = args.toList
    while (rest.nonEmpty) (rest: @unchecked) match {
      case "--hosts" :: v :: t =>
        cfg = cfg.copy(hosts = v.split(',').toSeq.filter(_.nonEmpty)); rest = t
      case "--dry-run" :: t => cfg = cfg.copy(dryRun = true); rest = t
      case "--verbose" :: t => cfg = cfg.copy(verbose = true); rest = t
      case "--window-hours" :: v :: t =>
        cfg = cfg.copy(windowHours = v.toInt); rest = t
      case "--target-file-size-mb" :: v :: t =>
        cfg = cfg.copy(maxDesiredFileSizeBytes = v.toLong << 20); rest = t
      case "--time-column" :: v :: t => cfg = cfg.copy(timeColumn = v); rest = t
      case "--zorder-col" :: v :: t =>
        cfg = cfg.copy(zorderColumns =
          v.split(',').toSeq.map(_.trim).filter(_.nonEmpty)); rest = t
      case "--parallelism" :: v :: t =>
        cfg = cfg.copy(bucketParallelism = v.toInt); rest = t
      case flag :: _ if flag.startsWith("--") =>
        return Left(s"unknown or incomplete option: $flag\n$usage")
      case dir :: t if cfg.dataDir.isEmpty => cfg = cfg.copy(dataDir = dir); rest = t
      case extra :: _ => return Left(s"unexpected argument: $extra\n$usage")
    }
    if (cfg.dataDir.isEmpty) Left(s"missing <data-dir>\n$usage") else Right(cfg)
  }

  def main(args: Array[String]): Unit = parseArgs(args.toSeq) match {
    case Left(msg) =>
      System.err.println(msg)
      if (!args.contains("--help")) sys.exit(2)
    case Right(cfg) =>
      val spark = Sessions.local()
      spark.sparkContext.setLogLevel("WARN")
      try {
        val reports = new Orchestrator(spark, cfg).run()
        reports.foreach { r =>
          println(s"host=${r.host} buckets=${r.buckets} compacted=${r.compacted} " +
            s"outputs=${r.outputFiles.length} deleted=${r.deleted.length} " +
            s"snapshotsRewritten=${r.rewrittenSnapshots.length} " +
            s"missing=${r.missingFiles.length} unparseable=${r.skippedPaths.length}")
        }
      } finally spark.stop()
  }
}
