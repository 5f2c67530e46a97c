package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

import graft.ingest.AgriPipeline
import graft.sinks.VersionedSink
import graft.streaming.StreamingJobs

/** `agri-harvest`: the reference's cron job. Each operation is one
  * harvest cycle over freshly paged CSV: read, normalize, drop invalid
  * records, deduplicate on the natural key, commit the result as a
  * snapshot, then read the published snapshot back and aggregate it per
  * commodity. Every count and commodity aggregate is checked against the
  * generator.
  *
  * After the timed cycles the run scans the paged source once with
  * flaky pages, and streams the pages of the first [[StreamCycles]]
  * cycles through the checkpointed ingest and the versioned-snapshot
  * micro-batch jobs. */
object Harvest {
  /** Distinct page sets; cycles reuse them round robin. */
  val CorpusCycles = 8
  val StreamCycles = 4

  private def dirBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator.asScala.filter(Files.isRegularFile(_)).toSeq
      (files.size.toLong, files.map(Files.size).sum)
    }

  def run(run: Main.Run, runDir: Path): Unit = {
    val spark = run.spark
    val trace = run.trace
    val pages = Files.createDirectories(runDir.resolve("pages"))
    val corpus = (0 until CorpusCycles).map { c =>
      val dir = Files.createDirectories(runDir.resolve(s"cycle-$c"))
      (dir, AgriCorpus.writeCycle(dir, s"c$c", run.seed, c))
    }
    corpus.take(StreamCycles).foreach { case (dir, _) =>
      Files.list(dir).iterator.asScala.foreach(f => Files.copy(f, pages.resolve(f.getFileName)))
    }
    val table = runDir.resolve("snapshots").toString
    var cycle = 0
    run.loop { pass =>
      val (dir, want) = corpus(cycle % CorpusCycles)
      val opId = s"p$pass/cycle-$cycle"
      spark.sparkContext.setJobGroup(opId, "harvest cycle")
      val (rawObs, keptObs, dedupObs) = (Observation("raw"), Observation("kept"), Observation("deduped"))
      val t0 = trace.now()
      var commitS = 0.0
      val result = try Right(trace.span("op", opId) {
        val cleaned = trace.span("ingest.read") {
          val raw = AgriPipeline.readCsv(spark, dir.toString).observe(rawObs, count(lit(1)))
          val kept = AgriPipeline.dropInvalid(AgriPipeline.normalize(raw)).observe(keptObs, count(lit(1)))
          AgriPipeline.dedupNaturalKey(kept).observe(dedupObs, count(lit(1)))
        }
        val c0 = trace.now()
        val version = trace.span("sinks.commit") { VersionedSink.commit(cleaned, table) }
        commitS = trace.now() - c0
        trace.span("sinks.read") {
          val agg = VersionedSink.read(spark, table).groupBy("commodity_key")
            .agg(count(lit(1)), sum("modal_price")).collect()
          (version, agg.map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap)
        }
      }) catch { case e: Throwable => Left(e) }
      val t1 = trace.now()
      spark.sparkContext.clearJobGroup()
      def observed(o: Observation): Long = o.get("count(1)").asInstanceOf[Long]
      val got = result.toOption.map(_ => (observed(rawObs), observed(keptObs), observed(dedupObs)))
      val error = result match {
        case Left(e) => Some(run.message(e))
        case Right((_, partitions)) =>
          if (got.get != ((want.raw, want.kept, want.deduped)))
            Some(s"read/kept/deduped ${got.get}, expected ${(want.raw, want.kept, want.deduped)}")
          else if (partitions != want.partitions)
            Some(s"published partitions differ from the generator's")
          else None
      }
      val (files, snapshotBytes) =
        result.toOption.map(r => dirBytes(Path.of(table, s"v=${r._1}"))).getOrElse((0L, 0L))
      run.ops += Main.Op(opId, "cycle", pass, trace.enabled, t0, t1, error, Seq(
        "raw_rows" -> got.fold(0L)(_._1).toString, "kept_rows" -> got.fold(0L)(_._3).toString,
        "commit_s" -> Json.num(commitS), "files_written" -> files.toString,
        "snapshot_bytes" -> snapshotBytes.toString, "input_bytes" -> dirBytes(dir)._2.toString))
      cycle += 1
    }
    run.extra ++= streams(run, runDir, pages,
      corpus.take(StreamCycles).map(_._2.kept).sum, corpus.head._2.raw)
  }

  /** The paged-source scan and the two streaming ingests, traced when the
    * run is; returns their raw measurements and checks. */
  private def streams(run: Main.Run, runDir: Path, pages: Path, keptRows: Long,
      scanRows: Long): Seq[(String, String)] = {
    val spark = run.spark
    val trace = run.trace
    trace.setEnabled(run.traced)
    val errors = Seq.newBuilder[String]
    val t0 = trace.now()
    val scanned = trace.span("sources.scan", "streams") {
      spark.read.format("graft.sources.PagedSource")
        .option("max_offset", scanRows).option("page_size", AgriCorpus.RowsPerPage)
        .option("num_partitions", 4).option("flaky_every", 2).load().count()
    }
    val t1 = trace.now()
    if (scanned != scanRows) errors += s"paged scan read $scanned rows, expected $scanRows"
    def drain(name: String)(start: => org.apache.spark.sql.streaming.StreamingQuery) =
      trace.span(name, "streams") {
        val q = start
        q.awaitTermination()
        q.recentProgress.filter(_.numInputRows > 0).toSeq
      }
    val ingested = drain("streaming.ingest") {
      StreamingJobs.ingestStream(spark, pages.toString, runDir.resolve("stream-out").toString,
        runDir.resolve("stream-ckpt").toString)
    }
    val ingestRows = spark.read.parquet(runDir.resolve("stream-out").toString).count()
    if (ingestRows != keptRows) errors += s"ingestStream wrote $ingestRows rows, expected $keptRows"
    val snapshots = runDir.resolve("stream-snapshots").toString
    val versioned = drain("streaming.versioned") {
      StreamingJobs.ingestVersionedSnapshots(spark, pages.toString, snapshots,
        runDir.resolve("versioned-ckpt").toString)
    }
    val versionedRows = VersionedSink.read(spark, snapshots).count()
    if (versionedRows != keptRows) errors += s"versioned snapshot holds $versionedRows rows, expected $keptRows"
    trace.setEnabled(false)
    val batches = (ingested ++ versioned).map(p => Json.obj(
      "batch_s" -> Json.num(p.batchDuration / 1e3),
      "add_batch_s" -> Json.num(Option(p.durationMs.get("addBatch")).map(_.longValue).getOrElse(0L) / 1e3)))
    Seq("scan_s" -> Json.num(t1 - t0), "microbatches" -> Json.arr(batches),
      "stream_errors" -> Json.arr(errors.result().map(Json.str)))
  }
}
