package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark JVM. One closed-loop client runs one workload and writes
  * the raw measurements to `<runDir>/result.json`; `run.py` turns them
  * into metrics.
  *
  * {{{
  *   perfbench.Main setup <runDir>
  *   perfbench.Main <lazy-queries|eager-queries> <seed> <seconds> <trace 0|1> <runDir> <tablesDir> <queries.tsv>
  *   perfbench.Main agri-harvest <seed> <seconds> <trace 0|1> <runDir>
  * }}}
  *
  * A `setup` JVM only records when its session is ready and exits;
  * `run.py` starts a few, one after another, once the workload JVM has
  * ended, to sample set-up time. The workload JVM runs one cold pass and
  * warm passes until `seconds` of warm operation time have passed. With
  * tracing, warm passes alternate between traced and untraced, so the
  * same run measures the tracing overhead. */
object Main {

  final case class Op(id: String, name: String, pass: Int, traced: Boolean, start: Double,
      end: Double, error: Option[String], extra: Seq[(String, String)] = Nil) {
    def json: String = Json.obj(Seq(
      "id" -> Json.str(id), "name" -> Json.str(name), "pass" -> pass.toString, "traced" -> traced.toString,
      "start" -> Json.num(start), "end" -> Json.num(end),
      "error" -> error.map(Json.str).getOrElse("null")) ++ extra: _*)
  }

  /** Warm operations an untraced run needs at least, so that the tail
    * percentile (ten samples beyond it) is above the median. */
  val MinWarmOps = 22

  /** Warm passes an untraced run needs at least: every query of a pass
    * then has eleven samples, so the tail can reach the slowest one. */
  val MinWarmPasses = 11

  /** One workload run's shared state. */
  final class Run(val spark: SparkSession, val trace: Trace, val seed: Long,
      val seconds: Double, val traced: Boolean) {
    val ops = mutable.ArrayBuffer.empty[Op]
    val passes = mutable.ArrayBuffer.empty[String]
    val heap = mutable.ArrayBuffer.empty[Long]
    val extra = mutable.ArrayBuffer.empty[(String, String)]

    /** Run passes: pass 0 cold, then warm passes until `seconds` of warm
      * time, [[MinWarmPasses]] warm passes and [[MinWarmOps]] warm
      * operations; traced, at least two warm passes so both kinds of warm
      * pass occur. */
    def loop(pass: Int => Unit): Unit = {
      var p = 0
      var warm = 0.0
      var lastHeapSample = Double.NegativeInfinity
      def enough =
        if (traced) p >= 3 else p > MinWarmPasses && ops.count(_.pass > 0) >= MinWarmOps
      while (p == 0 || warm < seconds || !enough) {
        trace.setEnabled(traced && p % 2 == 0)
        val t0 = trace.now()
        val (cg0, cc0) = Counters.codegen()
        pass(p)
        val t1 = trace.now()
        val (cg1, cc1) = Counters.codegen()
        if (p > 0) warm += t1 - t0
        trace.setEnabled(false)
        // a full GC costs tens of milliseconds: sample at most every three seconds
        if (t1 - lastHeapSample >= 3.0) { heap += Counters.oldGenAfterGc(); lastHeapSample = trace.now() }
        passes += Json.obj("pass" -> p.toString, "traced" -> (traced && p % 2 == 0).toString,
          "start" -> Json.num(t0), "end" -> Json.num(t1),
          "codegen_s" -> Json.num((cg1 - cg0) / 1e9), "codegen_classes" -> (cc1 - cc0).toString)
        p += 1
      }
      heap += Counters.oldGenAfterGc()
    }

    def permuted[A](xs: Seq[A], pass: Int): Seq[A] =
      new scala.util.Random(seed * 7919L + pass).shuffle(xs)

    def message(e: Throwable): String =
      s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"
        .take(300)
  }

  def main(args: Array[String]): Unit = {
    val runDir = Paths.get(if (args(0) == "setup") args(1) else args(4))
    val spark = Session.create(runDir, Runtime.getRuntime.availableProcessors)
    val readyMs = System.currentTimeMillis()
    if (args(0) == "setup") {
      Session.writeJson(runDir.resolve("result.json"), Json.obj("ready_epoch_ms" -> readyMs.toString))
      Runtime.getRuntime.halt(0) // nothing to keep: skip the orderly shutdown
    }
    val run = new Run(spark, new Trace(spark), args(1).toLong, args(2).toDouble, args(3) == "1")
    args(0) match {
      case "lazy-queries" | "eager-queries" => Queries.run(run, args(5), Paths.get(args(6)))
      case "agri-harvest" => Harvest.run(run, runDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (run.traced) spark.stop() // drains the listener bus, so every traced event is in
    Session.writeJson(runDir.resolve("result.json"), Json.obj(Seq(
      "ready_epoch_ms" -> readyMs.toString,
      "ops" -> Json.arr(run.ops.map(_.json)),
      "passes" -> Json.arr(run.passes),
      "heap_after_gc_bytes" -> Json.arr(run.heap.map(_.toString)),
      "spans" -> Json.arr(run.trace.spans.map(_.json))) ++ run.extra: _*))
    Runtime.getRuntime.halt(0) // run.py removes the run directory
  }
}

/** `lazy-queries` and `eager-queries`: each operation builds one registry
  * query and consumes its whole output. The timed action is the output
  * checksum itself: like a `noop`-sink write it materializes every column
  * of every row, so `count()` column pruning cannot hide projection work,
  * and it lets every operation be checked against the recorded row count
  * and checksum without executing the query a second time. */
object Queries {
  final case class Expected(name: String, rows: Long, checksum: Option[String])

  def run(run: Main.Run, tables: String, list: Path): Unit = {
    import scala.jdk.CollectionConverters._
    val expected = Files.readAllLines(list).asScala.filter(_.nonEmpty).map { line =>
      val Array(name, rows, sum) = line.split('\t')
      Expected(name, rows.toLong, Some(sum).filter(_ != "-"))
    }.toSeq
    val sc = run.spark.sparkContext
    val trace = run.trace
    run.loop { pass =>
      run.permuted(expected, pass).foreach { q =>
        val opId = s"p$pass/${q.name}"
        sc.setJobGroup(opId, q.name)
        val t0 = trace.now()
        var df: DataFrame = null
        val output = try Right(trace.span("op", opId) {
          df = trace.span("queries.build") { graft.QueryRegistry.byName(q.name).run(run.spark, tables) }
          trace.span("spark.execute") { Checksum.of(df) }
        }) catch { case e: Throwable => Left(e) }
        val t1 = trace.now()
        sc.clearJobGroup()
        if (df != null) trace.query(df.queryExecution) // a toRdd execution reaches no listener
        val error = output match {
          case Left(e) => Some(run.message(e))
          case Right((rows, _)) if rows != q.rows => Some(s"row count $rows, expected ${q.rows}")
          case Right((_, sum)) if q.checksum.exists(_ != Checksum.hex(sum)) =>
            Some(s"checksum ${Checksum.hex(sum)}, expected ${q.checksum.get}")
          case _ => None
        }
        run.ops += Main.Op(opId, q.name, pass, trace.enabled, t0, t1, error)
      }
    }
  }
}
