package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Records, for every registry query in one fresh JVM, the Spark jobs its
  * builder launches, its row count and its checksum. The frozen workload
  * lists and expected outputs in `workloads.json` were made from the
  * output of this tool on the commit that defined the benchmark:
  *
  * {{{
  *   java ... perfbench.Classify <tablesDir> <runDir> <seed> <out.jsonl>
  * }}}
  *
  * A query is lazy when every job started while its builder runs, on any
  * thread, resolves a table or schema (call site in `Tables.scala`, or a
  * reader method), eager otherwise. Queries run one at a time, so the
  * build window attributes stream-thread jobs too. The seed only permutes
  * the order the queries run in. */
object Classify {
  final case class Job(timeMs: Long, callSite: String)

  /** Whether a build-time job only resolves a table or its schema. */
  def isResolution(callSite: String): Boolean = {
    val method = callSite.takeWhile(_ != ' ')
    callSite.contains(" at Tables.scala:") ||
      Set("parquet", "csv", "json", "load", "orc", "text", "table").contains(method)
  }

  /** A job's (short, long) call site: the name and details of its last
    * stage, which Spark labels with the call site of the action. */
  def callSite(e: SparkListenerJobStart): (String, String) =
    e.stageInfos.sortBy(_.stageId).lastOption.map(s => (s.name, s.details)).getOrElse(("", ""))

  def main(args: Array[String]): Unit = {
    val Array(tables, runDir, seed, out) = args
    val spark = Session.create(Paths.get(runDir), Runtime.getRuntime.availableProcessors)
    val jobs = new ConcurrentLinkedQueue[Job]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(Job(e.time, callSite(e)._1))
    })
    val names = new scala.util.Random(seed.toLong)
      .shuffle(graft.QueryRegistry.all.map(_.name).sorted)
    val lines = names.map { name =>
      val q = graft.QueryRegistry.byName(name)
      val b0 = System.currentTimeMillis()
      var b1 = Long.MaxValue
      val t0 = System.nanoTime()
      val result = try {
        val df = q.run(spark, tables)
        val t1 = System.nanoTime()
        b1 = System.currentTimeMillis()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        val (rows, sum) = Checksum.of(df)
        Right((t1 - t0, t2 - t1, rows, sum))
      } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}") }
      (name, b0, b1, result)
    }
    spark.stop() // drains the listener bus
    val json = lines.map { case (name, b0, b1, result) =>
      // a job that starts in the build's last millisecond cannot also end in it
      val bj = jobs.asScala.toSeq.filter(j => j.timeMs >= b0 && j.timeMs < b1)
      val common = Seq(
        "name" -> Json.str(name),
        "build_jobs" -> bj.size.toString,
        "eager_jobs" -> Json.arr(bj.filterNot(j => isResolution(j.callSite)).map(j => Json.str(j.callSite))))
      result match {
        case Right((b, x, rows, sum)) => Json.obj(common ++ Seq(
          "build_s" -> Json.num(b / 1e9), "exec_s" -> Json.num(x / 1e9),
          "rows" -> rows.toString, "checksum" -> Json.str(Checksum.hex(sum))): _*)
        case Left(err) => Json.obj(common :+ ("error" -> Json.str(err.take(300))): _*)
      }
    }
    Files.write(Paths.get(out), json.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
