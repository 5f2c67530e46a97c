package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval, in seconds since the run started. `parent` is the
  * enclosing benchmark span (0 for none); `op` is the operation id. */
final case class Span(id: Long, parent: Long, op: String, name: String,
    start: Double, end: Double, attrs: Map[String, String] = Map.empty) {
  def json: String = Json.obj(Seq(
    "id" -> id.toString, "parent" -> parent.toString, "op" -> Json.str(op),
    "name" -> Json.str(name), "start" -> Json.num(start), "end" -> Json.num(end)) ++
    attrs.toSeq.sortBy(_._1): _*)
}

/** Spans the benchmark records around its own calls into each layer, plus
  * spans and counters from Spark's listener APIs while tracing is on.
  * Everything stays in memory until [[spans]] is read at the end of the
  * run. When tracing is off, [[span]] only runs its body. */
final class Trace(spark: SparkSession) {
  private val nanos0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  private val ids = new AtomicLong(0)
  private val recorded = new ConcurrentLinkedQueue[Span]()
  private var stack: List[Long] = Nil
  @volatile private var on = false
  private var currentOp = ""

  def now(): Double = (System.nanoTime() - nanos0) / 1e9
  private def fromEpochMs(ms: Long): Double = (ms - epochMs0) / 1e3

  def enabled: Boolean = on
  def spans: Seq[Span] = recorded.asScala.toSeq

  /** Time `body` as span `name` of operation `op` when tracing is on. */
  def span[T](name: String, op: String = currentOp)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.headOption.getOrElse(0L)
      val saved = currentOp
      currentOp = op
      stack = id :: stack
      val start = now()
      try body
      finally {
        recorded.add(Span(id, parent, op, name, start, now()))
        stack = stack.tail
        currentOp = saved
      }
    }

  // ---- Spark listeners: registered only while tracing is on ----

  private val stageTotals = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Array[Any]]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val (short, long) = Classify.callSite(e)
      val fromOperator = long.linesIterator.exists(_.trim.startsWith("graft.operators."))
      jobs.put(e.jobId, Array(e.time, prop("spark.jobGroup.id").orNull, short, fromOperator,
        e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobs.remove(e.jobId)).foreach { j =>
      val stageIds = j(4).asInstanceOf[Seq[Int]]
      val done = stageIds.flatMap(s => Option(stageTotals.remove(s)))
      def sum(i: Int) = done.map(_(i)).sum
      val callSite = j(2).asInstanceOf[String]
      val name =
        if (Classify.isResolution(callSite)) "Tables.resolve"
        else if (j(3).asInstanceOf[Boolean]) "operators.job"
        else "spark.job"
      recorded.add(Span(ids.incrementAndGet(), 0L, Option(j(1).asInstanceOf[String]).getOrElse(""),
        name, fromEpochMs(j(0).asInstanceOf[Long]), fromEpochMs(e.time), Map(
          "call_site" -> Json.str(callSite),
          "stages" -> done.size.toString, "tasks" -> sum(0).toString,
          "task_cpu_ns" -> sum(1).toString, "task_deser_ms" -> sum(2).toString,
          "task_gc_ms" -> sum(3).toString, "shuffle_read_bytes" -> sum(4).toString,
          "shuffle_write_bytes" -> sum(5).toString, "spill_bytes" -> sum(6).toString)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageTotals.putIfAbsent(e.stageInfo.stageId, new Array[Long](7))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      val t = stageTotals.computeIfAbsent(e.stageId, _ => new Array[Long](7))
      t.synchronized {
        t(0) += 1
        t(1) += m.executorCpuTime
        t(2) += m.executorDeserializeTime
        t(3) += m.jvmGCTime
        t(4) += m.shuffleReadMetrics.totalBytesRead
        t(5) += m.shuffleWriteMetrics.bytesWritten
        t(6) += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = query(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = query(qe)
  }

  private object planHelper extends AdaptiveSparkPlanHelper

  /** Record the Catalyst phase spans of one query execution when tracing
    * is on; the planning span also carries the executed plan's exchange
    * and graft node counts. The listener calls this for Dataset actions;
    * the benchmark calls it for executions no listener reports, such as
    * `Dataset.rdd` jobs. */
  def query(qe: QueryExecution): Unit = if (on) {
    val plan: SparkPlan = try qe.executedPlan catch { case _: Throwable => null }
    val counts = Option(plan).map { p =>
      val nodes = planHelper.collectWithSubqueries(p) { case n => n }
      val exchanges = nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      }
      val graftNodes = nodes.map { n =>
        (if (n.getClass.getName.startsWith("graft.")) 1 else 0) +
          n.expressions.map(_.collect { case e if e.getClass.getName.startsWith("graft.") => e }.size).sum
      }.sum
      Map("exchanges" -> exchanges.toString, "graft_nodes" -> graftNodes.toString)
    }.getOrElse(Map.empty)
    qe.tracker.phases.foreach { case (phase, s) =>
      recorded.add(Span(ids.incrementAndGet(), 0L, "", s"spark.catalyst.$phase",
        fromEpochMs(s.startTimeMs), fromEpochMs(s.endTimeMs),
        if (phase == "planning") counts else Map.empty))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val addBatch = Option(p.durationMs.get("addBatch")).map(_.longValue).getOrElse(0L)
      recorded.add(Span(ids.incrementAndGet(), 0L, "", "streaming.batch", start,
        start + p.batchDuration / 1e3, Map("add_batch_s" -> Json.num(addBatch / 1e3))))
    }
  }

  /** Turn listener tracing on or off; off removes every listener, so an
    * untraced pass pays nothing for them. */
  def setEnabled(enable: Boolean): Unit = if (enable != on) {
    if (enable) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(queryListener)
      spark.streams.addListener(streamListener)
    } else {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(queryListener)
      spark.streams.removeListener(streamListener)
    }
    on = enable
  }
}

/** Per-operation counters read from static registries around each
  * operation; cheap enough to read with tracing off. */
object Counters {
  import org.apache.spark.metrics.source.CodegenMetrics
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

  /** (codegen compile nanoseconds, generated classes compiled) so far. */
  def codegen(): (Long, Long) =
    (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** Driver old-generation bytes in use right after a full collection.
    * Collects twice: Spark's context cleaner frees broadcast and shuffle
    * blocks asynchronously once the first collection clears their
    * references. */
  def oldGenAfterGc(): Long = {
    System.gc()
    Thread.sleep(50)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
      .map(_.getUsage.getUsed).sum
  }
}
