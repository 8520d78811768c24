package lakebench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch nanoseconds: monotonic within the run, and comparable
  * with the millisecond timestamps Spark puts on scheduler events. */
object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)
}

final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)

/** Spans recorded by the benchmark around its calls into the program. They
  * stay in memory and are written out when the run ends. Recording is on only
  * for the traced rounds; otherwise [[span]] is a plain call. The innermost
  * open span is published as a Spark local property, so every job carries
  * the span that submitted it. */
final class Spans(sc: org.apache.spark.SparkContext) {
  @volatile var enabled = false
  private val done = ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack = new java.util.ArrayDeque[(Int, String)]()

  private def publish(): Unit = {
    val top = Option(stack.peek())
    sc.setLocalProperty(Spans.IdProp, top.map(_._1.toString).orNull)
    sc.setLocalProperty(Spans.NameProp, top.map(_._2).orNull)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = Option(stack.peek()).map(_._1).getOrElse(0)
      stack.push(id -> name); publish()
      val t0 = Clock.now()
      try body
      finally {
        val t1 = Clock.now()
        stack.pop(); publish()
        add(Span(id, parent, name, t0, t1))
      }
    }

  def add(s: Span): Unit = synchronized { done += s }
  def newId(): Int = synchronized { nextId += 1; nextId }
  def all: Seq[Span] = synchronized { done.toSeq }
}

object Spans {
  val IdProp = "lakebench.span"
  val NameProp = "lakebench.span.name"
}

/** Counters a traced run reads from Spark's own public listener APIs: the
  * scheduler's job/stage/task events, the executed plan of every query, and
  * the codegen compiler's running total. The benchmark's own jobs are left
  * out of the counts: the fence in [[drain]], and the correctness checks
  * run inside [[Tracer.unCounted]]. */
final class Tracer(spark: SparkSession, spans: Spans) {
  private val c = scala.collection.concurrent.TrieMap.empty[String, Double]
  def add(k: String, v: Double): Unit = c.synchronized { c.put(k, c.getOrElse(k, 0.0) + v) }
  def max(k: String, v: Double): Unit = c.synchronized { c.put(k, math.max(c.getOrElse(k, 0.0), v)) }
  def counters: Map[String, Double] = c.synchronized { c.toMap }

  private val ownStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val jobStart = scala.collection.concurrent.TrieMap.empty[Int, (Long, Int)]
  private val stageReads = scala.collection.concurrent.TrieMap.empty[(Int, Int), ArrayBuffer[Long]]
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      if (group.contains(Tracer.OwnGroup)) { e.stageIds.foreach(ownStages.add); return }
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      jobStart.put(e.jobId, (e.time, prop(Spans.IdProp).map(_.toInt).getOrElse(0)))
      add("sched.jobs", 1)
      if (prop(Spans.NameProp).contains("queries.build")) add("queries.build_jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobStart.remove(e.jobId).foreach { case (t0, parent) =>
        spans.add(Span(spans.newId(), parent, "job", t0 * 1000000L, e.time * 1000000L))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      if (ownStages.contains(info.stageId)) return
      add("sched.stages", 1)
      stageReads.remove((info.stageId, info.attemptNumber())).foreach { reads =>
        val nonZero = reads.filter(_ > 0).sorted
        if (nonZero.length >= 2) {
          val median = nonZero((nonZero.length - 1) / 2).toDouble
          max("shuffle.skew", nonZero.last / median)
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null || ownStages.contains(e.stageId)) return
      add("sched.tasks", 1)
      add("task.run_s", m.executorRunTime / 1e3)
      add("task.cpu_s", m.executorCpuTime / 1e9)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      val read = m.shuffleReadMetrics.totalBytesRead
      add("shuffle.read_bytes", read.toDouble)
      add("shuffle.spill_bytes", (m.diskBytesSpilled + m.memoryBytesSpilled).toDouble)
      add("scan.input_bytes", m.inputMetrics.bytesRead.toDouble)
      stageReads.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty[Long])
        .synchronized { stageReads((e.stageId, e.stageAttemptId)) += read }
    }
  }

  /** Per query: Catalyst phase times and executed-plan node counts. The
    * counters the plan shape metrics use are exact and repeat run to run. */
  private val queryListener = new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    qe.tracker.phases.foreach { case (phase, s) =>
      val key = phase match {
        case "analysis" => "catalyst.analysis_s"
        case "optimization" => "catalyst.optimization_s"
        case "planning" => "catalyst.planning_s"
        case _ => ""
      }
      if (key.nonEmpty) add(key, s.durationMs / 1e3)
    }
    Tracer.planCounts(qe.executedPlan).foreach { case (k, v) => add(k, v.toDouble) }
    add("plan.queries", 1)
  }

  private val gcBeans = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  }
  private def gcMs(): Long = gcBeans.map(_.getCollectionTime).filter(_ > 0).sum
  private var gc0 = 0L
  private var compile0 = 0L

  def start(): Unit = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .foreach(_.resetPeakUsage())
    gc0 = gcMs()
    compile0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  /** Wait until every event posted so far reached the listeners: a fence job
    * runs, and its end event arrives after every earlier event on the queue. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    @volatile var seen = false
    val fence = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = seen = true
    }
    sc.addSparkListener(fence)
    Tracer.unCounted(sc)(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!seen && System.nanoTime() < deadline) Thread.sleep(5)
    sc.removeSparkListener(fence)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
    import scala.jdk.CollectionConverters._
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    add("jvm.gc_s", (gcMs() - gc0) / 1e3)
    add("jvm.heap_peak_mb", pools.filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0)
    add("jvm.codecache_mb", pools.filter(_.getName.startsWith("CodeHeap"))
      .map(_.getUsage.getUsed).sum / 1048576.0)
    add("codegen.compile_s",
      (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - compile0) / 1e9)
    add("codegen.compiles",
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)
  }
}

object Tracer {
  /** Job group of the benchmark's own jobs, which are not counted. */
  val OwnGroup = "lakebench-own"

  /** Run benchmark-internal work (a check, the listener fence) so that a
    * tracer leaves it out: its jobs carry [[OwnGroup]]. Its queries must use
    * RDD actions (`df.rdd.count()`), which the query listener does not see. */
  def unCounted[T](sc: org.apache.spark.SparkContext)(body: => T): T = {
    sc.setJobGroup(OwnGroup, "lakebench", interruptOnCancel = false)
    try body
    finally sc.clearJobGroup()
  }

  /** Node counts of an executed plan, descending through adaptive wrappers,
    * query stages and subqueries; a reused exchange is counted once. */
  def planCounts(root: SparkPlan): Map[String, Long] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val n = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _: ReusedExchangeExec =>
        case _ =>
          p match {
            case _: Exchange => n("plan.exchanges") += 1
            case f: FileSourceScanExec =>
              n("plan.scans") += 1
              n("scan.files_read") += f.metrics.get("numFiles").map(_.value).getOrElse(0L)
            case _: BatchScanExec => n("plan.scans") += 1
            case _: BroadcastNestedLoopJoinExec => n("plan.bnlj") += 1
            case _: WindowExec => n("plan.windows") += 1
            case _: SortAggregateExec => n("plan.sort_aggs") += 1
            case _ =>
          }
          p.children.foreach(walk)
          p.subqueries.foreach(walk)
      }
    }
    walk(root)
    n.toMap
  }
}
