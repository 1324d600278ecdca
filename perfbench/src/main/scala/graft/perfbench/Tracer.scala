package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.perfbench.Internals
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** One closed span: a call from the harness into a layer of the program. */
final case class Span(id: Int, layer: String, name: String, parent: Int, runId: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** One completed Spark stage, tagged with the span that launched its job. */
final case class StageRec(span: Int, result: Boolean, tasks: Int, wallS: Double,
    runS: Double, cpuS: Double, shuffleWriteBytes: Long, spillBytes: Long,
    recordsRead: Long, sourcePages: Int)

/** Spans around each call into a layer. With tracing off it only runs
  * the body, so the untraced run pays nothing for it.
  */
class Tracer {
  def span[T](layer: String, name: String)(body: => T): T = body
}

/** The traced run's recorder, built entirely from outside the program:
  * spans opened by the harness, a SparkListener for stages and for the
  * planning time each SQL execution reports at its end (the record
  * QueryExecutionListeners receive), CodegenMetrics for Janino and the
  * GC MXBeans. Every job inherits the innermost open span
  * through a thread-local Spark property, so stage metrics attribute
  * exactly to the call that caused them.
  */
final class RecordingTracer(spark: SparkSession, val runId: String) extends Tracer {
  private val SpanKey = "perfbench.span"
  private val closed = ArrayBuffer.empty[Span]
  private var open: List[(Int, String, String, Long)] = Nil
  private var nextId = 0

  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val execSpan = new ConcurrentHashMap[Long, Int]()
  private val stageRecs = ArrayBuffer.empty[StageRec]
  private val planRecs = ArrayBuffer.empty[(Int, Double)]
  private val jobRecs = ArrayBuffer.empty[Int]

  private val stageListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)
      jobRecs.synchronized { jobRecs += span }
      e.stageIds.foreach(s => stageSpan.putIfAbsent(s, span))
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execSpan.putIfAbsent(x.toLong, span))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val span = Option(stageSpan.get(i.stageId)).map(_.intValue).getOrElse(-1)
      val wall = (for (s <- i.submissionTime; c <- i.completionTime) yield (c - s) / 1e3)
        .getOrElse(0.0)
      val m = i.taskMetrics
      val pages = i.rddInfos.filter(_.name == "DataSourceRDD").map(_.numPartitions).sum
      val rec = StageRec(span, Internals.isResultStage(i), i.numTasks, wall,
        if (m == null) 0.0 else m.executorRunTime / 1e3,
        if (m == null) 0.0 else m.executorCpuTime / 1e9,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
        if (m == null) 0L else m.inputMetrics.recordsRead,
        pages)
      stageRecs.synchronized { stageRecs += rec }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        val span = Option(execSpan.get(end.executionId)).map(_.intValue).getOrElse(-1)
        planRecs.synchronized { planRecs += (span -> Internals.planSeconds(end)) }
      case _ =>
    }
  }

  spark.sparkContext.addSparkListener(stageListener)

  override def span[T](layer: String, name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val sc = spark.sparkContext
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, layer, name, System.nanoTime()) :: open
    sc.setLocalProperty(SpanKey, id.toString)
    try body
    finally {
      val (_, _, _, start) = open.head
      open = open.tail
      closed += Span(id, layer, name, parent, runId, start, System.nanoTime())
      sc.setLocalProperty(SpanKey, open.headOption.map(_._1.toString).orNull)
    }
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  private def compileSeconds(): Double =
    CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum / 1e3
  private def classesCompiled(): Long = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount

  private var gc0, compile0 = 0.0
  private var classes0 = 0L

  /** Starts the measured window: everything recorded so far was warm-up. */
  def resetWindow(): Unit = {
    Internals.drain(spark.sparkContext)
    closed.clear()
    stageRecs.synchronized { stageRecs.clear() }
    planRecs.synchronized { planRecs.clear() }
    jobRecs.synchronized { jobRecs.clear() }
    gc0 = gcSeconds(); compile0 = compileSeconds(); classes0 = classesCompiled()
  }

  /** What the window recorded, read after the listener bus has drained. */
  def snapshot(): Trace = {
    Internals.drain(spark.sparkContext)
    val spans = closed.toVector
    val byId = spans.map(s => s.id -> s).toMap
    val plans = planRecs.synchronized(planRecs.toVector)
    Trace(spans, byId, stageRecs.synchronized(stageRecs.toVector),
      jobRecs.synchronized(jobRecs.toVector), plans,
      gcSeconds() - gc0, compileSeconds() - compile0, classesCompiled() - classes0)
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(stageListener)
  }
}

/** The traced window: spans, stages and planning records, with layer rollups. */
final case class Trace(spans: Vector[Span], byId: Map[Int, Span], stages: Vector[StageRec],
    jobs: Vector[Int], plans: Vector[(Int, Double)], gcS: Double, compileS: Double, classes: Long) {

  def layerOf(span: Int): String = byId.get(span).map(_.layer).getOrElse("other")

  /** A write job's last stage belongs to the sink; the stages feeding it
    * are the transform's, whichever layer launched the job.
    */
  def stageLayer(r: StageRec): String = {
    val l = layerOf(r.span)
    if (l == "sink" && !r.result) "pipelines" else l
  }

  def stagesIn(layer: String): Vector[StageRec] = stages.filter(stageLayer(_) == layer)
  def spansIn(layer: String): Vector[Span] = spans.filter(_.layer == layer)
  def spanSeconds(layer: String, name: String => Boolean = _ => true): Double =
    spansIn(layer).filter(s => name(s.name)).map(_.seconds).sum

  /** Seconds of `layer` spans not covered by their child spans. */
  def selfSeconds(layer: String, name: String => Boolean = _ => true): Double =
    spansIn(layer).filter(s => name(s.name)).map { s =>
      s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
    }.sum

  def planSeconds(layer: String): Double =
    plans.filter { case (span, _) => layerOf(span) == layer }.map(_._2).sum

  /** Busy task time over the cores the stages could have used. */
  def coreUtil(recs: Vector[StageRec], cores: Int): Double = {
    val wall = recs.map(_.wallS).sum
    if (wall <= 0) 0.0 else recs.map(_.runS).sum / (wall * cores)
  }

  def topLevelSeconds: Double = spans.filter(_.parent < 0).map(_.seconds).sum
}
