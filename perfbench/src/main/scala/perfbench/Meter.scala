package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Task-metric totals of the Spark work attributed to one key. */
final class Totals {
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var maxTaskMs = 0L
  var peakExecMem = 0L
  var stages = 0
  var tasks = 0L

  def +=(o: Totals): Unit = {
    cpuNs += o.cpuNs
    shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
    maxTaskMs = math.max(maxTaskMs, o.maxTaskMs)
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
    stages += o.stages
    tasks += o.tasks
  }
}

/** One recorded span: a named region of driver code, its wall-clock bounds
  * and its parent. Kept in memory and written out when the run ends.
  */
final case class Span(
    id: Int, name: String, parent: Option[Int], runId: String,
    startMs: Long, endMs: Long, wallNs: Long)

/** The benchmark's only Spark listener. Jobs are attributed to the span
  * that was open on the submitting thread (a local property, inherited by
  * broadcast and streaming threads), so the totals of a span are exactly the
  * tasks its public-layer call ran. Each job also keeps the class of its SQL
  * execution, which splits `Runner.run` into its sink writes.
  */
final class Meter(sc: SparkContext, runId: String) extends SparkListener {
  import Meter._

  private val stageKey = TrieMap.empty[Int, (Int, String)]
  private val execClass = TrieMap.empty[Long, String]
  private val execWalls = TrieMap.empty[Long, (Long, Long, String)]
  private val totals = TrieMap.empty[(Int, String), Totals]
  private val recorded = ArrayBuffer.empty[Span]
  private var nextId = 0
  private var open: List[Int] = Nil

  sc.addSparkListener(this)

  /** Run `body` as a span; returns its result and wall seconds. */
  def span[T](name: String)(body: => T): (T, Double) = {
    val id = nextId
    nextId += 1
    val parent = open.headOption
    open = id :: open
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id.toString)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      val wall = System.nanoTime() - t0
      sc.setLocalProperty(SpanProp, prev)
      open = open.tail
      recorded += Span(id, name, parent, runId, startMs,
        System.currentTimeMillis(), wall)
    }
  }

  /** Wait until every event posted so far has reached this listener. */
  def drain(): Unit = PerfbenchBus.drain(sc)

  def spans: Seq[Span] = recorded.toSeq

  private def subtree(id: Int): Set[Int] = {
    val kids = recorded.filter(_.parent.contains(id)).map(_.id)
    kids.flatMap(subtree).toSet ++ kids + id
  }

  /** Totals of a span and every span nested in it; `execClass` narrows them
    * to jobs of one SQL-execution class ([[Meter.classify]]).
    */
  def totalsOf(span: Span, cls: Option[String] = None): Totals = {
    val ids = subtree(span.id)
    val t = new Totals
    totals.foreach { case ((id, c), v) =>
      if (ids(id) && cls.forall(_ == c)) t += v
    }
    t
  }

  /** Wall seconds of the root SQL executions of class `cls` that started
    * inside `span`.
    */
  def execWallS(span: Span, cls: String): Double =
    execWalls.values.collect {
      case (s, e, c)
          if c == cls && s >= span.startMs && e >= s && e <= span.endMs =>
        (e - s) / 1e3
    }.sum

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      val root = e.rootExecutionId.getOrElse(e.executionId)
      val cls =
        if (root != e.executionId) execClass.getOrElse(root, Other)
        else classify(e.physicalPlanDescription)
      execClass(e.executionId) = cls
      if (root == e.executionId) execWalls(e.executionId) = (e.time, -1L, cls)
    case e: SparkListenerSQLExecutionEnd =>
      execWalls.get(e.executionId).foreach { case (s, _, c) =>
        execWalls(e.executionId) = (s, e.time, c)
      }
    case _ => ()
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val props = Option(j.properties)
    val span = props.flatMap(p => Option(p.getProperty(SpanProp)))
      .map(_.toInt).getOrElse(-1)
    val cls = props.flatMap(p => Option(p.getProperty(ExecIdProp)))
      .flatMap(id => execClass.get(id.toLong)).getOrElse(Other)
    j.stageIds.foreach(s => stageKey(s) = (span, cls))
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    stageKey.get(s.stageInfo.stageId).foreach { k =>
      totals.getOrElseUpdate(k, new Totals).stages += 1
    }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    stageKey.get(t.stageId).foreach { k =>
      val acc = totals.getOrElseUpdate(k, new Totals)
      val m = t.taskMetrics
      acc.tasks += 1
      if (t.taskInfo != null)
        acc.maxTaskMs = math.max(acc.maxTaskMs, t.taskInfo.duration)
      if (m != null) {
        acc.cpuNs += m.executorCpuTime
        acc.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        acc.spillBytes += m.diskBytesSpilled
        acc.peakExecMem = math.max(acc.peakExecMem, m.peakExecutionMemory)
      }
    }
}

object Meter {
  val SpanProp = "perfbench.span"
  private val ExecIdProp = "spark.sql.execution.id"

  /** Classes of SQL executions inside `Runner.run`, told apart by the sink
    * directory their write command targets (the command's first argument in
    * the plan description, in either explain format).
    */
  val ViolationsWrite = "violations_write"
  val Verdicts = "verdicts"
  val Other = "other"

  private val sinkDir =
    """(?:InsertIntoHadoopFsRelationCommand|Arguments:)\s+\S*/(violations|verdicts),""".r

  def classify(plan: String): String =
    Option(plan).filter(_.contains("InsertIntoHadoopFsRelationCommand"))
      .flatMap(sinkDir.findFirstMatchIn).map(_.group(1)) match {
      case Some("violations") => ViolationsWrite
      case Some("verdicts")   => Verdicts
      case _                  => Other
    }
}
