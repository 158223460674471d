package graftbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor work of one Spark stage attempt, summed over its tasks. */
final class StageAgg {
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var bytesRead = 0L
  val durations = mutable.ArrayBuffer.empty[Long]
  var submitted = 0L
  var completed = 0L
}

/** One traced interval: a layer call or an op. `parent` is -1 at the top. */
final case class Span(id: Int, parent: Int, name: String, pass: Int,
    start: Long, var end: Long = 0L) {
  def seconds: Double = (end - start) / 1e9
}

/** Span recorder plus the benchmark's own Spark listeners.
  *
  * Every span sets the Spark job group to its id, so each job (and its
  * stages and tasks) is attributed to the innermost span that submitted
  * it. Query-execution phase times (analysis, optimization, planning)
  * arrive on the listener bus with no job group; they are attributed to
  * the op that is current when they are delivered, which is exact
  * because [[endOp]] drains the bus before the next op starts. Spans are
  * kept in memory and written as JSONL by [[writeJsonl]].
  */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private val stageSpan = mutable.Map.empty[Int, Int]
  val stages = mutable.Map.empty[(Int, Int), (Int, StageAgg)]
  val jobsBySpan = mutable.Map.empty[Int, Int].withDefaultValue(0)
  @volatile private var currentOp = -1
  val phases = mutable.Map.empty[Int, mutable.Map[String, Double]]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      group.flatMap(_.toIntOption).foreach { s =>
        jobsBySpan(s) += 1
        e.stageIds.foreach(stageSpan(_) = s)
      }
    }
    private def agg(stage: Int, attempt: Int): Option[StageAgg] =
      stageSpan.get(stage).map(s =>
        stages.getOrElseUpdate((stage, attempt), (s, new StageAgg))._2)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      for (a <- agg(e.stageId, e.stageAttemptId); m <- Option(e.taskMetrics)) {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.bytesRead += m.inputMetrics.bytesRead
        a.durations += e.taskInfo.duration
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        val i = e.stageInfo
        for (a <- agg(i.stageId, i.attemptNumber())) {
          a.submitted = i.submissionTime.getOrElse(0L)
          a.completed = i.completionTime.getOrElse(0L)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      addPhases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      addPhases(qe)
  }

  /** Adds `qe`'s tracker phase times to the current op. */
  def addPhases(qe: QueryExecution, only: String => Boolean = _ => true)
      : Unit = Trace.this.synchronized {
    val op = currentOp
    if (op >= 0) {
      val m = phases.getOrElseUpdate(op, mutable.Map.empty[String, Double]
        .withDefaultValue(0.0))
      qe.tracker.phases.foreach { case (k, v) =>
        if (only(k)) m(k) += v.durationMs / 1e3 }
    }
  }

  /** The eager analysis of a frame an op returns happens outside any
    * action, so no listener reports it; ops add it here. */
  def addAnalysis(qe: QueryExecution): Unit = addPhases(qe, _ == "analysis")

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def span[T](name: String, pass: Int)(body: => T): T = {
    val s = Span(spans.size, stack.headOption.getOrElse(-1), name, pass,
      System.nanoTime())
    synchronized { spans += s }
    stack = s.id :: stack
    sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
    try body
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.toString, spans(p).name, false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Opens an op span; its id is the op for query-phase attribution. */
  def beginOp(): Unit = currentOp = spans.size

  def endOp(): Unit = {
    BenchBus.drain(sc)
    currentOp = -1
  }

  def descendants(id: Int): Seq[Int] = synchronized {
    val kids = spans.filter(_.parent == id).map(_.id).toSeq
    id +: kids.flatMap(descendants)
  }

  def stagesUnder(id: Int): Seq[StageAgg] = synchronized {
    val ids = descendants(id).toSet
    stages.values.collect { case (s, a) if ids(s) => a }.toSeq
  }

  /** Span duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def writeJsonl(path: String): Unit = Trace.this.synchronized {
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val lines = spans.map { s =>
      val st = stagesUnder(s.id)
      val direct = stages.values.collect { case (i, a) if i == s.id => a }
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","pass":${s.pass},""" +
        f""""start_s":${(s.start - t0) / 1e9}%.6f,"end_s":${(s.end - t0) / 1e9}%.6f,""" +
        f""""self_s":${selfSeconds(s)}%.6f,"jobs":${jobsBySpan(s.id)},""" +
        f""""stages":${direct.size},"task_s":${st.map(_.runMs).sum / 1e3}%.3f}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}
