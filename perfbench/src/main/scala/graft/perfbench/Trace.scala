package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are epoch milliseconds with
  * sub-millisecond digits, on the same clock as Spark's listener events. */
final case class Span(id: Int, layer: String, name: String, op: Int, parent: Int,
    t0: Double, var t1: Double = Double.NaN)

/** Per-job facts gathered from Spark's listener bus. `group` is the job
  * group the benchmark set for the innermost open span. */
final class JobRec(val id: Int, val group: String, val t0: Double) {
  var t1: Double = Double.NaN
  var stages = 0
  var tasks = 0
  var tasksFailed = 0
  var taskMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var shuffleRecords = 0L
  var spill = 0L
}

/** Spans and Spark-side facts of a traced run, kept in memory and written
  * out once at the end. When `on` is false every method is a pass-through:
  * the untraced run registers no listener and sets no job group. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()

  /** Epoch milliseconds, monotonic within the run. */
  def now(): Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var op = -1

  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]
  /** (start, end) of every analysis, optimization and planning phase. */
  private val phases = ArrayBuffer.empty[(Double, Double)]

  // listener callbacks share the tracer's lock with toJson
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs(e.jobId) = new JobRec(e.jobId, g.getOrElse(""), e.time.toDouble)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.t1 = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        if (e.taskInfo != null && e.taskInfo.failed) j.tasksFailed += 1
        val m = e.taskMetrics
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases.values.map(p => (p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      Tracer.this.synchronized { phases ++= ps }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  if (on) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Times `f` as a span of `layer`; jobs it starts carry the span's job
    * group, so their tasks and shuffle bytes attribute to it. */
  def span[T](layer: String, name: String)(f: => T): T =
    if (!on) f
    else {
      val s = Span(spans.size, layer, name, op, stack.headOption.fold(-1)(_.id), now())
      spans += s
      stack = s :: stack
      setGroup(s)
      try f
      finally {
        s.t1 = now()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => setGroup(p)
          case None => spark.sparkContext.clearJobGroup()
        }
      }
    }

  private def setGroup(s: Span): Unit =
    spark.sparkContext.setJobGroup(s"pb-${s.id}", s"${s.layer}:${s.name}",
      interruptOnCancel = false)

  /** Marks the start of op `i`: spans opened from here on carry its id. */
  def beginOp(i: Int): Unit = op = i

  /** Codegen compiles and compile nanoseconds so far in this JVM. */
  def codegen(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  /** Cached RDD blocks the session still holds. */
  def cachedBlocks(): Long =
    spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum

  /** Delivers every pending listener event. */
  def drain(): Unit = if (on) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def toJson: String = {
    drain()
    synchronized {
      val sp = spans.map { s =>
        s"""{"id":${s.id},"layer":${Json.str(s.layer)},"name":${Json.str(s.name)},""" +
          s""""op":${s.op},"parent":${s.parent},"t0":${s.t0},"t1":${s.t1}}"""
      }
      val jb = jobs.values.filter(!_.t1.isNaN).map { j =>
        val span = if (j.group.startsWith("pb-")) j.group.drop(3).toInt else -1
        s"""{"id":${j.id},"span":$span,"t0":${j.t0},"t1":${j.t1},"stages":${j.stages},""" +
          s""""tasks":${j.tasks},"tasks_failed":${j.tasksFailed},"task_ms":${j.taskMs},""" +
          s""""shuffle_write":${j.shuffleWrite},"shuffle_read":${j.shuffleRead},""" +
          s""""shuffle_records":${j.shuffleRecords},"spill":${j.spill}}"""
      }
      val ph = phases.map { case (a, b) => s"[$a,$b]" }
      s"""{"spans":${sp.mkString("[", ",", "]")},"jobs":${jb.mkString("[", ",", "]")},""" +
        s""""phases":${ph.mkString("[", ",", "]")}}"""
    }
  }
}

/** Minimal JSON writing for the run's result file. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  }.mkString("\"", "", "\"")

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
