package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-layer counters read from outside the program: a `SparkListener`
  * for scheduler/executor/shuffle/output/input, a `QueryExecutionListener`
  * for each action's `QueryPlanningTracker` phases, and the JVM-wide
  * codegen and file-discovery counters. Attached only in traced runs.
  */
final class Layers(spark: SparkSession) {
  private val c = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private def add(k: String, v: Long): Unit =
    c.computeIfAbsent(k, _ => new AtomicLong).addAndGet(v)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("scheduler.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      add("scheduler.stages", 1)
      if (e.stageInfo.attemptNumber() > 0) add("scheduler.stage_retries", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("scheduler.tasks", 1)
      if (!e.taskInfo.successful) add("scheduler.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("executor.run_ns", m.executorRunTime * 1000000L)
        add("executor.cpu_ns", m.executorCpuTime)
        add("executor.gc_ns", m.jvmGCTime * 1000000L)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("output.bytes", m.outputMetrics.bytesWritten)
        add("output.rows", m.outputMetrics.recordsWritten)
        add("ingest.input_bytes", m.inputMetrics.bytesRead)
        add("ingest.input_records", m.inputMetrics.recordsRead)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (p, s) => add(s"catalyst.${p}_ns", s.durationMs * 1000000L) }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  private val base = Layers.globals()

  /** Bytes of cached and checkpointed blocks the session holds now. */
  def blockBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Accumulated counters since construction. Listener events are
    * delivered asynchronously, so wait for the bus to drain first.
    */
  def snapshot(): Map[String, Long] = {
    Layers.drain(spark)
    c.asScala.map { case (k, v) => k -> v.get }.toMap ++
      Layers.globals().map { case (k, v) => k -> (v - base(k)) }
  }

  def detach(): Unit = {
    Layers.drain(spark)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Layers {
  /** Point-in-time values of the JVM-wide codegen and file-listing counters. */
  def globals(): Map[String, Long] = {
    import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    Map("codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      "codegen.compile_ns" -> CodeGenerator.compileTime,
      "ingest.files_discovered" -> HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount)
  }

  /** Block until the listener bus has delivered every queued event. */
  def drain(spark: SparkSession): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

/** One span per timed operation and per layer call, kept in memory and
  * written at the end of a traced run.
  */
final class Spans {
  import Spans.Span
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val t0 = System.nanoTime()
  /** Times `body` as a span; returns its result and wall seconds. */
  def time[T](name: String, parent: String)(body: => T): (T, Double) = {
    val s = System.nanoTime()
    val r = body
    val e = System.nanoTime()
    buf += Span(name, parent, s - t0, e - t0)
    (r, (e - s) / 1e9)
  }

  /** Records a span that ended just now after `wall` seconds. */
  def record(name: String, parent: String, wall: Double): Unit = {
    val e = System.nanoTime()
    buf += Span(name, parent, e - (wall * 1e9).toLong - t0, e - t0)
  }
  def toJson: String = buf.map { s =>
    s"""{"name":"${s.name}","parent":"${s.parent}","start_s":${s.startNs / 1e9},"end_s":${s.endNs / 1e9}}"""
  }.mkString("[", ",", "]")
}

object Spans {
  final case class Span(name: String, parent: String, startNs: Long, endNs: Long)
}
