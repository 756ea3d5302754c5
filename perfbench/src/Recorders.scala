package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.ObjectName

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished micro-batch, from `StreamingQueryProgress`. */
final case class BatchRec(id: Long, startMs: Long, commitMs: Long, rows: Long,
                          durationsMs: Map[String, Long])

/** Streaming progress of the app's one query. Always installed: the
  * commit times it records give the freshness numbers and tell the run
  * when every written message is committed.
  */
final class ProgressRecorder extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[BatchRec]
  @volatile var committedRows = 0L

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = Instant.parse(p.timestamp).toEpochMilli
      batches.add(BatchRec(p.batchId, start, start + d.getOrElse("triggerExecution", 0L),
        p.numInputRows, d))
      synchronized { committedRows += p.numInputRows; notifyAll() }
    }
  }

  /** Blocks until at least `rows` input rows are committed; false on timeout. */
  def awaitRows(rows: Long, timeoutMs: Long): Boolean = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (committedRows < rows && System.currentTimeMillis() < deadline)
      wait(math.max(1L, deadline - System.currentTimeMillis()))
    committedRows >= rows
  }
}

/** One SQL execution seen by the `QueryExecutionListener`. Times are
  * epoch ms; the execution interval starts where physical planning
  * ended.
  */
final case class ExecRec(startMs: Double, endMs: Double, planMs: Double, func: String,
                         path: String, rows: Long, bytes: Long, ok: Boolean,
                         topkGroups: Long, topkPassThrough: Long, tag: String)

/** SQL executions (planning phases, write outputs, top-k operator
  * metrics), Spark jobs and shuffle bytes. Installed on traced runs only.
  */
final class LayerRecorder extends SparkListener with QueryExecutionListener {
  val execs  = new ConcurrentLinkedQueue[ExecRec]
  val jobs   = new ConcurrentLinkedQueue[java.lang.Long]
  val stages = new ConcurrentLinkedQueue[(Long, Long)]
  /** query executions the harness wants attributed, e.g. reader queries;
    * each is dropped once recorded, since an executed plan holds its
    * broadcast relations
    */
  val tags = new java.util.concurrent.ConcurrentHashMap[QueryExecution, String]

  private object Aqe extends AdaptiveSparkPlanHelper

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.add(e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add((i.completionTime.getOrElse(System.currentTimeMillis()),
      i.taskMetrics.shuffleWriteMetrics.bytesWritten))
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    record(func, qe, durationNs, ok = true)
  override def onFailure(func: String, qe: QueryExecution, error: Exception): Unit =
    record(func, qe, 0L, ok = false)

  private def record(func: String, qe: QueryExecution, durationNs: Long, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    val planMs = phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
    val start = phases.get("planning").map(_.endTimeMs.toDouble)
      .getOrElse(System.currentTimeMillis() - durationNs / 1e6)
    val plan = try qe.executedPlan catch { case _: Throwable => null }
    val (path, rows, bytes) = Option(plan).flatMap(writeOf).getOrElse(("", -1L, -1L))
    val topk = Option(plan).toSeq.flatMap(p =>
      try Aqe.collectWithSubqueries(p) { case n if n.nodeName == "GraftBoundedTopK" => n }
      catch { case _: Throwable => Nil })
    def topkSum(m: String) = topk.flatMap(_.metrics.get(m)).map(_.value).sum
    execs.add(ExecRec(start, start + durationNs / 1e6, planMs, func, path, rows, bytes, ok,
      topkSum("numGroups"), topkSum("numPassThroughRows"),
      Option(tags.remove(qe)).getOrElse("")))
  }

  private def writeOf(p: SparkPlan): Option[(String, Long, Long)] = {
    val root = p match { case c: CommandResultExec => c.commandPhysicalPlan; case other => other }
    Aqe.collectFirst(root) { case d: DataWritingCommandExec => d }.flatMap(_.cmd match {
      case i: InsertIntoHadoopFsRelationCommand =>
        def m(k: String) = i.metrics.get(k).map(_.value).getOrElse(-1L)
        Some((i.outputPath.toString, m("numOutputRows"), m("numOutputBytes")))
      case _ => None
    })
  }
}

/** Codegen compile time from Spark's `CodegenMetrics` histogram. The
  * histogram keeps every sample while the JVM has compiled fewer than
  * its reservoir size (1028) classes; past that the delta is estimated
  * as new compilations times the reservoir mean.
  */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  final case class Mark(count: Long, sumMs: Double)
  def mark(): Mark = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    Mark(h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum)
  }
  def deltaMs(a: Mark, b: Mark): Double = {
    val n = b.count - a.count
    if (n <= 0) 0.0
    else if (b.count <= 1028) b.sumMs - a.sumMs
    else n * (CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean)
  }
}

/** The program's memory at checkpoints the benchmark places outside its
  * timed sections: each forces full collections until Spark's cleaner
  * has released what the first one freed (unpersisted blocks, broadcast
  * and shuffle data of finished jobs), then records
  *  - the live heap (heap used after the collection);
  *  - native memory: the resident set less the heap's resident pages
  *    (metaspace, code cache, thread stacks, GC structures, direct
  *    buffers, malloc).
  * Both are kept as maxima over the checkpoints, and neither depends on
  * the heap size the benchmark gives the JVM.
  */
object Memory {
  private var liveHeap, native = 0L
  private lazy val heapRange: (Long, Long) = {
    val info = ManagementFactory.getPlatformMBeanServer.invoke(
      new ObjectName("com.sun.management:type=DiagnosticCommand"), "gcHeapInfo",
      Array[AnyRef](Array.empty[String]), Array(classOf[Array[String]].getName)).toString
    val m = "\\[0x([0-9a-f]+), 0x([0-9a-f]+)\\)".r.findFirstMatchIn(info)
      .getOrElse(sys.error(s"no heap range in GC.heap_info: $info"))
    (java.lang.Long.parseUnsignedLong(m.group(1), 16), java.lang.Long.parseUnsignedLong(m.group(2), 16))
  }
  private val Vma = "^([0-9a-f]+)-([0-9a-f]+) .*".r

  /** (resident KB, of which inside the heap) from /proc/self/smaps. */
  private def residentKb(): (Long, Long) = {
    val (lo, hi) = heapRange
    var total, heap = 0L
    var inHeap = false
    Files.readAllLines(Path.of("/proc/self/smaps"), UTF_8).asScala.foreach {
      case Vma(a, b) =>
        inHeap = java.lang.Long.parseUnsignedLong(a, 16) >= lo && java.lang.Long.parseUnsignedLong(b, 16) <= hi
      case l if l.startsWith("Rss:") =>
        val kb = l.split("\\s+")(1).toLong
        total += kb
        if (inHeap) heap += kb
      case _ =>
    }
    (total, heap)
  }

  def checkpoint(): Unit = synchronized {
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(250) }
    liveHeap = math.max(liveHeap, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    val (total, heap) = residentKb()
    native = math.max(native, (total - heap) * 1024)
  }

  def liveHeapPeak: Long = liveHeap
  def nativePeak: Long = native

  /** The JVM's resident peak (`VmHWM`), reported but not compared: it is
    * mostly the heap size the benchmark sets.
    */
  def residentPeakKb: Long =
    Files.readAllLines(Path.of("/proc/self/status"), UTF_8).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
}
