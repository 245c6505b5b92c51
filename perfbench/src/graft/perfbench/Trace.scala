package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** In-memory spans: (name, start, end, parent, op). Off, `span` is a plain
  * call. Spans are written out once, when the run ends. */
final class Tracer(val on: Boolean) {
  final case class Span(id: Int, name: String, start: Long, var end: Long,
      parent: Int, op: Int)
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var op: Int = -1

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val s = Span(spans.length, name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1), op)
      spans += s
      stack ::= s.id
      try body finally { s.end = System.nanoTime(); stack = stack.tail }
    }

  /** Total seconds of the spans named `name` whose op passes `keep`. */
  def total(name: String, keep: Int => Boolean): Double =
    spans.iterator.filter(s => s.name == name && keep(s.op))
      .map(s => (s.end - s.start) / 1e9).sum

  /** Total seconds of the spans named `child` under a parent named `parent`. */
  def totalUnder(parent: String, child: String, keep: Int => Boolean): Double =
    spans.iterator.filter(s => s.name == child && keep(s.op) && s.parent >= 0 &&
      spans(s.parent).name == parent).map(s => (s.end - s.start) / 1e9).sum

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},""" +
        s""""end_ns":${s.end},"parent":${s.parent},"op":${s.op}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Task metrics per job group; each op runs under its own group. */
final class GroupListener extends SparkListener {
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var cpuNs = 0L; var schedMs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  }
  val byGroup = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private def acc(g: String): Acc = byGroup.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    e.stageIds.foreach(stageGroup.put(_, g))
    acc(g).jobs += 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    acc(stageGroup.getOrDefault(e.stageInfo.stageId, "none")).stages += 1
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageGroup.getOrDefault(e.stageId, "none"))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      a.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime)
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** The `eclipse-*` scan figures of an executed plan (the final adaptive
  * plan included). */
final case class ScanFigures(partitions: Long, rowsOut: Long, payloads: Long,
    paramSlots: Long, geomCells: Long) {
  def +(o: ScanFigures): ScanFigures = ScanFigures(partitions + o.partitions,
    rowsOut + o.rowsOut, payloads + o.payloads, paramSlots + o.paramSlots,
    geomCells + o.geomCells)
}

object ScanFigures {
  val Zero: ScanFigures = ScanFigures(0, 0, 0, 0, 0)

  private def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec => scans(s.plan)
    case b: BatchScanExec => Seq(b)
    case other => (other.children ++ other.subqueries).flatMap(scans)
  }

  def of(plan: SparkPlan): ScanFigures =
    scans(plan).filter(_.scan.getClass.getName.startsWith("graft.io.datasource"))
      .map { b =>
        def m(k: String) = b.metrics.get(k).map(_.value).getOrElse(0L)
        ScanFigures(b.inputPartitions.length.toLong, m("numOutputRows"),
          m("payloadsDecoded"), m("paramSlotsDecoded"), m("geomCellsComputed"))
      }.foldLeft(Zero)(_ + _)
}

/** JIT, GC and heap figures from the JVM's management beans. */
object Jvm {
  def jitSeconds: Double =
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
}
