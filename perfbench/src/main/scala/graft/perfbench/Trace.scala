package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch microseconds; `parent` is -1 for a
  * root. `kind` is "bench" for spans the benchmark opens around a layer call
  * and "sql" for a SQL execution reported by Spark's own listeners. */
final case class Span(id: Int, parent: Int, name: String, kind: String,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

/** Task-level counters of one finished task. */
final case class TaskRec(stageId: Int, runMs: Long, shuffleWrite: Long, spill: Long,
                         input: Long, output: Long)

/** Records what Spark reports through its listener APIs: jobs, stages,
  * tasks, persisted blocks, SQL executions and streaming progress. Events
  * arrive on the listener-bus thread, so every read first drains the bus. */
final class SparkEvents extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap.empty[Int, (Long, Long)] // id -> (startMs, endMs)
  val stageJob = mutable.HashMap.empty[Int, Int]
  val stagesDone = ArrayBuffer.empty[Long] // completion ms
  val tasks = ArrayBuffer.empty[(Long, TaskRec)] // (finish ms, rec)
  val diskBlocks = mutable.HashMap.empty[String, (Long, Long)] // block -> (ms, diskSize)
  val sqlExec = mutable.LinkedHashMap.empty[Long, (Long, Long, String)] // id -> (start, end, kind)
  // The session's QueryExecutionListener bus sits on the shared listener
  // queue ahead of this listener (Tracer.install), so for one execution-end
  // event its callback runs first and leaves the kind here for the handler
  // below.
  // Nested executions get no callback and stay "nested".
  private var pendingKind: Option[String] = None

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = (e.time, -1L)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { case (s, _) => jobs(e.jobId) = (s, e.time) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagesDone += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += ((e.taskInfo.finishTime, TaskRec(e.stageId, m.executorRunTime,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)))
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.diskSize > 0 && !diskBlocks.contains(b.blockId.name))
      diskBlocks(b.blockId.name) = (System.currentTimeMillis(), b.diskSize)
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => sqlExec(s.executionId) = (s.time, -1L, "nested")
      case s: SparkListenerSQLExecutionEnd =>
        sqlExec.get(s.executionId).foreach { case (st, _, k) =>
          sqlExec(s.executionId) = (st, s.time, pendingKind.getOrElse(k)) }
        pendingKind = None
      case _ =>
    }
  }

  /** Names a SQL execution by what it did: a file write (with its table), a
    * count, or the action's own name. */
  private def classify(funcName: String, qe: QueryExecution): String = {
    val write = qe.logical.collectFirst {
      case i: InsertIntoHadoopFsRelationCommand => s"write:${i.outputPath.getName}"
    }
    write.getOrElse(funcName)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { pendingKind = Some(classify(funcName, qe)) }
  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
    synchronized { pendingKind = Some(classify(funcName, qe)) }
}

/** Micro-batch progress of every streaming query the session runs. */
final class StreamingEvents extends StreamingQueryListener {
  import StreamingQueryListener._
  val progress = ArrayBuffer.empty[(Long, org.apache.spark.sql.streaming.StreamingQueryProgress)]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    progress += ((System.currentTimeMillis(), e.progress))
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

/** Spans around the benchmark's calls into each layer, one Spark job group
  * per span, plus Spark's listener events for the same interval. Spans stay
  * in memory until [[Tracer.spansJson]] writes them out. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val sc = spark.sparkContext
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  val events = new SparkEvents
  val streaming = new StreamingEvents
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def install(): Unit = {
    // listenerManager first: it puts its bus on the shared queue (if not
    // there yet) ahead of `events`, the order SparkEvents relies on
    spark.listenerManager.register(events)
    sc.addSparkListener(events)
    spark.streams.addListener(streaming)
  }

  def uninstall(): Unit = {
    drain()
    sc.removeSparkListener(events)
    spark.listenerManager.unregister(events)
    spark.streams.removeListener(streaming)
  }

  def drain(): Unit = BenchBus.drain(sc)

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    sc.setJobGroup(s"$runId-$id", name, interruptOnCancel = false)
    val start = nowUs
    try body
    finally {
      val end = nowUs
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"$runId-$p", spans.find(_.id == p).fold("")(_.name))
        case None => sc.clearJobGroup()
      }
      spans += Span(id, parent, name, "bench", start, end)
    }
  }

  /** Bench spans plus one child span per finished SQL execution, hung under
    * the innermost bench span that contains its start. */
  def allSpans: Seq[Span] = {
    drain()
    val bench = spans.toSeq
    val sql = events.synchronized {
      events.sqlExec.toSeq.collect { case (id, (s, e, kind)) if e >= 0 =>
        val (sUs, eUs) = (s * 1000L, e * 1000L)
        val parent = innermost(bench, sUs).getOrElse(-1)
        Span(1000000 + id.toInt, parent, s"sql.$kind",
          "sql", sUs, eUs)
      }
    }
    bench ++ sql
  }

  private def innermost(bench: Seq[Span], tUs: Long): Option[Int] =
    bench.filter(s => s.start <= tUs && tUs <= s.end).sortBy(_.dur).headOption.map(_.id)

  /** Span id each job belongs to: the innermost bench span containing its
    * start, which also catches jobs that streaming threads submit. */
  def jobSpan: Map[Int, Int] = {
    drain()
    val bench = spans.toSeq
    events.synchronized {
      events.jobs.toSeq.flatMap { case (j, (s, _)) => innermost(bench, s * 1000L).map(j -> _) }
    }.toMap
  }

  /** Tasks whose job belongs to one of `spanIds`. */
  def tasksOf(spanIds: Set[Int]): Seq[TaskRec] = {
    val js = jobSpan
    events.synchronized {
      events.tasks.toSeq.map(_._2).filter { t =>
        events.stageJob.get(t.stageId).flatMap(js.get).exists(spanIds.contains)
      }
    }
  }

  def descendants(root: Int): Set[Int] = {
    val all = spans.toSeq
    def loop(ids: Set[Int]): Set[Int] = {
      val next = ids ++ all.filter(s => ids.contains(s.parent)).map(_.id)
      if (next.size == ids.size) ids else loop(next)
    }
    loop(Set(root))
  }

  /** `extra` followed by every span with its self time, ready for JSON. */
  def spansJson(extra: ListMap[String, Any]): ListMap[String, Any] = {
    val ss = allSpans
    val rows = ss.map { s =>
      val kids = ss.filter(_.parent == s.id).map(c => (c.start, c.end))
      ListMap("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
        "run_id" -> runId, "start_us" -> s.start, "end_us" -> s.end,
        "dur_s" -> s.dur / 1e6, "self_s" -> (s.dur - Intervals.union(kids, s.start, s.end)) / 1e6)
    }
    extra + ("spans" -> rows)
  }
}

object Intervals {
  /** Length of the union of `xs` clipped to [lo, hi]. */
  def union(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s0, e0) <- xs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
           .filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s0 > curE) {
        if (curE > curS) covered += curE - curS
        curS = s0; curE = e0
      } else curE = math.max(curE, e0)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** JVM-wide counters read around a traced pass. */
object Jvm {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakBytes: Long = heapPools.map(_.getPeakUsage.getUsed).sum
}
