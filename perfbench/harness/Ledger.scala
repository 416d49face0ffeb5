package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.storage.BlockId

/** Work counters of one span, summed over the jobs, stages and tasks the
  * scheduler ran while the span was the innermost open one. */
final class Counters {
  var jobs, stages, failedStages, tasks, failedTasks = 0L
  var schedDelayMs, runMs, cpuNs, gcMs = 0L
  var inputBytes, inputRecords, scanTasks = 0L
  var shuffleWriteBytes, shuffleWriteRecords, shuffleReadBytes, shuffleReadRecords = 0L
  var spillDiskBytes, spillMemBytes = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; failedStages += o.failedStages
    tasks += o.tasks; failedTasks += o.failedTasks
    schedDelayMs += o.schedDelayMs; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; inputRecords += o.inputRecords; scanTasks += o.scanTasks
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleWriteRecords += o.shuffleWriteRecords
    shuffleReadBytes += o.shuffleReadBytes; shuffleReadRecords += o.shuffleReadRecords
    spillDiskBytes += o.spillDiskBytes; spillMemBytes += o.spillMemBytes
  }

  def fields: Map[String, Long] = Map(
    "jobs" -> jobs, "stages" -> stages, "failed_stages" -> failedStages,
    "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "sched_delay_ms" -> schedDelayMs, "run_ms" -> runMs,
    "cpu_ms" -> cpuNs / 1000000L, "gc_ms" -> gcMs,
    "input_bytes" -> inputBytes, "input_records" -> inputRecords, "scan_tasks" -> scanTasks,
    "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_write_records" -> shuffleWriteRecords,
    "shuffle_read_bytes" -> shuffleReadBytes, "shuffle_read_records" -> shuffleReadRecords,
    "spill_disk_bytes" -> spillDiskBytes, "spill_mem_bytes" -> spillMemBytes)
}

/** One timed region of the benchmark. Spans nest; a job is charged to the
  * innermost span open on the thread that submitted it. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long = 0L)

/** Span recorder plus the `SparkListener` that charges scheduler work to
  * spans. The span id travels to the scheduler as a job local property,
  * which Spark copies onto every job the thread (or a thread it spawns)
  * submits. Spans stay in memory until the run writes its artifact. */
final class Ledger(sc: SparkContext) extends SparkListener {
  private val Prop = "perfbench.span"
  val spans = mutable.ArrayBuffer[Span]()
  private val open = new InheritableThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stored = new ConcurrentHashMap[BlockId, java.lang.Long]()

  private def c(span: Int): Counters = counters.computeIfAbsent(span, _ => new Counters)
  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt).getOrElse(-1)

  def span[T](name: String)(body: Span => T): T = {
    val stack = open.get()
    val s = synchronized {
      val sp = Span(spans.size, name, stack.headOption.getOrElse(-1), System.nanoTime())
      spans += sp; sp
    }
    open.set(s.id :: stack)
    sc.setLocalProperty(Prop, s.id.toString)
    try body(s) finally {
      s.endNs = System.nanoTime()
      open.set(stack)
      sc.setLocalProperty(Prop, stack.headOption.map(_.toString).orNull)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = spanOf(e.properties)
    c(id).jobs += 1
    e.stageIds.foreach(st => stageSpan.putIfAbsent(st, id))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val cs = c(stageSpan.getOrDefault(e.stageInfo.stageId, -1))
    cs.stages += 1
    if (e.stageInfo.failureReason.isDefined) cs.failedStages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val cs = c(stageSpan.getOrDefault(e.stageId, -1))
    cs.tasks += 1
    if (e.reason != Success) cs.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      cs.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      cs.runMs += m.executorRunTime; cs.cpuNs += m.executorCpuTime; cs.gcMs += m.jvmGCTime
      val in = m.inputMetrics
      cs.inputBytes += in.bytesRead; cs.inputRecords += in.recordsRead
      if (in.bytesRead > 0 || in.recordsRead > 0) cs.scanTasks += 1
      cs.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      cs.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      cs.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      cs.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
      cs.spillDiskBytes += m.diskBytesSpilled; cs.spillMemBytes += m.memoryBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      stored.putIfAbsent(b.blockId, b.memSize + b.diskSize)
  }

  /** RDDs whose blocks were stored (checkpointed or persisted) since the
    * last call, and the bytes those blocks took when first stored. Counts
    * what was materialized, not what is still resident: the context
    * cleaner frees dropped RDDs' blocks whenever a GC finds them. */
  def takeStored(): (Int, Long) = {
    drain()
    val blocks = stored.asScala.toMap
    stored.clear()
    (blocks.keySet.flatMap(_.asRDDId).map(_.rddId).size, blocks.values.map(_.longValue).sum)
  }

  /** Wait until every event posted so far has reached this listener. */
  def drain(): Unit = org.apache.spark.PerfbenchSpark.drain(sc)

  /** Counters charged to the span itself (not its children). */
  def own(id: Int): Counters = Option(counters.get(id)).getOrElse(new Counters)

  /** Counters of the span and every span nested in it. */
  def total(id: Int): Counters = {
    val kids = spans.groupBy(_.parent)
    val acc = new Counters
    def go(i: Int): Unit = { acc.add(own(i)); kids.getOrElse(i, Nil).foreach(k => go(k.id)) }
    go(id)
    acc
  }

  def unattributed: Counters = own(-1)
}
