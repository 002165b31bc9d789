package cdcbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.operators.ExactlyOnce

/** The in-process "broker": every committed transaction with its commit
  * time. Producers run in executor tasks of the same JVM (local mode).
  */
object Recorder {
  final case class Txn(batchId: Long, commitNanos: Long, keys: Array[String],
      topics: Array[String], partitions: Array[Int], valueHashes: Array[Long])

  val txns = new ConcurrentLinkedQueue[Txn]()
  val aborts = new AtomicLong()

  def reset(): Unit = { txns.clear(); aborts.set(0) }

  def produced: Iterator[Oracle.Produced] = txns.iterator.asScala.flatMap { t =>
    t.keys.indices.iterator.map(i =>
      Oracle.Produced(t.keys(i), t.topics(i), t.partitions(i), t.valueHashes(i)))
  }
}

/** Transactional producer that records what a `read_committed` consumer
  * would see: records become visible at `commitTransaction`.
  */
final class RecordingProducer(batchId: Long) extends ExactlyOnce.TxnProducer {
  private val keys = ArrayBuffer.empty[String]
  private val topics = ArrayBuffer.empty[String]
  private val partitions = ArrayBuffer.empty[Int]
  private val hashes = ArrayBuffer.empty[Long]
  private var lastTopic: String = _

  private def clear(): Unit = { keys.clear(); topics.clear(); partitions.clear(); hashes.clear() }

  override def beginTransaction(): Unit = clear()
  override def send(key: String, value: String): Unit =
    sendRecord(null, -1, Option(key).map(_.getBytes("UTF-8")).orNull,
      Option(value).map(_.getBytes("UTF-8")).orNull)
  override def sendRecord(topic: String, partition: Int,
      key: Array[Byte], value: Array[Byte]): Unit = {
    if (topic != lastTopic) lastTopic = topic
    keys += (if (key == null) null else new String(key, "UTF-8"))
    topics += lastTopic
    partitions += partition
    hashes += (if (value == null) 0L else Oracle.valueHash(value))
  }
  override def commitTransaction(): Unit = {
    val now = System.nanoTime()
    Recorder.txns.add(Recorder.Txn(batchId, now, keys.toArray, topics.toArray,
      partitions.toArray, hashes.toArray))
    clear()
  }
  override def abortTransaction(): Unit = { clear(); Recorder.aborts.incrementAndGet() }
  override def close(): Unit = ()
}

/** Per-batch engine phases from the progress events, every batch kept
  * (recentProgress holds only the last few).
  */
final class EngineListener extends StreamingQueryListener {
  final case class Batch(batchId: Long, rows: Long, durations: Map[String, Long])
  val batches = new ConcurrentLinkedQueue[Batch]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0)
      batches.add(Batch(p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  def all: Seq[Batch] = batches.asScala.toSeq.sortBy(_.batchId)
  def reset(): Unit = batches.clear()
}

/** Task totals from the scheduler's listener bus. */
final class TaskListener extends SparkListener {
  val tasks = new AtomicLong()
  val runMs = new AtomicLong()
  val cpuNs = new AtomicLong()
  val shuffleBytes = new AtomicLong()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }
  def snapshot: Counters = Counters(Map(
    "tasks" -> tasks.get.toDouble, "task_run_ms" -> runMs.get.toDouble,
    "task_cpu_ms" -> cpuNs.get / 1e6, "shuffle_bytes" -> shuffleBytes.get.toDouble))
}

/** A set of monotone counters; `-` gives the change between two reads. */
final case class Counters(values: Map[String, Double]) {
  def -(o: Counters): Counters =
    Counters(values.map { case (k, v) => k -> (v - o.values.getOrElse(k, 0.0)) })
  def ++(o: Counters): Counters = Counters(values ++ o.values)
  def apply(k: String): Double = values.getOrElse(k, 0.0)
}

object Counters {
  /** File system operations (from [[CountingLocalFileSystem]]) and the
    * Hadoop statistics' byte counts, JVM-wide: the executors share the
    * application's JVM in local mode.
    */
  def fs: Counters = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    Counters(Map(
      "fs_read_ops" -> CountingLocalFileSystem.reads.get.toDouble,
      "fs_write_ops" -> CountingLocalFileSystem.writes.get.toDouble,
      "fs_bytes_read" -> st.map(_.getBytesRead).sum.toDouble,
      "fs_bytes_written" -> st.map(_.getBytesWritten).sum.toDouble))
  }

  def gcMs: Double = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum.toDouble

  private def heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}

/** In-memory spans, written out when the run ends. The trace id is the
  * micro-batch id; `parent` is -1 for a batch's root span.
  */
final class Tracer {
  final case class Span(name: String, traceId: Long, id: Int, parent: Int,
      startNs: Long, endNs: Long, counters: Map[String, Double]) {
    def ms: Double = (endNs - startNs) / 1e6
  }
  /** Handle passed to a span's body: its id, and counts the body adds. */
  final class Ctx(val id: Int) {
    private[Tracer] val added = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def add(name: String, v: Double): Unit = added(name) = added.getOrElse(name, 0.0) + v
  }
  private val spans = ArrayBuffer.empty[Span]
  private var next = 0

  /** Runs `f` inside a span. `counters` is read before and after, outside
    * the timed interval; its change is stored on the span.
    */
  def span[T](name: String, traceId: Long, parent: Int, counters: () => Counters)(
      f: Ctx => T): T = {
    val ctx = synchronized { next += 1; new Ctx(next - 1) }
    val c0 = counters()
    val t0 = System.nanoTime()
    val r = f(ctx)
    val t1 = System.nanoTime()
    val diff = (counters() - c0).values ++ ctx.added
    synchronized { spans += Span(name, traceId, ctx.id, parent, t0, t1, diff) }
    r
  }

  def all: Seq[Span] = synchronized(spans.toList)

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Span duration minus the part covered by its children. */
  def selfMs(s: Span): Double =
    s.ms - all.filter(c => c.parent == s.id && c.traceId == s.traceId).map(_.ms).sum
}
