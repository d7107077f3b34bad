package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval: a call into a layer, or a whole operation.
  * Times are `System.currentTimeMillis`-based nanos so they line up
  * with Spark listener event times. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, endNs: Long) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** Local file system that counts the metadata calls an index layout
  * costs. Installed from outside through `spark.hadoop.fs.file.impl`
  * in the traced run only; counts are JVM-global because Hadoop may
  * create several instances. */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    renames.incrementAndGet(); super.rename(src, dst)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    if (f.getName.endsWith(".parquet")) parquetCreates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CountingLocalFs {
  val lists = new AtomicLong
  val renames = new AtomicLong
  val parquetCreates = new AtomicLong
  def snapshot(): Map[String, Long] = {
    // Hadoop's own per-scheme FileSystem.Statistics, by name
    val st = Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
    def stat(k: String): Long = st.flatMap(s => Option(s.getLong(k))).fold(0L)(_.longValue)
    Map("list_calls" -> lists.get, "renames" -> renames.get,
      "files_written" -> parquetCreates.get,
      "bytes_written" -> stat("bytesWritten"), "bytes_read" -> stat("bytesRead"))
  }
}

/** Per-job record from the listener; task figures accumulate as task
  * end events arrive. */
final class JobRec(val jobId: Int, val startMs: Long, val desc: String) {
  @volatile var endMs: Long = -1L
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
}

/** Records job and task metrics from outside the program. */
final class JobListener extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs.put(e.jobId, new JobRec(e.jobId, e.time, desc))
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { r =>
      r.tasks.incrementAndGet()
      r.taskMs.addAndGet(e.taskInfo.duration)
      Option(e.taskMetrics).foreach { m =>
        r.gcMs.addAndGet(m.jvmGCTime)
        r.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        r.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
}

/** Collects `StreamingQueryProgress` of triggers that read input. */
final class ProgressListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0) progress.add(e)
}

/** The traced run's recorder. Spans stay in memory until [[write]]. */
final class Tracer(spark: SparkSession) {
  val jobs = new JobListener
  val streams = new ProgressListener
  spark.sparkContext.addSparkListener(jobs)
  spark.streams.addListener(streams)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  private var op = -1
  /** Per-span numeric attributes (row counts, touched fractions, ...). */
  val attrs = mutable.Map.empty[Int, mutable.Map[String, Double]]
  /** Per-span file-system counter deltas. */
  val fsDelta = mutable.Map.empty[Int, Map[String, Long]]

  /** Run `body` as span `name`, child of the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = open.headOption.getOrElse(-1)
    if (parent == -1) op = id
    open = id :: open
    val fs0 = CountingLocalFs.snapshot()
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally {
      val dur = System.nanoTime() - n0
      val fs1 = CountingLocalFs.snapshot()
      fsDelta(id) = fs1.map { case (k, v) => k -> (v - fs0(k)) }
      spans += Span(id, name, parent, op, t0 * 1000000L, t0 * 1000000L + dur)
      open = open.tail
    }
  }

  /** Attach an attribute to the innermost open span. */
  def attr(k: String, v: Double): Unit =
    attrs.getOrElseUpdate(open.head, mutable.Map.empty)(k) = v

  /** Force `df` so the enclosing span holds its layer's own work:
    * persist + count. Returns the persisted frame and its row count. */
  def persist(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist()
    (p, p.count())
  }

  /** Force `df` without keeping it: a noop write. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def all: Seq[Span] = spans.toSeq

  /** Span duration minus the part its children cover (children of one
    * single-threaded client never overlap). */
  def selfS(s: Span): Double =
    s.durS - spans.filter(_.parent == s.id).map(_.durS).sum

  /** Jobs that started inside `[startNs, endNs]`. */
  def jobsIn(startNs: Long, endNs: Long): Seq[JobRec] = {
    val (a, b) = (startNs / 1000000L, endNs / 1000000L + 1)
    jobs.jobs.values.asScala.filter(j => j.startMs >= a && j.startMs <= b).toSeq
  }

  /** Write every span, and the per-label step seconds, as JSON. */
  def write(path: java.nio.file.Path, steps: Map[String, Double]): Unit = {
    val sb = new StringBuilder("{\"steps\":{")
    sb ++= steps.toSeq.sorted.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString(",")
    sb ++= "},\"spans\":[\n"
    sb ++= spans.map { s =>
      val at = attrs.get(s.id).map(_.map { case (k, v) => s""""$k":$v""" }.mkString(",")).getOrElse("")
      val fs = fsDelta.get(s.id).map(_.map { case (k, v) => s""""fs.$k":$v""" }.mkString(",")).getOrElse("")
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfS(s)},"attrs":{${Seq(at, fs).filter(_.nonEmpty).mkString(",")}}}"""
    }.mkString(",\n")
    sb ++= "\n]}\n"
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Peak heap in use right after a garbage collection, over the JVM's
  * heap pools: the program's live memory, whatever size the collector
  * lets the heap grow to. Listens to GC notifications from the moment
  * it is made until [[close]]. */
final class HeapWatch {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (used > peak) peak = used }
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def peakMb: Double = peak / 1048576.0
  def close(): Unit = emitters.foreach(_.removeNotificationListener(listener))
}
