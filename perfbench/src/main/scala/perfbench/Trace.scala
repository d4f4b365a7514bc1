package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Work counted at one span: Spark task metrics attributed through the
  * span's local property, plus file-system counters sampled at the span
  * boundaries. */
final class Counts {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runNs = 0L; var cpuNs = 0L; var gcNs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var inputBytes = 0L; var inputRecords = 0L; var outputBytes = 0L
  var filesOpened = 0L; var filesCreated = 0L; var fsBytesWritten = 0L
  /** task (launch, finish) intervals, ms since epoch */
  val taskIntervals = mutable.ArrayBuffer[(Long, Long)]()
}

/** One layer-boundary span. Times are nanoTime; `startMs` ties the span
  * to the listener's wall-clock task intervals. */
final class Span(val id: Long, val parent: Option[Span], val name: String,
    val requestId: Long, val startNs: Long, val startMs: Long) {
  @volatile var endNs: Long = -1L
  @volatile var endMs: Long = -1L
  val counts = new Counts
  val children = mutable.ArrayBuffer[Span]()
  def seconds: Double = (endNs - startNs) / 1e9
  def open: Boolean = endNs < 0

  /** Own time: duration minus the union of the children's intervals. */
  def selfSeconds: Double =
    seconds - Trace.union(children.map(c => (c.startNs, c.endNs)).toSeq) / 1e9

  /** Counts of this span and every descendant. */
  def inclusive: Counts = {
    val c = new Counts
    def add(s: Span): Unit = {
      val k = s.counts
      c.jobs += k.jobs; c.stages += k.stages; c.tasks += k.tasks
      c.runNs += k.runNs; c.cpuNs += k.cpuNs; c.gcNs += k.gcNs
      c.shuffleRead += k.shuffleRead; c.shuffleWrite += k.shuffleWrite
      c.spill += k.spill; c.inputBytes += k.inputBytes
      c.inputRecords += k.inputRecords; c.outputBytes += k.outputBytes
      c.filesOpened += k.filesOpened; c.filesCreated += k.filesCreated
      c.fsBytesWritten += k.fsBytesWritten
      c.taskIntervals ++= k.taskIntervals
      s.children.foreach(add)
    }
    add(this)
    c
  }

  /** Span time during which no task of this span (or its children) ran:
    * driver-side planning, scheduling and result handling. */
  def driverGapSeconds: Double = {
    val busyMs = Trace.union(inclusive.taskIntervals.toSeq.map { case (a, b) =>
      (math.max(a, startMs), math.min(b, endMs)) }.filter { case (a, b) => b > a })
    math.max(0.0, seconds - busyMs / 1e3)
  }
}

/** Benchmark-side tracer: spans at each layer boundary the benchmark
  * calls, kept in memory and written out when the run ends. While a
  * span is open its id is the Spark local property [[Trace.Prop]], so
  * the listener charges each job, stage and task to it. When disabled,
  * [[span]] only runs its body. */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val roots = mutable.ArrayBuffer[Span]()
  private val created = mutable.ArrayBuffer[Span]()
  @volatile private var current: Option[Span] = None
  private var request = 0L

  if (enabled) sc.addSparkListener(new Trace.Listener(this))

  def newRequest(): Unit = request += 1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = current
      val s = new Span(ids.incrementAndGet(), parent, name, request,
        System.nanoTime(), System.currentTimeMillis())
      byId.put(s.id, s)
      created.synchronized(created += s)
      parent match {
        case Some(p) => p.children += s
        case None => roots += s
      }
      val fs0 = Trace.fsSnapshot()
      current = Some(s)
      sc.setLocalProperty(Trace.Prop, s.id.toString)
      try body
      finally {
        s.endMs = System.currentTimeMillis()
        s.endNs = System.nanoTime()
        val fs1 = Trace.fsSnapshot()
        s.counts.filesOpened += fs1._1 - fs0._1 - childSum(s, _.filesOpened)
        s.counts.filesCreated += fs1._2 - fs0._2 - childSum(s, _.filesCreated)
        s.counts.fsBytesWritten += fs1._3 - fs0._3 - childSum(s, _.fsBytesWritten)
        current = parent
        sc.setLocalProperty(Trace.Prop, parent.map(_.id.toString).orNull)
      }
    }

  private def childSum(s: Span, f: Counts => Long): Long =
    s.children.map(c => f(c.inclusive)).sum

  /** The span a job started at `timeMs` belongs to: the one its local
    * property names, unless that span does not cover the job's start (a
    * pooled thread keeps the property it inherited when it was created),
    * then the innermost span open at that time. */
  private[perfbench] def resolve(prop: String, timeMs: Long): Option[Span] = {
    def covers(s: Span) = s.startMs <= timeMs && (s.open || s.endMs >= timeMs)
    def inside(s: Span) = s.startMs <= timeMs && (s.open || s.endMs > timeMs)
    Option(prop).flatMap(p => Option(byId.get(p.toLong))).filter(covers)
      .orElse(created.synchronized(created.reverseIterator.find(inside)))
  }

  def allSpans: Seq[Span] = {
    val out = mutable.ArrayBuffer[Span]()
    def walk(s: Span): Unit = { out += s; s.children.foreach(walk) }
    roots.foreach(walk)
    out.toSeq
  }

  def named(name: String): Seq[Span] = allSpans.filter(_.name == name)

  /** Spans as JSON lines: name, start, end, parent, request id, counts. */
  def write(path: String): Unit = {
    val lines = allSpans.map { s =>
      val c = s.counts
      s"""{"id":${s.id},"parent":${s.parent.map(_.id).getOrElse(0L)},"name":"${s.name}",""" +
        s""""request":${s.requestId},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""self_s":${s.selfSeconds},"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        s""""executor_run_s":${c.runNs / 1e9},"executor_cpu_s":${c.cpuNs / 1e9},"gc_s":${c.gcNs / 1e9},""" +
        s""""shuffle_read_bytes":${c.shuffleRead},"shuffle_write_bytes":${c.shuffleWrite},""" +
        s""""spill_bytes":${c.spill},"input_bytes":${c.inputBytes},"input_records":${c.inputRecords},""" +
        s""""output_bytes":${c.outputBytes},"files_opened":${c.filesOpened},""" +
        s""""files_created":${c.filesCreated},"fs_bytes_written":${c.fsBytesWritten}}"""
    }
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {
  val Prop = "perfbench.span"

  /** Total length of the union of [start, end) intervals. */
  def union(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** (files opened, files created, bytes written) on the local file
    * system since the JVM started. */
  def fsSnapshot(): (Long, Long, Long) = {
    val written = FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
    (CountingLocalFs.opens.get, CountingLocalFs.creates.get, written)
  }

  final class Listener(t: Trace) extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, Span]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      t.resolve(Option(e.properties).map(_.getProperty(Prop)).orNull, e.time).foreach { s =>
        s.synchronized { s.counts.jobs += 1 }
        e.stageIds.foreach(stageSpan.put(_, s))
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        s.synchronized { s.counts.stages += 1 }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        s.synchronized {
          val c = s.counts
          c.tasks += 1
          c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
          if (m != null) {
            c.runNs += m.executorRunTime * 1000000L
            c.cpuNs += m.executorCpuTime
            c.gcNs += m.jvmGCTime * 1000000L
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            c.inputBytes += m.inputMetrics.bytesRead
            c.inputRecords += m.inputMetrics.recordsRead
            c.outputBytes += m.outputMetrics.bytesWritten
          }
        }
      }
  }
}

/** The local file system with open/create counters, installed as
  * `fs.file.impl` for traced runs only. */
class CountingLocalFs extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (!f.getName.endsWith(".crc")) CountingLocalFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CountingLocalFs.creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CountingLocalFs {
  val opens = new AtomicLong(0)
  val creates = new AtomicLong(0)
}

/** Peak heap occupancy right after a collection, from GC notifications. */
object HeapWatch {
  @volatile var peakAfterGcBytes = 0L

  private lazy val heapPools: Set[String] =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = {
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.openmbean.CompositeData
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    val listener = new NotificationListener {
      override def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          if (used > peakAfterGcBytes) peakAfterGcBytes = used
        }
    }
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ => ()
    }
  }
}
