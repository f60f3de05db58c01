package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.scheduler._
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Spans around the benchmark's calls into the engine, kept in memory and
  * written out when the run ends.
  *
  * A span is one call into one layer: its name, start, end, parent span and
  * the operation (batch, read or query) it belongs to. While a span is open
  * on a thread, that thread's Spark jobs carry the span id as a local
  * property, so `listener` charges their jobs, tasks, shuffle, spill and IO
  * bytes to it, and [[CountingLocalFileSystem]] charges it the FS calls made
  * outside tasks (commit renames, listings, pointer reads). Jobs of a
  * traced operation started outside any span are counted as unattributed.
  *
  * Outside a traced operation, `span` only runs its body. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._
  private implicit val formats: DefaultFormats.type = DefaultFormats

  final class Span(val id: Long, val name: String, val parent: Long,
      val op: Long, val start: Long) {
    @volatile var end: Long = 0L
    val fsOps = new AtomicLong
    val jobs = new AtomicLong
    val tasks = new AtomicLong
    val shuffleBytes = new AtomicLong
    val spillBytes = new AtomicLong
    val bytesWritten = new AtomicLong
    val bytesRead = new AtomicLong
    /** Wall intervals of this span's jobs, for the time outside jobs. */
    val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  }

  private val ids = new AtomicLong
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val open = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private val currentOp = new ThreadLocal[(Long, Boolean)] {
    override def initialValue(): (Long, Boolean) = (0L, false)
  }
  val unattributedJobs = new AtomicLong
  if (enabled) active = this

  /** Run `body` as operation `op` (a batch, read or query number), with
    * its spans recorded only when `traced`. */
  def operation[A](op: Long, traced: Boolean)(body: => A): A = {
    val prev = currentOp.get
    val prevProp = sc.getLocalProperty(OpProperty)
    val on = enabled && traced
    currentOp.set((op, on))
    sc.setLocalProperty(OpProperty, if (on) op.toString else null)
    try body finally {
      currentOp.set(prev)
      sc.setLocalProperty(OpProperty, prevProp)
    }
  }

  def span[A](name: String)(body: => A): A =
    if (!currentOp.get._2) body
    else {
      val stack = open.get
      val s = new Span(ids.incrementAndGet(), name,
        stack.headOption.map(_.id).getOrElse(0L), currentOp.get._1, System.nanoTime())
      spans.put(s.id, s)
      val prevProp = sc.getLocalProperty(SpanProperty)
      sc.setLocalProperty(SpanProperty, s.id.toString)
      open.set(s :: stack)
      try body
      finally {
        s.end = System.nanoTime()
        open.set(stack)
        sc.setLocalProperty(SpanProperty, prevProp)
      }
    }

  private def spanOf(id: String): Option[Span] =
    Option(id).flatMap(i => Option(spans.get(i.toLong)))

  private[perfbench] def chargeFsOp(): Unit =
    if (TaskContext.get() == null)
      spanOf(sc.getLocalProperty(SpanProperty)).foreach(_.fsOps.incrementAndGet())

  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      if (prop(OpProperty).isDefined)
        prop(SpanProperty).flatMap(spanOf) match {
          case Some(s) =>
            s.jobs.incrementAndGet()
            jobSpan.put(e.jobId, s)
            jobStart.put(e.jobId, System.nanoTime())
            e.stageIds.foreach(st => stageSpan.put(st, s))
          case None => unattributedJobs.incrementAndGet()
        }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) {
      Option(jobSpan.remove(e.jobId)).foreach { s =>
        Option(jobStart.remove(e.jobId)).foreach(t0 =>
          s.jobIntervals.add((t0.longValue, System.nanoTime())))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
      Option(stageSpan.get(e.stageId)).foreach { s =>
        s.tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          s.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          s.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          s.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
          s.bytesRead.addAndGet(m.inputMetrics.bytesRead)
        }
      }
    }
  }

  def all: Seq[Span] = spans.values.asScala.toSeq.sortBy(_.id)

  /** Seconds of the span not covered by any of its jobs: planning,
    * listings, commit renames, waiting on the scheduler. */
  def driverSeconds(s: Span): Double = {
    val iv = s.jobIntervals.asScala.toSeq
      .map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = 0L
    var curB = 0L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0L, (s.end - s.start) - covered) / 1e9
  }

  /** The spans as JSON lines, times in seconds from the first span: name,
    * start, end, parent, operation, self time (not covered by child spans)
    * and the counters charged to it. */
  def dump(out: java.nio.file.Path): Unit = {
    val ss = all
    val t0 = if (ss.isEmpty) 0L else ss.map(_.start).min
    val kids = ss.groupBy(_.parent)
    val lines = ss.map { s =>
      val self = (s.end - s.start) / 1e9 -
        kids.getOrElse(s.id, Nil).map(c => (c.end - c.start) / 1e9).sum
      Serialization.write(ListMap(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_s" -> (s.start - t0) / 1e9, "end_s" -> (s.end - t0) / 1e9,
        "self_s" -> math.max(0.0, self), "driver_s" -> driverSeconds(s),
        "jobs" -> s.jobs.get, "tasks" -> s.tasks.get,
        "shuffle_bytes" -> s.shuffleBytes.get, "spill_bytes" -> s.spillBytes.get,
        "bytes_written" -> s.bytesWritten.get, "bytes_read" -> s.bytesRead.get,
        "fs_ops" -> s.fsOps.get))
    }
    java.nio.file.Files.write(out, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
  val OpProperty = "perfbench.op"
  /** The run's tracer when tracing is on; the FS wrapper charges it. */
  @volatile private[perfbench] var active: Tracer = null
}

/** The local file system, unchanged, except that each metadata or stream
  * call made outside a Spark task is charged to the caller's open span.
  * Registered for the `file` scheme by the benchmark's session. */
class CountingLocalFileSystem extends LocalFileSystem {
  private def charge(): Unit = { val t = Tracer.active; if (t != null) t.chargeFsOp() }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { charge(); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    charge()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { charge(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { charge(); super.delete(f, recursive) }
  override def listStatus(f: Path): Array[FileStatus] = { charge(); super.listStatus(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { charge(); super.mkdirs(f, permission) }
  override def getFileStatus(f: Path): FileStatus = { charge(); super.getFileStatus(f) }
}
