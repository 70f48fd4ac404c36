package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spans and observation series of a traced run. Spans stay in memory and
  * are written out when the run ends; with tracing off every call only
  * runs its body, so the untraced run pays nothing but a branch.
  *
  * A span's name is also the series its duration (ms) is observed under,
  * so `span("log.open_ms")` feeds the per-layer metric of that name.
  */
final class Tracer(val traced: Boolean) {
  /** Set for the timed window only, so set-up and checks leave no trace. */
  var recording = false
  def enabled: Boolean = traced && recording

  final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  /** Index of the op the spans recorded now belong to (0 = outside ops). */
  var op = 0
  private val sums = mutable.HashMap.empty[String, Double]
  private val counts = mutable.HashMap.empty[String, Long]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, t1)
        observe(name, (t1 - t0) / 1e6)
      }
    }

  def observe(name: String, v: Double): Unit =
    if (traced) {
      sums(name) = sums.getOrElse(name, 0.0) + v
      counts(name) = counts.getOrElse(name, 0L) + 1
    }

  def total(name: String): Double = sums.getOrElse(name, 0.0)
  def n(name: String): Long = counts.getOrElse(name, 0L)
  def mean(name: String): Double = if (n(name) == 0) 0.0 else total(name) / n(name)

  /** Spans as JSON lines, for the trace file written at exit. */
  def spanLines: Iterator[String] = spans.iterator.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }
}

/** Counts the Hadoop FileSystem calls graft and Spark make on `file:`.
  * Registered through configuration (`fs.file.impl`) by traced runs only.
  * Only the outermost call of a thread counts, so an `exists` that is
  * implemented as a `getFileStatus` is one call, and busy time is not
  * counted twice.
  */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  private def counted[T](c: AtomicLong)(body: => T): T =
    if (depth.get > 0) body
    else {
      depth.set(1)
      val t0 = System.nanoTime()
      try body
      finally {
        busyNs.addAndGet(System.nanoTime() - t0)
        c.incrementAndGet()
        depth.set(0)
      }
    }

  override def listStatus(f: Path): Array[FileStatus] = counted(lists)(super.listStatus(f))
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    counted(lists)(super.listStatusIterator(f))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    counted(lists)(super.listLocatedStatus(f))
  override def getFileStatus(f: Path): FileStatus = counted(statuses)(super.getFileStatus(f))
  override def exists(f: Path): Boolean = counted(statuses)(super.exists(f))
  override def mkdirs(f: Path, p: FsPermission): Boolean = counted(mkdirsCalls)(super.mkdirs(f, p))
  override def rename(src: Path, dst: Path): Boolean = counted(renames)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    counted(deletes)(super.delete(f, recursive))
  override def create(f: Path, p: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted(creates)(super.create(f, p, overwrite, bufferSize, replication, blockSize, progress))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted(opens)(super.open(f, bufferSize))
}

object CountingFileSystem {
  private val depth = ThreadLocal.withInitial[Int](() => 0)
  val lists, statuses, mkdirsCalls, renames, deletes, creates, opens, busyNs = new AtomicLong

  final case class Snap(meta: Long, lists: Long, renames: Long, creates: Long, busyNs: Long,
      bytesRead: Long) {
    def -(o: Snap): Snap = Snap(meta - o.meta, lists - o.lists, renames - o.renames,
      creates - o.creates, busyNs - o.busyNs, bytesRead - o.bytesRead)
  }

  /** Bytes read on `file:` come from Hadoop's own per-scheme statistics,
    * which also see the reads of Spark tasks.
    */
  def snap(): Snap = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Snap(lists.get + statuses.get + mkdirsCalls.get + renames.get + deletes.get, lists.get,
      renames.get, creates.get, busyNs.get, st.map(_.getBytesRead).sum)
  }
}

/** Job and task counters from a harness-registered listener. */
final class SparkProbe extends SparkListener {
  val jobs, tasks, taskMs, shuffleBytes, spillBytes, inputBytes, inputRecords = new AtomicLong
  /** (launch, finish) epoch-ms of every finished task, drained per op. */
  val intervals = new ConcurrentLinkedQueue[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    intervals.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      inputRecords.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  def snap(): Array[Long] = Array(jobs.get, tasks.get, taskMs.get, shuffleBytes.get,
    spillBytes.get, inputBytes.get, inputRecords.get)

  /** Milliseconds of [from, to] covered by no task of those finished so far. */
  def idleMs(from: Long, to: Long): Long = {
    val ivs = Iterator.continually(intervals.poll()).takeWhile(_ != null)
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var end = from
    ivs.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    (to - from) - covered
  }
}

object Jvm {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Heap in use after a full collection, in MiB. The pauses let Spark's
    * cleaner drop what the first collection released.
    */
  def heapAfterGcMb(): Double = {
    for (_ <- 1 to 3) {
      System.gc()
      Thread.sleep(200)
    }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** (steal, total) CPU ticks of the host so far, where /proc/stat exists:
    * the share of CPU time a hypervisor gave to other guests.
    */
  def cpuTicks(): Option[(Long, Long)] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val t = src.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong)
      (t(7), t.sum)
    } finally src.close()
  }.toOption
}
