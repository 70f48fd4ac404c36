package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

import graft.DeltaTable
import graft.log.{Checkpoint, DeltaLog}
import graft.stats.Statistics
import graft.storage.Location

/** One workload: it builds its fixture, runs its closed loop through
  * [[Bench.op]] and checks its outputs once the timed window is over.
  */
trait Workload {
  /** Runs every op kind on a small throwaway fixture under `dir`, so JIT
    * and lazy initialisation are done before timing.
    */
  def warmUp(dir: File): Unit
  /** Builds a fresh fixture under `dir`. Called several times; the last
    * fixture is the one measured.
    */
  def build(dir: File): Unit
  /** The timed closed loop: issue the ops of [[Bench.rounds]]. */
  def run(): Unit
  /** Output checks, made after the timed window. */
  def verify(): Unit
  /** Table roots whose bytes count towards write and space amplification. */
  def roots: Seq[File]
  /** Raw bytes of the user rows written or touched during the window. */
  def rawBytes: Double
}

object Kind extends Enumeration { val Read, Write = Value }

/** The closed-loop client's clock, samples, checks and (when tracing)
  * the per-op probes at each layer boundary. `data` is the directory of
  * input tables the workloads draw from.
  */
final class Bench(val spark: SparkSession, val seed: Long, val seconds: Double,
    val smoke: Boolean, val tracer: Tracer, val n: Int, val sparkProbe: SparkProbe,
    val spec: MetricSpec, val data: File) {

  val lat: Map[Kind.Value, mutable.ArrayBuffer[Double]] =
    Kind.values.toSeq.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
  var rows = 0L
  var attempted = 0
  var failedOps = 0
  var wrong = 0
  val problems = mutable.ArrayBuffer.empty[String]
  /** Bytes under the table roots / live snapshot bytes, after each write. */
  val spaceAmps = mutable.ArrayBuffer.empty[Double]
  private var opNs = 0L
  private var windowStart = 0L

  /** Hadoop configuration graft opens tables with (picks up the counting
    * FileSystem in traced runs, which registers it as a default resource).
    */
  def conf: Configuration = new Configuration()

  def startWindow(): Unit = windowStart = System.nanoTime()
  def opSeconds: Double = opNs / 1e9

  /** The window: as many rounds of about `roundSeconds` (on a 4-core host)
    * as make up `seconds`. The work per run is fixed, so every run of a
    * workload gets the same op mix however fast it goes; a wall-clock cap
    * still ends a run whose ops have become far slower.
    */
  def rounds(roundSeconds: Double): Iterator[Int] =
    Iterator.range(0, math.max(1L, math.round(seconds / roundSeconds)).toInt)
      .takeWhile(_ => System.nanoTime() - windowStart < (3 * seconds + 30) * 1e9)

  /** Runs and times one op. A thrown exception counts as a failed op. */
  def op[T](kind: Kind.Value)(body: => T): Option[T] = {
    attempted += 1
    tracer.op = attempted
    val before = if (tracer.enabled) Some(probeSnap()) else None
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r =
      try Some(tracer.span(s"op.${kind.toString.toLowerCase}_ms")(body))
      catch {
        case NonFatal(e) =>
          failedOps += 1
          problems += s"op $attempted failed: $e"
          System.err.println(s"op $attempted failed")
          e.printStackTrace()
          None
      }
    val dt = System.nanoTime() - t0
    opNs += dt
    lat(kind) += dt / 1e6
    before.foreach(afterOp(_, w0, System.currentTimeMillis()))
    if (kind == Kind.Write)
      spaceAmps += Sizes.bytes(roots).toDouble / math.max(1L, roots.map(r => Sizes.liveBytes(r.getPath, conf)).sum)
    tracer.op = 0
    r
  }

  /** Every row of the input table `name`, ordered by `key`. */
  def input(name: String, key: String): Array[Row] =
    spark.read.parquet(new File(data, s"$name.parquet").getPath).orderBy(key).collect()

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      wrong += 1
      if (problems.size < 20) problems += what
      System.err.println(s"wrong output: $what")
    }

  // ---------------------------------------------------------------- tracing

  private var bytesUnderRoots = -1L
  var roots: Seq[File] = Nil
  var taskMsTotal = 0L
  /** Rows the last traced op's tasks read from files. */
  var lastRowsScanned = 0L

  private def probeSnap() = (CountingFileSystem.snap(), sparkProbe.snap(), Jvm.gcMs())

  /** Per-op deltas of the storage, spark and driver counters. */
  private def afterOp(before: (CountingFileSystem.Snap, Array[Long], Long), w0: Long,
      w1: Long): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val (fs0, sp0, gc0) = before
    val (fs1, sp1, gc1) = probeSnap()
    val fs = fs1 - fs0
    val sp = sp1.zip(sp0).map { case (a, b) => a - b }
    tracer.observe("DeltaTable.driver_ms", sparkProbe.idleMs(w0, w1).toDouble)
    tracer.observe("storage.meta_calls_per_op", fs.meta.toDouble)
    tracer.observe("storage.list_calls_per_op", fs.lists.toDouble)
    tracer.observe("storage.rename_calls_per_op", fs.renames.toDouble)
    tracer.observe("storage.files_created_per_op", fs.creates.toDouble)
    tracer.observe("storage.busy_ms_per_op", fs.busyNs / 1e6)
    tracer.observe("storage.data_bytes_read_per_op", sp(5).toDouble)
    tracer.observe("spark.jobs_per_op", sp(0).toDouble)
    tracer.observe("spark.tasks_per_op", sp(1).toDouble)
    tracer.observe("spark.task_ms_per_op", sp(2).toDouble)
    tracer.observe("spark.shuffle_bytes_per_op", sp(3).toDouble)
    tracer.observe("spark.gc_ms_per_op", (gc1 - gc0).toDouble)
    lastRowsScanned = sp(6)
    taskMsTotal += sp(2)
    val now = Sizes.bytes(roots)
    if (bytesUnderRoots >= 0) tracer.observe("storage.bytes_written_per_op", (now - bytesUnderRoots).toDouble)
    bytesUnderRoots = now
  }

  /** Resets the byte baseline the per-op written bytes are measured from. */
  def markRoots(rs: Seq[File]): Unit = {
    roots = rs
    bytesUnderRoots = if (tracer.enabled) Sizes.bytes(rs) else -1L
  }

  /** Opens a table the way a fresh client would; traced runs time it and
    * count the log bytes it read.
    */
  def open(path: String): DeltaTable =
    if (!tracer.enabled) DeltaTable.forPath(path, conf = conf)
    else {
      val b0 = CountingFileSystem.snap().bytesRead
      val t = tracer.span("log.open_ms")(DeltaTable.forPath(path, conf = conf))
      tracer.observe("storage.log_bytes_read_per_open", (CountingFileSystem.snap().bytesRead - b0).toDouble)
      t
    }

  /** Traced runs only, outside op timing: the two log-replay paths an
    * open can take, timed separately, and the commits after the newest
    * checkpoint.
    */
  def probeLog(path: String): Unit = if (tracer.enabled) {
    val logLoc = Location(path, conf).child("_delta_log")
    tracer.span("log.checkpoint_load_ms")(Checkpoint.loadFrom(logLoc, conf))
    val json = tracer.span("log.json_replay_ms")(DeltaLog.load(logLoc, None))
    val ckv = Checkpoint.lastCheckpointVersion(logLoc).getOrElse(-1L)
    if (!json.isEmpty) tracer.observe("log.tail_commits", (json.version - ckv).toDouble)
  }

  /** Traced runs only, outside op timing: the driver-side data skipping a
    * read or mutation predicate gets.
    */
  def probePrune(t: DeltaTable, pred: Column): Unit = if (tracer.enabled) {
    val live = t.dlog.addActions.size
    val kept = tracer.span("sources.prune_ms")(t.prunedAdds(pred)).size
    tracer.observe("sources.live_files", live.toDouble)
    if (live > 0) tracer.observe("sources.files_kept_ratio", kept.toDouble / live)
  }

  /** Forces the physical plan under its own span (traced runs), so the
    * action that follows reuses it.
    */
  def planned(q: DataFrame): DataFrame = {
    if (tracer.enabled) tracer.span("sources.plan_ms")(q.queryExecution.executedPlan)
    q
  }

  /** Traced runs only, outside op timing: files added and removed by the
    * commits between two snapshots, and the footer-stats cost of the added
    * files.
    */
  def probeCommit(before: DeltaTable, after: DeltaTable): Unit = if (tracer.enabled) {
    val commits = after.version - before.version
    if (commits > 0) {
      val b = before.dlog.addActions
      val a = after.dlog.addActions
      val added = a.keySet -- b.keySet
      tracer.observe("DeltaTable.files_added_per_commit", added.size.toDouble / commits)
      tracer.observe("DeltaTable.files_removed_per_commit", (b.keySet -- a.keySet).size.toDouble / commits)
      added.toSeq.sorted.take(8).foreach { p =>
        val add = a(p)
        val file = Location.resolve(add.path, after.loc, conf).path
        tracer.span("stats.footer_ms_per_file")(Statistics.fromFooter(file, conf))
        tracer.observe("stats.json_bytes_per_file", add.stats.map(_.length).getOrElse(0).toDouble)
      }
    }
  }
}

object Par {
  /** Runs the bodies concurrently and waits for all of them (set-up only). */
  def all(bodies: Seq[() => Any]): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.sequence(bodies.map(f => Future(f()))), scala.concurrent.duration.Duration.Inf)
  }
}

object Sizes {
  /** Bytes of every regular file under the given directories. */
  def bytes(dirs: Seq[File]): Long = dirs.map(d => files(d).map(_.length).sum).sum

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(delete)
    f.delete()
  }

  def files(d: File): Seq[File] =
    if (d.isDirectory) Option(d.listFiles).toSeq.flatten.flatMap(files)
    else if (d.isFile) Seq(d) else Nil

  /** Bytes of the files the table's live snapshot references. */
  def liveBytes(path: String, conf: Configuration): Long =
    DeltaTable.forPath(path, conf = conf).dlog.addActions.values.map(_.size).sum

  /** Log shape at run end: (versions, checkpoints, bytes) of `_delta_log`. */
  def logShape(root: File): (Long, Long, Long) = {
    val log = files(new File(root, "_delta_log"))
    val names = log.map(_.getName)
    (names.count(_.matches("\\d{20}\\.json")).toLong,
      names.filter(_.contains(".checkpoint")).map(_.take(20)).distinct.size.toLong,
      log.map(_.length).sum)
  }
}
