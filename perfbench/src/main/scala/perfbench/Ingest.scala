package perfbench

import java.io.File
import java.time.{LocalDateTime, ZoneOffset}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit}

import graft.DeltaTable

/** Streaming ingest: small time-ordered micro-batches of the `events`
  * input appended to a table partitioned by `event_type`, a tail read
  * (fresh open + `toDFWhere` on a recent `ts` window) one op in five, and
  * an OPTIMIZE every 11th op.
  * Auto-checkpointing stays at its default.
  */
final class Ingest(b: Bench) extends Workload {
  import Ingest._
  import b.spark

  private val batchRows = if (b.smoke) 50 else 400
  private var dir: File = _
  private def path = new File(dir, "events").getPath

  // the harness's own model of the table: every appended ts (us), in order
  private val model = mutable.ArrayBuffer.empty[Long]
  private var table: DeltaTable = _
  private var nextBatch = 0
  private var commitsInWindow = 0L
  private var versionAtStart = 0L
  private var raw = 0.0

  // the sf0.1 events table in time order; the stream cycles through it
  private val events = b.input("events", "event_id")
  private val perCycle = events.length / batchRows
  private val cycleUs = micros(events.last) - micros(events.head) + 1000000L
  /** The seed picks where in the table the stream starts. */
  private val start = new Random(b.seed).nextInt(perCycle).toLong

  /** Batch `k` of the stream: rows of the events table from the seed's
    * start on, re-keyed on every pass (event ids and times shifted past
    * the previous pass), so ids stay unique and times keep increasing.
    */
  private def batch(k: Long): (DataFrame, Array[Long], Long) = {
    val pos = start + k
    val (cycle, first) = (pos / perCycle, (pos % perCycle).toInt * batchRows)
    var bytes = 0L
    val rows = events.slice(first, first + batchRows).map { e =>
      val tpe = e.getString(3)
      val props = e.getString(5)
      bytes += 32 + tpe.length + props.length
      Row(e.getLong(0) + cycle * events.length, at(micros(e) + cycle * cycleUs), e.getLong(2), tpe, e.getDouble(4), props)
    }
    (spark.createDataFrame(rows.toSeq.asJava, events.head.schema), rows.map(micros), bytes)
  }

  private def append(t: DeltaTable, k: Long): (DeltaTable, Array[Long], Long) = {
    val (df, ts, bytes) = batch(k)
    val out =
      if (t.version < 0) t.write(df, partitionBy = Some(Seq("event_type")))
      else t.write(df)
    (out, ts, bytes)
  }

  private def tailPred(lo: Long, hi: Long): Column = col("ts") >= lit(at(lo)) && col("ts") < lit(at(hi))

  private def tailCount(t: DeltaTable, pred: Column): Long =
    b.planned(t.toDFWhere(spark, pred).agg(count(lit(1)))).collect()(0).getLong(0)

  def warmUp(d: File): Unit = {
    var w = DeltaTable.forPath(new File(d, "events").getPath, conf = b.conf)
    for (k <- 0 until 4) {
      w = append(w, perCycle / 2 + k)._1
      if (k % 2 == 1) tailCount(DeltaTable.forPath(w.loc.uri, conf = b.conf), col("ts") >= lit(at(0L)))
    }
    w.compact(spark)
  }

  def build(d: File): Unit = {
    dir = d
    model.clear()
    nextBatch = 0
    val (t, ts, _) = append(DeltaTable.forPath(path, conf = b.conf), nextBatch)
    nextBatch += 1
    model ++= ts
    table = t
  }

  def roots: Seq[File] = Seq(new File(path))
  def rawBytes: Double = raw

  /** Cycles of two rounds (four appends, then a tail read) closed by an
    * OPTIMIZE. The fixed order puts every read at the same point of the
    * OPTIMIZE cycle in every run.
    */
  def run(): Unit = {
    versionAtStart = table.version
    b.rounds(CycleSeconds).foreach { _ =>
      for (_ <- 1 to 2) {
        for (_ <- 1 to 4) appendNext()
        tailRead()
      }
      val before = table
      b.op(Kind.Write)(table.compact(spark)).foreach { t =>
        table = t
        commitsInWindow += t.version - before.version
        b.probeCommit(before, t)
      }
    }
  }

  /** The most recent [[Ingest.TailBatches]] batches' worth of event time. */
  private def tailRead(): Unit = {
    val (lo, hi) = (model(model.length - TailBatches * batchRows), model.last + 1)
    val pred = tailPred(lo, hi)
    b.probeLog(path)
    if (b.tracer.enabled) b.probePrune(DeltaTable.forPath(path, conf = b.conf), pred)
    b.op(Kind.Read)(tailCount(b.open(path), pred)).foreach { got =>
      val want = countIn(lo, hi)
      b.check(got == want, s"ingest tail read [$lo, $hi) us: got $got rows, model has $want")
      if (b.tracer.enabled)
        b.tracer.observe("sources.rows_scanned_per_row_returned", b.lastRowsScanned.toDouble / math.max(1L, got))
    }
  }

  private def appendNext(): Unit = {
    val before = table
    val k = nextBatch
    nextBatch += 1
    b.op(Kind.Write)(append(table, k)).foreach { case (t, ts, bytes) =>
      b.check(t.version == before.version + 1, s"ingest append ${t.version}: expected one commit")
      table = t
      model ++= ts
      commitsInWindow += 1
      b.rows += batchRows
      raw += bytes
      b.probeCommit(before, t)
    }
  }

  private def countIn(lo: Long, hi: Long): Long = {
    def lowerBound(x: Long): Int = {
      var (a, z) = (0, model.length)
      while (a < z) { val m = (a + z) >>> 1; if (model(m) < x) a = m + 1 else z = m }
      a
    }
    (lowerBound(hi) - lowerBound(lo)).toLong
  }

  def verify(): Unit = {
    val t = DeltaTable.forPath(path, conf = b.conf)
    b.check(t.version == versionAtStart + commitsInWindow,
      s"ingest final version ${t.version}, expected ${versionAtStart + commitsInWindow}")
    val n = t.toDF(spark).count()
    b.check(n == model.length, s"ingest final row count $n, model has ${model.length}")
  }
}

object Ingest {
  /** `ts` of an events row (timestamp without time zone) in microseconds. */
  def micros(r: Row): Long = {
    val i = r.getAs[LocalDateTime](1).toInstant(ZoneOffset.UTC)
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def at(us: Long): LocalDateTime =
    LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000).toInt, ZoneOffset.UTC)

  /** Nominal length of one cycle (11 ops). */
  val CycleSeconds = 7.0
  val TailBatches = 2
}
