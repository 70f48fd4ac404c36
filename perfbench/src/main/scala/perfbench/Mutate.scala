package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.DeltaTable

/** Read/modify/write on a large table: a `lineitem`-shaped table
  * range-clustered on `l_orderkey`, key-range lookups and unprunable
  * aggregates through `format("graft")`, and copy-on-write delete, update
  * and merge on key ranges skewed towards recent keys.
  */
final class Mutate(b: Bench) extends Workload {
  import Mutate._
  import b.spark

  private val nRows = if (b.smoke) 20000L else 600000L
  private val nFiles = if (b.smoke) 4 else 32
  private val maxKey = nRows / 4
  private val ops = new Random(b.seed)
  private var touched = 0L
  private var dir: File = _
  private def rawPath = new File(dir.getParentFile, "mutate-raw").getPath
  private def path = new File(dir, "lineitem").getPath

  private sealed trait Write { def pred: Column }
  private final case class Delete(pred: Column) extends Write
  private final case class Update(pred: Column) extends Write
  private final case class Merge(pred: Column, src: DataFrame) extends Write
  private final case class Read(version: Long, pred: Column, got: Seq[Any])

  private val reads = mutable.ArrayBuffer.empty[Read]
  private val writes = mutable.ArrayBuffer.empty[Write]
  private var version = 0L

  /** Deterministic columns for the given (l_orderkey, l_linenumber) rows;
    * `salt` makes a merge's replacement values differ from the fixture's.
    */
  private def fill(keys: DataFrame, salt: Long): DataFrame = {
    def h(i: Int): Column = pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit(b.seed), lit(salt), lit(i)), lit(1L << 40))
    val qty = (h(1) % 50 + 1).cast("double")
    keys.select(
      col("l_orderkey"), (h(2) % 20000 + 1).as("l_partkey"), (h(3) % 1000 + 1).as("l_suppkey"),
      col("l_linenumber"), qty.as("l_quantity"),
      (qty * ((h(4) % 100000) + 90000) / 100).as("l_extendedprice"),
      ((h(5) % 11).cast("double") / 100).as("l_discount"), ((h(6) % 9).cast("double") / 100).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (h(7) % 3 + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")), (h(8) % 2 + 1).cast("int")).as("l_linestatus"),
      timestamp_seconds(lit(694224000L) + (h(9) % 2500) * 86400).as("l_shipdate"))
  }

  private def fixture(rows: Long): DataFrame =
    fill(spark.range(rows).select((floor(col("id") / 4) + 1).cast("long").as("l_orderkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber")), 0)

  /** Merge source: lines 1..6 of keys [lo, lo + w): 1..4 update existing
    * rows (unless deleted), 5..6 are inserts.
    */
  private def mergeSource(lo: Long, w: Long, salt: Long): DataFrame =
    fill(spark.range(w * 6).select((floor(col("id") / 6) + lo).cast("long").as("l_orderkey"),
      (col("id") % 6 + 1).cast("int").as("l_linenumber")), salt)

  private def keyRange(lo: Long, w: Long): Column = col("l_orderkey") >= lo && col("l_orderkey") < lo + w

  /** A key range of width `w` drawn towards the most recent keys. */
  private def hotRange(w: Long): Long =
    math.max(1L, maxKey + 1 - w - (math.pow(ops.nextDouble(), 3) * (maxKey - w)).toLong)

  /** Writes the raw rows (once; they are a pure function of the seed)
    * and a table range-clustered on `l_orderkey` over them.
    */
  private def create(d: File, raw: String, rows: Long, files: Int): String = {
    if (!new File(raw).exists) fixture(rows).write.parquet(raw)
    val tPath = new File(d, "lineitem").getPath
    DeltaTable.forPath(tPath, conf = b.conf).write(
      spark.read.parquet(raw).repartitionByRange(files, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey", "l_linenumber"))
    tPath
  }

  /** What a read returns: (rows, order-insensitive row hash, quantity). */
  private def aggs(pred: Column): Seq[Column] = Seq(count(when(pred, 1)),
    sum(when(pred, hash(Columns.map(col): _*).cast("long"))), sum(when(pred, col("l_quantity"))))

  private def read(pred: Column)(df: DataFrame): Seq[Any] = {
    val a = aggs(lit(true))
    b.planned(df.filter(pred).agg(a.head, a.tail: _*)).collect()(0).toSeq
  }

  private def applyWrite(t: DeltaTable, w: Write): DeltaTable = w match {
    case Delete(p) => t.delete(spark, Some(p))
    case Update(p) => t.update(spark, Some(p), UpdateSet)
    case Merge(_, src) => t.merge(spark, src, Seq("l_orderkey", "l_linenumber"))
  }

  /** Each mutation kind on its own small table, concurrently. */
  def warmUp(d: File): Unit = {
    val raw = new File(d, "raw").getPath
    fixture(20000).write.parquet(raw)
    val kinds = Seq(Delete(keyRange(4000, 20)), Update(keyRange(4100, 20)),
      Merge(keyRange(4200, 20), mergeSource(4200, 20, -1)))
    Par.all(kinds.zipWithIndex.map { case (w, i) => () =>
      val t = create(new File(d, s"t$i"), raw, 20000, 4)
      read(if (i == 0) keyRange(10, 100) else col("l_quantity") < 10)(spark.read.format("graft").load(t))
      applyWrite(DeltaTable.forPath(t, conf = b.conf), w)
    })
  }

  def build(d: File): Unit = {
    dir = d
    create(d, rawPath, nRows, nFiles)
    version = DeltaTable.forPath(path, conf = b.conf).version
    reads.clear()
    writes.clear()
  }

  def roots: Seq[File] = Seq(new File(path))
  def rawBytes: Double = touched * RawRowBytes

  /** Rounds of the op mix in a seeded order, each mutation taking one of
    * the key widths.
    */
  def run(): Unit = {
    var i = 0L
    b.rounds(RoundSeconds).foreach { _ =>
      val widths = ops.shuffle(Widths).iterator
      ops.shuffle(Mix.flatMap { case (op, n) => Seq.fill(n)(op) }).foreach {
        case Lookup =>
          val w = math.pow(10, 1 + 2.7 * ops.nextDouble()).toLong
          readOp(keyRange(1 + (ops.nextDouble() * (maxKey - w)).toLong, w))
        case Scan =>
          readOp(col("l_quantity") < 5 + ops.nextInt(20) && col("l_discount") >= ops.nextInt(8) / 100.0)
        case kind =>
          i += 1
          val w = widths.next()
          val lo = hotRange(w)
          val pred = keyRange(lo, w)
          writeOp(kind match {
            case DeleteOp => Delete(pred)
            case UpdateOp => Update(pred)
            case _ => Merge(pred, mergeSource(lo, w, i))
          }, w)
      }
    }
  }

  private def readOp(pred: Column): Unit = {
    b.probeLog(path)
    if (b.tracer.enabled) b.probePrune(DeltaTable.forPath(path, conf = b.conf), pred)
    b.op(Kind.Read)(read(pred)(spark.read.format("graft").load(path))).foreach { r =>
      reads += Read(version, pred, r)
      if (b.tracer.enabled) b.tracer.observe("sources.rows_scanned_per_row_returned",
        b.lastRowsScanned.toDouble / math.max(1L, r.head.asInstanceOf[Long]))
    }
  }

  private def writeOp(op: Write, w: Long): Unit = {
    b.probeLog(path)
    if (b.tracer.enabled) b.probePrune(DeltaTable.forPath(path, conf = b.conf), op.pred)
    b.op(Kind.Write) {
      val t = b.open(path)
      (t, applyWrite(t, op))
    }.foreach { case (t0, t1) =>
      writes += op
      version = t1.version
      b.probeCommit(t0, t1)
      // rows the write touched, from the snapshot it read
      val n = op match {
        case Merge(_, _) => 6 * w
        case _ => t0.toDFWhere(spark, op.pred).count()
      }
      touched += n
      b.rows += n
    }
  }

  def verify(): Unit = {
    // every read equals the same query over an unpruned scan of its version:
    // one pass per version, a conditional aggregate per read
    reads.groupBy(_.version).foreach { case (v, rs) =>
      val all = rs.toSeq.flatMap(r => aggs(r.pred))
      val want = DeltaTable.forPath(path, version = Some(v), conf = b.conf).toDF(spark)
        .agg(all.head, all.tail: _*).collect()(0).toSeq.grouped(3).toSeq
      rs.zip(want).foreach { case (r, w) =>
        b.check(w == r.got, s"mutate read at v$v: got ${r.got}, unpruned scan gives $w")
      }
    }
    // the final table equals the same writes applied to plain DataFrames
    var ref = spark.read.parquet(rawPath)
    var cached: Option[DataFrame] = None
    writes.zipWithIndex.foreach { case (w, i) =>
      ref = w match {
        case Delete(p) => ref.filter(!p)
        case Update(p) => UpdateSet.foldLeft(ref) { case (df, (c, e)) => df.withColumn(c, when(p, e).otherwise(col(c))) }
        case Merge(_, src) =>
          ref.join(src.select("l_orderkey", "l_linenumber"), Seq("l_orderkey", "l_linenumber"), "left_anti")
            .unionByName(src)
      }
      // bound the plan: materialize every few ops, dropping the previous copy
      if (i % 8 == 7) {
        val next = ref.select(Columns.map(col): _*).persist(StorageLevel.MEMORY_AND_DISK)
        next.count()
        cached.foreach(_.unpersist())
        cached = Some(next)
        ref = next
      }
    }
    val want = read(lit(true))(ref)
    val got = read(lit(true))(DeltaTable.forPath(path, conf = b.conf).toDF(spark))
    b.check(got == want, s"mutate final table (rows, hash, qty) $got, reference replay gives $want")
    cached.foreach(_.unpersist())
  }
}

object Mutate {
  val Columns: Seq[String] = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
  /** Raw width of one row: 3 longs, an int, 4 doubles, 2 one-char strings, a timestamp. */
  val RawRowBytes = 70.0
  sealed trait OpKind
  /** Key-range lookup, and an aggregate on non-clustered columns (cannot skip files). */
  case object Lookup extends OpKind
  case object Scan extends OpKind
  case object DeleteOp extends OpKind
  case object UpdateOp extends OpKind
  case object MergeOp extends OpKind
  /** Nominal length of one round (20 ops). */
  val RoundSeconds = 15.0
  /** Key-range widths, one per mutation of a round. */
  val Widths: Seq[Long] = Seq(100L, 125L, 150L, 175L, 200L, 225L, 250L, 275L)
  /** Op mix per round of 20: 60% reads, 40% copy-on-write mutations. */
  val Mix: Seq[(OpKind, Int)] = Seq(Lookup -> 9, Scan -> 3, DeleteOp -> 2, UpdateOp -> 3, MergeOp -> 3)
  val UpdateSet: Map[String, Column] = Map("l_quantity" -> (col("l_quantity") + 1), "l_tax" -> lit(0.07))
}
