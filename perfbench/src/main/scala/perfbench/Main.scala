package perfbench

import java.io.{File, PrintWriter}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its metrics; the last stdout line is the
  * result object. Usage (normally through `run.py`):
  *
  *   perfbench.Main --workload ingest|mutate|curate --seed N --seconds S
  *     --trace 0|1 --work DIR --data DIR --metrics METRICS.json [--smoke 1]
  *
  * `--work` is an empty scratch directory for the run's tables, Spark
  * local files and warehouse; the caller deletes it afterwards. `--data`
  * holds the input tables. `--metrics` names, in report order, the metrics
  * to print and their units.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val started = System.nanoTime()
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val smoke = a.getOrElse("smoke", "0") == "1"
    val reps = if (smoke) 1 else 2
    val work = new File(a("work")).getAbsoluteFile
    val spec = MetricSpec.load(new File(a("metrics")))
    val n = Runtime.getRuntime.availableProcessors
    val load0 = Jvm.loadAvg()

    // before any FileSystem exists: every Configuration of a traced run
    // then resolves file: to the counting FileSystem
    if (traced) Configuration.addDefaultResource("perfbench-trace-site.xml")
    System.setProperty("derby.system.home", new File(work, "derby").getPath)
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe = new SparkProbe
    if (traced) spark.sparkContext.addSparkListener(probe)
    val sessionS = (System.nanoTime() - started) / 1e9

    val tracer = new Tracer(traced)
    val b = new Bench(spark, seed, seconds, smoke, tracer, n, probe, spec, new File(a("data")))
    val w: Workload = workload match {
      case "ingest" => new Ingest(b)
      case "mutate" => new Mutate(b)
      case "curate" => new Curate(b)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up = session + one warm-up + the median of several fixture
    // builds; the last fixture is the one measured
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    val warmS = timed(w.warmUp(new File(work, "warm")))
    Sizes.delete(new File(work, "warm"))
    val builds = (1 to reps).map(i => timed(w.build(new File(work, s"fixture-$i"))))
    val setupS = sessionS + warmS + median(builds)
    (1 until reps).foreach(i => Sizes.delete(new File(work, s"fixture-$i")))

    val bytes0 = Sizes.bytes(w.roots)
    b.markRoots(w.roots)
    tracer.recording = true
    val ticks0 = Jvm.cpuTicks()
    b.startWindow()
    w.run()
    val ticks1 = Jvm.cpuTicks()
    tracer.recording = false
    val bytes1 = Sizes.bytes(w.roots)
    val heapMb = Jvm.heapAfterGcMb()
    val logShape = w.roots.map(Sizes.logShape)
    val verifyS = timed(w.verify())
    val load1 = Jvm.loadAvg()

    val reads = b.lat(Kind.Read).toSeq
    val writes = b.lat(Kind.Write).toSeq
    val errors = b.failedOps + b.wrong
    val e2eValues: Map[String, (Double, Long)] = Map(
      "setup_s" -> (setupS, reps.toLong),
      "ops_per_s" -> (b.attempted / b.opSeconds, b.attempted.toLong),
      "rows_per_s" -> (b.rows / b.opSeconds, b.rows),
      "read_p50_ms" -> (pct(reads, 0.5), reads.size.toLong),
      "read_p90_ms" -> (pct(reads, 0.9), reads.size.toLong),
      "write_p50_ms" -> (pct(writes, 0.5), writes.size.toLong),
      "write_p90_ms" -> (pct(writes, 0.9), writes.size.toLong),
      "error_rate" -> (errors.toDouble / math.max(1, b.attempted), b.attempted.toLong),
      "write_amp" -> ((bytes1 - bytes0) / math.max(1.0, w.rawBytes), 1L),
      "space_amp" -> (b.spaceAmps.sum / math.max(1, b.spaceAmps.size), b.spaceAmps.size.toLong),
      "heap_mb" -> (heapMb, 1L))
    val e2e = spec.endToEnd.map(m =>
      m.of(e2eValues.getOrElse(m.name, sys.error(s"METRICS.json names ${m.name}, which the harness does not measure"))))

    val layer: Seq[Metric] = if (!traced) Nil else {
      val opMs = reads.sum + writes.sum
      spec.perLayer.map(m => m.of(m.name match {
        case "log.versions" => (logShape.map(_._1).sum.toDouble, logShape.size.toLong)
        case "log.checkpoints" => (logShape.map(_._2).sum.toDouble, logShape.size.toLong)
        case "log.bytes" => (logShape.map(_._3).sum.toDouble, logShape.size.toLong)
        case "spark.busy_frac" => (b.taskMsTotal / math.max(1.0, opMs * n), b.attempted.toLong)
        case "spark.spill_bytes" => (probe.spillBytes.get.toDouble, 1L)
        case "operators.ann_recall_at_10" => w match {
          case c: Curate => (c.annRecall, 1L)
          case _ => (0.0, 0L)
        }
        case name => (tracer.mean(name), tracer.n(name))
      }))
    }

    val host = Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> (if (traced) 1 else 0),
      "nproc" -> n, "local_n" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt,
      "loadavg_start" -> load0, "loadavg_end" -> load1,
      "jvm" -> System.getProperty("java.runtime.version"), "spark" -> spark.version,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0, "setup_reps" -> reps,
      "session_s" -> sessionS, "warmup_s" -> warmS, "builds_s" -> builds.mkString(","),
      "window_s" -> b.opSeconds, "verify_s" -> verifyS) ++
      ticks0.zip(ticks1).map { case ((s0, t0), (s1, t1)) => "window_steal_frac" -> (s1 - s0).toDouble / math.max(1L, t1 - t0) }

    if (traced) {
      val out = new PrintWriter(new File(a.getOrElse("trace-out", new File(work, "spans.jsonl").getPath)))
      try tracer.spanLines.foreach(out.println) finally out.close()
    }
    b.problems.foreach(p => System.err.println(s"problem: $p"))
    spark.stop()

    val shown = if (traced) layer else e2e.filter(m => spec.gated(m.name))
    println(s"host ${Json.obj(host)}")
    e2e.foreach(m => println(f"${if (traced) "traced " else ""}${m.name}%-14s ${m.value}%.6g ${m.unit} n=${m.samples}"))
    println(s"samples read_ms=${reads.map(x => f"$x%.0f").mkString(",")} write_ms=${writes.map(x => f"$x%.0f").mkString(",")}")
    layer.foreach(m => println(f"${m.name}%-40s ${m.value}%.6g ${m.unit} n=${m.samples}"))
    w match {
      case c: Curate => println(s"output_digest ${c.outputDigest}")
      case _ =>
    }
    if (traced) println(s"traced_e2e ${Json.obj(e2e.map(m => m.name -> m.value))}")
    println(Json.obj(Seq(
      "correct" -> (b.wrong == 0 && b.failedOps == 0),
      "attempted" -> b.attempted,
      "failed" -> errors,
      "metrics" -> Json.Raw(Json.obj(shown.map(m =>
        m.name -> Json.Raw(Json.obj(Seq("value" -> m.value, "unit" -> m.unit))))))
    )))
    System.out.flush()
    sys.exit(0)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Linear-interpolated percentile (numpy's default); 0 for no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

final case class Metric(name: String, value: Double, unit: String, samples: Long)

/** A metric METRICS.json defines: its name and unit. */
final case class MetricDef(name: String, unit: String) {
  def of(v: (Double, Long)): Metric = Metric(name, v._1, unit, v._2)
}

/** METRICS.json: the metrics a run prints, in order, with their units; the
  * gated end-to-end metrics (those of BENCHMARK.json) go into the result
  * object. Also the ANN recall floor of curate's output check.
  */
final case class MetricSpec(endToEnd: Seq[MetricDef], gated: Set[String], perLayer: Seq[MetricDef],
    annRecallFloor: Double)

object MetricSpec {
  def load(file: File): MetricSpec = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(file)
    def defs(kind: String) = root.get(kind).properties().asScala.toSeq.map(e => e.getKey -> e.getValue)
    val e2e = defs("end_to_end")
    MetricSpec(
      e2e.map { case (k, v) => MetricDef(k, v.get("unit").asText) },
      e2e.collect { case (k, v) if v.get("gated").asBoolean => k }.toSet,
      defs("per_layer").map { case (k, v) => MetricDef(k, v.get("unit").asText) },
      root.get("ann_recall_floor").asDouble)
  }
}

/** Just enough JSON for the result lines. */
object Json {
  final case class Raw(s: String)

  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case bo: Boolean => bo.toString
    case n: Number => n.toString
    case other => value(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String = kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
