package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.DeltaTable
import graft.operators.{Dedup, Pii, Similarity, TextAnalysis}

/** An LLM-data curation pipeline over graft tables: per-shard stages
  * (exact dedup, MinHash near-dup + connected components, quality signals,
  * PII redaction, and the curated output: kept documents, redacted), each
  * reading its input tables and committing its output to a stage table
  * with `replaceWhere`, interleaved with batched IVF
  * top-10 queries over an embeddings table.
  */
final class Curate(b: Bench) extends Workload {
  import Curate._
  import b.spark

  private val nDocs = if (b.smoke) 400 else 5000
  private val ops = new Random(b.seed)
  /** The lowest IVF recall@10 against exact search a run may show (METRICS.json). */
  private val recallFloor = b.spec.annRecallFloor
  private var dir: File = _
  private def table(name: String, d: File = dir) = new File(d, name).getPath

  /** A stage reads the shard from each input table; the first input is
    * the one its rows are counted from.
    */
  private final case class Stage(name: String, inputs: Seq[String], f: Seq[DataFrame] => DataFrame) {
    def input: String = inputs.head
  }

  /** Persists and counts `df` under an operator span in traced runs, so
    * the operator's time is separated from the commit that follows.
    */
  private val persisted = mutable.ArrayBuffer.empty[DataFrame]
  private def mat(span: String)(df: DataFrame): DataFrame =
    if (!b.tracer.enabled) df
    else {
      val p = df.persist()
      b.tracer.span(span)(p.count())
      persisted += p
      p
    }

  private def nearDedup(in: DataFrame): DataFrame = {
    val pairs = mat("operators.minhash_pairs_ms")(Dedup.minHashLshPairs(in, "doc_id", "text"))
    if (b.tracer.enabled) pairCounts += pairs.count()
    val comps = mat("operators.components_ms")(Dedup.connectedComponents(pairs))
      .withColumnRenamed("node", "doc_id")
    in.join(comps, Seq("doc_id"), "left")
      .filter(col("component").isNull || col("doc_id") === col("component"))
      .drop("component")
  }

  private def quality(in: DataFrame): DataFrame = mat("operators.quality_ms")(
    in.select("doc_id", "shard")
      .join(TextAnalysis.qualityScore(in, "doc_id", "text"), "doc_id")
      .join(TextAnalysis.gopherQualitySignals(in, "doc_id", "text"), "doc_id"))

  private def pii(in: DataFrame): DataFrame = mat("operators.pii_ms")(
    Pii.detectRedact(in, "doc_id", "text").join(in.select("doc_id", "shard"), "doc_id"))

  /** The curated shard: documents that pass the Gopher filter, with their
    * PII redacted.
    */
  private def publish(q: DataFrame, p: DataFrame): DataFrame =
    q.filter(col("keep")).select("doc_id", "shard", "n_words").join(p.select("doc_id", "redacted"), "doc_id")

  private val stages = Seq(
    Stage("exact", Seq("docs"), in => mat("operators.exact_dedup_ms")(Dedup.exact(in.head, "doc_id", Seq("text")))),
    Stage("near", Seq("exact"), in => nearDedup(in.head)),
    Stage("quality", Seq("near"), in => quality(in.head)),
    Stage("pii", Seq("near"), in => pii(in.head)),
    Stage("curated", Seq("quality", "pii"), in => publish(in(0), in(1))))

  // output digests per (stage, shard): (rows, hash sum, distinct texts)
  private val digests = mutable.HashMap.empty[(String, Int), Seq[Any]]
  private val pairCounts = mutable.ArrayBuffer.empty[Long]
  private val annQueries = mutable.LinkedHashSet.empty[Long]
  private val annHits = mutable.HashMap.empty[Long, Set[Long]]
  /** Mean raw bytes of a document, per shard. */
  private var rawPerDoc = Map.empty[Int, Double]
  private var raw = 0.0

  // the sf0.1 documents and embeddings inputs
  private val docRows = b.input("documents", "doc_id")
  private val vecRows = b.input("embeddings", "vec_id")
  private val vecIds = vecRows.map(_.getLong(0))

  /** The first `n` documents in the seed's order, dealt round-robin into
    * shards, and the mean raw bytes of a document in each shard.
    */
  private def documents(n: Int): (Seq[Row], Map[Int, Double]) = {
    val rows = new Random(b.seed).shuffle(docRows.toSeq).take(n).zipWithIndex.map { case (d, i) =>
      Row(d.getLong(0), d.getString(1), d.getString(2), d.getString(3), d.getLong(4), i % Shards)
    }
    def bytes(r: Row) = 20 + r.getString(1).length + r.getString(2).length + r.getString(3).length
    (rows, rows.groupBy(_.getInt(5)).map { case (s, rs) => s -> rs.map(bytes).sum.toDouble / rs.size })
  }

  private def runStage(st: Stage, shard: Int): (DeltaTable, DeltaTable) = {
    val out = st.f(st.inputs.map(i => b.open(table(i)).toDFWhere(spark, col("shard") === shard)))
    val dst = b.open(table(st.name))
    val res = (dst, dst.replaceWhere(spark, col("shard") === shard, out))
    persisted.foreach(_.unpersist())
    persisted.clear()
    res
  }

  private def ann(ids: Seq[Long]): Array[Row] = {
    val corpus = b.open(table("embeddings")).toDF(spark)
    val q = corpus.filter(col("vec_id").isin(ids: _*))
    b.tracer.span("operators.ann_ms")(
      b.planned(Similarity.ivfTopK(corpus, q, "vec_id", "embedding", K, nCells = Cells, nProbe = Probes)).collect())
  }

  private def digest(st: Stage, shard: Int): Seq[Any] = {
    val df = DeltaTable.forPath(table(st.name), conf = b.conf).toDFWhere(spark, col("shard") === shard)
    val aggs = Seq(count(lit(1)), sum(hash(df.columns.sorted.map(col).toIndexedSeq: _*).cast("long"))) ++
      (if (df.columns.contains("text")) Seq(count_distinct(col("text"))) else Nil)
    df.agg(aggs.head, aggs.tail: _*).collect()(0).toSeq
  }

  /** Writes the inputs and creates every (empty) stage table under `d`. */
  private def create(d: File, docs: Int): Unit = {
    val (rows, perDoc) = documents(docs)
    rawPerDoc = perDoc
    val docsDf = spark.createDataFrame(rows.asJava, DocSchema)
    // each stage's output on empty inputs, in pipeline order, gives its table's schema
    val empty = mutable.Map("docs" -> docsDf.filter(lit(false)))
    stages.foreach(st => empty(st.name) = st.f(st.inputs.map(empty)))
    Par.all(Seq(
      () => DeltaTable.forPath(table("docs", d), conf = b.conf).write(docsDf, partitionBy = Some(Seq("shard"))),
      () => DeltaTable.forPath(table("embeddings", d), conf = b.conf)
        .write(spark.createDataFrame(vecRows.toSeq.asJava, vecRows.head.schema).repartition(b.n))) ++
      stages.map(st => () => DeltaTable.forPath(table(st.name, d), conf = b.conf)
        .write(empty(st.name), partitionBy = Some(Seq("shard")))))
  }

  /** A round of the window's ops on a full-size fixture: smaller or
    * concurrent warm-ups leave the first rounds of the window still
    * visibly slower than the last.
    */
  def warmUp(d: File): Unit = {
    create(d, nDocs)
    dir = d
    for (shard <- 0 until WarmRounds; (st, i) <- stages.zipWithIndex) {
      ann((0 until AnnBatch).map(j => vecIds((shard * 389 + i * 97 + j * 31) % vecIds.length)))
      runStage(st, shard)
    }
  }

  def build(d: File): Unit = {
    dir = d
    create(d, nDocs)
    digests.clear()
    pairCounts.clear()
    annQueries.clear()
    annHits.clear()
  }

  def roots: Seq[File] = ("docs" +: "embeddings" +: stages.map(_.name)).map(n => new File(table(n)))
  def rawBytes: Double = raw

  /** Rounds that curate one shard: each stage in order, each preceded by
    * an ANN batch.
    */
  def run(): Unit =
    b.rounds(RoundSeconds).foreach { round =>
      val shard = round % Shards
      stages.foreach { st =>
        val ids = Seq.fill(AnnBatch)(vecIds(ops.nextInt(vecIds.length))).distinct
        b.op(Kind.Read)(ann(ids)).foreach { rows =>
          if (b.tracer.enabled) b.tracer.observe("sources.rows_scanned_per_row_returned",
            b.lastRowsScanned.toDouble / math.max(1, rows.length))
          annQueries ++= ids
          rows.groupBy(_.getLong(0)).foreach { case (q, rs) => annHits(q) = rs.map(_.getLong(2)).toSet }
        }
        b.probeLog(table(st.input))
        if (b.tracer.enabled) b.probePrune(DeltaTable.forPath(table(st.input), conf = b.conf), col("shard") === shard)
        b.op(Kind.Write)(runStage(st, shard)).foreach { case (t0, t1) =>
          b.probeCommit(t0, t1)
          val rowsIn = statsRows(DeltaTable.forPath(table(st.input), conf = b.conf), shard)
          b.rows += rowsIn
          raw += rowsIn * rawPerDoc(shard)
          if (b.tracer.enabled && st.name == "near" && pairCounts.nonEmpty)
            b.tracer.observe("operators.pairs_per_doc", pairCounts.last.toDouble / math.max(1L, rowsIn))
          recordDigest(st, shard)
        }
      }
    }

  /** Output checks: a rerun of a (stage, shard) gives the same output, and
    * no exact duplicate text survives dedup.
    */
  private def recordDigest(st: Stage, shard: Int): Unit = {
    val d = digest(st, shard)
    digests.get((st.name, shard)).foreach(prev =>
      b.check(prev == d, s"curate ${st.name}/$shard rerun output $d differs from $prev"))
    digests((st.name, shard)) = d
    if (d.size == 3) b.check(d(0) == d(2), s"curate ${st.name}/$shard: ${d(0)} rows but ${d(2)} distinct texts")
  }

  private def statsRows(t: DeltaTable, shard: Int): Long =
    t.dlog.addActions.values.filter(_.partitionValues.get("shard").flatten.contains(shard.toString))
      .flatMap(_.stats).map(s => NumRecords.findFirstMatchIn(s).map(_.group(1).toLong).getOrElse(0L)).sum

  var annRecall = 0.0

  /** Digests of both dedup stages' first shard, recomputed after the window. */
  var outputDigest = ""

  def verify(): Unit = {
    // the dedup stages' first shard, recomputed from its input now, matches
    // its table; shard 0 is always the window's first round
    outputDigest = stages.take(2).map { st =>
      runStage(st, 0)
      recordDigest(st, 0)
      digests((st.name, 0)).mkString("/")
    }.mkString(" ")
    if (annQueries.nonEmpty) {
      val corpus = DeltaTable.forPath(table("embeddings"), conf = b.conf).toDF(spark)
      val exact = Similarity.bruteForceTopK(corpus, corpus.filter(col("vec_id").isin(annQueries.toSeq: _*)),
        "vec_id", "embedding", K).collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
      val hits = annQueries.toSeq.map(q => (annHits.getOrElse(q, Set.empty[Long]) intersect exact.getOrElse(q, Set.empty)).size)
      annRecall = hits.sum.toDouble / (K * annQueries.size)
      b.check(annRecall >= recallFloor, s"curate ANN recall@$K $annRecall below the floor $recallFloor")
    }
  }
}

object Curate {
  val Shards = 8
  /** Nominal length of one round (10 ops) on a 4-core host. */
  val RoundSeconds = 6.8
  val K = 10
  /** Half the cells probed: the embeddings are spread evenly over the
    * sphere, so fewer probes lose most true neighbours.
    */
  val Cells = 16
  val Probes = 8
  val AnnBatch = 16
  val WarmRounds = 1
  val NumRecords = "\"numRecords\"\\s*:\\s*(\\d+)".r
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType), StructField("shard", IntegerType)))
}
