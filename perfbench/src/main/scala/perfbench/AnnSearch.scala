package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{FactAnnIndex, FactVersioned, TfIdf}

/** `ann_search`: the retrieval user of an LLM pipeline. A clustered
  * vector corpus lives in a FactVersioned table; the timed sequence
  * builds its ANN index once, answers `topKFor` query batches and folds
  * in an upsert batch followed by `refreshIndex`. The text side builds the BM25
  * sidecar once and answers keyword batches from it.
  *
  * `ann_recall` is recall@k of the `topKFor` answers against the
  * generator's brute-force cosine top-k; the BM25 answers must equal
  * the non-indexed `TfIdf.bm25TopK` twin row for row. */
final class AnnSearch extends Workload {
  import AnnGen._

  val name = "ann_search"
  val primary = "ann_query"
  val secondary = "text_query"

  private val K = 10
  private val Retain = 3
  private val sizes = Sizes(corpus = 3000, dim = 32, clusters = 30,
    queryBatch = 16, upsertRows = 150, docs = 1200, vocab = 1200,
    textBatch = 12)
  /** Vector query batches per second of `--seconds` (a batch takes
    * about 1.7 s on 4 cores); one upsert-and-refresh runs after the
    * second batch. The first batch of each kind pays the cold start;
    * with four of each, the medians are warm ones. */
  private val BatchesPerSecond = 0.2
  private val TextBatches = 4
  private val RecallFloor = 0.8

  private var plan: Plan = _
  private var dir: Path = _
  private val answers = mutable.ArrayBuffer.empty[(Query, Array[(Long, Long)])]
  private val textAnswers = mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
  private var recall = Double.NaN

  def warehouse: Path = dir.resolve("warehouse")
  private def corpus = warehouse.resolve("corpus").toString
  private def docs = warehouse.resolve("docs").toString

  def generate(seed: Long, in: Path, seconds: Int): Unit = {
    val batches = math.max(3, math.round(seconds * BatchesPerSecond).toInt)
    val pattern = "qq" + "u" + "q" * (batches - 2)
    plan = AnnGen.generate(seed, in, sizes, pattern, TextBatches, K)
  }

  private def vectors(spark: SparkSession, p: Path): DataFrame =
    spark.read.schema("id BIGINT, p INT, vec ARRAY<DOUBLE>").json(p.toString)
  private def queries(spark: SparkSession, p: Path): DataFrame =
    spark.read.schema("qid BIGINT, qvec ARRAY<DOUBLE>").json(p.toString)
  private def textQueries(spark: SparkSession, p: Path): DataFrame =
    spark.read.schema("qid BIGINT, q STRING").json(p.toString)

  /** Base loads: the corpus table and the documents table. There is no
    * separate warm pass: the first ops of the timed sequence pay the
    * cold start (see the benchmark's README). */
  def setup(spark: SparkSession, d: Path): Unit = {
    dir = d
    FactVersioned.upsert(spark, corpus, vectors(spark, plan.corpus),
      Seq("id"), "p", retain = Retain)
    spark.read.schema("id BIGINT, text STRING").json(plan.docs.toString)
      .write.parquet(docs)
  }

  private def pairs(df: DataFrame): Array[(Long, Long)] =
    df.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))

  def run(spark: SparkSession, r: Runner): Unit = {
    r.op("index_build", write = true) {
      FactAnnIndex.writeIndex(spark, corpus, "id", "vec")
      0L
    }
    plan.vecOps.foreach {
      case q: Query =>
        r.op("ann_query", Files.size(q.src)) {
          val res = pairs(FactAnnIndex.topKFor(spark, corpus, "vec",
            queries(spark, q.src), "qid", "qvec", K))
          answers += ((q, res))
          res.length.toLong
        }
      case Upsert(src) =>
        r.op("upsert", Files.size(src), write = true) {
          FactVersioned.upsert(spark, corpus, vectors(spark, src), Seq("id"),
            "p", retain = Retain)
          0L
        }
        r.op("index_refresh", write = true) {
          FactAnnIndex.refreshIndex(spark, corpus, "id", "vec")
          0L
        }
    }
    r.op("text_index_build", write = true) {
      TfIdf.writeTextIndex(spark, docs, "id", "text")
      0L
    }
    plan.textQueries.foreach { p =>
      r.op("text_query", Files.size(p)) {
        val res = TfIdf.bm25TopKIndexed(spark, docs, "text",
          textQueries(spark, p), "qid", "q", K).collect()
        textAnswers ++= res
        res.length.toLong
      }
    }
  }

  def checks(spark: SparkSession): Seq[(String, Boolean)] = {
    val hits = answers.map { case (q, res) =>
      val got = res.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      q.truth.map { case (qid, want) =>
        (got.getOrElse(qid, Set.empty[Long]) intersect want).size.toDouble / want.size
      }.sum
    }.sum
    recall = hits / answers.map(_._1.truth.size).sum
    val twin = TfIdf.bm25TopK(spark.read.parquet(docs), "id", "text",
      plan.textQueries.map(textQueries(spark, _)).reduce(_ unionByName _),
      "qid", "q", K).collect()
    Seq(
      "ann_recall_floor" -> (recall >= RecallFloor),
      "bm25_indexed_equals_twin" ->
        (textAnswers.size == twin.length &&
          textAnswers.map(_.toSeq).toSet == twin.map(_.toSeq).toSet))
  }

  override def extra: Map[String, Double] = Map("ann_recall" -> recall)
}
