package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

/** One benchmark workload. A fresh instance serves one run:
  * [[generate]] writes every input, [[setup]] loads the base state and
  * warms the engine, [[run]] drives the timed op sequence and
  * [[checks]] verifies the outputs, untimed, afterwards. */
trait Workload {
  def name: String

  /** Op types whose median latencies are the `primary_op_p50_s` and
    * `secondary_op_p50_s` end-to-end metrics. */
  def primary: String
  def secondary: String

  def generate(seed: Long, in: Path, seconds: Int): Unit

  /** Base loads and the warm pass, all state under `dir`. */
  def setup(spark: SparkSession, dir: Path): Unit

  /** The warehouse root of the current setup (storage accounting). */
  def warehouse: Path

  def run(spark: SparkSession, r: Runner): Unit

  /** Named output checks; false entries count as failed ops. */
  def checks(spark: SparkSession): Seq[(String, Boolean)]

  /** Extra end-of-run figures for the report (e.g. recall). */
  def extra: Map[String, Double] = Map.empty
}

object Workload {
  val All: Map[String, () => Workload] = Map(
    "zoom_ingest" -> (() => new ZoomIngest),
    "sql_warehouse" -> (() => new SqlWarehouse),
    "ann_search" -> (() => new AnnSearch))

  /** Order-independent content hash of a frame: row count plus the sum
    * of per-row xxhash64 over the given columns (exact decimal sum). */
  def contentHash(df: DataFrame, cols: Seq[String]): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Run independent checks on a small pool: each one is a few short
    * Spark jobs, so running them side by side fills the cores. */
  def concurrently[T](tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try scala.concurrent.Await.result(
      scala.concurrent.Future.traverse(tasks)(t => scala.concurrent.Future(t())),
      scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
  }

  /** Hash of a collected result, independent of row order. */
  def rowsHash(rows: Array[Row]): Int =
    scala.util.hashing.MurmurHash3.unorderedHash(rows.iterator.map(_.toSeq.toString))
}
