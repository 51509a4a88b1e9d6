package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit}

import graft.catalog.{GraftCatalog, GraftDml}
import graft.operators.FactVersioned

/** `sql_warehouse`: the BI and DML user on the SQL door. FactVersioned
  * fact and dimension tables are registered in the `graft` catalog;
  * each cycle runs one write statement (mostly MERGE INTO, INSERT INTO
  * trickles, an occasional UPDATE or DELETE) and then four reads drawn
  * from five templates, one of them a `VERSION AS OF` read of an older
  * retained generation. Set-up ends with an untimed warm pass of four
  * cycles that runs every statement kind and every read template once.
  *
  * The check replays the same statements with plain Spark over plain
  * frames and compares every table head and a seeded sample of the
  * reads by content hash. */
final class SqlWarehouse extends Workload {
  import SqlGen._

  val name = "sql_warehouse"
  val primary = "dml"
  val secondary = "query"

  /** Timed cycles per second of `--seconds` (a warm cycle takes about
    * 2 s on 4 cores); at 20 s, one full round of [[SqlGen.Pattern]]. */
  private val CyclesPerSecond = 0.35
  private val Retain = 3
  /** Generations behind the head a time-travel read pins: the oldest
    * one retention keeps. */
  private val TravelBack = Retain - 1
  private val SampledReads = 4
  private val sizes = Sizes(orders = 5000, customers = 800,
    mergeRows = 150, insertRows = 120, deleteRows = 30)
  private val tables = Seq("nation", "customer", "orders", "lineitem")

  private var seed = 0L
  private var plan: Plan = _
  private var dir: Path = _
  private var sql: SparkSession = _
  private val gens = mutable.Map.empty[String, Long]
  private val baseGen = mutable.Map.empty[String, Long]
  /** Executed reads: (read, head generation per table then, result hash). */
  private val reads = mutable.ArrayBuffer.empty[(Read, Map[String, Long], Int)]
  private var dmls = 0

  def warehouse: Path = dir.resolve("warehouse")
  private def pathOf(t: String) = warehouse.resolve(t).toString

  def generate(s: Long, in: Path, seconds: Int): Unit = {
    seed = s
    val timed = math.max(3, math.round(seconds * CyclesPerSecond).toInt)
    plan = SqlGen.generate(s, in, timed, sizes)
  }

  private def source(spark: SparkSession, t: String, p: Path): DataFrame =
    spark.read.schema(Schemas(t)).json(p.toString)

  def setup(spark: SparkSession, d: Path): Unit = {
    dir = d
    gens.clear(); reads.clear(); dmls = 0
    tables.foreach { t =>
      FactVersioned.upsert(spark, pathOf(t), source(spark, t, plan.base(t)),
        Keys(t), PartitionCol(t), retain = Retain)
      gens(t) = FactVersioned.generations(spark, pathOf(t)).max
      baseGen(t) = gens(t)
    }
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", warehouse.toString)
    spark.conf.set("spark.sql.catalog.graft.retain", Retain.toString)
    sql = GraftDml.enable(spark)
    // the warm pass: the same client code, untimed and unrecorded
    val warm = new Runner(() => warehouse, traced = false)
    plan.warm.foreach(cycle(_, warm))
    if (warm.failed > 0) throw new IllegalStateException(
      s"${warm.failed} op(s) of the warm pass failed")
  }

  def statement(d: Dml): String = d match {
    case MergeOp(_) =>
      """MERGE INTO graft.orders AS t USING src AS s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin
    case InsertOp(_) =>
      "INSERT INTO graft.lineitem BY NAME SELECT *, CAST(NULL AS BIGINT) AS vgen FROM src"
    case DeleteOp(cond) => s"DELETE FROM graft.orders WHERE $cond"
    case UpdateOp(sets, cond) =>
      val assignments = sets.map { case (c, e) => s"$c = $e" }.mkString(", ")
      s"UPDATE graft.orders SET $assignments WHERE $cond"
  }

  /** SQL text of a read issued when the table heads were `heads`;
    * `tbl(name, gen)` names a table, pinned to generation `gen` when
    * given. */
  def readSql(rd: Read, heads: collection.Map[String, Long],
      tbl: (String, Option[Long]) => String): String = {
    val y = rd.year
    def t(n: String) = tbl(n, None)
    rd.template match {
      case "agg" | "travel" =>
        val orders = if (rd.template == "agg") t("orders")
          else tbl("orders", Some(math.max(baseGen("orders"), heads("orders") - TravelBack)))
        s"SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total " +
          s"FROM $orders WHERE o_orderyear = $y GROUP BY o_orderstatus"
      case "star" =>
        s"SELECT n.n_name, count(*) AS lines, " +
          s"sum(l.l_extendedprice * (100 - l.l_discount)) AS revenue " +
          s"FROM ${t("lineitem")} l " +
          s"JOIN ${t("orders")} o ON l.l_orderkey = o.o_orderkey " +
          s"JOIN ${t("customer")} c ON o.o_custkey = c.c_custkey " +
          s"JOIN ${t("nation")} n ON c.c_nationkey = n.n_nationkey " +
          s"WHERE o.o_orderyear = $y AND l.l_shipyear = $y GROUP BY n.n_name"
      case "topn" =>
        s"SELECT o_orderpriority, o_orderkey, o_totalprice FROM (" +
          s"SELECT o_orderpriority, o_orderkey, o_totalprice, row_number() OVER (" +
          s"PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn " +
          s"FROM ${t("orders")} WHERE o_orderyear = $y) WHERE rn <= 5"
      case "point" =>
        s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority " +
          s"FROM ${t("orders")} WHERE o_orderyear = $y AND o_orderkey = ${rd.key}"
    }
  }

  private def graftTable(n: String, g: Option[Long]): String =
    s"graft.$n" + g.fold("")(x => s" VERSION AS OF $x")

  private def cycle(c: Cycle, r: Runner): Unit = {
    val src = c.dml match {
      case MergeOp(p) => Some(p)
      case InsertOp(p) => Some(p)
      case _ => None
    }
    r.op("dml", src.fold(0L)(p => Files.size(p)), write = true) {
      src.foreach { p =>
        val rows = source(sql, c.dml.table, p)
        (if (c.dml.table == "orders") rows.withColumn("vgen", lit(null).cast("bigint"))
          else rows).createOrReplaceTempView("src")
      }
      sql.sql(statement(c.dml))
      0L
    }
    gens(c.dml.table) += 1
    dmls += 1
    c.reads.foreach { rd =>
      r.op("query") {
        val rows = sql.sql(readSql(rd, gens, graftTable)).collect()
        reads += ((rd, gens.toMap, Workload.rowsHash(rows)))
        rows.length.toLong
      }
    }
  }

  def run(spark: SparkSession, r: Runner): Unit = plan.cycles.foreach(cycle(_, r))

  /** Plain-Spark replay: every table version as a cached frame over
    * the generated inputs (materialized only if a check reads it). */
  private def replay(spark: SparkSession): Map[String, IndexedSeq[DataFrame]] = {
    val versions = tables.map { t =>
      t -> mutable.ArrayBuffer(source(spark, t, plan.base(t)).cache())
    }.toMap
    (plan.warm ++ plan.cycles).take(dmls).foreach { c =>
      val t = c.dml.table
      val cur = versions(t).last
      val next = c.dml match {
        case MergeOp(p) =>
          val s = source(spark, t, p)
          cur.join(s.select(Keys(t).map(col): _*), Keys(t), "left_anti").unionByName(s)
        case InsertOp(p) => cur.unionByName(source(spark, t, p))
        case DeleteOp(cond) => cur.where(s"NOT ($cond)")
        case UpdateOp(sets, cond) =>
          val m = sets.toMap
          cur.select(cur.columns.toSeq.map(n => m.get(n).fold(col(n))(e =>
            expr(s"CASE WHEN $cond THEN $e ELSE $n END").as(n))): _*)
      }
      versions(t) += next.cache()
    }
    versions.map { case (t, v) => t -> v.toIndexedSeq }
  }

  def checks(spark: SparkSession): Seq[(String, Boolean)] = {
    val versions = replay(spark)
    def view(n: String, g: Long): String = {
      val v = (g - baseGen(n)).toInt
      val name = s"replay_${n}_$v"
      versions(n)(v).createOrReplaceTempView(name)
      name
    }
    val heads = tables.map { t => () =>
      val cols = versions(t).head.columns.toSeq
      s"head_$t" -> (Workload.contentHash(sql.table(s"graft.$t"), cols) ==
        Workload.contentHash(versions(t).last, cols))
    }
    val rnd = new scala.util.Random(seed ^ 0x5eed)
    val sampled = rnd.shuffle(reads.toSeq).take(SampledReads).zipWithIndex.map {
      case ((rd, at, hash), i) =>
        val text = readSql(rd, at, (n, g) => view(n, g.getOrElse(at(n))))
        () => s"read_${i}_${rd.template}" ->
          (Workload.rowsHash(spark.sql(text).collect()) == hash)
    }
    val history = tables.map { t =>
      s"generations_$t" -> (FactVersioned.generations(spark, pathOf(t)).max == gens(t))
    }
    Workload.concurrently(heads ++ sampled) ++ history
  }
}
