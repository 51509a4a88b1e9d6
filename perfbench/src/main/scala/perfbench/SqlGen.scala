package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

/** Seeded generator of the warehouse traffic: TPC-H-shaped base tables
  * (orders, lineitem, customer, nation) and, per cycle, one DML
  * statement with its staged source rows plus the parameters of the
  * reads that follow it. Money is in integer cents and discounts in
  * whole percent, so every aggregate is exact and results hash-compare.
  *
  * The generator keeps its own model of which order keys live in which
  * year, so updates never move a key across partitions, point lookups
  * hit live keys and deletes always match. */
object SqlGen {

  final case class Sizes(orders: Int, customers: Int, mergeRows: Int,
      insertRows: Int, deleteRows: Int)

  /** One write statement and the table it changes. */
  sealed trait Dml { def table: String }
  final case class MergeOp(src: Path) extends Dml { val table = "orders" }
  final case class InsertOp(src: Path) extends Dml { val table = "lineitem" }
  final case class DeleteOp(cond: String) extends Dml { val table = "orders" }
  final case class UpdateOp(sets: Seq[(String, String)], cond: String)
      extends Dml { val table = "orders" }

  /** One read: `template` is one of [[Templates]]. */
  final case class Read(template: String, year: Int, key: Long)

  final case class Cycle(dml: Dml, reads: Seq[Read])

  /** `warm` cycles run untimed in set-up, `cycles` are the timed ones;
    * both change the tables, in that order. */
  final case class Plan(base: Map[String, Path], warm: Seq[Cycle],
      cycles: Seq[Cycle])

  val Templates: Seq[String] = Seq("agg", "star", "topn", "point", "travel")
  val Years: Seq[Int] = 1992 to 1998

  /** DML kinds by cycle position: mostly MERGE, an INSERT trickle, an
    * occasional UPDATE or DELETE — fixed, so every seed runs one mix.
    * Four of seven are MERGE, so the median DML latency of a round is a
    * MERGE's rather than a point between two kinds. */
  val Pattern: Seq[String] = Seq("merge", "insert", "merge", "update",
    "merge", "delete", "merge")

  /** DML kinds of the warm pass: one of each, so that every statement
    * shape, and with the reads that follow every read template, is
    * planned and compiled before the timed cycles. */
  val WarmPattern: Seq[String] = Seq("merge", "insert", "update", "delete")

  val Schemas: Map[String, String] = Map(
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice BIGINT, o_orderdate STRING, o_orderpriority STRING, " +
      "o_clerk STRING, o_orderyear INT"),
    "lineitem" -> ("l_orderkey BIGINT, l_linenumber INT, l_partkey BIGINT, " +
      "l_quantity BIGINT, l_extendedprice BIGINT, l_discount INT, " +
      "l_returnflag STRING, l_shipdate STRING, l_shipyear INT"),
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_mktsegment STRING, c_acctbal BIGINT"),
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT")

  val PartitionCol: Map[String, String] = Map("orders" -> "o_orderyear",
    "lineitem" -> "l_shipyear", "customer" -> "c_mktsegment",
    "nation" -> "n_regionkey")

  val Keys: Map[String, Seq[String]] = Map("orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"),
    "customer" -> Seq("c_custkey"), "nation" -> Seq("n_nationkey"))

  private val nations = Seq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA",
    "EGYPT", "ETHIOPIA", "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN",
    "IRAQ", "JAPAN", "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU",
    "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA",
    "UNITED KINGDOM", "UNITED STATES")
  private val segments =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def generate(seed: Long, dir: Path, cycles: Int, sz: Sizes): Plan = {
    val rnd = new Random(seed)
    Files.createDirectories(dir)
    def write(name: String, lines: Iterable[String]): Path = {
      val p = dir.resolve(name)
      Files.write(p, lines.mkString("", "\n", "\n").getBytes(UTF_8))
      p
    }
    val yearOf = mutable.LinkedHashMap.empty[Long, Int]
    val nextLine = mutable.Map.empty[Long, Int]
    val unlined = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    var maxKey = 0L

    def order(key: Long, year: Int): String = {
      val day = 1 + rnd.nextInt(28)
      val month = 1 + rnd.nextInt(12)
      s"""{"o_orderkey":$key,"o_custkey":${1 + rnd.nextInt(sz.customers)},""" +
        s""""o_orderstatus":"${"FOP" (rnd.nextInt(3))}",""" +
        s""""o_totalprice":${100000 + rnd.nextInt(50000000)},""" +
        f""""o_orderdate":"$year-$month%02d-$day%02d",""" +
        s""""o_orderpriority":"${priorities(rnd.nextInt(5))}",""" +
        f""""o_clerk":"Clerk#${rnd.nextInt(1000)}%09d","o_orderyear":$year}"""
    }
    def line(key: Long, year: Int): String = {
      val n = nextLine.getOrElse(key, 1)
      nextLine(key) = n + 1
      val qty = 1 + rnd.nextInt(50)
      s"""{"l_orderkey":$key,"l_linenumber":$n,""" +
        s""""l_partkey":${1 + rnd.nextInt(20000)},"l_quantity":$qty,""" +
        s""""l_extendedprice":${qty * (90000 + rnd.nextInt(10000))},""" +
        s""""l_discount":${rnd.nextInt(11)},""" +
        s""""l_returnflag":"${"RAN" (rnd.nextInt(3))}",""" +
        f""""l_shipdate":"$year-${1 + rnd.nextInt(12)}%02d-15","l_shipyear":$year}"""
    }

    val nationRows = nations.indices.map(i =>
      s"""{"n_nationkey":$i,"n_name":"${nations(i)}","n_regionkey":${i % 5}}""")
    val customerRows = (1 to sz.customers).map(i =>
      s"""{"c_custkey":$i,"c_name":"Customer#$i",""" +
        s""""c_nationkey":${rnd.nextInt(25)},""" +
        s""""c_mktsegment":"${segments(rnd.nextInt(5))}",""" +
        s""""c_acctbal":${rnd.nextInt(1000000) - 100000}}""")
    val orderRows = mutable.ArrayBuffer.empty[String]
    val lineRows = mutable.ArrayBuffer.empty[String]
    (1 to sz.orders).foreach { _ =>
      maxKey += 1
      val y = Years(rnd.nextInt(Years.size))
      yearOf(maxKey) = y
      orderRows += order(maxKey, y)
      (0 until 1 + rnd.nextInt(7)).foreach(_ => lineRows += line(maxKey, y))
    }
    val base = Map(
      "nation" -> write("nation.json", nationRows),
      "customer" -> write("customer.json", customerRows),
      "orders" -> write("orders.json", orderRows),
      "lineitem" -> write("lineitem.json", lineRows))

    def keysIn(y: Int): IndexedSeq[Long] =
      yearOf.iterator.collect { case (k, yy) if yy == y => k }.toIndexedSeq

    var updates = 0
    val kinds = WarmPattern ++ (0 until cycles).map(c => Pattern(c % Pattern.size))
    val out = kinds.indices.map { c =>
      val dml = kinds(c) match {
        case "merge" =>
          val ys = rnd.shuffle(Years).take(2)
          val olds = ys.flatMap(y => rnd.shuffle(keysIn(y))
            .take(sz.mergeRows / 3).map(k => (k, y)))
          val fresh = (0 until sz.mergeRows - olds.size).map { _ =>
            maxKey += 1
            val y = ys(rnd.nextInt(ys.size))
            yearOf(maxKey) = y
            unlined.getOrElseUpdate(y, mutable.ArrayBuffer.empty) += maxKey
            (maxKey, y)
          }
          MergeOp(write(f"merge_$c%03d.json",
            (olds ++ fresh).map { case (k, y) => order(k, y) }))
        case "insert" =>
          // trickle: lines of freshly merged orders of one year
          val y = unlined.filter(_._2.nonEmpty).keys.toSeq.sorted
            .headOption.getOrElse(Years(rnd.nextInt(Years.size)))
          val pending = unlined.getOrElse(y, mutable.ArrayBuffer.empty)
          val ks = if (pending.nonEmpty) pending.toSeq
            else rnd.shuffle(keysIn(y)).take(sz.insertRows / 3)
          pending.clear()
          val rows = (0 until sz.insertRows).map(i => line(ks(i % ks.size), y))
          InsertOp(write(f"insert_$c%03d.json", rows))
        case "delete" =>
          val y = Years(rnd.nextInt(Years.size))
          val ks = rnd.shuffle(keysIn(y)).take(sz.deleteRows).sorted
          ks.foreach { k =>
            yearOf.remove(k)
            unlined.get(y).foreach(_ -= k)
          }
          DeleteOp(s"o_orderyear = $y AND o_orderkey IN (${ks.mkString(", ")})")
        case _ =>
          updates += 1
          val y = Years(rnd.nextInt(Years.size))
          UpdateOp(Seq(
            "o_orderpriority" -> s"'${priorities(updates % 5)}'",
            "o_totalprice" -> s"o_totalprice + ${1 + rnd.nextInt(999)}"),
            s"o_orderyear = $y AND o_custkey % 17 = ${rnd.nextInt(17)}")
      }
      // the warm pass reads each template once, after its first write
      val templates =
        if (c == 0) Templates
        else if (c < WarmPattern.size) Nil
        else (0 until 4).map(r => Templates((c + r) % Templates.size))
      val reads = templates.map { t =>
        val y = Years(rnd.nextInt(Years.size))
        val ks = keysIn(y)
        Read(t, y, ks(rnd.nextInt(ks.size)))
      }
      Cycle(dml, reads)
    }
    Plan(base, out.take(WarmPattern.size), out.drop(WarmPattern.size))
  }
}
