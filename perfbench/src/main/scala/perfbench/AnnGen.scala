package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

/** Seeded generator of the retrieval traffic: a clustered vector corpus
  * with its later upsert batches and query batches, and a text corpus
  * over a Zipf-skewed synthetic vocabulary with its keyword queries.
  *
  * The generator also keeps the corpus as it stands after each upsert,
  * so it can answer every vector query batch exactly (cosine top-k by
  * brute force) — the truth `ann_recall` is measured against. */
object AnnGen {

  final case class Sizes(corpus: Int, dim: Int, clusters: Int,
      queryBatch: Int, upsertRows: Int, docs: Int, vocab: Int,
      textBatch: Int)

  /** Vector ops in run order; `Query.truth` maps query id to the exact
    * top-k neighbour ids over the corpus the query runs against. */
  sealed trait VecOp
  final case class Query(src: Path, truth: Map[Long, Set[Long]]) extends VecOp
  final case class Upsert(src: Path) extends VecOp

  final case class Plan(corpus: Path, docs: Path, vecOps: Seq[VecOp],
      textQueries: Seq[Path])

  val Parts = 8
  val QueryIdBase = 100000000L

  private def fmt(v: Array[Double]): String = v.mkString("[", ",", "]")

  /** @param opsPattern one letter per vector op: q = query batch,
    *   u = upsert batch. */
  def generate(seed: Long, dir: Path, sz: Sizes, opsPattern: String,
      textBatches: Int, k: Int): Plan = {
    val rnd = new Random(seed)
    Files.createDirectories(dir)
    def write(name: String, lines: Iterable[String]): Path = {
      val p = dir.resolve(name)
      Files.write(p, lines.mkString("", "\n", "\n").getBytes(UTF_8))
      p
    }
    val centers = Array.fill(sz.clusters)(Array.fill(sz.dim)(rnd.nextGaussian()))
    // values carry 5 decimals, so the text the engine parses is the
    // exact double the truth is computed from
    def near(c: Int): Array[Double] = centers(c).map(x =>
      math.rint((x + 0.35 * rnd.nextGaussian()) * 1e5) / 1e5)
    def row(id: Long, v: Array[Double]): String =
      s"""{"id":$id,"p":${id % Parts},"vec":${fmt(v)}}"""

    val corpus = mutable.LinkedHashMap.empty[Long, Array[Double]]
    (1 to sz.corpus).foreach(i =>
      corpus(i.toLong) = near(rnd.nextInt(sz.clusters)))
    val corpusPath = write("corpus.json", corpus.map { case (i, v) => row(i, v) })

    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    var nextId = sz.corpus.toLong
    var qBase = QueryIdBase
    val vecOps = opsPattern.zipWithIndex.map {
      case ('u', i) =>
        val updated = rnd.shuffle(corpus.keys.toIndexedSeq)
          .take(sz.upsertRows * 2 / 3)
        val fresh = (0 until sz.upsertRows - updated.size).map { _ =>
          nextId += 1; nextId
        }
        val rows = (updated ++ fresh).map { id =>
          val v = near(rnd.nextInt(sz.clusters))
          corpus(id) = v
          row(id, v)
        }
        Upsert(write(f"upsert_$i%02d.json", rows))
      case (_, i) =>
        val qs = (0 until sz.queryBatch).map { j =>
          qBase += 1
          (qBase, near(rnd.nextInt(sz.clusters)))
        }
        val units = corpus.iterator.map { case (id, v) => (id, unit(v)) }
          .toArray
        val truth = qs.map { case (qid, qv) =>
          val u = unit(qv)
          qid -> units.map { case (id, cv) =>
            var s = 0.0; var d = 0
            while (d < u.length) { s += u(d) * cv(d); d += 1 }
            (id, s)
          }.sortBy(t => (-t._2, t._1)).take(k).map(_._1).toSet
        }.toMap
        Query(write(f"query_$i%02d.json",
          qs.map { case (q, v) => s"""{"qid":$q,"qvec":${fmt(v)}}""" }), truth)
    }

    // text: Zipf-skewed vocabulary; each doc leans on a few topic words
    val words = (0 until sz.vocab).map { i =>
      val sb = new StringBuilder
      var x = i + 1
      while (x > 0) {
        sb.append("bcdfghjklmnprstvz" (x % 17)).append("aeiou" (x % 5))
        x /= 17
      }
      sb.toString
    }
    val cdf = {
      val w = (1 to sz.vocab).map(r => 1.0 / r)
      val tot = w.sum
      w.scanLeft(0.0)(_ + _ / tot).tail.toArray
    }
    def word(): String = {
      val x = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, x)
      words(math.min(sz.vocab - 1, if (i >= 0) i else -i - 1))
    }
    val docs = (1 to sz.docs).map { id =>
      val topic = (0 until 3).map(_ => words(50 + rnd.nextInt(sz.vocab - 50)))
      val text = (0 until 15 + rnd.nextInt(25)).map(_ =>
        if (rnd.nextDouble() < 0.25) topic(rnd.nextInt(3)) else word())
      s"""{"id":$id,"text":"${text.mkString(" ")}"}"""
    }
    val docsPath = write("docs.json", docs)
    var tq = 0L
    val textQueries = (0 until textBatches).map { b =>
      write(f"text_query_$b%02d.json", (0 until sz.textBatch).map { _ =>
        tq += 1
        val terms = (0 until 2 + rnd.nextInt(2)).map(_ =>
          words(10 + rnd.nextInt(sz.vocab - 10)))
        s"""{"qid":$tq,"q":"${terms.mkString(" ")}"}"""
      })
    }
    Plan(corpusPath, docsPath, vecOps, textQueries)
  }
}
