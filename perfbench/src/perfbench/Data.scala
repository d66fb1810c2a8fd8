package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input synthesis. Every value is a hash of (seed, row id,
  * column), so a seed always yields the same inputs and no file outside
  * the checkout is read.
  */
object Data {
  /** Ship dates of the base rows span three years from 1992-01-02. */
  val Day0 = 8036L // 1992-01-02 as an epoch day
  val ShipDays = 1095L

  val LineitemCols: Seq[String] = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate")

  private def h(seed: Long, k: Int): Column = xxhash64(lit(seed), col("id"), lit(k))
  private def u(seed: Long, k: Int, m: Long): Column = pmod(h(seed, k), lit(m))

  /** Lineitem rows for ids [lo, hi), in ingestion order: order keys and
    * ship dates both grow with the id (4 lines per order), so each
    * append lands in a few month partitions and a narrow key range.
    * `n` is the size of the base table and sets the date scale; ids past
    * `n` continue into later months. Column `_row` is the id.
    */
  def lineitem(s: SparkSession, seed: Long, n: Long, lo: Long, hi: Long): DataFrame = {
    val qty = (u(seed, 3, 50L) + 1).cast("double")
    s.range(lo, hi).select(
      col("id").as("_row"),
      (expr("id div 4") + 1).cast("long").as("l_orderkey"),
      (u(seed, 1, 20000L) + 1).as("l_partkey"),
      (u(seed, 2, 1000L) + 1).as("l_suppkey"),
      (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + u(seed, 4, 100000L) / 100.0), 2).as("l_extendedprice"),
      (u(seed, 5, 11L) / 100.0).as("l_discount"),
      (u(seed, 6, 9L) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (u(seed, 7, 3L) + 1).cast("int"))
        .as("l_returnflag"),
      when(u(seed, 9, 2L) === 0, "O").otherwise("F").as("l_linestatus"),
      timestamp_seconds((lit(Day0) + expr(s"id * $ShipDays div $n") + u(seed, 8, 30L)) *
        lit(86400L)).as("l_shipdate"))
  }

  /** Row id of an order line (inverse of the key columns above). */
  def rowId(orderkey: Long, linenumber: Int): Long = (orderkey - 1) * 4 + (linenumber - 1)

  val Vocab: IndexedSeq[String] = IndexedSeq(
    "spark", "lake", "table", "scan", "merge", "query", "batch", "stream", "vector",
    "index", "join", "filter", "window", "order", "column", "row", "file", "commit",
    "snapshot", "schema", "sort", "hash", "partition", "shuffle", "task", "stage",
    "driver", "cache", "plan", "rule", "token", "model", "train", "data", "corpus",
    "quality", "dedup", "cluster", "embed", "recall", "shard", "delta", "range", "key",
    "value", "group", "count", "metric", "trace", "span", "layer", "time", "write",
    "read", "page", "block", "memory", "disk", "network", "client", "server", "queue")
  /** Stop words the quality gate's stop-word ratio looks for. */
  val StopWords: IndexedSeq[String] = IndexedSeq("the", "a", "and", "of", "to", "in")

  /** Planted quality defects and the gate reason each must receive. */
  val Defects: Seq[(String, String)] = Seq("short" -> "too_short", "repeat" -> "repetitive_ngrams")

  final case class Corpus(docs: Seq[(Long, String, String)], // doc_id, text, source
      plantedDupDocs: Set[Long], rejected: Map[Long, String], copies: Int, baseDocs: Int)

  /** Documents synthesized like ScaleBench's copy recipe: `baseDocs`
    * seeded documents, `copies` copies of each whose non-stop tokens
    * carry a copy suffix (so copies share no shingle), except every
    * 50th base document, which keeps its text in every copy — a planted
    * duplicate clique of size `copies`. Every 40th base document is a
    * planted quality defect that the gate must drop. Built on the
    * driver, so the expected gate and dedup results are known exactly
    * without running any graft code.
    */
  def corpus(seed: Long, baseDocs: Int, copies: Int): Corpus = {
    val rnd = new java.util.Random(seed * 7919L + 17L)
    val docs = Array.newBuilder[(Long, String, String)]
    val planted = Set.newBuilder[Long]
    val rejected = Map.newBuilder[Long, String]
    (0 until baseDocs).foreach { b =>
      val defect = if (b % 40 == 7) Some(Defects((b / 40) % Defects.size)) else None
      val words: Seq[String] = defect match {
        case Some(("short", _)) => Seq(Vocab(rnd.nextInt(Vocab.size)), "the")
        case Some(_) =>
          val w = Vocab(rnd.nextInt(Vocab.size))
          Seq.fill(30)(Seq(w, "the", w)).flatten
        case None =>
          val n = 25 + rnd.nextInt(60)
          (0 until n).map(i => if (i % 6 == 2) StopWords(rnd.nextInt(StopWords.size))
            else Vocab(rnd.nextInt(Vocab.size)))
      }
      val dupClique = b % 50 == 3
      (0 until copies).foreach { c =>
        val id = c.toLong * 10000000L + b
        val text =
          if (dupClique || c == 0) words.mkString(" ")
          else words.map(w => if (StopWords.contains(w)) w else s"${w}x$c").mkString(" ")
        docs += ((id, text, s"src${b % 5}"))
        if (dupClique) planted += id
        defect.foreach { case (_, reason) => rejected += id -> reason }
      }
    }
    Corpus(docs.result().toSeq, planted.result(), rejected.result(), copies, baseDocs)
  }

  def corpusFrame(s: SparkSession, c: Corpus): DataFrame = {
    import s.implicits._
    c.docs.toDF("doc_id", "text", "source").repartition(s.sparkContext.defaultParallelism)
  }

  /** Seeded embeddings for ids [lo, hi), built on the driver: each
    * vector is one of 24 seeded centres plus noise, so IVF lists are
    * uneven, as real embeddings are. The same arrays serve as the
    * reference for recall checks.
    */
  def vectors(seed: Long, lo: Long, hi: Long, dim: Int): IndexedSeq[(Long, Array[Float])] = {
    val centres = 24
    def unit(r: java.util.SplittableRandom) = r.nextDouble() * 2 - 1
    val c = Array.tabulate(centres) { k =>
      val r = new java.util.SplittableRandom(seed * 1000003L + k)
      Array.fill(dim)(unit(r))
    }
    (lo until hi).map { id =>
      val r = new java.util.SplittableRandom(seed * 7777777L + id)
      val centre = c(r.nextInt(centres))
      id -> Array.tabulate(dim)(j => (centre(j) + 0.6 * unit(r)).toFloat)
    }
  }

  def embeddings(s: SparkSession, vecs: Seq[(Long, Array[Float])]): DataFrame = {
    import s.implicits._
    vecs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
  }

  /** Exact top-k cosine neighbours computed on the driver in plain
    * Scala (no graft code): query id -> neighbour ids in rank order.
    */
  def exactTopK(corpus: Seq[(Long, Array[Float])], queries: Seq[(Long, Array[Float])],
      k: Int): Map[Long, Seq[Long]] = {
    def norm(v: Array[Float]): Double = math.sqrt(v.map(x => x.toDouble * x).sum)
    val cn = corpus.map { case (id, v) => (id, v, norm(v)) }
    queries.map { case (qid, q) =>
      val qn = norm(q)
      qid -> cn.map { case (id, v, n) =>
        var dot = 0.0; var i = 0
        while (i < v.length) { dot += v(i).toDouble * q(i); i += 1 }
        (id, if (n == 0 || qn == 0) 0.0 else dot / (n * qn))
      }.sortBy(x => (-x._2, x._1)).take(k).map(_._1)
    }.toMap
  }

  def vectorsOf(rows: Array[Row]): IndexedSeq[(Long, Array[Float])] =
    rows.toIndexedSeq.map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
}
