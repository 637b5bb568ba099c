package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs: an orders table shaped like TPC-H `orders` and a text
  * corpus with planted exact and near duplicates. The same seed and scale
  * give the same rows. */
object Data {

  /** TPC-H orders rows per unit of scale factor. */
  val OrdersRowsPerSf = 1500000L

  def ordersRows(sf: Double): Long = math.max(1000L, math.round(OrdersRowsPerSf * sf))

  /** About ten orders per customer, as in TPC-H. */
  def customers(sf: Double): Long = math.max(100L, ordersRows(sf) / 10)

  /** Key bands (one file each): 64 at sf 0.1 and above, fewer on small
    * scales so that every band holds at least 64 customers. */
  def bands(sf: Double): Int = math.max(4, math.min(64, (customers(sf) / 64).toInt))

  def orders(spark: SparkSession, seed: Long, sf: Double, partitions: Int): DataFrame = {
    def h(salt: Int) = xxhash64(col("id"), lit(seed), lit(salt))
    def pick(salt: Int, values: String*) =
      element_at(array(values.map(lit): _*), (pmod(h(salt), lit(values.size.toLong)) + 1).cast("int"))
    spark.range(0, ordersRows(sf), 1, partitions).select(
      (col("id") * 4 + 1).as("o_orderkey"),
      (pmod(h(1), lit(customers(sf))) + 1).as("o_custkey"),
      pick(2, "F", "O", "P").as("o_orderstatus"),
      (pmod(h(3), lit(50000000L)) / 100.0).as("o_totalprice"),
      date_add(lit("1992-01-01").cast("date"), pmod(h(4), lit(2400L)).cast("int")).as("o_orderdate"),
      pick(5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").as("o_orderpriority"),
      concat(lit("Clerk#"), lpad(pmod(h(6), lit(1000L)).cast("string"), 9, "0")).as("o_clerk"),
      substring(sha2(concat_ws("-", col("id").cast("string"), lit(seed.toString)), 256), 1, 40)
        .as("o_comment"))
  }

  /** Corpus documents per unit of scale factor. */
  val DocsPerSf = 4000L
  val WordsPerDoc = 60
  val VocabSize = 5000
  val ExactDupFrac = 0.05
  val NearDupFrac = 0.05
  /** Words replaced in a near-duplicate copy: token Jaccard about 0.9. */
  val NearDupEdits = 3

  final case class Corpus(docs: Seq[(Long, String)], planted: Set[(Long, Long)], distinctTexts: Long)

  /** `docs` documents of random words; 5% are exact copies and 5% are
    * near copies (3 of 60 words replaced) of distinct source documents.
    * `planted` holds every (source, copy) id pair, smaller id first. */
  def corpus(seed: Long, sf: Double): Corpus = {
    val n = math.max(200L, math.round(DocsPerSf * sf)).toInt
    val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val vocab = Array.fill(VocabSize) {
      val len = 5 + rnd.nextInt(5)
      new String(Array.fill(len)(('a' + rnd.nextInt(26)).toChar))
    }
    def words(): Array[String] = Array.fill(WordsPerDoc)(vocab(rnd.nextInt(VocabSize)))
    val nExact = (n * ExactDupFrac).toInt
    val nNear = (n * NearDupFrac).toInt
    val nBase = n - nExact - nNear
    val base = Array.fill(nBase)(words())
    // distinct sources for every copy, so no document is in two planted pairs
    val sources = mutable.LinkedHashSet[Int]()
    while (sources.size < nExact + nNear) sources += rnd.nextInt(nBase)
    val (exactSrc, nearSrc) = sources.toSeq.splitAt(nExact)
    val docs = mutable.ArrayBuffer[(Long, String)]()
    base.zipWithIndex.foreach { case (w, i) => docs += ((i.toLong, w.mkString(" "))) }
    val planted = mutable.Set[(Long, Long)]()
    exactSrc.foreach { s =>
      val id = docs.size.toLong
      docs += ((id, base(s).mkString(" ")))
      planted += ((s.toLong, id))
    }
    nearSrc.foreach { s =>
      val w = base(s).clone()
      (0 until NearDupEdits).foreach(_ => w(rnd.nextInt(WordsPerDoc)) = vocab(rnd.nextInt(VocabSize)))
      val id = docs.size.toLong
      docs += ((id, w.mkString(" ")))
      planted += ((s.toLong, id))
    }
    Corpus(docs.toSeq, planted.toSet, docs.map(_._2).distinct.size.toLong)
  }
}
