package perfbench

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import scala.collection.mutable

/** A generated document. `copyOf` is the id of the original a planted
  * copy was made from, -1 for an original. */
final case class Doc(id: Long, text: String, copyOf: Long) {
  def original: Boolean = copyOf < 0
}

/**
 * Seeded document generator: 80–240 words per document, drawn Zipf-style
 * (exponent 1) from a fixed vocabulary whose head is English stopwords.
 * A near copy replaces one word of its source with a different word, which
 * keeps the word-3-shingle Jaccard similarity above 0.9 for every length
 * the generator emits, far above the 0.8 dedup threshold; two independent
 * documents share well under 0.1.
 */
final class DocGen(seed: Long) {
  import DocGen._
  private val rnd = new java.util.Random(seed)

  private def word(): String = {
    val i = java.util.Arrays.binarySearch(Cdf, rnd.nextDouble())
    Vocab(math.min(if (i >= 0) i else -i - 1, Vocab.length - 1))
  }

  private def fresh(): String = Array.fill(MinWords + rnd.nextInt(MaxWords - MinWords + 1))(word()).mkString(" ")

  private def nearCopy(text: String): String = {
    val words = text.split(' ')
    val at = rnd.nextInt(words.length)
    var w = word()
    while (w == words(at)) w = word()
    words(at) = w
    words.mkString(" ")
  }

  private def pick[T](xs: collection.IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))

  /** `n` documents with ids from `firstId`. Each is, with the given rates,
    * an exact or a near copy of a random original already in `pool`, else
    * a new original, which joins `pool`. */
  def batch(firstId: Long, n: Int, pool: mutable.ArrayBuffer[Doc],
            exactRate: Double, nearRate: Double): IndexedSeq[Doc] =
    (0 until n).map { i =>
      val id = firstId + i
      val r = rnd.nextDouble()
      val doc =
        if (pool.nonEmpty && r < exactRate) { val s = pick(pool); Doc(id, s.text, s.id) }
        else if (pool.nonEmpty && r < exactRate + nearRate) { val s = pick(pool); Doc(id, nearCopy(s.text), s.id) }
        else Doc(id, fresh(), -1L)
      if (doc.original) pool += doc
      doc
    }
}

object DocGen {
  val MinWords = 80
  val MaxWords = 240

  private val Stopwords = Seq("the", "of", "and", "to", "in", "a", "is", "that", "for", "it",
    "as", "was", "with", "be", "by", "on", "not", "he", "this", "are", "or", "his", "from",
    "at", "which", "but", "have", "an", "they", "you")

  /** The fixed vocabulary: stopwords, then 4,000 distinct syllable words. */
  val Vocab: Array[String] = {
    val syllables = Array("ka", "lo", "mi", "ne", "ru", "ta", "shi", "ven", "dor", "pel",
      "qua", "zen", "tor", "bin", "fal", "gry", "hum", "jex", "lun", "mor", "sa", "pi")
    val r = new java.util.Random(20261017L)
    val words = mutable.LinkedHashSet.empty[String] ++= Stopwords
    while (words.size < Stopwords.size + 4000)
      words += Array.fill(2 + r.nextInt(3))(syllables(r.nextInt(syllables.length))).mkString
    words.toArray
  }

  private val Cdf: Array[Double] = {
    val w = Vocab.indices.map(i => 1.0 / (i + 1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  def toDF(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.text)).toDF("id", "text")
  }

  def utf8Bytes(docs: Seq[Doc]): Long =
    docs.iterator.map(_.text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum
}

/**
 * Seeded snapshot pair of one wide table: an `id` and 20 typed value
 * columns, generated on the executors as pure functions of (seed, id), so
 * the same seed gives the same snapshots at any parallelism. The right
 * snapshot deletes and changes rows of the left at the stated rates and
 * inserts new ids after the left's last one.
 */
final class SnapshotGen(spark: SparkSession, seed: Long, rows: Long,
                        val changeRate: Double, val deleteRate: Double, val insertRate: Double) {
  val inserts: Long = math.round(rows * insertRate)

  private def h(salt: Int): Column = xxhash64(lit(seed), col("id"), lit(salt))
  private def u: Column = pmod(h(1000), lit(1000000L))
  private val deleted: Column = u < lit((deleteRate * 1e6).toLong)
  private val changed: Column = !deleted && u < lit(((deleteRate + changeRate) * 1e6).toLong)

  private def values(ids: DataFrame): DataFrame = {
    val ints = (0 until 4).map(j => pmod(h(j), lit(1000000L)).cast("int").as(s"i$j"))
    val longs = (0 until 4).map(j => h(10 + j).as(s"l$j"))
    val doubles = (0 until 4).map(j => (pmod(h(20 + j), lit(100000000L)) / 1000.0).as(s"d$j"))
    val strings = (0 until 4).map { j =>
      val s = concat(lit(s"s$j-"), hex(pmod(h(30 + j), lit(1000000L))))
      // one nullable column, so the diff's null-safe comparison is exercised
      (if (j == 3) when(pmod(h(34), lit(10L)) === 0, lit(null).cast("string")).otherwise(s) else s).as(s"s$j")
    }
    val others = Seq(
      date_add(lit(java.sql.Date.valueOf("2020-01-01")), pmod(h(40), lit(3650L)).cast("int")).as("day"),
      timestamp_seconds(lit(1600000000L) + pmod(h(41), lit(100000000L))).as("ts"),
      (pmod(h(42), lit(100000000L)) / 100).cast(DecimalType(18, 2)).as("amount"),
      (pmod(h(43), lit(2L)) === 0).as("flag"))
    ids.select(Seq(col("id")) ++ ints ++ longs ++ doubles ++ strings ++ others: _*)
  }

  lazy val left: DataFrame = values(spark.range(0, rows).toDF())

  /** Deleted rows dropped, changed rows edited in two columns, inserts appended. */
  lazy val right: DataFrame = {
    val kept = values(spark.range(0, rows).toDF()).withColumn("__changed", changed).filter(!deleted)
      .withColumn("l0", when(col("__changed"), col("l0") + 1).otherwise(col("l0")))
      .withColumn("s0", when(col("__changed"), concat(col("s0"), lit("~"))).otherwise(col("s0")))
      .drop("__changed")
    kept.unionByName(values(spark.range(rows, rows + inserts).toDF()))
  }

  /** Planted per-action counts, keyed by the diff's action values. */
  def planted(): Map[String, Long] = {
    val r = spark.range(0, rows).agg(
      sum(when(deleted, 1L).otherwise(0L)), sum(when(changed, 1L).otherwise(0L))).head()
    val (d, c) = (r.getLong(0), r.getLong(1))
    Map("N" -> (rows - d - c), "C" -> c, "D" -> d, "I" -> inserts)
  }

  /** Canonical input size: 4 bytes per int and date, 8 per long, double,
    * decimal and timestamp, 1 per boolean, UTF-8 length per string. */
  def bytes(df: DataFrame): Long = {
    val fixed = 8L + 4 * 4 + 4 * 8 + 4 * 8 + 4 + 8 + 8 + 1
    val stringBytes = (0 until 4).map(j => coalesce(octet_length(col(s"s$j")), lit(0))).reduce(_ + _)
    val r = df.agg(count(lit(1)), coalesce(sum(stringBytes), lit(0L))).head()
    r.getLong(0) * fixed + r.getLong(1)
  }
}
