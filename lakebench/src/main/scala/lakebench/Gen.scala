package lakebench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of (seed, index),
  * so the same seed gives the same tables in the benchmark's own model and
  * in the rows the executors write for the engine. */
object Gen {

  /** SplitMix64 finalizer: a well-mixed 64-bit hash of (seed, index, lane). */
  def mix(seed: Long, i: Long, lane: Int = 0): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + lane * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform draw in [0, n). */
  def below(seed: Long, i: Long, lane: Int, n: Long): Long =
    java.lang.Long.remainderUnsigned(mix(seed, i, lane), n)

  // ------------------------------------------------------------- lineitem

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_partkey", LongType, nullable = false),
    StructField("l_suppkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_quantity", DoubleType, nullable = false),
    StructField("l_extendedprice", DoubleType, nullable = false),
    StructField("l_discount", DoubleType, nullable = false),
    StructField("l_tax", DoubleType, nullable = false),
    StructField("l_returnflag", StringType, nullable = false),
    StructField("l_linestatus", StringType, nullable = false),
    StructField("l_shipdate", TimestampType, nullable = false)))

  val LinesPerOrder = 4
  /** Ship dates span 1992-01-02 plus this many days (about seven years). */
  val ShipDays = 2526
  val ShipEpochDay: Long = java.time.LocalDate.of(1992, 1, 2).toEpochDay

  /** The fields the benchmark's model needs; the rest are derived in [[row]]. */
  final case class Line(orderkey: Long, quantity: Int, discountPct: Int, shipDay: Int)

  def line(seed: Long, i: Long): Line = Line(
    orderkey = i / LinesPerOrder + 1,
    quantity = 1 + below(seed, i, 1, 50).toInt,
    discountPct = below(seed, i, 2, 11).toInt,
    shipDay = below(seed, i, 3, ShipDays).toInt)

  def row(seed: Long, i: Long): Row = {
    val l = line(seed, i)
    val partkey = 1 + below(seed, i, 4, 20000)
    val flag = "ANR".charAt(below(seed, i, 5, 3).toInt).toString
    val day = ShipEpochDay + l.shipDay
    Row(l.orderkey, partkey, 1 + below(seed, i, 6, 1000), (i % LinesPerOrder).toInt + 1,
      l.quantity.toDouble, l.quantity * (900.0 + partkey % 1000) / 10.0,
      l.discountPct / 100.0, below(seed, i, 7, 9) / 100.0, flag,
      if (day > ShipEpochDay + 1200) "O" else "F",
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(day * 86400L)))
  }

  // ------------------------------------------------------------ documents

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  private val vocab: Array[String] = ("batch part spark line column order small sort " +
    "fast value scan a hash slow group agg filter query big key window row table " +
    "stream merge data join the vector customer index shard commit snapshot file " +
    "manifest delete read write plan cache page block tree node edge graph model " +
    "token text word").split(" ")

  /** Document `i`: about 5% exact copies and 10% light edits (one to three
    * word substitutions) of an earlier document, the rest fresh text of
    * 10 to 100 words. */
  def document(seed: Long, i: Long): String = {
    val kind = below(seed, i, 10, 100)
    if (i >= 10 && kind < 15) {
      val src = below(seed, i, 11, i)
      val base = document(seed, src)
      if (kind < 5) base
      else {
        val words = base.split(" ")
        val edits = 1 + below(seed, i, 12, 3).toInt
        (0 until edits).foreach { e =>
          val pos = below(seed, i, 20 + e, words.length).toInt
          words(pos) = vocab(below(seed, i, 30 + e, vocab.length).toInt)
        }
        words.mkString(" ")
      }
    } else {
      val n = 10 + below(seed, i, 13, 91).toInt
      (0 until n).map(w => vocab(below(seed, i * 128 + w, 14, vocab.length).toInt))
        .mkString(" ")
    }
  }

  // ----------------------------------------------------------- embeddings

  val Dims = 64
  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("label", IntegerType, nullable = false)))

  private def gauss(seed: Long, i: Long, lane: Int): Double = {
    val u1 = (below(seed, i, lane, 1L << 30) + 1).toDouble / ((1L << 30) + 1)
    val u2 = below(seed, i, lane + 1, 1L << 30).toDouble / (1L << 30)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** Vector `i`: one of 20 seeded cluster centres plus Gaussian noise. */
  def embedding(seed: Long, i: Long): (Array[Float], Int) = {
    val label = below(seed, i, 40, 20).toInt
    val v = Array.tabulate(Dims) { d =>
      (gauss(seed, -1L - label, 100 + 2 * d) + 0.6 * gauss(seed, i, 300 + 2 * d)).toFloat
    }
    (v, label)
  }
}
