package crawlspark.nativejvm

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions

/** JVM-native Bloom bitset fold for the URL-seen sidecar (C5).
  *
  * The Python fold (operators/seen.py fold_bloom) cogroups every new
  * hash to its partition's task and ORs bits in numpy — which shuffles
  * all novel hashes AND pays one Arrow round-trip per cycle. This
  * aggregator keeps the fold entirely in the JVM and, crucially, gets
  * Spark's partial aggregation for free: each map task folds its local
  * hashes into per-part bitsets, so the shuffle moves at most
  * (tasks × parts) fixed-size bitsets instead of every novel hash —
  * the 10^9-discoveries-per-cycle design point.
  *
  * Bit layout is identical to the numpy implementation (double
  * hashing: m = BloomFold.fmix64(hash), h1 = low 32 bits of m,
  * h2 = high 32 bits | 1, pos_i = (h1 + i*h2) mod_unsigned nbits);
  * bit-parity is property-tested from pytest.
  */
class BloomFoldAgg(nbits: Long, k: Int)
    extends Aggregator[Long, Array[Byte], Array[Byte]]
    with Serializable {
  def zero: Array[Byte] = new Array[Byte]((nbits / 8L).toInt)

  def reduce(bits: Array[Byte], hash: Long): Array[Byte] = {
    val m = BloomFold.fmix64(hash)
    val h1 = m & 0xFFFFFFFFL
    val h2 = (m >>> 32) | 1L
    var i = 0
    while (i < k) {
      val pos = java.lang.Long.remainderUnsigned(h1 + i.toLong * h2, nbits)
      val bi = (pos >>> 3).toInt
      bits(bi) = (bits(bi) | (1 << (pos & 7L).toInt)).toByte
      i += 1
    }
    bits
  }

  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
    a
  }

  def finish(r: Array[Byte]): Array[Byte] = r
  def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

object BloomFold {

  /** MurmurHash3's 64-bit finalizer: every input bit reaches both
    * 32-bit halves, so keys sharing `hash mod P` (one seen part) still
    * get independent h1/h2 (operators/seen.py `_bit_positions`). */
  def fmix64(x: Long): Long = {
    var h = x
    h = (h ^ (h >>> 33)) * 0xFF51AFD7ED558CCDL
    h = (h ^ (h >>> 33)) * 0xC4CEB9FE1A85EC53L
    h ^ (h >>> 33)
  }

  /** Register `name` (the per-group hash→bitset UDAF) and `name_or`
    * (null-tolerant bitwise OR of two bitsets, for merging with the
    * previous cycle's sidecar row). Re-registering with different
    * nbits/k simply rebinds the names. */
  def register(spark: SparkSession, name: String, nbits: Long, k: Int): Unit = {
    spark.udf.register(name, functions.udaf(new BloomFoldAgg(nbits, k), Encoders.scalaLong))
    val orFn = (a: Array[Byte], b: Array[Byte]) => {
      if (a == null) b
      else if (b == null) a
      else {
        val out = new Array[Byte](a.length)
        var i = 0
        while (i < a.length) { out(i) = (a(i) | b(i)).toByte; i += 1 }
        out
      }
    }
    spark.udf.register(name + "_or", functions.udf(orFn))
  }
}
