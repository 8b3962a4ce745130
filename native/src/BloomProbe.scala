package crawlspark.nativejvm

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.udf

/** JVM-native Bloom membership probe for the URL-seen prefilter (C4).
  *
  * The Python/Arrow probe (operators/seen.py) pays a serialization
  * round-trip per batch; this keeps the per-URL hot path entirely in
  * the JVM: bitsets are collected once per cycle, broadcast, and
  * probed by a registered UDF with the exact double-hashing scheme of
  * the numpy implementation (m = fmix64(hash); h1 = low 32 bits of m;
  * h2 = high 32 bits | 1; pos_i = (h1 + i*h2) mod nbits, unsigned).
  * Java long arithmetic wraps identically to numpy uint64 for + and *,
  * and remainderUnsigned supplies the unsigned modulo — bit-equality
  * with the Python probe is property-tested from pytest.
  *
  * Built offline with the scala-compiler jar that ships inside the
  * Spark distribution (tools/build_native.sh); loaded via spark.jars
  * when present, with automatic fallback to the Python paths when not
  * (e.g. in the driver's own session).
  */
object BloomProbe {
  private var last: Broadcast[Map[Int, (Array[Byte], Long, Int)]] = null

  def register(spark: SparkSession, bloom: DataFrame, name: String): Unit = {
    val rows = bloom.select("part", "nbits", "k", "bits").collect()
    val tables: Map[Int, (Array[Byte], Long, Int)] = rows.map { r =>
      r.getInt(0) -> ((r.getAs[Array[Byte]]("bits"), r.getLong(1), r.getInt(2)))
    }.toMap
    val bc = spark.sparkContext.broadcast(tables)
    synchronized {
      if (last != null) { last.destroy(); }
      last = bc
    }
    val fn = (part: Int, hash: Long) => {
      bc.value.get(part) match {
        case None => false
        case Some((bits, nbits, k)) =>
          val m = BloomFold.fmix64(hash)
          val h1 = m & 0xFFFFFFFFL
          val h2 = (m >>> 32) | 1L
          var i = 0
          var all = true
          while (i < k && all) {
            val pos = java.lang.Long.remainderUnsigned(h1 + i.toLong * h2, nbits)
            val b = bits((pos >>> 3).toInt)
            all = ((b >> (pos & 7L).toInt) & 1) == 1
            i += 1
          }
          all
      }
    }
    spark.udf.register(name, udf(fn))
  }

  /** Destroy the live bitset broadcast (end-of-crawl hygiene). */
  def release(): Unit = synchronized {
    if (last != null) { last.destroy(); last = null }
  }
}
