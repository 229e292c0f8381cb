package graftbench

import graft.engine.Encoder
import graft.gen.DataGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The generated (repo, path, commit, lang, content) table that
  * bulk_encode and store_read run on, and the encode configuration both
  * use. Its contents are a pure function of the seed and the row count. */
object SourceTable {
  val Cols: Seq[String] = Seq("repo", "path", "commit", "lang", "content")
  val SortKeys: Seq[String] = Seq("repo", "path", "commit")
  val Parts = 4

  def encodeConfig: Encoder.EncodeConfig = Encoder.EncodeConfig(numPartitions = Parts)

  /** writes the table for `seed` under `dir` and returns its path */
  def generate(spark: SparkSession, seed: Long, rows: Long, dir: String): String = {
    val path = s"$dir/input.parquet"
    DataGen.table(spark, DataGen.GenConfig(rows = rows, seed = seed, parts = Parts))
      .write.mode("overwrite").parquet(path)
    path
  }

  /** row count and UTF-8 value bytes per column, as BlockCodec counts them */
  final case class Totals(rows: Long, rawBytes: Map[String, Long]) {
    def raw: Long = rawBytes.values.sum
  }

  def totals(df: DataFrame, cols: Seq[String]): Totals = {
    val r = df.agg(count(lit(1)), cols.map(c => coalesce(sum(octet_length(col(c))), lit(0L))): _*)
      .head()
    Totals(r.getLong(0), cols.zipWithIndex.map { case (c, i) => c -> r.getLong(i + 1) }.toMap)
  }
}

/** Order-independent digest of a frame's rows: the count plus four 64-bit
  * lane sums of each row's sha256 over its (null flag, length, bytes)
  * cells. Equal digests mean equal sha256 multisets, up to sum collisions.
  * Computed inside the consuming job, so checking a scan costs no second
  * read. */
final case class Digest(rows: Long, a: Long, b: Long, c: Long, d: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, a + o.a, b + o.b, c + o.c, d + o.d)
}

object Digest {
  def of(df: DataFrame): Digest = {
    val n = df.schema.length
    df.queryExecution.toRdd.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val len = new Array[Byte](4)
      var (rows, a, b, c, d) = (0L, 0L, 0L, 0L, 0L)
      while (it.hasNext) {
        val r = it.next()
        var i = 0
        while (i < n) {
          if (r.isNullAt(i)) md.update(0.toByte)
          else {
            val v = r.getUTF8String(i).getBytes
            md.update(1.toByte)
            len(0) = (v.length >>> 24).toByte; len(1) = (v.length >>> 16).toByte
            len(2) = (v.length >>> 8).toByte; len(3) = v.length.toByte
            md.update(len)
            md.update(v)
          }
          i += 1
        }
        val h = java.nio.ByteBuffer.wrap(md.digest())
        a += h.getLong(0); b += h.getLong(8); c += h.getLong(16); d += h.getLong(24)
        rows += 1
      }
      Iterator.single(Digest(rows, a, b, c, d))
    }.fold(Digest(0, 0, 0, 0, 0))(_ + _)
  }

  def sha256Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map(x => f"$x%02x").mkString
}
