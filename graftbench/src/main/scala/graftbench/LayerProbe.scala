package graftbench

import graft.codec.Fsst
import graft.engine.BlockCodec
import graft.model.{CodecId, EncodedBlock, WrapId}
import graft.plan.CodecSelector
import graft.stats.BlockStats
import org.apache.spark.sql.{Encoders, SparkSession}

import scala.collection.mutable

/** Pure-JVM probes of graft.codec, graft.stats and graft.plan over the
  * blocks a workload actually produced. Each (partition, column) group is
  * replayed the way Encoder's partition encoder does it: stats and codec
  * plan from the first block, one FSST table trained on it, then
  * encodeBlock for every block. Decode speed comes from decodeBlock on the
  * stored blocks; ratios and codec counts are exact properties of those
  * blocks. Single-threaded kernel speeds, best of `reps` sweeps.
  */
object LayerProbe {

  def readStore(spark: SparkSession, store: String): Array[EncodedBlock] =
    spark.read.parquet(s"$store/blocks").as(Encoders.product[EncodedBlock]).collect()

  /** container length of a block the wrap did not shrink (the bytes after
    * the membership-filter header); zstd was attempted iff it is at least
    * BlockCodec.WrapAttemptMinBytes */
  private def unwrappedLen(b: EncodedBlock): Int = {
    val r = new graft.codec.ByteReader(b.data)
    val flen = r.readVarInt()
    b.data.length - r.position - flen
  }

  def run(tracer: Tracer, blocks: Array[EncodedBlock], reps: Int = 3): Unit = {
    val groups = blocks.groupBy(b => (b.partId, b.colName)).values
      .map(_.sortBy(_.blockIdx)).toSeq
    val decoded: Map[EncodedBlock, Array[Array[Byte]]] =
      blocks.map(b => b -> BlockCodec.decodeBlock(b)).toMap

    // exact properties of the stored blocks
    val byCodec = blocks.groupBy(b => CodecId.name(b.codecId))
    byCodec.foreach { case (c, bs) =>
      tracer.value(s"plan.blocks.$c", bs.length.toDouble, "count")
      tracer.value(s"codec.$c.ratio",
        bs.map(_.rawBytes).sum.toDouble / math.max(1L, bs.map(_.encodedBytes).sum), "x")
    }
    tracer.value("codec.ratio",
      blocks.map(_.rawBytes).sum.toDouble / math.max(1L, blocks.map(_.encodedBytes).sum), "x")
    val kept = blocks.count(_.wrapId == WrapId.Zstd)
    val attempted = blocks.count(b =>
      b.wrapId == WrapId.Zstd || unwrappedLen(b) >= BlockCodec.WrapAttemptMinBytes)
    tracer.value("codec.zstd_kept_frac", kept.toDouble / math.max(1, attempted), "fraction")

    val encS = mutable.Map.empty[String, Seq[Double]].withDefaultValue(Nil)
    val decS = mutable.Map.empty[String, Seq[Double]].withDefaultValue(Nil)
    val statsS, selectUs, trainMs = mutable.ArrayBuffer.empty[Double]
    for (_ <- 1 to reps) {
      val enc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val dec = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      var stats = 0.0
      var selNs = 0.0
      var selCalls = 0
      var train = 0.0
      groups.foreach { g =>
        val first = g.head
        val v0 = decoded(first)
        val st = BlockStats.compute(first.colName, first.partId, v0)
        val s0 = System.nanoTime()
        var plan = CodecSelector.select(st)
        var k = 1
        while (k < 100) { plan = CodecSelector.select(st); k += 1 }
        selNs += System.nanoTime() - s0
        selCalls += 100
        val table =
          if (plan eq Fsst) {
            val t0 = System.nanoTime()
            val t = new Fsst.Table(Fsst.train(v0.filter(_ != null)))
            train += (System.nanoTime() - t0) / 1e6
            t
          } else null
        g.foreach { b =>
          val vals = decoded(b)
          val c = CodecId.name(b.codecId)
          val t0 = System.nanoTime()
          BlockStats.compute(b.colName, b.partId, vals)
          val t1 = System.nanoTime()
          BlockCodec.encodeBlock(b.colName, b.partId, b.blockIdx, vals, plan, 3, table)
          val t2 = System.nanoTime()
          BlockCodec.decodeBlock(b)
          val t3 = System.nanoTime()
          stats += (t1 - t0) / 1e9
          enc(c) += (t2 - t1) / 1e9
          dec(c) += (t3 - t2) / 1e9
        }
      }
      enc.foreach { case (c, s) => encS(c) = encS(c) :+ s }
      dec.foreach { case (c, s) => decS(c) = decS(c) :+ s }
      statsS += stats
      selectUs += selNs / 1e3 / math.max(1, selCalls)
      trainMs += train
    }
    val raw = byCodec.map { case (c, bs) => c -> bs.map(_.rawBytes).sum.toDouble }
    val totalRaw = raw.values.sum
    def mbps(bytes: Double, s: Double) = bytes / 1e6 / math.max(s, 1e-9)
    raw.foreach { case (c, bytes) =>
      tracer.value(s"codec.$c.encode_mbps", mbps(bytes, encS(c).min), "MB/s")
      tracer.value(s"codec.$c.decode_mbps", mbps(bytes, decS(c).min), "MB/s")
    }
    val bestEnc = (0 until reps).map(i => encS.values.map(_(i)).sum).min
    val bestDec = (0 until reps).map(i => decS.values.map(_(i)).sum).min
    tracer.value("codec.encode_mbps", mbps(totalRaw, bestEnc), "MB/s")
    tracer.value("codec.decode_mbps", mbps(totalRaw, bestDec), "MB/s")
    tracer.value("stats.compute_mbps", mbps(totalRaw, statsS.min), "MB/s")
    tracer.value("plan.select_us", selectUs.min, "us")
    tracer.value("codec.fsst.train_ms", trainMs.min, "ms")
  }

  /** decodeBlock over `blocks` on `threads` threads: raw GB/s */
  def decodeGbps(blocks: Array[EncodedBlock], threads: Int, reps: Int = 3): Double = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val raw = blocks.map(_.rawBytes).sum.toDouble
      (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        blocks.map(b => pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = BlockCodec.decodeBlock(b).length
        })).foreach(_.get())
        raw / ((System.nanoTime() - t0) / 1e9) / 1e9
      }.max
    } finally pool.shutdown()
  }
}
