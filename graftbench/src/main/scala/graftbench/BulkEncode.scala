package graftbench

import graft.engine.{Checkpoint, Encoder}
import graft.verify.SizeBar
import org.apache.spark.sql.SparkSession

/** bulk_encode: repeated Checkpoint.encodeResumable of the generated table
  * into a fresh store directory — the user's persisted encode. No reads.
  *
  * Set-up (three times, median reported): generate the table. Once, after
  * it, the checks are prepared: the input's row and raw-byte totals and the
  * Parquet-snappy and Avro-deflate size bars. Every encode is checked: its
  * EncodeResult must match the totals, and its on-disk store must not
  * exceed either bar.
  */
final class BulkEncode(spark: SparkSession, args: Main.Args, rec: Recorder) {
  import SourceTable._

  private val base = s"${args.work}/bulk_encode"
  private val tracer = rec.tracer

  def run(): Unit = {
    val inputs = (1 to 3).map { r =>
      val dir = s"$base/setup$r"
      Util.rmTree(new java.io.File(dir))
      rec.setupRep(generate(spark, args.seed, BulkEncode.Rows, dir))
    }
    (1 until inputs.length).foreach(r => Util.rmTree(new java.io.File(s"$base/setup$r")))
    val input = inputs.last
    val df = spark.read.parquet(input)
    val tot = totals(df, Cols)
    val parquetBar = SizeBar.parquetSnappyBytes(df, s"$base/bars")
    val avroBar = SizeBar.avroDeflateBytes(df)
    Util.rmTree(new java.io.File(s"$base/bars"))
    rec.put("rows", tot.rows)
    rec.put("raw_bytes", tot.raw)
    rec.put("parquet_snappy_bytes", parquetBar)
    rec.put("avro_deflate_bytes", avroBar)
    val cfg = encodeConfig
    val fingerprint = s"graftbench-bulk-${args.seed}"
    var storeBytes = -1L

    def encode(phase: String, round: Int): String = {
      val out = s"$base/store-$phase-$round"
      Util.rmTree(new java.io.File(out))
      val ok = rec.op(phase, "encode", round, tot.raw) {
        tracer.span("encode.resumable_s") {
          Checkpoint.encodeResumable(df, Cols, SortKeys, cfg, out, fingerprint)
        }
      } { res =>
        val onDisk = SizeBar.dirBytes(spark, out)
        if (res.rowCount != tot.rows) Some(s"rowCount ${res.rowCount} != ${tot.rows}")
        else if (res.rawBytes != tot.raw) Some(s"rawBytes ${res.rawBytes} != ${tot.raw}")
        else if (res.skippedParts != 0) Some(s"fresh store skipped ${res.skippedParts} parts")
        else if (onDisk > parquetBar || onDisk > avroBar)
          Some(s"store $onDisk bytes exceeds a size bar (parquet-snappy $parquetBar, avro-deflate $avroBar)")
        else { storeBytes = onDisk; None }
      }
      if (ok) out else { Util.rmTree(new java.io.File(out)); null }
    }

    var last: String = null
    def keep(out: String): Unit = {
      if (out != null) {
        if (last != null) Util.rmTree(new java.io.File(last))
        last = out
      }
    }

    (0 until 2).foreach(r => keep(encode("warmup", r)))
    val start = System.nanoTime()
    if (!tracer.enabled)
      Util.loop(args.seconds)(_ >= 5)(r => keep(encode("timed", r)))
    else
      Util.loop(args.seconds)(_ >= 5) { r =>
        Util.pairOrder(r).foreach { traced =>
          keep(if (traced) tracer.traced(encode("traced", r)) else encode("untraced", r))
        }
      }
    rec.put("timed_phase_s", (System.nanoTime() - start) / 1e9)
    rec.recordRetainedHeap()
    rec.put("store_bytes", storeBytes)

    if (tracer.enabled) {
      encodeBreakdown(df, cfg)
      if (last != null) LayerProbe.run(tracer, LayerProbe.readStore(spark, last))
    }
  }

  /** encode.partition_s: partitionInput into a no-op sink;
    * encode.drain_codec_s: encodePartitioned over the cached partitioned
    * frame. The rest of encodeResumable (skew plan, block write, manifest
    * commit, markers) is derived by run.py as encode.write_commit_s. */
  private def encodeBreakdown(df: org.apache.spark.sql.DataFrame, cfg: Encoder.EncodeConfig): Unit = {
    val skew = Some(Encoder.skewPlan(df, SortKeys.head, cfg))
    val part = (1 to 3).map { _ =>
      Util.time(Encoder.partitionInput(df, Cols, SortKeys, cfg, skew)
        .write.format("noop").mode("overwrite").save())._2
    }
    val cached = Encoder.partitionInput(df, Cols, SortKeys, cfg, skew).cache()
    cached.count()
    val drain = (1 to 3).map { _ =>
      Util.time(Encoder.encodePartitioned(cached, Cols, cfg)
        .write.format("noop").mode("overwrite").save())._2
    }
    cached.unpersist(blocking = true)
    tracer.value("encode.partition_s", Recorder.median(part), "s")
    tracer.value("encode.drain_codec_s", Recorder.median(drain), "s")
  }
}

object BulkEncode {
  /** about 22 MB raw: codec, sort and write work outweigh per-job costs,
    * and a run stays within the benchmark's budget */
  val Rows = 16000L
}
