package graftbench

import graft.engine.{BlockCodec, Checkpoint}
import graft.datasource.GraftPruning
import graft.model.EncodedBlock
import graftbench.SourceTable.Totals
import graft.verify.SizeBar
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** store_read: one store is committed during set-up (three times, median
  * reported; the expected outputs are prepared once after); the timed loop then
  * interleaves, in an order drawn from the seed, full 5-column scans,
  * content-only scans, metadata-only scans (count(*) and min/max pushdown)
  * and point lookups through spark.read.format("graft"). No encoding.
  *
  * Checks: a scan's sha256 multiset must equal the input's over the same
  * columns; a metadata scan must return the input's count / extremes; a
  * lookup must return exactly the rows plain Spark finds in the parquet
  * input (precomputed in set-up).
  */
final class StoreRead(spark: SparkSession, args: Main.Args, rec: Recorder) {
  import SourceTable._
  import StoreRead._

  private val base = s"${args.work}/store_read"
  private val tracer = rec.tracer
  private val threads = Runtime.getRuntime.availableProcessors()

  /** lookups drawn per round, by kind; a round also holds one full scan,
    * one content scan and one metadata scan */
  private val LookupMix = Seq("path_eq" -> 5, "path_absent" -> 2, "commit_eq" -> 4,
    "commit_absent" -> 2, "path_in8" -> 4, "repo_prefix" -> 3)
  private val MinLookups = 200

  private def tupleKey(r: Row): String =
    Seq(r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4))
      .mkString("\u0001")

  /** the timed set-up: generate the table and commit the store */
  private def setUp(dir: String): (String, String, Checkpoint.EncodeResult) = {
    val in = generate(spark, args.seed, Rows, dir)
    val store = s"$dir/store"
    val res = Checkpoint.encodeResumable(spark.read.parquet(in), Cols, SortKeys,
      encodeConfig, store, s"graftbench-read-${args.seed}")
    (in, store, res)
  }

  /** the expected outputs, prepared once from the last set-up's input */
  private def expectations(in: String, store: String, res: Checkpoint.EncodeResult): Setup = {
    val df = spark.read.parquet(in)
    val tot = totals(df, Cols)
    require(res.rowCount == tot.rows && res.rawBytes == tot.raw,
      s"store commit does not match its input: $res vs $tot")
    val ext = df.agg(min("path"), max("path")).head()
    Setup(store, tot, SizeBar.dirBytes(spark, store),
      Digest.of(df.select(Cols.map(col): _*)), Digest.of(df.select("content")),
      ext.getString(0), ext.getString(1), lookupsFor(df))
  }

  /** The lookup pool, drawn from the input by the seed, with each
    * lookup's expected rows found by plain Spark on the parquet input. */
  private def lookupsFor(df: DataFrame): Map[String, IndexedSeq[Lookup]] = {
    val rng = new java.util.SplittableRandom(args.seed * 31 + 7)
    val keys = df.select("path", "commit", "repo").collect()
    def pick(): Row = keys(rng.nextInt(keys.length))
    val commits = keys.iterator.map(_.getString(1)).toSet
    def absentPath(): String = pick().getString(0).replaceFirst("_(\\d+)\\.", s"_${Rows + rng.nextInt(1 << 20)}.")
    def absentCommit(): String = {
      var c = ""
      do c = (1 to 5).map(_ => f"${rng.nextLong()}%016x").mkString.take(40) while (commits(c))
      c
    }
    // rare repos only: a prefix lookup should return tens of rows, not a
    // head repo's fifth of the table
    val rare = keys.map(_.getString(2)).groupBy(identity).toSeq
      .filter { case (r, rows) => rows.length < Rows / 200 && r.matches("org\\d+/repo\\d\\d") }
      .map(_._1).sorted
    val perKind = 8
    val specs: Seq[(String, String, Seq[String])] = (1 to perKind).flatMap { _ =>
      Seq(("path_eq", "path", Seq(pick().getString(0))),
        ("path_absent", "path", Seq(absentPath())),
        ("commit_eq", "commit", Seq(pick().getString(1))),
        ("commit_absent", "commit", Seq(absentCommit())),
        ("path_in8", "path", (1 to 6).map(_ => pick().getString(0)) ++ Seq(absentPath(), absentPath())),
        ("repo_prefix", "repo", Seq(rare(rng.nextInt(rare.length)))))
    }
    def filterOf(kind: String, c: String, ks: Seq[String]): Column = kind match {
      case "path_in8" => col(c).isin(ks: _*)
      case "repo_prefix" => col(c).startsWith(ks.head)
      case _ => col(c) === ks.head
    }
    val any = specs.map { case (k, c, ks) => filterOf(k, c, ks) }.reduce(_ || _)
    val hits = df.where(any)
      .select(col("repo"), col("path"), col("commit"), col("lang"), sha2(col("content"), 256))
      .collect()
    def matches(kind: String, c: String, ks: Seq[String], r: Row): Boolean = {
      val v = r.getString(Cols.indexOf(c))
      if (kind == "repo_prefix") v.startsWith(ks.head) else ks.contains(v)
    }
    specs.map { case (k, c, ks) =>
      Lookup(k, filterOf(k, c, ks), c, ks,
        hits.filter(matches(k, c, ks, _)).map(tupleKey).sorted.toSeq)
    }.groupBy(_.kind).map { case (k, v) => k -> v.toIndexedSeq }
  }

  /** Copy of `store` with one byte flipped in the middle of a content
    * block's payload: the negative check that the scan and lookup gates
    * catch a corrupt store. */
  private def corruptCopy(store: String, dst: String): String = {
    val src = java.nio.file.Paths.get(store)
    java.nio.file.Files.walk(src).forEach { p =>
      val t = java.nio.file.Paths.get(dst).resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }
    val partDir = new java.io.File(s"$dst/blocks").listFiles()
      .filter(_.getName.startsWith("partId=")).minBy(_.getName)
    val file = partDir.listFiles().filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val flip = udf { (data: Array[Byte]) =>
      val d = data.clone(); val i = d.length / 2; d(i) = (d(i) ^ 0x5a).toByte; d
    }
    val blocks = spark.read.parquet(file.getPath)
    val target = blocks.where(col("colName") === "content")
      .agg(min("blockIdx")).head().getInt(0)
    val tmp = s"$dst/corrupt-tmp"
    // rewrite under the writer's own schema (required primitives): only the
    // flipped byte may differ from the committed file
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.Encoders.product[EncodedBlock].schema.filterNot(_.name == "partId"))
    val flipped = blocks.withColumn("data",
        when(col("colName") === "content" && col("blockIdx") === target, flip(col("data")))
          .otherwise(col("data")))
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    spark.createDataFrame(flipped.rdd, schema)
      .coalesce(1).sortWithinPartitions("blockIdx", "colName")
      .write.parquet(tmp)
    val written = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    file.delete()
    new java.io.File(partDir, s".${file.getName}.crc").delete()
    java.nio.file.Files.move(written.toPath, new java.io.File(partDir, file.getName).toPath)
    Util.rmTree(new java.io.File(tmp))
    dst
  }

  def run(): Unit = {
    val setups = (1 to 3).map { r =>
      val dir = s"$base/setup$r"
      Util.rmTree(new java.io.File(dir))
      rec.setupRep(setUp(dir))
    }
    (1 until setups.length).foreach(r => Util.rmTree(new java.io.File(s"$base/setup$r")))
    val s = (expectations _).tupled(setups.last)
    rec.put("rows", s.tot.rows)
    rec.put("raw_bytes", s.tot.raw)
    rec.put("store_bytes", s.storeBytes)
    val store = if (args.corrupt) corruptCopy(s.store, s"$base/store-corrupt") else s.store
    val rawFull = s.tot.raw
    val rawContent = s.tot.rawBytes("content")
    // one handle on the store, as a user holding a DataFrame would; each op
    // still plans and runs its own scan
    val table = spark.read.format("graft").load(store)
    val rng = new java.util.SplittableRandom(args.seed)

    def scan(phase: String, round: Int, kind: String, cols: Seq[String], raw: Long,
        want: Digest): Unit =
      rec.op(phase, kind, round, raw) {
        tracer.span(s"scan.${kind.stripPrefix("scan_")}_s")(Digest.of(table.select(cols.map(col): _*)))
      } { d => if (d == want) None else Some(s"sha256 multiset differs: $d vs $want") }

    def meta(phase: String, round: Int): Unit =
      if (round % 2 == 0)
        rec.op(phase, "scan_meta", round) {
          tracer.span("scan.meta_s")(table.count())
        } { n => if (n == s.tot.rows) None else Some(s"count $n != ${s.tot.rows}") }
      else
        rec.op(phase, "scan_meta", round) {
          tracer.span("scan.meta_s")(table.agg(min("path"), max("path")).head())
        } { r =>
          if (r.getString(0) == s.pathMin && r.getString(1) == s.pathMax) None
          else Some(s"min/max path $r != (${s.pathMin}, ${s.pathMax})")
        }

    var rowsReturned = 0L
    def lookup(phase: String, round: Int, l: Lookup): Unit =
      rec.op(phase, s"lookup_${l.kind}", round) {
        val df = table.where(l.filter).select(Cols.map(col): _*)
        tracer.span("lookup.plan_s")(df.queryExecution.executedPlan)
        tracer.span("lookup.exec_s")(df.collect())
      } { rows =>
        if (phase == "traced") rowsReturned += rows.length
        val got = rows.map(r => tupleKey(Row(r.getString(0), r.getString(1), r.getString(2),
          r.getString(3), Digest.sha256Hex(r.getString(4).getBytes("UTF-8"))))).sorted.toSeq
        if (got == l.expected) None
        else Some(s"${l.kind} ${l.keys.mkString(",")}: ${got.length} rows, expected ${l.expected.length}")
      }

    /** one round: the scans and this round's lookups, in seeded order */
    def roundOps(round: Int): Seq[String => Unit] = {
      val ls = LookupMix.flatMap { case (k, n) =>
        val pool = s.lookups(k)
        (1 to n).map(_ => pool(rng.nextInt(pool.length)))
      }
      Util.shuffled(
        Seq[String => Unit](
          ph => scan(ph, round, "scan_full", Cols, rawFull, s.full),
          ph => scan(ph, round, "scan_content", Seq("content"), rawContent, s.content),
          ph => meta(ph, round)) ++
          ls.map(l => (ph: String) => lookup(ph, round, l)),
        rng)
    }
    val perRound = LookupMix.map(_._2).sum
    // a traced run reports medians of spans, not a p95: half the lookups do
    val enough = (r: Int) => r * perRound >= (if (tracer.enabled) MinLookups / 2 else MinLookups)

    roundOps(0).foreach(_("warmup"))
    val start = System.nanoTime()
    if (!tracer.enabled)
      Util.loop(args.seconds)(enough)(r => roundOps(r).foreach(_("timed")))
    else
      Util.loop(args.seconds)(enough) { r =>
        roundOps(r).foreach { o =>
          Util.pairOrder(r).foreach(t => if (t) tracer.traced(o("traced")) else o("untraced"))
        }
      }
    rec.put("timed_phase_s", (System.nanoTime() - start) / 1e9)
    rec.recordRetainedHeap()

    if (tracer.enabled) {
      tracer.value("lookup.rows_returned", rowsReturned.toDouble, "count")
      val blocks = LayerProbe.readStore(spark, store)
      bloomProbe(blocks, s.lookups.values.flatten.toSeq)
      tracer.value("scan.decode_probe_gbps", LayerProbe.decodeGbps(blocks, threads), "GB/s")
      LayerProbe.run(tracer, blocks)
    }
  }

  /** lookup.bloom_pass_frac: of the key-column blocks that survive min/max
    * pruning for an equality or In lookup, the share BlockCodec.mayContain
    * lets through to decode */
  private def bloomProbe(blocks: Array[EncodedBlock], lookups: Seq[Lookup]): Unit = {
    var probed = 0L
    var passed = 0L
    lookups.filter(l => l.kind != "repo_prefix").foreach { l =>
      blocks.iterator.filter(_.colName == l.keyCol).foreach { b =>
        val survivors = l.keys.filter(k => GraftPruning.eqMayMatch(b.minPrefix, b.maxPrefix, k))
        if (survivors.nonEmpty) {
          probed += 1
          if (BlockCodec.mayContainAny(b, survivors.map(_.getBytes("UTF-8")).toArray)) passed += 1
        }
      }
    }
    tracer.value("lookup.bloom_pass_frac", passed.toDouble / math.max(1L, probed), "fraction")
  }
}

object StoreRead {
  /** about 11 MB raw: each run repeats set-up three times and needs 200
    * lookups, so the store is half bulk_encode's table */
  val Rows = 8000L

  /** one lookup: its kind, its filter, and the rows it must return as
    * sorted (repo, path, commit, lang, sha256(content)) tuples */
  final case class Lookup(kind: String, filter: Column, keyCol: String,
      keys: Seq[String], expected: Seq[String])

  final case class Setup(store: String, tot: Totals, storeBytes: Long,
      full: Digest, content: Digest, pathMin: String, pathMax: String,
      lookups: Map[String, IndexedSeq[Lookup]])
}
