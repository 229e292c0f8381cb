package graftbench

import org.apache.spark.sql.SparkSession

/** Measurement side of the graft benchmark: one JVM, one Spark session at
  * local[nproc], one workload. It records raw samples only — every op's
  * wall, phase and verdict, the set-up walls, the retained heap and, in a
  * traced run, the per-layer spans and probes — and writes them as one
  * JSON file. `run.py` turns the samples into the reported metrics.
  *
  * Usage: Main --workload <bulk_encode|store_read|driver_queries>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --testdata <dir>
  *   --out <file> [--corrupt 1]
  */
object Main {

  final case class Args(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      work: String,
      testdata: String,
      out: String,
      corrupt: Boolean)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("work"), m("testdata"), m("out"),
      m.getOrElse("corrupt", "0") == "1")
  }

  def session(work: String): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spark = session(args.work)
    val rec = new Recorder(spark, args.trace)
    try {
      args.workload match {
        case "bulk_encode" => new BulkEncode(spark, args, rec).run()
        case "store_read" => new StoreRead(spark, args, rec).run()
        case "driver_queries" => new DriverQueries(spark, args, rec).run()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      rec.writeJson(args.out)
    } finally {
      rec.close()
      spark.stop()
    }
  }
}

/** Closed-loop timing of a workload's ops. An op is timed from its call
  * to its output in hand; its check runs after the clock stops. A failed
  * op — an exception or a wrong output — is recorded without a wall, so
  * a failure can never read as a fast op.
  */
final class Recorder(spark: SparkSession, traceEnabled: Boolean) {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val root = mapper.createObjectNode()
  private val ops = root.putArray("ops")
  private val setup = root.putArray("setup_s")
  private val info = root.putObject("info")
  val tracer = new Tracer(spark, traceEnabled)

  var attempted = 0
  var failed = 0

  /** Runs one op. `phase` is warmup, timed, untraced or traced; `round`
    * groups the ops of one pass. Returns true when the output checked. */
  def op[A](phase: String, kind: String, round: Int, bytes: Long = 0L)(
      exec: => A)(check: A => Option[String]): Boolean = {
    attempted += 1
    val c0 = Recorder.processCpuNs()
    val t0 = System.nanoTime()
    val out: Either[Throwable, A] =
      try Right(exec) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val cpuMs = (Recorder.processCpuNs() - c0) / 1e6
    val err: Option[String] = out match {
      case Left(e) => Some(Recorder.describe(e))
      case Right(a) =>
        try check(a) catch { case e: Throwable => Some(Recorder.describe(e)) }
    }
    val r = ops.addObject()
    r.put("phase", phase).put("kind", kind).put("round", round).put("bytes", bytes)
    err match {
      case None => r.put("ok", true).put("ms", ms).put("cpu_ms", cpuMs)
      case Some(msg) =>
        failed += 1
        r.put("ok", false).put("err", msg)
        System.err.println(s"[graftbench] $phase $kind FAILED: $msg")
    }
    err.isEmpty
  }

  /** One set-up repetition, timed whole. */
  def setupRep[A](body: => A): A = {
    val t0 = System.nanoTime()
    val a = body
    setup.add((System.nanoTime() - t0) / 1e9)
    a
  }

  def put(key: String, v: Double): Unit = { info.put(key, v); () }
  def put(key: String, v: Long): Unit = { info.put(key, v); () }

  /** Heap still in use after a forced full collection: work parked in
    * caches during the timed phase shows up here. Spark's ContextCleaner
    * frees broadcast and shuffle blocks asynchronously once a collection
    * finds them unreachable, so collections repeat with pauses between
    * them and the lowest reading counts. */
  def recordRetainedHeap(): Unit = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    val readings = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      mx.getHeapMemoryUsage.getUsed / 1e6
    }
    put("retained_heap_mb", readings.min)
  }

  def writeJson(path: String): Unit = {
    root.put("attempted", attempted).put("failed", failed)
    root.set[com.fasterxml.jackson.databind.JsonNode]("trace", tracer.toJson(mapper))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      mapper.writeValueAsString(root))
    ()
  }

  def close(): Unit = tracer.close()
}

object Recorder {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM, all threads. A hypervisor's steal time is
    * not charged to it, unlike the wall. */
  def processCpuNs(): Long = os.getProcessCpuTime

  def describe(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ")
    s"${e.getClass.getSimpleName}: ${msg.take(400)}"
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

/** Run-scoped helpers shared by the workloads. */
object Util {
  def rmTree(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(rmTree)
    f.delete(); ()
  }

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** The closed loop: rounds run until `seconds` have passed and `done`
    * holds (a workload's minimum sample count). */
  def loop(seconds: Double)(done: Int => Boolean)(round: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var r = 0
    while (r == 0 || (System.nanoTime() - t0) / 1e9 < seconds || !done(r)) {
      round(r)
      r += 1
    }
    r
  }

  /** The traced run times every op twice — plain and traced — and flips
    * the order each round so warm-up favours neither side. */
  def pairOrder(round: Int): Seq[Boolean] =
    if (round % 2 == 0) Seq(false, true) else Seq(true, false)

  def shuffled[A](xs: Seq[A], rng: java.util.SplittableRandom): Seq[A] =
    new scala.util.Random(rng.nextLong()).shuffle(xs)
}
