package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run hands back: operation counts, the metrics by
  * name with their units, spans (traced runs), and run facts.
  */
final class Result {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val info = mutable.LinkedHashMap[String, Any]()
  val spans = mutable.ArrayBuffer[Span]()

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Count `n` failed operations, keeping the first few reasons. */
  def fail(n: Long, why: String): Unit = {
    failed += n
    if (errors.size < 20) errors += why
  }
}

/** Everything a workload needs from the command line and the session. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    traced: Boolean, work: String, cache: String, cores: Int, rec: Recorder,
    jvmStartMs: Double) {
  /** Set-up ends here: everything before the first timed operation. */
  def setupDone(res: Result): Unit = {
    res.put("setup_s", (Clock.ms - jvmStartMs) / 1000, "s")
    Main.log("set-up done")
  }
}

/** Benchmark entry point inside the JVM:
  * `perfbench.Main --workload <serve|operators|prepare> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> --cache <dir> --out <result.json>`.
  * It writes one JSON result file; `perfbench/run.py` launches it and
  * prints the final result line. `prepare` builds the seed-independent
  * corpus and stores into the cache dir, in a process of its own, so that
  * no timed run builds them.
  */
object Main {

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Linear-interpolated percentile `q` in [0, 1]; NaN when empty. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The single-threaded fold `graft.Bench` times as its ambient-noise
    * sentinel (xorshift64*, 150M steps); a slow reading means the host
    * was busy.
    */
  @volatile private var sink = 0L
  def sentinelMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var acc = 0L
    var i = 0
    while (i < 150000000) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      acc += x * 0x2545f4914f6cdd1dL
      i += 1
    }
    sink = acc
    (System.nanoTime() - t0) / 1e6
  }

  /** Progress line on stderr, seconds since JVM start. */
  def log(msg: String): Unit = {
    val t = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    System.err.println(f"[perfbench $t%7.1fs] $msg")
  }

  private def loadavg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val loadBefore = loadavg()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.builder(
      master = s"local[$cores]", shufflePartitions = cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val traced = a("trace") == "1"
    val ctx = Ctx(spark, a("seed").toLong, a("seconds").toDouble, traced, a("work"),
      a("cache"), cores, new Recorder(spark, full = traced), jvmStart)
    val res = new Result
    try a("workload") match {
      case "prepare" => Serve.stores(spark, ctx.cache, prepare = true)
      case "serve" => Serve.run(ctx, res)
      case "operators" => Operators.run(ctx, res)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        res.fail(math.max(res.attempted - res.failed, 1L), s"run aborted: $e")
        res.attempted = math.max(res.attempted, 1L)
        e.printStackTrace()
    }
    if (traced) Trace.write(s"${ctx.work}/spans.jsonl", res.spans.toSeq)
    res.info("sentinel_ms") = sentinelMs()
    res.info("nproc") = cores
    res.info("master") = spark.sparkContext.master
    res.info("default_parallelism") = spark.sparkContext.defaultParallelism
    res.info("loadavg_before") = loadBefore
    res.info("loadavg_after") = loadavg()
    res.info("errors") = res.errors.toSeq
    val json = Json.obj(Seq(
      "attempted" -> res.attempted,
      "failed" -> res.failed,
      "metrics" -> res.metrics.toSeq.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap,
      "info" -> res.info.toMap))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), json)
    spark.stop()
    // the HTTP servers' worker pools are not daemon threads
    sys.exit(0)
  }
}
