package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run reports. `metrics` are the contract metrics of the
  * run (end-to-end or per-layer); `named` are the workload's own end-to-end
  * names, printed as detail lines.
  */
final class Result {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val named = mutable.LinkedHashMap.empty[String, (Double, String, String)] // value, unit, note

  def check(what: String)(ok: Boolean): Boolean = {
    if (!ok) failures += what
    ok
  }

  /** One operation: it fails when `body` throws or any of its checks fail. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    val before = failures.size
    val out =
      try Some(body)
      catch { case e: Throwable => failures += s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}"; None }
    if (out.isEmpty || failures.size > before) failed += 1
    out
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile, in steps of 5, with at least ten samples
    * beyond it; never below the median.
    */
  def tailPct(n: Int): Double = math.max(50.0, math.floor((1 - 10.0 / n) * 20) * 5)

  /** (percentile, value) of the tail of `xs`. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = tailPct(xs.size)
    (p, quantile(xs, p / 100))
  }
}

object Main {
  val Cores: Int = Runtime.getRuntime.availableProcessors()

  /** The session exactly as the repo's Bench builds it: local[cores], shuffle
    * partitions = cores, UTC, and the raised ObjectHashAggregate fallback
    * threshold (without it the top-k aggregate falls back to sort and runs
    * several times slower).
    */
  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.functions.TopKAgg.FallbackConfKey, graft.functions.TopKAgg.FallbackThreshold.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** A directory of the read-only test tables, e.g. `sf0.1`. */
  def testdata(sf: String): String = {
    val d = Paths.get(sys.props("perfbench.testdata"), sf)
    require(Files.isDirectory(d), s"no $sf tables at $d")
    d.toString
  }

  /** Run `body`, printing how long it took (set-up phases). */
  def phase[T](label: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally println(f"phase $label%s ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }

  /** Seconds since the python launcher started (the process start). */
  def sinceStart(): Double = (System.currentTimeMillis() * 1000000L - sys.props("perfbench.t0ns").toLong) / 1e9

  def deleteRec(p: Path): Unit = if (Files.exists(p)) {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_)) finally s.close()
  }

  /** Persisted or checkpointed RDDs still holding blocks. */
  def resident(spark: SparkSession): Int = spark.sparkContext.getPersistentRDDs.values
    .count(_.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)

  /** Clear caches and let the asynchronous ContextCleaner release what the
    * previous sample left, down to `base` resident RDDs, as Bench does
    * between samples: at most three rounds of gc and a short sleep.
    */
  def settle(spark: SparkSession, base: Int = 0): Unit = {
    spark.catalog.clearCache()
    System.gc()
    var rounds = 0
    while (rounds < 3 && resident(spark) > base) {
      Thread.sleep(50)
      System.gc()
      rounds += 1
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (args.contains("--selftest")) { SelfTest.run(); return }
    if (args.headOption.contains("--fingerprint")) { Fingerprint.run(args(1), args(2)); return }
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "20").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val build = Paths.get(sys.props.getOrElse("perfbench.build", ".bench_build"))
    val work = build.resolve(s"work/$workload-$seed-${ProcessHandle.current().pid()}").toAbsolutePath
    Files.createDirectories(work)
    val spark = session(work)
    val sessionReady = sinceStart()
    val tracer = new Tracer(spark, trace)
    val res = new Result
    val wl: Workload = workload match {
      case "fknn_fit_predict" => new FknnWorkload(spark, tracer, seed, work)
      case "declared_suite" => new SuiteWorkload(spark, tracer, seed, work)
      case "crawl_ingest" => new CrawlWorkload(spark, tracer, seed, work)
      case other => sys.error(s"unknown workload $other")
    }
    try {
      val setup = wl.setup(res)
      res.named("setup_s") = (sessionReady + setup, "s", f"session ${sessionReady}%.3f s + median set-up ${setup}%.3f s")
      wl.measure(res, seconds)
      tracer.close()
      val layers = wl.report(res, trace)
      if (trace) {
        Layers.fill(res, layers)
        val out = build.resolve(s"traces/$workload-seed$seed.jsonl").toAbsolutePath
        tracer.dump(out)
        println(s"spans: ${tracer.spans.size} written to $out")
      }
    } finally {
      spark.stop()
      deleteRec(work)
    }
    res.named("failed_frac") = (res.failed.toDouble / math.max(1L, res.attempted), "ratio", "")
    res.named("peak_block_mb") = (tracer.peakBytes / 1e6, "MB", "")
    if (!trace) res.metrics("setup_s") = (res.named("setup_s")._1, "s")
    res.failures.take(20).foreach(f => println(s"FAILED $f"))
    res.named.foreach { case (k, (v, u, note)) =>
      println(f"metric $workload%s $k%s = $v%.6f $u%s" + (if (note.nonEmpty) s"  ($note)" else ""))
    }
    val ms = res.metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${res.failed == 0}, "attempted": ${res.attempted}, "failed": ${res.failed}, "metrics": {$ms}}""")
  }
}

/** One benchmark workload: set up its inputs, run its closed loop for the
  * given time, then report.
  */
trait Workload {
  /** Generate inputs and build standing state; returns the median set-up
    * seconds of the repeated part (input generation, bootstrap).
    */
  def setup(res: Result): Double
  def measure(res: Result, seconds: Double): Unit
  /** Names the workload's own end-to-end metrics in `res`; sets the contract
    * end-to-end metrics when untraced, and returns the per-layer metrics when
    * traced.
    */
  def report(res: Result, traced: Boolean): mutable.Map[String, Double]
}
