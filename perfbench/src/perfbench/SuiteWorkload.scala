package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** A declared row's expected output: row count and an order-insensitive hash. */
final case class Fp(rows: Long, h1: Long, h2: Long) {
  override def toString: String = s"$rows:$h1:$h2"
}

object Fp {
  def parse(s: String): Fp = { val a = s.split(":"); Fp(a(0).toLong, a(1).toLong, a(2).toLong) }

  /** Consume every output column: each row becomes the JSON of its columns in
    * name order, hashed; the count and two sums of hash halves are the
    * fingerprint.
    */
  def of(df: DataFrame): Fp = {
    val cols = df.columns.sorted.map(c => col("`" + c.replace("`", "``") + "`"))
    val h = xxhash64(to_json(struct(cols: _*)))
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(0xFFFFFFFFL)), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
      .head()
    Fp(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

object Rows {
  val File = "perfbench/rows_sf0.1.tsv"

  /** The module whose `queries` map declares `name`. */
  def moduleOf: Map[String, String] = {
    val maps = Seq(
      "rel.Queries" -> graft.rel.Queries.queries, "rel.TimeSeries" -> graft.rel.TimeSeries.queries,
      "rel.Graph" -> graft.rel.Graph.queries, "llm.TextOps" -> graft.llm.TextOps.queries,
      "llm.Streaming" -> graft.llm.Streaming.queries, "llm.Dedup" -> graft.llm.Dedup.queries,
      "llm.AnnSearch" -> graft.llm.AnnSearch.queries, "llm.TextAnalysis" -> graft.llm.TextAnalysis.queries,
      "llm.Multimodal" -> graft.llm.Multimodal.queries, "llm.Curation" -> graft.llm.Curation.queries)
    SparkEntry.queries.keys.map { n => n -> maps.find(_._2.contains(n)).map(_._1).getOrElse("core") }.toMap
  }

  /** name → (module, cost seconds, fingerprint) as recorded by `Fingerprint`. */
  def load(): Map[String, (String, Double, Fp)] =
    Files.readAllLines(Paths.get(File)).asScala.drop(1).filter(_.nonEmpty).map { l =>
      val a = l.split("\t")
      a(0) -> (a(1), a(2).toDouble, Fp.parse(a(3)))
    }.toMap
}

/** The shipped surface: a cost-stratified sample of the declared rows on the
  * sf0.1 tables, run one at a time in whole passes (the first always
  * completes), each pass in a new seeded order. Set-up runs every row once,
  * untimed, which pays its code generation and builds the shared memos it
  * reads. In a pass a row runs three times back to back and the fastest run
  * counts, as in Bench. The traced run also times the eight cold memo builds.
  */
final class SuiteWorkload(spark: SparkSession, tr: Tracer, seed: Long, work: Path) extends Workload {
  val SampleSize = 8
  val SfDir: String = Main.testdata("sf0.1")

  import SuiteWorkload.{Builds, Runs}

  private var expected: Map[String, (String, Double, Fp)] = _
  private var sample: Seq[Gen.RowInfo] = _
  private val buildS = mutable.LinkedHashMap.empty[String, Double]
  private lazy val modules = Rows.moduleOf
  private val rowS = mutable.ArrayBuffer.empty[Double]
  private val rowTracedS = mutable.ArrayBuffer.empty[Double]
  private val rowWarmS = mutable.ArrayBuffer.empty[Double] // the untraced run after each traced one
  private val passS = mutable.ArrayBuffer.empty[Double]
  // traced run only: a short crawl (one drop, one takedown) so the
  // write-path layers are measured too
  private var crawlLeg: CrawlWorkload = _

  def setup(res: Result): Double = {
    val t0 = System.nanoTime()
    expected = Rows.load()
    val population = expected.toSeq.filter { case (n, _) => SparkEntry.queries.contains(n) }
      .map { case (n, (_, c, _)) => Gen.RowInfo(n, modules(n), c) }
    val draws = (0 until 3).map { _ =>
      val g0 = System.nanoTime()
      val s = Gen.sample(seed, population, SampleSize)
      (s, (System.nanoTime() - g0) / 1e9)
    }
    res.check("row sample is deterministic for the seed")(draws.map(_._1).distinct.size == 1)
    sample = draws.head._1
    println(s"sample: ${sample.map(r => s"${r.module}/${r.name}").mkString(" ")}")
    // untimed, checked warm-up: every row once, which pays its code
    // generation and builds the memos it reads, and warms the process so
    // that the first timed row is not slower for being first
    tr.on = false
    Main.phase("warm-up") {
      sample.foreach(r => runRow(res, r.name, r.module))
    }
    tr.on = tr.traced
    (System.nanoTime() - t0) / 1e9 - draws.map(_._2).sum + Stats.median(draws.map(_._2))
  }

  /** One row, timed from the call to the end of the fingerprint action, and
    * checked against its recorded fingerprint.
    */
  private def runRow(res: Result, name: String, module: String): Option[Double] = {
    val base = Main.resident(spark)
    val out = res.op(name) {
      val t0 = System.nanoTime()
      val fp = tr.span(s"row:$module")(Fp.of(SparkEntry.queries(name)(spark, SfDir)))
      val t = (System.nanoTime() - t0) / 1e9
      res.check(s"$name fingerprint $fp, expected ${expected(name)._3}")(fp == expected(name)._3)
      t
    }
    Main.settle(spark, base)
    out
  }

  def measure(res: Result, seconds: Double): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val rng = new java.util.SplittableRandom(seed + 99)
    var pass = 0
    // whole passes only; the first always completes. Each row runs three
    // times back to back and its latency is the fastest run, Bench's min-of-N
    // protocol. A traced run adds one traced run after the first, and tracing
    // overhead compares it with the last.
    while (pass == 0 || System.nanoTime() < deadline) {
      val order = if (pass == 0) sample else Gen.shuffle(rng, sample)
      var wall = 0.0
      order.foreach { r =>
        def once(traced: Boolean): Option[Double] = { tr.on = traced; tr.newOp(); runRow(res, r.name, r.module) }
        val first = once(traced = false)
        val traced = if (tr.traced) once(traced = true) else None
        val runs = first +: (1 until Runs).map(_ => once(traced = false))
        if (runs.forall(_.nonEmpty)) {
          val t = runs.flatten.min
          println(s"row ${r.name} ${r.module} runs ${runs.flatten.map(x => f"$x%.3f").mkString(" ")} s")
          wall += t
          rowS += t
        }
        for (t <- traced; b <- runs.last) { rowTracedS += t; rowWarmS += b }
      }
      passS += wall
      pass += 1
    }
    tr.on = tr.traced
    if (tr.traced) {
      // the cold memo builds, each released and rebuilt by its row, after the
      // passes so the process is warm
      Builds.foreach { case (line, release, row) =>
        release()
        tr.newOp()
        tr.span(s"memo:$line")(runRow(res, row, modules(row))).foreach(t => buildS(line) = t)
      }
      crawlLeg = new CrawlWorkload(spark, tr, seed, work.resolve("crawl-leg"), reps = 1, maxDrops = 1,
        warm = false)
      crawlLeg.setup(res)
      crawlLeg.measure(res, 1e6)
    }
  }

  def report(res: Result, traced: Boolean): mutable.Map[String, Double] = {
    val ts = rowS.toSeq
    val p50 = if (ts.nonEmpty) Stats.median(ts) else Double.NaN
    val (pct, tail) = if (ts.nonEmpty) Stats.tail(ts) else (0.0, Double.NaN)
    val cold = buildS.values.sum
    val geo = if (ts.nonEmpty) math.exp(ts.map(math.log).sum / ts.size) else Double.NaN
    res.named("query_geomean_s") = (geo, "s", s"geometric mean of n=${ts.size} row latencies")
    res.named("query_p50_s") = (p50, "s", s"n=${ts.size} row runs of a $SampleSize-row sample")
    res.named("query_tail_s") = (tail, "s", f"p$pct%.0f of n=${ts.size}")
    res.named("suite_s") = (if (passS.nonEmpty) Stats.median(passS.toSeq) else Double.NaN, "s",
      s"median of ${passS.size} passes")
    if (buildS.nonEmpty)
      res.named("cold_build_s") = (cold, "s", buildS.map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
    val m = Layers.empty()
    if (!traced) {
      res.metrics("op_s") = (geo, "s")
    } else {
      Layers.Builds.foreach(b => m(s"memo.$b.cold_s") = buildS.getOrElse(b, 0.0))
      val rowSpans = tr.spans.filter(_.name.startsWith("row:")).filter(s => s.parent == 0).toSeq
      Layers.Modules.foreach { mod =>
        val ss = rowSpans.filter(_.name == s"row:$mod")
        if (ss.nonEmpty) {
          val split = tr.sparkSplit(ss)
          m(s"$mod.wall_s") = ss.map(_.wall).sum / ss.size
          m(s"$mod.jobs") = split("jobs") / ss.size
          m(s"$mod.driver_outside_job_s") = split("driver_outside_job_s") / ss.size
          m(s"$mod.scheduler_delay_s") = split("scheduler_delay_s") / ss.size
          m(s"$mod.shuffle_bytes") = split("shuffle_bytes") / ss.size
        }
      }
      Layers.putSpark(m, tr, rowSpans, rowSpans.size)
      Layers.putCkpt(m, tr, tr.spans.filter(_.parent == 0).toSeq)
      Layers.putOverhead(m, rowTracedS.toSeq, rowWarmS.toSeq)
      crawlLeg.putLayers(m)
    }
    m
  }
}

object SuiteWorkload {
  /** Back-to-back runs of a row in a pass; the fastest counts. */
  val Runs = 3

  /** Bench's cold-build lines: the memo each releases and the row whose cold
    * run rebuilds it, in Bench's order (edges before walks: the walk corpus
    * reads the edge memo; the second edge line's release is a no-op because
    * its row cold-builds the co-order list the first line released).
    */
  val Builds: Seq[(String, () => Unit, String)] = Seq(
    ("build_shared_scores", () => SparkEntry.releaseShared(), "accuracy"),
    ("build_dedup_clusters", () => graft.llm.Dedup.releaseShared(), "dedup_cluster"),
    ("build_graph_edges", () => graft.rel.Graph.releaseSharedEdges(), "graph_degree_dist"),
    ("build_graph_edges_co", () => (), "graph_kcore_fixpoint"),
    ("build_graph_walks", () => graft.rel.Graph.releaseShared(), "graph_random_walk"),
    ("build_ingest_pairs", () => graft.llm.Curation.releaseShared(), "ingest_manifest"),
    ("build_subword_vocab", () => graft.llm.TextAnalysis.releaseShared(), "tokenizer_wordpiece"),
    ("build_bpe_merges", () => graft.llm.TextAnalysis.releaseBpeShared(), "tokenizer_bpe"))
}
