package perfbench

import scala.collection.mutable

/** The per-layer metric names of the traced run, in print order. A traced
  * run reports every name; a layer the workload does not reach reads 0.
  */
object Layers {
  val SparkKeys = Seq("jobs", "tasks", "in_job_s", "driver_outside_job_s", "executor_cpu_s",
    "scheduler_delay_s", "shuffle_bytes", "spill_bytes", "gc_s", "task_skew")

  val Modules = Seq("core", "rel.Queries", "rel.TimeSeries", "rel.Graph", "llm.TextOps",
    "llm.Streaming", "llm.Dedup", "llm.AnnSearch", "llm.TextAnalysis", "llm.Multimodal", "llm.Curation")
  val ModuleKeys = Seq("wall_s", "jobs", "driver_outside_job_s", "scheduler_delay_s", "shuffle_bytes")

  /** The cold memo builds, named as Bench's `build_*` lines. */
  val Builds: Seq[String] = SuiteWorkload.Builds.map(_._1)

  val Stages = Seq("batch_in", "id_new", "digest_new", "quality_gopher", "dedup_exact",
    "near_dup_vs_index", "decontaminate_13")

  val names: Seq[String] =
    Seq("ml.plan_s", "ml.save_s", "ml.load_s", "fknn.stage1_s", "fknn.stage2_s") ++
      SparkKeys.map("fknn.stage1.spark." + _) ++ SparkKeys.map("fknn.stage2.spark." + _) ++
      Seq("knn.pair_rows", "knn.pairs_per_s", "topk.shuffle_records", "topk.useful_ratio",
        "dist.scan_pairs_per_s", "topk.self_s") ++
      SparkKeys.map("spark." + _) ++
      Modules.flatMap(m => ModuleKeys.map(k => s"$m.$k")) ++
      Builds.map(b => s"memo.$b.cold_s") ++
      Seq("ckpt.truncations", "ckpt.resident_blocksets_max", "ckpt.block_bytes_peak") ++
      Stages.map(s => s"run.stage.${s}_s") ++ Seq("run.append_s", "run.retract_s") ++
      Seq("stream.trigger_s", "stream.add_batch_s", "stream.planning_s", "stream.wal_commit_s") ++
      Seq("sinks.bytes_written", "sinks.files_written", "index.sig_files", "retract.bytes_rewritten",
        "lsh.planted_recall") ++
      Seq("trace.overhead_s")

  def unit(name: String): String =
    if (name.endsWith("per_s")) "1/s"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("bytes") || name.endsWith("bytes_peak") || name.endsWith("bytes_written") ||
      name.endsWith("bytes_rewritten")) "B"
    else if (name.endsWith("ratio") || name.endsWith("recall") || name.endsWith("skew")) "ratio"
    else "count"

  def empty(): mutable.Map[String, Double] = mutable.Map.empty[String, Double]

  /** Every name in `names`, in order; the ones a workload did not set read 0. */
  def fill(res: Result, m: mutable.Map[String, Double]): Unit = {
    val unknown = m.keySet -- names
    require(unknown.isEmpty, s"per-layer metrics outside the declared list: $unknown")
    names.foreach(n => res.metrics(n) = (m.getOrElse(n, 0.0), unit(n)))
  }

  /** `spark.*`: the split under the operation spans, per operation. */
  def putSpark(m: mutable.Map[String, Double], tr: Tracer, spans: Seq[Span], ops: Int): Unit =
    if (spans.nonEmpty) {
      val split = tr.sparkSplit(spans)
      split.foreach { case (k, v) => m(s"spark.$k") = if (k == "task_skew") v else v / math.max(1, ops) }
    }

  /** `ckpt.*`: RDD blocksets stored, the resident high-water mark and peak RDD block bytes. */
  def putCkpt(m: mutable.Map[String, Double], tr: Tracer, spans: Seq[Span]): Unit = {
    m("ckpt.truncations") = tr.rddBlocksets(spans).toDouble
    m("ckpt.resident_blocksets_max") = tr.residentMax.toDouble
    m("ckpt.block_bytes_peak") = tr.peakRddBytes.toDouble
  }

  /** Tracing overhead: median traced operation minus median untraced one. */
  def putOverhead(m: mutable.Map[String, Double], traced: Seq[Double], untraced: Seq[Double]): Unit =
    if (traced.nonEmpty && untraced.nonEmpty)
      m("trace.overhead_s") = Stats.median(traced) - Stats.median(untraced)
}
