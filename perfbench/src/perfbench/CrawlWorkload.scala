package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.run.{RunIngest, RunIngestStream}

/** The write path: a standing state (LSH index + source-partitioned corpus)
  * is bootstrapped as the `ingest_stream` row does it, then seeded document
  * drops stream through `RunIngestStream.runWithStages`, with a takedown
  * through `runRetract` after every second drop.
  */
final class CrawlWorkload(spark: SparkSession, tr: Tracer, seed: Long, work: Path,
    reps: Int = 3, maxDrops: Int = Int.MaxValue, warm: Boolean = true) extends Workload {
  val DropSize = 48
  val NDrops = 60
  val StandingDocs = 500
  val TakedownEvery = 2
  val TakedownSize = 8
  val SfDir: String = Main.testdata("sf0.1")

  private var crawl: Gen.Crawl = _
  private var state: String = _
  private val staging = work.resolve("staging")
  private val dropsDir = work.resolve("drops")
  private val takedownDir = work.resolve("takedowns")

  private val batchS = mutable.ArrayBuffer.empty[Double]
  private val batchTracedS = mutable.ArrayBuffer.empty[Double]
  private val retractS = mutable.ArrayBuffer.empty[Double]
  private val stageWalls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val appendS = mutable.ArrayBuffer.empty[Double]
  private var bootstrapS = Double.NaN
  private var docsIn = 0L
  private var ingestWall = 0.0
  private var inputBytes = 0L
  private var stateBytes0 = 0L
  private var sinkBytes = 0L
  private var sinkFiles = 0L
  private var rewrittenBytes = 0L
  private var nearPlanted = 0L
  private var nearDropped = 0L

  private val docSchema = StructType.fromDDL(RunIngestStream.DocSchema)

  private def files(dir: String): Map[String, Long] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  /** Files of the standing state (corpus, index, delta), not the stream checkpoints. */
  private def stateFiles(): Map[String, Long] =
    Seq("corpus", "index", "delta").flatMap(d => files(s"$state/$d")).toMap

  private def bootstrap(docs: org.apache.spark.sql.DataFrame, out: String): Double = {
    val t0 = System.nanoTime()
    Files.createDirectories(Paths.get(out))
    // the index and the corpus are independent writes; ingest_stream runs them concurrently
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      def task(body: => Unit): java.util.concurrent.Callable[Unit] = () => body
      val a = pool.submit(task(graft.llm.Dedup.saveLshIndex(docs, s"$out/index")))
      val b = pool.submit(task(graft.sources.Sinks.writePartitioned(docs, s"$out/corpus", Seq("source"))))
      // wait for both before rethrowing, so no write outlives a failure
      val ra = scala.util.Try(a.get())
      val rb = scala.util.Try(b.get())
      ra.get; rb.get
    } finally pool.shutdown()
    (System.nanoTime() - t0) / 1e9
  }

  def setup(res: Result): Double = {
    val t0 = System.nanoTime()
    // the standing slice of the ingest_stream row: the first 500 documents
    val docs = graft.Tables.documents(spark, SfDir).filter(col("doc_id") < StandingDocs)
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    val standing = docs.orderBy("doc_id").collect()
      .map(r => Gen.Doc(r.getLong(0), r.getString(1), r.getString(2))).toIndexedSeq
    // three set-ups: generate the drops and bootstrap a fresh standing state
    val sets = (0 until reps).map { i => Main.phase(s"generate + bootstrap $i") {
      val g0 = System.nanoTime()
      val c = Gen.crawl(seed, standing, NDrops, DropSize, TakedownEvery, TakedownSize)
      val g = (System.nanoTime() - g0) / 1e9
      val b = bootstrap(docs, work.resolve(s"state$i").toString)
      (c, c.digest, g, b)
    }}
    res.check("crawl generator is deterministic for the seed")(sets.map(_._2).distinct.size == 1)
    crawl = sets.head._1
    bootstrapS = Stats.median(sets.map(_._4))
    // drops and takedowns land as one parquet file each, written in one job per kind
    Main.phase("stage drops") {
    val dropRows = crawl.drops.zipWithIndex.flatMap { case (d, i) =>
      d.docs.map { case (doc, _) => Row(doc.id, doc.text, doc.source, doc.text.length.toLong, i) }
    }
    spark.createDataFrame(spark.sparkContext.parallelize(dropRows, Main.Cores),
      docSchema.add("drop", IntegerType)).repartition(col("drop"))
      .write.partitionBy("drop").parquet(staging.resolve("drops").toString)
    val tdRows = crawl.takedowns.zipWithIndex.flatMap { case (ids, i) => ids.map(id => Row(id, null, i)) }
    spark.createDataFrame(spark.sparkContext.parallelize(tdRows, 1),
      StructType.fromDDL(RunIngestStream.RetractSchema).add("td", IntegerType)).repartition(col("td"))
      .write.partitionBy("td").parquet(staging.resolve("takedowns").toString)
    }
    Files.createDirectories(dropsDir)
    Files.createDirectories(takedownDir)
    if (warm) {
      // untimed warm-up on a throwaway state: one drop, one takedown
      state = work.resolve("warm-state").toString
      bootstrap(docs, state)
      val wDrops = work.resolve("warm-drops"); Files.createDirectories(wDrops)
      val wTd = work.resolve("warm-td"); Files.createDirectories(wTd)
      land(staging.resolve("drops/drop=0"), wDrops, "w0", move = false)
      Main.phase("warm-up drop")(RunIngestStream.runWithStages(spark, wDrops.toString, state))
      land(staging.resolve("takedowns/td=0"), wTd, "w0", move = false)
      Main.phase("warm-up takedown")(RunIngestStream.runRetract(spark, wTd.toString, state))
      Main.settle(spark)
    }
    state = work.resolve(s"state${reps - 1}").toString
    stateBytes0 = stateFiles().values.sum
    val g = sets.map(_._3)
    (System.nanoTime() - t0) / 1e9 - g.sum - sets.map(_._4).sum + Stats.median(g) + bootstrapS
  }

  /** Put the single parquet file of a staged drop into a watched directory. */
  private def land(from: Path, to: Path, name: String, move: Boolean = true): Long = {
    val f = Files.list(from).iterator().asScala.find(_.toString.endsWith(".parquet")).get
    val dst = to.resolve(s"$name.parquet")
    if (move) Files.move(f, dst, StandardCopyOption.ATOMIC_MOVE) else Files.copy(f, dst)
    Files.size(dst)
  }

  private def corpusIds(): Array[Long] =
    spark.read.parquet(s"$state/corpus").select("doc_id").collect().map(_.getLong(0))

  def measure(res: Result, seconds: Double): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var ids = corpusIds()
    var d = 0
    var td = 0
    while (System.nanoTime() < deadline && d < math.min(NDrops, maxDrops)) {
      val drop = crawl.drops(d)
      tr.on = tr.traced && d % 2 == 0
      tr.newOp()
      val before = stateFiles()
      val bytes = land(staging.resolve(s"drops/drop=$d"), dropsDir, f"drop$d%03d")
      res.op(s"drop $d") {
        val t0 = System.nanoTime()
        val runs = tr.span("run.microbatch")(RunIngestStream.runWithStages(spark, dropsDir.toString, state))
        val t = (System.nanoTime() - t0) / 1e9
        (if (tr.on) batchTracedS else batchS) += t
        docsIn += drop.docs.size
        ingestWall += t
        inputBytes += bytes
        val after = stateFiles()
        val newFiles = after.filter { case (f, _) => !before.contains(f) }
        sinkBytes += newFiles.values.sum
        sinkFiles += newFiles.size
        ids = checkIngest(res, d, drop, runs, ids)
        runs.headOption.foreach { case (_, stages, _) =>
          stages.foreach(s => stageWalls.getOrElseUpdate(s.name, mutable.ArrayBuffer.empty) += s.wall)
          appendS += t - stages.map(_.wall).sum
        }
      }
      Main.settle(spark)
      d += 1
      if ((d % TakedownEvery == 0 || d == maxDrops) && td < crawl.takedowns.size && System.nanoTime() < deadline) {
        val gone = crawl.takedowns(td)
        tr.on = tr.traced
        tr.newOp()
        val before = stateFiles()
        land(staging.resolve(s"takedowns/td=$td"), takedownDir, f"td$td%03d")
        res.op(s"takedown $td") {
          val t0 = System.nanoTime()
          tr.span("run.retract")(RunIngestStream.runRetract(spark, takedownDir.toString, state))
          retractS += (System.nanoTime() - t0) / 1e9
          rewrittenBytes += stateFiles().filter { case (f, _) => !before.contains(f) }.values.sum
          val now = corpusIds()
          res.check(s"takedown $td: corpus closes (${ids.length} − ${gone.size} = ${now.length})")(
            now.length == ids.length - gone.size)
          res.check(s"takedown $td: retracted ids are gone")(!now.exists(gone.toSet))
          res.check(s"takedown $td: no doc_id twice")(now.distinct.length == now.length)
          ids = now
        }
        Main.settle(spark)
        td += 1
      }
    }
    tr.on = tr.traced
  }

  private def checkIngest(res: Result, d: Int, drop: Gen.Drop,
      runs: Seq[(Long, Seq[RunIngest.StageResult], Long)], before: Array[Long]): Array[Long] = {
    val now = corpusIds()
    res.check(s"drop $d: one micro-batch")(runs.size == 1)
    val (counts, appended) = runs.headOption.map { case (_, st, n) => (st.map(_.survivors), n) }
      .getOrElse((Seq.empty[Long], 0L))
    val (planted, dropped) = CrawlCheck.ingest(res, d, drop, counts, appended, before, now)
    nearPlanted += planted
    nearDropped += dropped
    now
  }

  def report(res: Result, traced: Boolean): mutable.Map[String, Double] = {
    val ts = batchS.toSeq
    val p50 = if (ts.nonEmpty) Stats.median(ts) else Double.NaN
    val (pct, tail) = if (ts.nonEmpty) Stats.tail(ts) else (0.0, Double.NaN)
    val grown = stateFiles().values.sum - stateBytes0
    res.named("microbatch_p50_s") = (p50, "s", s"n=${ts.size} drops of $DropSize docs")
    res.named("microbatch_tail_s") = (tail, "s", f"p$pct%.0f of n=${ts.size}")
    res.named("ingest_docs_per_s") = (docsIn / math.max(1e-9, ingestWall), "1/s", s"$docsIn docs")
    res.named("stored_bytes_per_input_byte") = (grown.toDouble / math.max(1L, inputBytes), "ratio",
      s"state grew $grown B for $inputBytes B of drops")
    res.named("bootstrap_s") = (bootstrapS, "s", s"median of $reps standing-state bootstraps")
    val m = Layers.empty()
    if (!traced) {
      res.metrics("op_s") = (p50, "s")
    } else {
      putLayers(m)
      val ops = tr.named("run.microbatch") ++ tr.named("run.retract")
      Layers.putSpark(m, tr, ops, ops.size)
      Layers.putCkpt(m, tr, ops)
      Layers.putOverhead(m, batchTracedS.toSeq, batchS.toSeq)
    }
    m
  }

  /** The write-path layers: funnel stages, append and retract, Structured
    * Streaming progress, sinks, index and LSH recall.
    */
  def putLayers(m: mutable.Map[String, Double]): Unit = {
    Layers.Stages.foreach(s => m(s"run.stage.${s}_s") = stageWalls.get(s).map(w => Stats.median(w.toSeq)).getOrElse(0.0))
    if (appendS.nonEmpty) m("run.append_s") = Stats.median(appendS.toSeq)
    if (retractS.nonEmpty) m("run.retract_s") = Stats.median(retractS.toSeq)
    val mb = tr.named("run.microbatch")
    if (mb.nonEmpty)
      Seq("trigger_s" -> "triggerExecution", "add_batch_s" -> "addBatch", "planning_s" -> "queryPlanning",
        "wal_commit_s" -> "walCommit").foreach { case (n, k) => m(s"stream.$n") = tr.streamMs(mb, k) / 1e3 / mb.size }
    val drops = math.max(1, batchS.size + batchTracedS.size)
    m("sinks.bytes_written") = sinkBytes.toDouble / drops
    m("sinks.files_written") = sinkFiles.toDouble / drops
    m("index.sig_files") = files(s"$state/index/sigs").count(_._1.endsWith(".parquet")).toDouble
    m("retract.bytes_rewritten") = if (retractS.nonEmpty) rewrittenBytes.toDouble / retractS.size else 0.0
    m("lsh.planted_recall") = if (nearPlanted > 0) nearDropped.toDouble / nearPlanted else 0.0
  }
}

object CrawlCheck {
  /** The checks of one ingested drop, trusting only the generated drop and
    * the corpus ids read back from disk: the funnel never widens, the corpus
    * closes exactly (after = before + appended), no doc_id appears twice, and
    * every planted exact duplicate and quality failure is dropped. Returns
    * (planted near-duplicates, those no longer in the corpus).
    */
  def ingest(res: Result, d: Int, drop: Gen.Drop, counts: Seq[Long], appended: Long,
      before: Array[Long], now: Array[Long]): (Long, Long) = {
    res.check(s"drop $d: stage counts ${counts.mkString(">")} never increase")(
      counts.zip(counts.drop(1)).forall { case (a, b) => b <= a })
    res.check(s"drop $d: batch_in ${counts.headOption} = ${drop.docs.size}")(
      counts.headOption.contains(drop.docs.size.toLong))
    res.check(s"drop $d: corpus closes (${before.length} + $appended = ${now.length})")(
      now.length == before.length + appended)
    res.check(s"drop $d: no doc_id twice")(now.distinct.length == now.length)
    val live = now.toSet
    val kept = drop.docs.filter { case (doc, k) =>
      (k == Gen.Kind.ExactStanding || k == Gen.Kind.ExactIntra || k == Gen.Kind.GopherFail) && live(doc.id)
    }
    res.check(s"drop $d: planted duplicates/quality failures kept: ${kept.map(_._1.id).take(5)}")(kept.isEmpty)
    val near = drop.docs.filter(_._2 == Gen.Kind.Near)
    (near.size.toLong, near.count { case (doc, _) => !live(doc.id) }.toLong)
  }
}
