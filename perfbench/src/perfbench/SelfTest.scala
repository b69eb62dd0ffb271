package perfbench

import org.apache.spark.sql.functions._

/** Self-tests of the benchmark: every generator is deterministic for a seed
  * (and moves with it), and every output check rejects a deliberately
  * corrupted output. Prints one line per test; exits non-zero on a failure.
  */
object SelfTest {
  private var failures = 0

  private def expect(what: String)(ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  /** A check's verdict: true when it recorded no failure. */
  private def passes(body: Result => Unit): Boolean = { val r = new Result; body(r); r.failures.isEmpty }

  def run(): Unit = {
    // generators
    val h1 = Gen.higgs(7, 300, 4, 25)
    expect("higgs: same seed, same bytes")(h1.digest == Gen.higgs(7, 300, 4, 25).digest)
    expect("higgs: another seed, other bytes")(h1.digest != Gen.higgs(8, 300, 4, 25).digest)
    val vocab = Array("the", "a", "spark", "join", "merge", "table", "column", "stream", "value", "data",
      "small", "filter", "big", "group", "hash", "sort", "order", "slow", "line", "part", "fast", "row",
      "agg", "key", "query", "scan", "batch", "window", "vector", "customer")
    val vr = new java.util.SplittableRandom(1)
    val standing = (0L until 400L).map { i =>
      val n = 20 + vr.nextInt(60)
      Gen.Doc(i, Seq.fill(n)(vocab(vr.nextInt(vocab.length))).mkString(" "), s"src${i % 5}")
    }
    val c1 = Gen.crawl(3, standing, 6, 48, 2, 5)
    expect("crawl: same seed, same bytes")(c1.digest == Gen.crawl(3, standing, 6, 48, 2, 5).digest)
    expect("crawl: another seed, other bytes")(c1.digest != Gen.crawl(4, standing, 6, 48, 2, 5).digest)
    expect("crawl: planted quality failures fail the Gopher rules")(
      c1.drops.flatMap(_.docs).filter(_._2 == Gen.Kind.GopherFail).forall(d => !Gen.gopherKeep(d._1.text)))
    val rows = (0 until 60).map(i => Gen.RowInfo(s"r$i", s"m${i % 4}", 0.05 * ((i * 37) % 60)))
    expect("sample: same seed, same rows and order")(Gen.sample(5, rows, 12) == Gen.sample(5, rows, 12))
    expect("sample: another seed, the same rows in another order")(
      Gen.sample(5, rows, 12) != Gen.sample(6, rows, 12) && Gen.sample(5, rows, 12).toSet == Gen.sample(6, rows, 12).toSet)
    expect("sample: the requested size, no repeats")(Gen.sample(5, rows, 12).map(_.name).distinct.size == 12)
    expect("sample: one row from each cost stratum")(
      Gen.sample(5, rows, 12).map(r => (r.costS / 0.25).toInt).sorted == (0 until 12))

    // fknn check: a flipped prediction is rejected
    val ref = new RefFknn(h1.trainX, h1.trainY, 5, Gen.Classes)
    val batch = (0 until h1.batchSize).map { i =>
      (h1.queryId(i), h1.queryX(i).toSeq, h1.queryY(i), ref.predict(h1.queryX(i))._1)
    }
    expect("fknn check: reference predictions pass")(passes(r => new FknnCheck(h1, ref).batch(r, 0, batch)))
    val flipped = batch.updated(3, batch(3).copy(_4 = 1 - batch(3)._4))
    expect("fknn check: a flipped prediction is rejected")(!passes(r => new FknnCheck(h1, ref).batch(r, 0, flipped)))
    expect("fknn check: a lost query is rejected")(!passes(r => new FknnCheck(h1, ref).batch(r, 0, batch.drop(1))))
    val moved = batch.updated(5, batch(5).copy(_2 = batch(5)._2.updated(0, 0.5)))
    expect("fknn check: a changed input vector is rejected")(!passes(r => new FknnCheck(h1, ref).batch(r, 0, moved)))

    // crawl check: a duplicated doc_id, a kept planted duplicate, a widening funnel
    val drop = c1.drops.head
    val before = standing.map(_.id).toArray
    val keep = drop.docs.filter(_._2 == Gen.Kind.Fresh).take(10).map(_._1.id)
    val after = before ++ keep
    val counts = Seq(48L, 48L, 44L, 40L, 37L, 30L, 10L)
    expect("crawl check: a clean ingest passes")(passes(r => CrawlCheck.ingest(r, 0, drop, counts, 10, before, after)))
    expect("crawl check: a duplicated doc_id is rejected")(
      !passes(r => CrawlCheck.ingest(r, 0, drop, counts, 11, before, after :+ keep.head)))
    val planted = drop.docs.find(_._2 == Gen.Kind.ExactIntra).get._1.id
    expect("crawl check: a kept planted duplicate is rejected")(
      !passes(r => CrawlCheck.ingest(r, 0, drop, counts, 11, before, after :+ planted)))
    expect("crawl check: a widening funnel is rejected")(
      !passes(r => CrawlCheck.ingest(r, 0, drop, counts.updated(4, 45L), 10, before, after)))
    expect("crawl check: an unclosed corpus is rejected")(
      !passes(r => CrawlCheck.ingest(r, 0, drop, counts, 9, before, after)))

    // suite check: fingerprints ignore row order and catch a changed value
    val work = java.nio.file.Files.createTempDirectory("perfbench-selftest")
    val spark = Main.session(work)
    try {
      import spark.implicits._
      val df = Seq((1L, "a", 0.5), (2L, "b", 1.5), (3L, "c", 2.5)).toDF("id", "s", "x")
      val fp = Fp.of(df)
      expect("suite check: row order does not change the fingerprint")(Fp.of(df.orderBy(col("id").desc)) == fp)
      expect("suite check: a changed value changes the fingerprint")(
        Fp.of(df.withColumn("x", when(col("id") === 2, 1.5000001).otherwise(col("x")))) != fp)
      expect("suite check: a dropped row changes the fingerprint")(Fp.of(df.filter(col("id") =!= 3)) != fp)
      expect("suite check: a fingerprint survives its text form")(Fp.parse(fp.toString) == fp)
    } finally {
      spark.stop()
      Main.deleteRec(work)
    }
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
