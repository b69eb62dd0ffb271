package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generators. Each is a pure function of its seed (and, for
  * the crawl, of the read-only documents it resamples): the same seed gives
  * the same values, which `digest` turns into the same bytes.
  */
object Gen {

  def digest(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update((p + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  // ---- fknn_fit_predict: a HIGGS-shaped table -------------------------

  val Dim = 28
  val Classes = 2

  /** Train rows and query batches of one seed. Query ids follow the train ids. */
  final case class Higgs(trainX: Array[Array[Double]], trainY: Array[Int],
      queryX: Array[Array[Double]], queryY: Array[Int], batchSize: Int) {
    def nTrain: Int = trainX.length
    def queryId(i: Int): Long = nTrain.toLong + i
    def digest: String = Gen.digest(
      (trainX.iterator.zip(trainY.iterator) ++ queryX.iterator.zip(queryY.iterator))
        .map { case (x, y) => x.map(java.lang.Double.doubleToLongBits).mkString(",") + ":" + y })
  }

  /** Class-conditional Gaussian mixture: three components per class whose
    * means sit close enough that the classes overlap (kNN accuracy well below
    * 1), roughly HIGGS's 53/47 class balance, then min-max normalised per
    * attribute over the whole table.
    */
  def higgs(seed: Long, nTrain: Int, nBatches: Int, batchSize: Int): Higgs = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val comps = 3
    val means = Array.tabulate(Classes, comps, Dim)((c, _, _) => gauss(rng) * 0.45 + (if (c == 1) 0.2 else 0.0))
    val scales = Array.tabulate(Classes, comps, Dim)((_, _, _) => 0.7 + 0.6 * rng.nextDouble())
    val n = nTrain + nBatches * batchSize
    val ys = Array.fill(n)(if (rng.nextDouble() < 0.53) 1 else 0)
    val xs = ys.map { y =>
      val m = rng.nextInt(comps)
      Array.tabulate(Dim)(j => means(y)(m)(j) + scales(y)(m)(j) * gauss(rng))
    }
    val lo = Array.tabulate(Dim)(j => xs.iterator.map(_(j)).min)
    val hi = Array.tabulate(Dim)(j => xs.iterator.map(_(j)).max)
    xs.foreach(x => (0 until Dim).foreach(j => x(j) = (x(j) - lo(j)) / (hi(j) - lo(j))))
    Higgs(xs.take(nTrain), ys.take(nTrain), xs.drop(nTrain), ys.drop(nTrain), batchSize)
  }

  private def gauss(rng: SplittableRandom): Double = {
    // Box-Muller on the seeded stream (java.util.Random's nextGaussian keeps
    // hidden state; this keeps every draw a function of the stream position)
    val u1 = 1.0 - rng.nextDouble()
    val u2 = rng.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  // ---- crawl_ingest: document drops and takedowns ----------------------

  final case class Doc(id: Long, text: String, source: String)

  /** What a planted document is expected to do in the funnel. */
  object Kind {
    val Fresh = "fresh"
    val ExactStanding = "exact_standing" // byte copy of a standing doc: digest diff drops it
    val ExactIntra = "exact_intra" // byte copy of a lower-id doc in the same drop: keep-min drops it
    val Near = "near" // few-token edit of a standing doc: LSH near-dedup should drop it
    val GopherFail = "gopher_fail" // under 50 words: the quality gate drops it
  }

  final case class Drop(docs: Seq[(Doc, String)]) // (doc, kind)

  final case class Crawl(drops: Seq[Drop], takedowns: Seq[Seq[Long]]) {
    def digest: String = Gen.digest(
      drops.iterator.zipWithIndex.flatMap { case (d, i) =>
        d.docs.iterator.map { case (doc, k) => s"$i|${doc.id}|${doc.source}|$k|${doc.text}" }
      } ++ takedowns.iterator.map(_.mkString(",")))
  }

  val GopherStopwords = Set("the", "a", "and", "to", "of", "be", "that", "have", "with")

  /** The published Gopher rules, written out again here so the planted
    * quality failures do not depend on the code under test.
    */
  def gopherKeep(text: String): Boolean = {
    val w = text.split(" ", -1)
    val meanLen = BigDecimal(w.map(_.length.toLong).sum.toDouble / w.length)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    w.length >= 50 && meanLen >= 3.0 && meanLen <= 10.0 && w.count(GopherStopwords) >= 2
  }

  /** Takedowns draw only from ids ≡ 1 mod 4 of the standing corpus; planted
    * copies and edits draw only from the others, so a planted duplicate's
    * original is always still standing when its drop arrives.
    */
  def retractable(id: Long): Boolean = id % 4 == 1

  /** `nDrops` drops of `dropSize` documents resampled from `standing`, with
    * a takedown of `takedownSize` standing ids after every `takedownEvery`-th drop.
    */
  def crawl(seed: Long, standing: IndexedSeq[Doc], nDrops: Int, dropSize: Int,
      takedownEvery: Int, takedownSize: Int): Crawl = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 2)
    val vocab = standing.flatMap(_.text.split(" ")).distinct.sorted
    val sources = standing.filterNot(d => retractable(d.id))
    val nearSources = sources.filter(s => gopherKeep(s.text))
    require(nearSources.nonEmpty, "no standing document passes the Gopher rules")
    val pool = standing.filter(d => retractable(d.id)).map(_.id)
    val removable = scala.collection.mutable.ArrayBuffer.from(pool)
    var nextId = 10000000L
    def pick[T](xs: IndexedSeq[T]): T = xs(rng.nextInt(xs.size))
    def words(d: Doc): Array[String] = d.text.split(" ")

    // a new document of 50-58 words: the head of one standing doc and the
    // tail of another (longer docs cover the whole 31-word vocabulary of the
    // source table and would be near-duplicates of each other)
    def fresh(): (String, String) = {
      var out: (String, String) = null
      while (out == null) {
        val a = words(pick(standing)); val b = pick(standing)
        val len = 50 + rng.nextInt(9)
        val head = a.take(len / 2)
        val tailSrc = words(b)
        val tail = Iterator.continually(tailSrc).flatten.drop(tailSrc.length / 2).take(len - head.length)
        val text = (head ++ tail).mkString(" ")
        if (gopherKeep(text)) out = (text, b.source)
      }
      out
    }

    val drops = (0 until nDrops).map { _ =>
      val nGopher = dropSize / 12
      val nExactS = dropSize / 12
      val nExactI = dropSize / 16
      val nNear = dropSize / 12
      val nFresh = dropSize - nGopher - nExactS - nExactI - nNear
      val docs = scala.collection.mutable.ArrayBuffer.empty[(Doc, String)]
      def add(text: String, src: String, kind: String): Unit = {
        docs += ((Doc(nextId, text, src), kind)); nextId += 1
      }
      (0 until nFresh).foreach { _ => val (t, s) = fresh(); add(t, s, Kind.Fresh) }
      (0 until nGopher).foreach { _ =>
        val (t, s) = fresh()
        add(t.split(" ").take(20 + rng.nextInt(25)).mkString(" "), s, Kind.GopherFail)
      }
      (0 until nExactS).foreach { _ => val d = pick(sources); add(d.text, d.source, Kind.ExactStanding) }
      val freshSoFar = docs.filter(_._2 == Kind.Fresh).toIndexedSeq
      (0 until nExactI).foreach { _ => val (d, _) = pick(freshSoFar); add(d.text, d.source, Kind.ExactIntra) }
      (0 until nNear).foreach { _ =>
        val d = pick(nearSources)
        val w = scala.collection.mutable.ArrayBuffer.from(words(d))
        val distinct = w.toSet
        val unseen = vocab.filterNot(distinct)
        // one word already in the doc, plus one new vocabulary word when the
        // doc has at least 20 distinct tokens (Jaccard ≥ 20/21 > 0.95)
        val extra = if (distinct.size >= 20 && unseen.nonEmpty) pick(unseen) else pick(w.toIndexedSeq)
        w.insert(rng.nextInt(w.size + 1), pick(w.toIndexedSeq))
        w.insert(rng.nextInt(w.size + 1), extra)
        add(w.mkString(" "), d.source, Kind.Near)
      }
      // file order is shuffled; ids keep creation order, so an intra-drop
      // copy always has the higher id
      val arr = docs.toArray
      for (i <- arr.indices.reverse) { val j = rng.nextInt(i + 1); val t = arr(i); arr(i) = arr(j); arr(j) = t }
      Drop(arr.toSeq)
    }
    val takedowns = (0 until nDrops / takedownEvery).map { _ =>
      (0 until math.min(takedownSize, removable.size)).map(_ => removable.remove(rng.nextInt(removable.size))).sorted
    }
    Crawl(drops, takedowns)
  }

  // ---- declared_suite: stratified row sample ----------------------------

  final case class RowInfo(name: String, module: String, costS: Double)

  /** A sample of `n` rows stratified by recorded cost: the rows sorted by
    * cost are cut into `n` equal strata and the sample is each stratum's
    * median row, so it has the population's cost profile. The rows are
    * returned in a seeded order. The rows themselves do not depend on the
    * seed: rows of equal recorded cost differ by up to 2x in a short-lived
    * process, so a seeded draw among a median's neighbours moved the
    * workload's result by about 12 % from seed to seed.
    */
  def sample(seed: Long, rows: Seq[RowInfo], n: Int): Seq[RowInfo] = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 3)
    val sorted = rows.sortBy(r => (r.costS, r.name)).toIndexedSeq
    shuffle(rng, (0 until n).map(i => sorted((i * sorted.size / n + (i + 1) * sorted.size / n) / 2)))
  }

  def shuffle[T](rng: SplittableRandom, xs: Seq[T]): Seq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toSeq.asInstanceOf[Seq[T]]
  }
}
