package graft.perfbench

/** Checks of the benchmark's own code (`run.py --self-check`): seeded
  * inputs are reproducible and seed-sensitive, and the summary helpers give
  * known answers on fixed vectors. Returns the process exit code.
  */
object SelfCheck {
  private def inputs(seed: Long): Seq[Any] = Seq(
    (0L until 2000L).map(Gen.uniformKey(seed, _)),
    (0L until 2000L).map(Gen.skewedKey(seed, _)),
    (0L until 2000L).map(Gen.lineitemAt(seed, Gen.LineitemRows, _)),
    (0L until 200L).map(k => Gen.customerJson(Gen.customer(seed, k))),
    Gen.corpus(seed, 300).texts.toSeq,
    Gen.corpus(seed, 300).planted.toSeq)

  def run(): Int = {
    val failures = collection.mutable.ArrayBuffer.empty[String]
    def expect(what: String)(ok: Boolean): Unit = if (!ok) failures += what
    def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

    val (a, b, c) = (inputs(1), inputs(1), inputs(2))
    a.indices.foreach { i =>
      expect(s"input $i differs for one seed")(a(i) == b(i))
      expect(s"input $i is the same for two seeds")(a(i) != c(i))
    }

    val perm = (0L until 1000L).map(Gen.permute(7, 1, 1000, _))
    expect("permute is not a bijection")(perm.sorted == (0L until 1000L))
    val skewed = (0L until 20000L).map(Gen.skewedKey(3, _))
    val top = skewed.groupBy(identity).values.map(_.size).max
    expect("zipf keys are not skewed")(top > 20000 / 100)
    val unknown = skewed.count(_ >= Gen.CustomerKeys) / 20000.0
    expect(s"unknown-key share $unknown is not ~5%")(unknown > 0.04 && unknown < 0.06)

    expect("median odd")(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    expect("median even")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    expect("median empty")(Stats.median(Nil).isNaN)
    val hundred = (1 to 100).map(_.toDouble)
    expect("p50")(near(Stats.percentile(hundred, 0.5), 50.5))
    expect("p99")(near(Stats.percentile(hundred, 0.99), 99.01))
    expect("p0/p100")(Stats.percentile(hundred, 0) == 1 && Stats.percentile(hundred, 1) == 100)
    expect("percentile single")(Stats.percentile(Seq(5.0), 0.99) == 5.0)
    expect("ratio")(Stats.ratio(1, 4) == 0.25 && Stats.ratio(1, 0) == 0.0)

    val hs = (1L to 100L).map(Gen.mix64)
    val fp = hs.foldLeft(Multiset.Empty)(_ add _)
    expect("multiset order")(hs.reverse.foldLeft(Multiset.Empty)(_ add _) == fp)
    expect("multiset drop")(hs.tail.foldLeft(Multiset.Empty)(_ add _) != fp)
    expect("multiset duplicate")(
      (hs.tail :+ hs(1)).foldLeft(Multiset.Empty)(_ add _) != fp)
    expect("multiset merge")(
      hs.take(40).foldLeft(Multiset.Empty)(_ add _) ++
        hs.drop(40).foldLeft(Multiset.Empty)(_ add _) == fp)

    expect("jaccard identical")(Gen.shingleJaccard("a b c d", "a b c d") == (2, 2))
    expect("jaccard disjoint")(Gen.shingleJaccard("a b c", "d e f") == (0, 2))
    val docs = Gen.corpus(5, 300).texts
    val brute = (for {
      x <- docs.indices; y <- x + 1 until docs.length
      (inter, union) = Gen.shingleJaccard(docs(x), docs(y)) if 2 * inter >= union
    } yield (x, y)).toSet
    expect("jaccardPairs disagrees with all-pairs jaccard")(
      brute.nonEmpty && Gen.jaccardPairs(docs) == brute)

    failures.foreach(f => println(s"self-check FAILED: $f"))
    println(if (failures.isEmpty) "self-check ok" else s"self-check: ${failures.size} failed")
    if (failures.isEmpty) 0 else 1
  }
}
