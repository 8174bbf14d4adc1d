package graft.ops

import org.apache.spark.sql.{functions}
import org.apache.spark.sql.functions._

import graft.SparkSpec

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def evalOne(c: org.apache.spark.sql.Column, text: String): Any =
    Seq(text).toDF("text").select(c.as("v")).collect().head.get(0)

  test("tokenCount / wordSet / meanTokenLength") {
    evalOne(TextFunctions.tokenCount(col("text")), "a bb  ccc a") shouldBe 4
    evalOne(functions.size(TextFunctions.wordSet(col("text"))), "a bb ccc a") shouldBe 3
    evalOne(TextFunctions.meanTokenLength(col("text")), "a bb ccc a") shouldBe 1.75
  }

  test("luhnValid: known card test numbers pass, one-digit-off fails") {
    def luhn(s: String) =
      evalOne(TextFunctions.luhnValid(col("text")), s)
    luhn("4111111111111111") shouldBe true  // Visa 16
    luhn("378282246310005") shouldBe true   // Amex 15
    luhn("6011111111111117") shouldBe true  // Discover 16
    luhn("4111111111111112") shouldBe false // checksum off by one
    luhn("411111111111") shouldBe false     // 12 digits: below candidate min
    luhn("41111111111111111111") shouldBe false // 20 digits: above max
  }

  test("cardAudit separates candidates from Luhn-valid; redact is checksum-gated") {
    val txt = "id 4111111111111112 ok card 4111111111111111 ref 12345678"
    val audit = evalOne(TextFunctions.cardAudit(col("text")), txt)
      .asInstanceOf[org.apache.spark.sql.Row]
    audit.getAs[Long]("n_candidates") shouldBe 2L
    audit.getAs[Long]("n_luhn_valid") shouldBe 1L
    evalOne(TextFunctions.redactValidCards(col("text")), txt) shouldBe
      "id 4111111111111112 ok card <CC> ref 12345678"
  }

  test("redactValidCards: digit-boundary anchoring protects longer runs") {
    // the 20-digit id starts with the valid 16-digit Visa number; the
    // candidate extracted from it is its 19-digit prefix (leftmost-greedy),
    // which is not Luhn-valid — and the standalone valid card elsewhere
    // must NOT trigger a substring replace inside the long id
    val txt = "id 41111111111111111234 card 4111111111111111 end"
    evalOne(TextFunctions.redactValidCards(col("text")), txt) shouldBe
      "id 41111111111111111234 card <CC> end"
  }

  test("script-mix ppm counts each Unicode script class exactly") {
    // 4 CJK + 6 Cyrillic + "ab12" latin/digits + 2 spaces = 16 chars
    val mixed = "\u4F60\u597D\u4E16\u754C \u043F\u0440\u0438\u0432\u0435\u0442 ab12"
    mixed.length shouldBe 16
    def ppm(script: String) =
      evalOne(TextFunctions.scriptPpm(col("text"), script), mixed)
    ppm("cjk") shouldBe 250000L      // 4/16
    ppm("cyrillic") shouldBe 375000L // 6/16
    ppm("latin") shouldBe 125000L    // 2/16
    ppm("digit") shouldBe 125000L    // 2/16
    ppm("arabic") shouldBe 0L
    // hiragana/katakana/hangul count as cjk; empty text is 0 everywhere
    evalOne(
      TextFunctions.scriptPpm(col("text"), "cjk"),
      "\u3042\u30AB\uAC00") shouldBe 1000000L
    evalOne(TextFunctions.scriptPpm(col("text"), "latin"), "") shouldBe 0L
  }

  test("encoding-artifact signals count mojibake, C1, replacement chars") {
    // "caf" + U+FFFD + mojibake e-acute marker + a C1 control (U+0085)
    val dirty = "caf\uFFFD et \u00C3\u00A9t\u00C3\u00A9 l\u0085"
    evalOne(TextFunctions.replacementCharCount(col("text")), dirty) shouldBe 1L
    evalOne(TextFunctions.c1ControlCount(col("text")), dirty) shouldBe 1L
    evalOne(TextFunctions.mojibakeSeqCount(col("text")), dirty) shouldBe 2L
    // 4 artifacts over 16 chars = 250000 ppm
    dirty.length shouldBe 16
    evalOne(TextFunctions.encodingArtifactPpm(col("text")), dirty) shouldBe
      250000L
    // clean text scores zero everywhere, empty text is 0 ppm (not a crash)
    val clean = "a perfectly ordinary sentence."
    evalOne(TextFunctions.encodingArtifactPpm(col("text")), clean) shouldBe 0L
    evalOne(TextFunctions.encodingArtifactPpm(col("text")), "") shouldBe 0L
    // smart-quote mojibake triple counts once, not once per subsequence
    evalOne(
      TextFunctions.mojibakeSeqCount(col("text")),
      "it\u00E2\u20AC\u2122s") shouldBe 1L
  }

  test("shingles windows of 3 words; short docs empty") {
    val sh = Seq("w1 w2 w3 w4")
      .toDF("text")
      .select(TextFunctions.shingleSet(col("text"), 3).as("v"))
      .collect()
      .head
      .getSeq[String](0)
    sh shouldBe Seq("w1 w2 w3", "w2 w3 w4")
    evalOne(functions.size(TextFunctions.shingleSet(col("text"), 3)), "only two") shouldBe 0
  }

  test("normalizeAnswer: case, punctuation, articles, whitespace") {
    evalOne(TextFunctions.normalizeAnswer(col("text")),
      "The  Quick, (Brown) Fox!") shouldBe "quick brown fox"
    // articles removed only as whole words; 'Math' keeps its 'a'
    evalOne(TextFunctions.normalizeAnswer(col("text")),
      "An answer: a THE an Math") shouldBe "answer math"
    evalOne(TextFunctions.normalizeAnswer(col("text")), "  the a an ") shouldBe ""
  }

  test("bpe estimate adds pieces for long words") {
    // "internationalization" = 20 chars -> 1 + (20-4)/4 = 5 pieces
    evalOne(TextFunctions.bpeTokenEstimate(col("text")),
      "internationalization is") shouldBe 6L
  }

  test("stopword hits and ratio") {
    evalOne(
      TextFunctions.stopwordHits(col("text"), Seq("the", "a")),
      "the cat and a dog the end") shouldBe 3
  }

  test("langId picks profile with most stopword hits") {
    evalOne(TextFunctions.langId(col("text")),
      "the cat is in the house and it is fine") shouldBe "en"
    evalOne(TextFunctions.langId(col("text")),
      "der hund ist nicht mit der katze und") shouldBe "de"
    evalOne(TextFunctions.langId(col("text")), "xyzzy plugh") shouldBe "und"
  }

  test("hash61 is stable and matches the md5-derived definition") {
    val h = evalOne(TextFunctions.hash61(col("text")), "hello")
    // first 15 hex chars of md5("hello") = 5d41402abc4b2a7
    h shouldBe java.lang.Long.parseLong("5d41402abc4b2a7", 16)
  }

  test("dupNgramRatio measures within-doc repetition; null when no ngrams") {
    // "a b a b a": bigrams [a b, b a, a b, b a] -> 2 distinct of 4 -> 0.5
    evalOne(TextFunctions.dupNgramRatio(col("text"), 2), "a b a b a") shouldBe 0.5
    // all distinct -> 0.0
    evalOne(TextFunctions.dupNgramRatio(col("text"), 2), "x y z") shouldBe 0.0
    // shorter than n -> null
    Option(evalOne(TextFunctions.dupNgramRatio(col("text"), 3), "one two")) shouldBe None
  }

  test("punctRatio counts punctuation chars") {
    evalOne(TextFunctions.punctRatio(col("text")), "ab, cd!") shouldBe (2.0 / 7.0)
  }

  test("simpsonConcentration: 1/n all-distinct, 1 for spam, exact ratios") {
    def conc(text: String): Double =
      Seq(text).toDF("text")
        .withColumn("ws", TextFunctions.words(col("text")))
        .select(TextFunctions.simpsonConcentration(col("ws")).as("c"))
        .collect().head.getDouble(0)
    conc("a b c d") shouldBe 0.25    // all distinct: 1/n
    conc("x x x") shouldBe 1.0       // one-token spam
    conc("a a b") shouldBe (5.0 / 9.0) // counts 2,2,1 -> (4+1)/9
  }

  test("Gopher line rules: duplicate fraction and char fraction") {
    def lines(ls: String*) = {
      val df = Seq(ls.mkString("\n")).toDF("text")
        .select(split(col("text"), "\n").as("ls"))
      df.select(
        TextFunctions.dupElemFrac(col("ls")).as("f"),
        TextFunctions.dupElemCharFrac(col("ls")).as("cf"))
        .collect().head
    }
    // "aaaa" twice (8 of 11 chars duplicated), "bbb" once
    val r = lines("aaaa", "bbb", "aaaa")
    r.getDouble(0) shouldBe (1.0 - 2.0 / 3.0)
    r.getDouble(1) shouldBe (8.0 / 11.0)
    // no duplicates -> both zero
    val clean = lines("one", "two")
    clean.getDouble(0) shouldBe 0.0
    clean.getDouble(1) shouldBe 0.0
  }

  test("Gopher top-ngram char fraction finds the dominant bigram") {
    // "x y" occurs 3 times among 6 bigrams; len("x y") = 3, text 13 chars
    val r = Seq("x y x y x y z").toDF("text")
      .withColumn("bi",
        TextFunctions.shingles(TextFunctions.words(col("text")), 2))
      .select(
        TextFunctions.topNgramCharFrac(col("bi"), functions.length(col("text"))).as("f"))
      .collect().head.getDouble(0)
    r shouldBe (3.0 * 3.0 / 13.0)
  }

  test("Gopher duplicate-ngram char fraction is occurrence-weighted") {
    // trigrams of "a b a b a b": [a b a, b a b, a b a, b a b] — all 4
    // duplicated, each 5 chars -> 20 / 11 chars (can exceed 1 by design)
    val r = Seq("a b a b a b").toDF("text")
      .withColumn("tri",
        TextFunctions.shingles(TextFunctions.words(col("text")), 3))
      .select(
        TextFunctions.dupNgramCharFrac(col("tri"), functions.length(col("text"))).as("f"))
      .collect().head.getDouble(0)
    r shouldBe (20.0 / 11.0)
    // all-distinct trigrams -> 0
    val z = Seq("p q r s t").toDF("text")
      .withColumn("tri",
        TextFunctions.shingles(TextFunctions.words(col("text")), 3))
      .select(
        TextFunctions.dupNgramCharFrac(col("tri"), functions.length(col("text"))).as("f"))
      .collect().head.getDouble(0)
    z shouldBe 0.0
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight", "en", "s1"),
    (2L, "the quick brown fox jumps over the lazy dog today", "en", "s1"),
    (3L, "completely different text with other words entirely here now", "en", "s1"),
    (4L, "the quick brown fox jumps over the lazy dog tonight", "en", "s2"), // exact dup of 1
    (5L, "unrelated short doc", "en", "s2"))

  private def df = docs.toDF("doc_id", "text", "lang", "source")

  test("exact dedup keeps min id per content hash") {
    val out = Dedup.exact(df, "doc_id", "text").collect()
    out should have size 4
    val dup = out.find(_.getAs[Long]("n_copies") == 2L).get
    dup.getAs[Long]("doc_id_kept") shouldBe 1L
  }

  test("ngram jaccard finds near-dups within blocks") {
    val out = Dedup
      .ngramJaccardPairs(df, "doc_id", "text", Seq("lang"), 3, 0.5)
      .collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((1L, 2L))
    pairs should contain((1L, 4L)) // exact dup -> jaccard 1.0
    out.find(r => r.getLong(0) == 1L && r.getLong(1) == 4L)
      .get.getAs[Double]("jaccard") shouldBe 1.0
    pairs.exists { case (a, b) => a == 3L || b == 3L } shouldBe false
  }

  test("ngram jaccard: two docs shorter than n in one block do not fail the job") {
    // both short docs have empty shingle sets: scored as a pair they were
    // 0/0, a DIVIDE_BY_ZERO under ANSI mode
    val d = Seq(
      (1L, "alpha beta gamma delta", "en"),
      (2L, "alpha beta gamma delta", "en"),
      (3L, "hi", "en"),
      (4L, "yo", "en")).toDF("doc_id", "text", "lang")
    Dedup
      .ngramJaccardPairs(d, "doc_id", "text", Seq("lang"), 3, 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq shouldBe Seq((1L, 2L, 1.0))
    Par.releaseCaches()
  }

  test("minhash LSH drops empty-shingle docs before banding, same output") {
    // Docs shorter than n words (or null) all share the sentinel signature;
    // banding them would bucket every such doc together (O(m²) candidates).
    // They must be excluded from banding, and since empty sets can never
    // pass the Jaccard verify, output must equal the clean corpus's.
    val short = Seq(
      (100L, "tiny", "en", "s1"),
      (101L, "two words", "en", "s1"),
      (102L, null.asInstanceOf[String], "en", "s1"),
      (103L, "", "en", "s2"))
    val noisy = (docs ++ short).toDF("doc_id", "text", "lang", "source")
    def pairs(d: org.apache.spark.sql.DataFrame) = Dedup
      .minhashLshPairs(d, "doc_id", "text", 3, 4, 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    pairs(noisy) shouldBe pairs(df)
  }

  test("minhash LSH finds the same high-jaccard pairs as exact search") {
    val exact = Dedup
      .ngramJaccardPairs(df, "doc_id", "text", Seq("lang"), 3, 0.5)
      .select("id_a", "id_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val lsh = Dedup
      .minhashLshPairs(df, "doc_id", "text", 3, 4, 0.5)
      .select("id_a", "id_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    // identical signatures guarantee the exact pair is found; near pairs
    // found with high probability (fixed seed -> deterministic here)
    lsh should contain((1L, 4L))
    lsh shouldBe exact
  }

  test("char-shingle minhash LSH: exact scores >= t, every identical pair found") {
    val texts = Seq(
      1L -> "https://example.com/articles/2024/spark-near-duplicate-detection",
      2L -> "https://example.com/articles/2024/spark-near-duplicate-detection",
      3L -> "https://example.com/articles/2024/spark-near-duplicate-detection?ref=1",
      4L -> "https://another.org/blog/a-completely-different-topic-entirely",
      5L -> "loremipsumdolorsitametconsecteturadipiscingelit",
      6L -> "loremipsumdolorsitametconsecteturadipiscingelit",
      7L -> "loremipsumdolorsitametconsecteturadipiscingelitsed",
      8L -> "abc", // shorter than n: no shingles, never paired
      9L -> "abc")
    val (n, t) = (5, 0.5)
    def shingles(s: String) = s.sliding(n).toSet.filter(_.length == n)
    val byId = texts.toMap
    def naive(a: Long, b: Long) = {
      val (sa, sb) = (shingles(byId(a)), shingles(byId(b)))
      (sa & sb).size.toDouble / (sa | sb).size
    }
    val got = Dedup
      .minhashLshPairsChars(texts.toDF("doc_id", "text"), "doc_id", "text", n, 4, t)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard"))
      .toMap
    got.foreach { case ((a, b), j) =>
      a should be < b
      j shouldBe naive(a, b)
      j should be >= t
    }
    // identical signatures collide in every band
    val identical = for {
      (a, ta) <- texts; (b, tb) <- texts
      if a < b && ta == tb && shingles(ta).nonEmpty
    } yield (a, b)
    identical shouldBe Seq((1L, 2L), (5L, 6L))
    identical.foreach(p => got.keySet should contain(p))
    got.keySet.exists { case (a, b) => a >= 8L || b >= 8L } shouldBe false
    Par.releaseCaches()
  }

  test("pairRecallReport counts hits/misses and floors the ppm") {
    val truth = Seq((1L, 2L), (1L, 4L), (2L, 4L)).toDF("id_a", "id_b")
    val found = Seq((1L, 2L), (2L, 4L)).toDF("id_a", "id_b")
    val r = Dedup.pairRecallReport(truth, found).collect().head
    r.getAs[Long]("n_true") shouldBe 3L
    r.getAs[Long]("n_found") shouldBe 2L
    r.getAs[Long]("n_hit") shouldBe 2L
    r.getAs[Long]("n_missed") shouldBe 1L
    r.getAs[Long]("recall_ppm") shouldBe 666666L // floor(2e6/3)
  }

  test("pairRecallReport collapses duplicate pair rows; empty truth = 1e6") {
    val truth = Seq((1L, 2L), (1L, 2L)).toDF("id_a", "id_b")
    val found = Seq((1L, 2L), (1L, 2L), (1L, 2L)).toDF("id_a", "id_b")
    val r = Dedup.pairRecallReport(truth, found).collect().head
    r.getAs[Long]("n_true") shouldBe 1L
    r.getAs[Long]("n_found") shouldBe 1L
    r.getAs[Long]("recall_ppm") shouldBe 1000000L
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val e = Dedup.pairRecallReport(empty, found).collect().head
    e.getAs[Long]("n_true") shouldBe 0L
    e.getAs[Long]("recall_ppm") shouldBe 1000000L // nothing to miss
  }

  test("minhashEstimateReport: identical docs estimate 1.0; est tracks exact") {
    val out = Dedup
      .minhashEstimateReport(df, "doc_id", "text", n = 3, bands = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getAs[Long]("sig_agree"), r.getAs[Long]("est_ppm"),
          r.getAs[Long]("exact_ppm"))))
      .toMap
    // docs 1 and 4 are exact duplicates: all 16 slots agree, both ppms 1e6
    out((1L, 4L)) shouldBe ((16L, 1000000L, 1000000L))
    // every candidate's estimate is a multiple of 1e6/16 = 62500
    out.values.foreach { case (agree, est, _) =>
      est shouldBe (agree * 1000000L) / 16L
    }
  }

  test("lshRecallReport: full-band config recalls all true pairs here") {
    val r = Dedup
      .lshRecallReport(df, "doc_id", "text", n = 3, bands = 4, threshold = 0.5)
      .collect()
      .head
    r.getAs[Long]("n_true") should be > 0L
    r.getAs[Long]("n_missed") shouldBe 0L
    r.getAs[Long]("recall_ppm") shouldBe 1000000L
  }

  test("lshRecallReport: n_found is the verified LSH pair count, n_hit its true subset") {
    // 8 bands x 2 rows collide generously; at 0.8 the near pairs 1-2 and
    // 2-4 (jaccard 7/9) fail the exact verify, so the report's n_found
    // cannot just be the candidate count
    val (n, bands, t) = (3, 8, 0.8)
    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val lsh = pairs(Dedup.minhashLshPairs(df, "doc_id", "text", n, bands, t))
    val truth = pairs(Dedup.prefixJaccardPairs(df, "doc_id", "text", n, t))
    val candidates =
      Dedup.minhashEstimateReport(df, "doc_id", "text", n, bands).count()
    lsh should not be empty
    candidates should be > lsh.size.toLong
    val r = Dedup.lshRecallReport(df, "doc_id", "text", n, bands, t).collect().head
    r.getAs[Long]("n_found") shouldBe lsh.size.toLong
    r.getAs[Long]("n_hit") shouldBe (lsh & truth).size.toLong
    r.getAs[Long]("n_true") shouldBe truth.size.toLong
    Par.releaseCaches()
  }

  test("each shingle set is hashed once: one graft_hash61 site per plan") {
    def sites(d: org.apache.spark.sql.DataFrame) =
      graft.tools.PlanShapeProbe.shapeOf(d.queryExecution.executedPlan)("hash61")
    // off a range, not a local relation: the optimizer evaluates filters
    // and projections over one at plan time, leaving no site to count
    Par.releaseCaches()
    val d = spark.range(1, docs.size + 1, 1, 1).select(
      col("id").as("doc_id"),
      element_at(typedLit(docs.map(_._2)), col("id").cast("int")).as("text"))
    Seq(
      sites(Dedup.prefixJaccardPairs(d, "doc_id", "text")),
      sites(Dedup.containmentPairs(d, "doc_id", "text")),
      sites(Dedup.lshRecallReport(d, "doc_id", "text")),
      sites(Dedup.lshBandKeys(d, "doc_id", "text"))) shouldBe Seq(1, 1, 1, 1)
    Par.releaseCaches()
  }

  test("prefix-filter jaccard join is LOSSLESS vs the naive all-pairs join") {
    // naive truth: every unblocked pair with jaccard >= t, computed directly
    // from the hashed shingle sets (the oracle the prefix filter must match)
    def naive(d: org.apache.spark.sql.DataFrame, t: Double) = {
      val sets = d
        .select(
          col("doc_id"),
          array_distinct(
            transform(
              TextFunctions.shingleSet(col("text"), 3),
              s => TextFunctions.hash61(s))).as("sh"))
        .collect()
        .map(r =>
          r.getLong(0) -> Option(r.getSeq[Long](1)).fold(Set.empty[Long])(_.toSet))
        .filter(_._2.nonEmpty)
      (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        i = (sa & sb).size; u = (sa | sb).size
        if u > 0 && i.toDouble / u >= t
      } yield ((a, b), i.toDouble / u)).toMap
    }
    // cross-block near-dup (docs 1 and 4 sit in different sources) plus
    // short/empty docs that must not enter the index
    val noisy = (docs ++ Seq(
      (100L, "two words", "en", "s1"),
      (101L, null.asInstanceOf[String], "en", "s2"))).toDF(
      "doc_id", "text", "lang", "source")
    for (t <- Seq(0.3, 0.5, 0.8, 1.0)) {
      val got = Dedup
        .prefixJaccardPairs(noisy, "doc_id", "text", 3, t)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard"))
        .toMap
      got shouldBe naive(noisy, t)
    }
    // threshold 1.0 keeps only the exact dup pair across blocks
    Dedup.prefixJaccardPairs(df, "doc_id", "text", 3, 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      Set((1L, 4L))
    Par.releaseCaches()
  }

  test("nearDupClusters: transitive closure with min-id labels") {
    // chain 1-2, 2-3 must merge into one cluster even though (1,3) is not a
    // pair; 7-8 is a separate component; 9 appears in no pair -> no row
    val pairs = Seq(
      (2L, 3L, 0.9), (1L, 2L, 0.8), (7L, 8L, 0.7))
      .toDF("id_a", "id_b", "jaccard")
    val out = Dedup.nearDupClusters(pairs)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    out shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L)
    Par.releaseCaches()
  }

  test("nearDupClusters converges on a long path (diameter > 1 iteration)") {
    // a 10-node path: min label must propagate end to end
    val pairs = (1L to 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.nearDupClusters(pairs)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    out shouldBe (1L to 10L).map(_ -> 1L).toMap
    Par.releaseCaches()
  }

  test("keepOnePerCluster keeps cluster representatives and singletons") {
    val corpus = (1L to 7L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // clusters {1,2,3} (transitive) and {5,6}; 4 and 7 unclustered
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Dedup.keepOnePerCluster(corpus, "doc_id", pairs)
      .select("doc_id").as[Long].collect().sorted
    kept shouldBe Array(1L, 4L, 5L, 7L)
    Par.releaseCaches()
  }

  test("nearDupSurvivors equals the plain pipeline, incl. short-doc copies") {
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val near = "alpha beta gamma delta epsilon zeta eta iota"
    val corpus = Seq(
      // 5 exact copies of one long doc (collapse path)
      1L -> base, 8L -> base, 9L -> base, 10L -> base, 11L -> base,
      // a near-dup of it (survives collapse, clusters via minhash)
      3L -> near,
      // 3 exact copies of a SHORT doc (< 3 words: never shingles, never
      // pairs — ALL copies must survive in both pipelines)
      4L -> "hi there", 5L -> "hi there", 6L -> "hi there",
      // an unrelated singleton
      7L -> "completely different words about ships and oceans sailing far"
    ).toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[Long].collect().sorted.toSeq
    val plain = ids(
      Dedup.keepOnePerCluster(
        corpus,
        "doc_id",
        Dedup.minhashLshPairs(
          corpus, "doc_id", "text", n = 3, bands = 4, threshold = 0.5)))
    val fast = ids(
      Dedup.nearDupSurvivors(
        corpus, "doc_id", "text", n = 3, bands = 4, threshold = 0.5))
    fast shouldBe plain
    // and the short-doc copies are all present
    Seq(4L, 5L, 6L).foreach(id => fast should contain(id))
    Par.releaseCaches()
  }

  test("simhash: identical docs same signature; near docs close; far docs far") {
    val sigs = df
      .select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    sigs(1L) shouldBe sigs(4L)
    java.lang.Long.bitCount(sigs(1L) ^ sigs(2L)) should be <= 6
    java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) should be >= 3
  }

  test("simhashPairs finds exact dup at hamming 0") {
    val out = Dedup
      .simhashPairs(df, "doc_id", "text", Seq("lang"), maxHamming = 0)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    out should contain((1L, 4L))
  }

  test("winnowing fingerprints: identical docs identical fingerprints") {
    val out = Dedup
      .winnowingFingerprints(df, "doc_id", "text", 3, 4)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    out(1L) shouldBe out(4L)
    out(1L) should not be out(3L)
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("jlComponents: signed folds match a hand computation of the signs") {
    // recompute the deterministic sign matrix the same way the op does
    def sign(p: Int, j: Int): Double = {
      val h = org.apache.spark.sql.graft.Hash61Util.hash(
        s"jl$p:$j".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if ((h & 1L) == 1L) 1.0 else -1.0
    }
    val vec = Array(1.0f, 2.0f, 4.0f)
    val expected = (0 until 3).map { p =>
      (1 to 3).map(j => vec(j - 1).toDouble * sign(p, j)).sum
    }
    val got = Seq(Tuple1(vec)).toDF("v")
      .select(Similarity.jlComponents(col("v"), 3, 3): _*)
      .collect().head
    (0 until 3).foreach(i => got.getDouble(i) shouldBe expected(i))
    // array form agrees with the component form
    val arr = Seq(Tuple1(vec)).toDF("v")
      .select(Similarity.jlProject(col("v"), 3, 3).as("y"))
      .collect().head.getSeq[Double](0)
    arr shouldBe expected
  }

  test("jl projection is linear on exactly-representable inputs") {
    // integer-valued floats: the signed sums are exact, so
    // y(a + b) = y(a) + y(b) holds bit-for-bit
    val a = Array(1.0f, 3.0f, -2.0f, 5.0f)
    val b = Array(4.0f, -1.0f, 7.0f, 2.0f)
    val s = a.zip(b).map { case (x, y) => x + y }
    val rows = Seq((1L, a), (2L, b), (3L, s)).toDF("id", "v")
      .select(col("id"), Similarity.jlProject(col("v"), 4, 4).as("y"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    rows(3L) shouldBe rows(1L).zip(rows(2L)).map { case (x, y) => x + y }
  }

  test("cosine of identical vectors is 1; orthogonal is 0") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f), Array(0.0f, 2.0f)))
      .toDF("id", "a", "b")
      .select(col("id"), Similarity.cosine(col("a"), col("b")).as("cos"))
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
      .toMap
    df(1L) shouldBe 1.0 +- 1e-12
    df(2L) shouldBe 0.0 +- 1e-12
  }

  test("bruteForceTopK ranks by cosine with id tie-break") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)),
      (4L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") === 1L)
    val out = Similarity
      .bruteForceTopK(corpus, "vec_id", "embedding", queries, "vec_id",
        "embedding", k = 2)
      .orderBy("rank")
      .collect()
    out.map(_.getAs[Long]("neighbor_id")).toSeq shouldBe Seq(2L, 3L)
  }

  test("hardNegatives: nearest neighbors whose label differs") {
    // vec 2 is the closest neighbor but shares label 7 with the query —
    // hard negatives must skip it and rank the nearest OTHER-label vectors
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f), 7),
      (2L, Array(0.99f, 0.01f), 7),
      (3L, Array(0.9f, 0.1f), 8),
      (4L, Array(0.0f, 1.0f), 9),
      (5L, Array(-1.0f, 0.0f), 8)).toDF("vec_id", "embedding", "label")
    val queries = corpus.filter(col("vec_id") === 1L)
    val out = Similarity
      .hardNegatives(corpus, "vec_id", "embedding", "label",
        queries, "vec_id", "embedding", "label", k = 2)
      .orderBy("rank")
      .collect()
    out.map(_.getAs[Long]("neighbor_id")).toSeq shouldBe Seq(3L, 4L)
    // all-same-label corpus yields no negatives at all
    val sameLabel = corpus.withColumn("label", lit(7))
    Similarity.hardNegatives(sameLabel, "vec_id", "embedding", "label",
      sameLabel.filter(col("vec_id") === 1L), "vec_id", "embedding",
      "label", k = 2).count() shouldBe 0L
  }

  test("meanPool: ordered per-group mean, partitioning-invariant") {
    val rows = Seq(
      (10L, 1L, Array(1.0f, 3.0f)),
      (10L, 2L, Array(3.0f, 5.0f)),
      (20L, 3L, Array(2.0f, 2.0f)))
    val out = Similarity
      .meanPool(rows.toDF("g", "ord", "vec"), "g", "ord", "vec")
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Double](2)))
      .toMap
    out(10L) shouldBe ((2, Seq(2.0, 4.0)))
    out(20L) shouldBe ((1, Seq(2.0, 2.0)))
    // same bits regardless of input partitioning (the whole point vs avg):
    // the fold happens in ord order inside the group, not shuffle order
    val p1 = Similarity
      .meanPool(rows.toDF("g", "ord", "vec").repartition(1), "g", "ord", "vec")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](2)).toMap
    val p4 = Similarity
      .meanPool(
        rows.reverse.toDF("g", "ord", "vec").repartition(4), "g", "ord", "vec")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](2)).toMap
    p1 shouldBe p4
  }

  test("lshTopK finds an identical-direction vector in the same bucket") {
    // varied directions; vec 50 is an exact scaled copy of vec 25, so it
    // shares vec 25's bucket by construction and ranks first on cosine
    def vec(i: Int): Array[Float] =
      Array.tabulate(8)(d => (((i * 31 + d * 17) % 13) - 6).toFloat)
    val rows = (1 to 49).map(i => (i.toLong, vec(i))) :+
      (50L, vec(25).map(_ * 2.0f))
    val corpus = rows.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") === 25L)
    val out = Similarity
      .lshTopK(corpus, "vec_id", "embedding", queries, "vec_id", "embedding",
        k = 3, planes = 4)
      .orderBy("rank")
      .collect()
    // (vec(i) cycles mod 13, so id 12 is also an exact copy and may tie)
    out.map(_.getAs[Long]("neighbor_id")) should contain(50L)
    out.head.getAs[Double]("cos_sim") shouldBe 1.0 +- 1e-9
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("extractMeta runs the stub decoder partition-wise with stable schema") {
    val df = Seq((1L, "abcd"), (2L, "abcdefghij"))
      .toDF("id", "s")
      .select(col("id"), col("s").cast("binary").as("blob"))
    val out = Multimodal.extractMeta(df, "id", "blob").orderBy("id").collect()
    out.map(_.getAs[Long]("n_bytes")).toSeq shouldBe Seq(4L, 10L)
    out.head.getAs[Int]("width") shouldBe 20 // 4 % 640 + 16
    out.head.getAs[Int]("height") shouldBe 44 // 28 % 480 + 16
    out.head.getAs[String]("format") shouldBe "even"
    out.map(_.schema.fieldNames.toSeq).head shouldBe
      Seq("id", "n_bytes", "width", "height", "n_frames", "format")
  }

  test("extractMeta decodes a REAL PNG through ImageIO (dimensions + format)") {
    val bytes = Multimodal.pngFixture(11, 9, 250, 3, 77)
    val df = Seq((1L, bytes)).toDF("id", "blob")
    val out = Multimodal.extractMeta(df, "id", "blob").collect()
    out.head.getAs[Int]("width") shouldBe 11
    out.head.getAs[Int]("height") shouldBe 9
    out.head.getAs[Int]("n_frames") shouldBe 1
    out.head.getAs[String]("format") shouldBe "png"
    out.head.getAs[Long]("n_bytes") shouldBe bytes.length.toLong
  }

  test("decoding leaves the JVM-global ImageIO cache setting alone") {
    val before = javax.imageio.ImageIO.getUseCache
    val df = Seq((1L, Multimodal.pngFixture(3, 2, 1, 2, 3))).toDF("id", "blob")
    Multimodal.extractMeta(df, "id", "blob").collect().head
      .getAs[String]("format") shouldBe "png"
    javax.imageio.ImageIO.getUseCache shouldBe before
    before shouldBe true // the JDK default: no graft code flipped it earlier
  }

  test("imageStats channel sums match the gradient fixture's closed form") {
    // r0=250, w=11 exercises the %256 wraparound (250+10 = 260 wraps to 4)
    val (w, h, r0, g0, b0) = (11, 9, 250, 3, 77)
    val df = Seq((1L, Multimodal.pngFixture(w, h, r0, g0, b0))).toDF("id", "blob")
    val out = Multimodal.imageStats(df, "id", "blob").collect()
    def wrapSum(c0: Int, n: Int): Long =
      (n.toLong * c0 + n.toLong * (n - 1) / 2
        - 256L * math.max(0, c0 + n - 256))
    out.head.getAs[Long]("sum_r") shouldBe h * wrapSum(r0, w)
    out.head.getAs[Long]("sum_g") shouldBe w * wrapSum(g0, h)
    out.head.getAs[Long]("sum_b") shouldBe w.toLong * h * b0
    out.head.getAs[Long]("n_pixels") shouldBe w.toLong * h
  }

  test("imageStats matches the closed form over 60 seeded random fixtures") {
    // seeded, not random-random: reproducible; dims/colors span the %256
    // wrap boundary and the 1-pixel degenerate cases
    val rnd = new scala.util.Random(13)
    val cases = (1 to 60).map { _ =>
      (1 + rnd.nextInt(24), 1 + rnd.nextInt(24),
        rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256))
    }
    import spark.implicits._
    val df = cases.zipWithIndex.map { case ((w, h, r0, g0, b0), i) =>
      (i.toLong, Multimodal.pngFixture(w, h, r0, g0, b0))
    }.toDF("id", "blob")
    val out = Multimodal.imageStats(df, "id", "blob")
      .orderBy("id").collect()
    def wrapSum(c0: Int, n: Int): Long =
      n.toLong * c0 + n.toLong * (n - 1) / 2 - 256L * math.max(0, c0 + n - 256)
    cases.zip(out).foreach { case ((w, h, r0, g0, b0), row) =>
      withClue(s"w=$w h=$h r0=$r0 g0=$g0 b0=$b0: ") {
        row.getAs[Int]("width") shouldBe w
        row.getAs[Int]("height") shouldBe h
        row.getAs[Long]("sum_r") shouldBe h * wrapSum(r0, w)
        row.getAs[Long]("sum_g") shouldBe w * wrapSum(g0, h)
        row.getAs[Long]("sum_b") shouldBe w.toLong * h * b0
      }
    }
  }

  test("JPEG sniffs and decodes dimensions (lossy: stats not gated)") {
    val img = new java.awt.image.BufferedImage(
      7, 5, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    import spark.implicits._
    val df = Seq((1L, bos.toByteArray)).toDF("id", "blob")
    val out = Multimodal.extractMeta(df, "id", "blob").collect()
    out.head.getAs[String]("format") shouldBe "jpeg"
    out.head.getAs[Int]("width") shouldBe 7
    out.head.getAs[Int]("height") shouldBe 5
  }

  test("BMP and GIF decode through the JDK codecs too") {
    def encode(fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        5, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val df = Seq((1L, encode("bmp")), (2L, encode("gif"))).toDF("id", "blob")
    val out = Multimodal.extractMeta(df, "id", "blob").orderBy("id").collect()
    out.map(_.getAs[String]("format")).toSeq shouldBe Seq("bmp", "gif")
    out.map(_.getAs[Int]("width")).toSeq shouldBe Seq(5, 5)
    out.map(_.getAs[Int]("n_frames")).toSeq shouldBe Seq(1, 1)
  }

  test("animated GIF: real frame count flows into extractMeta and frameSample") {
    def animatedGif(nFrames: Int): Array[Byte] = {
      val writer =
        javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      (0 until nFrames).foreach { i =>
        val f = new java.awt.image.BufferedImage(
          6, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
        f.setRGB(0, 0, i) // distinct frames
        writer.writeToSequence(new javax.imageio.IIOImage(f, null, null), null)
      }
      writer.endWriteSequence()
      writer.dispose()
      ios.close()
      bos.toByteArray
    }
    import spark.implicits._
    val df = Seq((1L, animatedGif(5))).toDF("id", "blob")
    val meta = Multimodal.extractMeta(df, "id", "blob").collect().head
    meta.getAs[String]("format") shouldBe "gif"
    meta.getAs[Int]("n_frames") shouldBe 5
    meta.getAs[Int]("width") shouldBe 6
    // frameSample walks the REAL frame count for JDK-decodable formats
    val frames = Multimodal.frameSample(df, "id", "blob", every = 2)
      .orderBy("frame_idx").collect()
    frames.map(_.getAs[Int]("frame_idx")).toSeq shouldBe Seq(0, 2, 4)
  }

  test("bytes that sniff as PNG but do not decode classify as png-corrupt") {
    val corrupt = Array[Byte](0x89.toByte, 'P', 'N', 'G', 1, 2, 3)
    val df = Seq((1L, corrupt)).toDF("id", "blob")
    val out = Multimodal.extractMeta(df, "id", "blob").collect()
    out.head.getAs[String]("format") shouldBe "png-corrupt"
    out.head.getAs[Int]("width") shouldBe 0
  }

  test("withPngBlob stages decodable fixtures distributed (no driver encode)") {
    val docs = spark.range(1, 6).toDF("doc_id")
    val staged = Multimodal.withPngBlob(
      docs, "doc_id",
      lit(8) + col("doc_id") % 5,
      lit(8) + col("doc_id") % 3,
      (col("doc_id") * 7) % 256,
      (col("doc_id") * 11) % 256,
      (col("doc_id") * 13) % 256)
    val out = Multimodal.extractMeta(staged, "doc_id", "blob")
      .orderBy("doc_id").collect()
    out.map(_.getAs[Int]("width")).toSeq shouldBe
      (1L to 5L).map(i => 8 + (i % 5).toInt)
    out.foreach(_.getAs[String]("format") shouldBe "png")
  }
}

class ParSpec extends SparkSpec {
  import spark.implicits._

  test("fan widens a single-partition narrow plan to default parallelism") {
    val df = spark.range(0, 100, 1, numPartitions = 1).toDF("x")
    Par.fan(df).rdd.getNumPartitions shouldBe sc.defaultParallelism
  }

  test("fan is a no-op when the input is already wide enough") {
    val df = (1 to 100).toDF("x").repartition(sc.defaultParallelism + 2)
    val out = Par.fan(df)
    (out eq df) shouldBe true
  }

  test("fan is a no-op on shuffle-bearing plans (already at shuffle parallelism)") {
    val df = (1 to 100).toDF("x").coalesce(1).groupBy(col("x")).count()
    (Par.fan(df) eq df) shouldBe true
  }

  test("releaseCaches leaves no persisted RDDs after an op's terminal action") {
    // delta-based: other suites sharing this session may leave
    // localCheckpoint RDDs (lineage-truncation state Par never tracked);
    // the contract under test is about THIS pipeline's caches
    val pre = sc.getPersistentRDDs.keySet
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),
      (3L, "completely different words here entirely")).toDF("doc_id", "text")
    Dedup.minhashLshPairs(docs, "doc_id", "text").collect()
    (sc.getPersistentRDDs.keySet -- pre).isEmpty shouldBe false
    Par.releaseCaches()
    (sc.getPersistentRDDs.keySet -- pre).isEmpty shouldBe true
  }

  test("scoped handles release only their own pipeline's caches") {
    import org.apache.spark.storage.StorageLevel
    val pre = sc.getPersistentRDDs.keySet
    val docsA = Seq((1L, "a b c d e"), (2L, "a b c d e")).toDF("doc_id", "text")
    val docsB = Seq((3L, "x y z w v"), (4L, "x y z w v")).toDF("doc_id", "text")
    val (dfA, handleA) =
      Par.scoped(Dedup.minhashLshPairs(docsA, "doc_id", "text"))
    val (dfB, handleB) =
      Par.scoped(Dedup.minhashLshPairs(docsB, "doc_id", "text"))
    dfA.collect(); dfB.collect()
    def mine = sc.getPersistentRDDs.keySet -- pre
    val before = mine.size
    before should be >= 2
    handleA.release()
    // B's intermediates must survive A's release
    mine.size should be < before
    mine.isEmpty shouldBe false
    handleB.release()
    mine.isEmpty shouldBe true
    // and the global registry no longer holds released entries
    Par.releaseCaches()
  }
}

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  test("rankNormalize maps scores to [0,1e6] by within-group rank") {
    val docs = Seq(
      (1L, "en", 10L), (2L, "en", 30L), (3L, "en", 20L),
      (4L, "de", 5L), (5L, "de", 7L),
      (6L, "fr", 9L)).toDF("doc_id", "lang", "s")
    val out = Sampling
      .rankNormalize(docs, Seq("lang"), "doc_id", col("s"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rank_ppm"))
      .toMap
    out(1L) shouldBe 0L       // en rank 0 of 3
    out(3L) shouldBe 500000L  // en rank 1 of 3
    out(2L) shouldBe 1000000L // en rank 2 of 3
    out(4L) shouldBe 0L; out(5L) shouldBe 1000000L
    out(6L) shouldBe 0L       // single-member group maps to 0
    // ties break by id, and the result is partitioning-invariant
    val tied = Seq((1L, "en", 5L), (2L, "en", 5L), (3L, "en", 5L))
      .toDF("doc_id", "lang", "s")
    def run(d: org.apache.spark.sql.DataFrame) = Sampling
      .rankNormalize(d, Seq("lang"), "doc_id", col("s"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rank_ppm"))
      .toMap
    run(tied) shouldBe Map(1L -> 0L, 2L -> 500000L, 3L -> 1000000L)
    run(tied.repartition(5)) shouldBe run(tied)
  }

  test("systematicSample hits exactly k grid points, weight-proportional") {
    val docs = (1L to 500L).map(i => (i, (i % 37) + 1)).toDF("doc_id", "w")
    val out = Sampling
      .systematicSample(docs, "doc_id", col("w"), k = 40L)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_hits")))
    out.map(_._2).sum shouldBe 40L           // exact sample size, always
    all(out.map(_._2)) should be >= 1L
    // partition-count independent
    val again = Sampling
      .systematicSample(docs.repartition(13), "doc_id", col("w"), k = 40L)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_hits")))
    again.sortBy(_._1).toSeq shouldBe out.sortBy(_._1).toSeq
  }

  test("systematicSample: a heavy row is a certainty with multiplicity") {
    // one row holds >half the mass: with k=10 it must take >=5 hits
    val docs = ((1L to 20L).map(i => (i, 1L)) :+ (99L, 30L)).toDF("doc_id", "w")
    val out = Sampling
      .systematicSample(docs, "doc_id", col("w"), k = 10L)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_hits")))
      .toMap
    out.values.sum shouldBe 10L
    out(99L) should be >= 5L
    // zero/negative/null weights are excluded, loud guard on T*k overflow
    val bad = Seq((1L, 0L), (2L, -3L), (3L, 5L)).toDF("doc_id", "w")
    Sampling.systematicSample(bad, "doc_id", col("w"), k = 2L)
      .collect().map(_.getAs[Long]("doc_id")).toSeq shouldBe Seq(3L)
    an[IllegalArgumentException] should be thrownBy
      Sampling.systematicSample(
        Seq((1L, Long.MaxValue / 2)).toDF("doc_id", "w"),
        "doc_id", col("w"), k = 1000L)
  }

  test("stratified hash sampling is reproducible and rate-respecting") {
    val docs = (1L to 2000L)
      .map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    def run() = Sampling
      .stratifiedHashSample(docs, "doc_id", "lang",
        Map("en" -> 100), defaultPerMille = 500)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .toSet
    val a = run()
    a shouldBe run() // deterministic: same ids every run
    val en = a.count(_._2 == "en")
    val de = a.count(_._2 == "de")
    // 1000 docs per stratum at 10% / 50% nominal rates
    en.toDouble shouldBe 100.0 +- 40.0
    de.toDouble shouldBe 500.0 +- 80.0
  }

  test("rates outside [0,1000] are rejected") {
    val docs = Seq((1L, "en")).toDF("doc_id", "lang")
    an[IllegalArgumentException] should be thrownBy
      Sampling.stratifiedHashSample(docs, "doc_id", "lang",
        Map("en" -> 1001), 10)
  }

  test("hashSplit labels every row, matches its cutoff math, and is stable") {
    val docs = (1L to 3000L).toDF("doc_id")
    val out = Sampling.hashSplit(docs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out should have size 3000
    // label agrees with the bucket cutoffs it is defined by
    val buckets = docs
      .select(col("doc_id"), Sampling.saltedBucket("split:", col("doc_id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { case (id, split) =>
      val expected =
        if (buckets(id) < 980) "train"
        else if (buckets(id) < 990) "validation" else "test"
      split shouldBe expected
    }
    // roughly proportional shares, all three populated
    out.values.count(_ == "train").toDouble shouldBe 2940.0 +- 60.0
    out.values.count(_ == "validation") should be > 0
    out.values.count(_ == "test") should be > 0
    // stable under partitioning AND under corpus growth: the 1..3000
    // assignments are a subset of the 1..6000 run's
    val grown = Sampling.hashSplit((1L to 6000L).toDF("doc_id"), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { case (id, split) => grown(id) shouldBe split }
  }

  test("temperatureMix: sqrt rates downsample the dominant, upsample the rare") {
    val docs = ((1L to 900L).map(i => (i, "en")) ++
      (901L to 1000L).map(i => (i, "de"))).toDF("doc_id", "lang")
    def run() = Sampling.temperatureMix(docs, "doc_id", "lang")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("copy")))
      .toSeq.sorted
    val out = run()
    // sqrt weights 30:10 over counts 900:100 -> rates en=833permille,
    // de=2500permille -> ~750 en rows, exactly 2 or 3 copies per de doc
    val en = out.count(_._2 == "en")
    val de = out.count(_._2 == "de")
    en.toDouble shouldBe 750.0 +- 50.0
    de.toDouble shouldBe 250.0 +- 30.0
    val deCopies = out.filter(_._2 == "de").groupBy(_._1).map(_._2.size).toSet
    deCopies.subsetOf(Set(2, 3)) shouldBe true
    out shouldBe run() // deterministic end to end
  }

  test("hashSplit remainder falls into the last split; bad shares rejected") {
    val docs = (1L to 500L).toDF("doc_id")
    val out = Sampling
      .hashSplit(docs, "doc_id", Seq("a" -> 100, "b" -> 100))
      .collect().map(_.getString(1))
    // shares sum to 200 of 1000: buckets >= 200 all land in "b"
    out.count(_ == "b").toDouble should be > (out.length * 0.8)
    an[IllegalArgumentException] should be thrownBy
      Sampling.hashSplit(docs, "doc_id", Seq("a" -> 600, "b" -> 600))
    an[IllegalArgumentException] should be thrownBy
      Sampling.hashSplit(docs, "doc_id", Seq.empty)
  }

  test("tokenBudgetSelect keeps best-first docs up to the exact budget") {
    // (id, tokens, score): selection order by score desc then id is
    // 3 (10 tok, cum 10), 1 (20 tok, cum 30), 4 (5 tok, cum 35), 2 —
    // budget 30 keeps {3, 1}; doc 4 would fit alone but comes after the
    // boundary and must NOT be kept (prefix semantics, not knapsack)
    val docs = Seq(
      (1L, 20, 90), (2L, 50, 10), (3L, 10, 95), (4L, 5, 80))
      .toDF("doc_id", "tok", "score")
    val out = Sampling
      .tokenBudgetSelect(docs, "doc_id", col("tok"), col("score"), 30L)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cum_tokens"))
      .toMap
    out shouldBe Map(1L -> 30L, 3L -> 10L)
    Par.releaseCaches()
  }

  test("tokenBudgetSelect cumulative sums are exact across range buckets") {
    // 400 docs across many range partitions: the bucket-offset plumbing
    // must reproduce the single-ordering prefix sum exactly
    val docs = (1L to 400L)
      .map(i => (i, (i % 7 + 1).toInt, ((i * 37) % 101).toInt))
      .toDF("doc_id", "tok", "score")
    val rows = docs.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val expected = rows
      .sortBy { case (id, _, s) => (-s, id) }
      .scanLeft((0L, 0L)) { case ((_, acc), (id, tk, _)) => (id, acc + tk) }
      .drop(1)
      .takeWhile(_._2 <= 700L)
      .toMap
    val out = Sampling
      .tokenBudgetSelect(docs, "doc_id", col("tok"), col("score"), 700L)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cum_tokens"))
      .toMap
    out shouldBe expected
    Par.releaseCaches()
  }

  test("groupTokenBudget applies each group's own budget independently") {
    // en: selection order 3 (10, cum 10), 1 (20, cum 30) -> budget 30
    // keeps both; de: 4 (25, cum 25), 2 (25, cum 50) -> budget 30 keeps
    // only doc 4; fr absent from the budget map -> dropped entirely
    val docs = Seq(
      (1L, "en", 20, 90), (2L, "de", 25, 10), (3L, "en", 10, 95),
      (4L, "de", 25, 80), (5L, "fr", 1, 99))
      .toDF("doc_id", "lang", "tok", "score")
    val out = Sampling
      .groupTokenBudget(
        docs, "doc_id", col("tok"), col("score"), "lang",
        Map("en" -> 30L, "de" -> 30L))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cum_tokens"))
      .toMap
    out shouldBe Map(1L -> 30L, 3L -> 10L, 4L -> 25L)
  }

  test("groupTokenBudget matches tokenBudgetSelect on each group slice") {
    val docs = (1L to 300L)
      .map(i => (i, if (i % 3 == 0) "a" else "b", (i % 5 + 1).toInt,
        ((i * 53) % 97).toInt))
      .toDF("doc_id", "lang", "tok", "score")
    val grouped = Sampling
      .groupTokenBudget(
        docs, "doc_id", col("tok"), col("score"), "lang",
        Map("a" -> 120L, "b" -> 80L))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cum_tokens"))
      .toMap
    val expected = Seq(("a", 120L), ("b", 80L)).flatMap { case (g, budget) =>
      Sampling
        .tokenBudgetSelect(
          docs.filter(col("lang") === g), "doc_id",
          col("tok"), col("score"), budget)
        .collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cum_tokens"))
    }.toMap
    grouped shouldBe expected
    Par.releaseCaches()
  }

  test("exactQuantiles matches the rank formula across range buckets") {
    // 1..1000 shuffled in by id: quantile q = value at rank ceil(q*n)
    val docs = (1L to 1000L).map(i => (i, (i * 617) % 1000 + 1))
      .toDF("doc_id", "v")
    val out = Sampling
      .exactQuantiles(docs, "doc_id", col("v"), Seq(0.25, 0.5, 1.0))
      .collect()
      .map(r => r.getDouble(0) -> r.getAs[Number]("value").longValue())
      .toMap
    out shouldBe Map(0.25 -> 250L, 0.5 -> 500L, 1.0 -> 1000L)
    Par.releaseCaches()
  }

  test("exactQuantiles excludes nulls and handles duplicates") {
    val docs = Seq(
      (1L, java.lang.Long.valueOf(5L)), (2L, java.lang.Long.valueOf(5L)),
      (3L, java.lang.Long.valueOf(5L)), (4L, null.asInstanceOf[java.lang.Long]))
      .toDF("doc_id", "v")
    val out = Sampling
      .exactQuantiles(docs, "doc_id", col("v"), Seq(0.5, 1.0))
      .collect()
      .map(r => r.getDouble(0) -> r.getAs[Number]("value").longValue())
      .toMap
    // n = 3 after null exclusion; both ranks land on the duplicate value
    out shouldBe Map(0.5 -> 5L, 1.0 -> 5L)
    Par.releaseCaches()
  }

  test("iqrFilter drops exactly the out-of-fence rows") {
    // 1..100 plus three planted outliers; Q1=26, Q3=76 over 103 values —
    // the local reference computes the same rank-selected fences
    val vals = (1L to 100L) ++ Seq(10000L, -10000L, 5000L)
    val docs = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("doc_id", "v")
    val sorted = vals.sorted
    def qd(q: Double): Long =
      sorted(math.max(1, math.ceil(q * sorted.size).toInt) - 1)
    val (q1, q3) = (qd(0.25), qd(0.75))
    val (lo, hi) = (q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1))
    val expected = vals.zipWithIndex
      .collect { case (v, i) if v >= lo && v <= hi => i.toLong }
      .toSet
    val got = Sampling.iqrFilter(docs, "doc_id", col("v"))
      .select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    got shouldBe expected
    // the planted outliers are gone, the bulk survives
    got.intersect(Set(100L, 101L, 102L)) shouldBe empty
    Par.releaseCaches()
  }

  test("kFolds: exact balance per stratum and globally, deterministic") {
    val docs = (0L until 103L)
      .map(i => (i, if (i % 3 == 0) "de" else "en"))
      .toDF("doc_id", "lang")
    // stratified: every (lang, fold) cell within 1 of n_lang/5
    val strat = Sampling.kFolds(docs, "doc_id", 5, Seq("lang"))
      .groupBy("lang", "fold").count()
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    for (lang <- Seq("en", "de")) {
      val sizes = (0 until 5).map(f => strat.getOrElse((lang, f), 0L))
      (sizes.max - sizes.min) should be <= 1L
    }
    // global path (rangePrefix): exact balance, no strata
    val glob = Sampling.kFolds(docs, "doc_id", 5)
      .groupBy("fold").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    (glob.values.max - glob.values.min) should be <= 1L
    glob.values.sum shouldBe 103L
    Par.releaseCaches()
    // deterministic under repartitioning
    val a = Sampling.kFolds(docs, "doc_id", 5, Seq("lang"))
      .select("doc_id", "fold")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = Sampling.kFolds(docs.repartition(7), "doc_id", 5, Seq("lang"))
      .select("doc_id", "fold")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    a shouldBe b
    Par.releaseCaches()
  }

  test("groupQuantiles agrees with exactQuantiles per group slice") {
    val docs = (1L to 300L)
      .map(i => (i, if (i % 3 == 0) "de" else "en", (i * 271) % 500))
      .toDF("doc_id", "lang", "v")
    val qs = Seq(0.25, 0.5, 1.0)
    val grouped = Sampling
      .groupQuantiles(docs, Seq("lang"), "doc_id", col("v"), qs)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) ->
        r.getAs[Number]("value").longValue())
      .toMap
    for (lang <- Seq("en", "de")) {
      val slice = Sampling
        .exactQuantiles(
          docs.filter(col("lang") === lang), "doc_id", col("v"), qs)
        .collect()
        .map(r => r.getDouble(0) -> r.getAs[Number]("value").longValue())
        .toMap
      qs.foreach(q => grouped((lang, q)) shouldBe slice(q))
    }
    Par.releaseCaches()
  }

  test("tokenBudgetSelect rejects a cumCol collision") {
    val docs = Seq((1L, 1, 1, 0L)).toDF("doc_id", "tok", "score", "cum_tokens")
    an[IllegalArgumentException] should be thrownBy
      Sampling.tokenBudgetSelect(docs, "doc_id", col("tok"), col("score"), 10L)
  }

  test("quotaSample takes exactly k per stratum, deterministically") {
    val docs = (1L to 500L)
      .map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    def run() = Sampling
      .quotaSample(docs, "doc_id", 25, Seq("lang"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .toSet
    val a = run()
    a shouldBe run()
    a.count(_._2 == "en") shouldBe 25
    a.count(_._2 == "de") shouldBe 25
    // quota larger than the stratum -> whole stratum
    val small = Seq((1L, "x"), (2L, "x")).toDF("doc_id", "lang")
    Sampling.quotaSample(small, "doc_id", 10, Seq("lang")).count() shouldBe 2L
    an[IllegalArgumentException] should be thrownBy
      Sampling.quotaSample(docs, "doc_id", 0, Seq("lang"))
  }

  test("keepQualityLines drops short and unpunctuated lines") {
    val text = Seq(
      "This is a proper sentence.",       // kept
      "menu",                             // too short, no punctuation
      "Click here now",                   // 3 words but no terminal punct
      "Is this kept too?",                // kept
      "He said \"stop.\"",                // kept: quote after period
      "short.",                           // punctuated but < 3 words
      "Another good line ends here!"      // kept
    ).mkString("\n")
    val out = Seq(text)
      .toDF("text")
      .select(TextFunctions.keepQualityLines(col("text"), 3).as("t"))
      .collect()
      .head
      .getString(0)
    out.split("\n").toSeq shouldBe Seq(
      "This is a proper sentence.",
      "Is this kept too?",
      "He said \"stop.\"",
      "Another good line ends here!")
  }

  test("weightedMix emits floor(w) copies plus a hash-gated extra") {
    val docs = (1L to 1000L)
      .map(i => (i, if (i % 2 == 0) "books" else "crawl"))
      .toDF("doc_id", "lang")
    val out = Sampling
      .weightedMix(docs, "doc_id", "lang",
        Map("books" -> 2500, "crawl" -> 400), defaultPerMille = 1000)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byDoc = out.groupBy(_._1)
    // copies are contiguous 0..n-1 per doc
    byDoc.values.foreach { rows =>
      rows.map(_._3).sorted shouldBe (0L until rows.length.toLong)
    }
    // books: every doc gets 2 or 3 copies; ~50% get the third
    val bookCounts = byDoc.filter(_._2.head._2 == "books").map(_._2.length)
    bookCounts.foreach(n => n should (be(2) or be(3)))
    bookCounts.count(_ == 3).toDouble shouldBe 250.0 +- 80.0
    // crawl: 0 or 1 copy, ~40% kept (docs with zero copies vanish)
    val crawlDocs = byDoc.filter(_._2.head._2 == "crawl")
    crawlDocs.values.foreach(_.length shouldBe 1)
    crawlDocs.size.toDouble shouldBe 200.0 +- 70.0
  }

  test("weightedMix weight 1000 is an exact identity with copy 0") {
    val docs = (1L to 100L).map(i => (i, "x")).toDF("doc_id", "lang")
    val out = Sampling
      .weightedMix(docs, "doc_id", "lang", Map.empty, defaultPerMille = 1000)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    out.length shouldBe 100
    out.foreach { case (_, copy) => copy shouldBe 0L }
  }

  test("weightedMix degenerates to a hash sample for sub-1000 weights") {
    val docs = (1L to 3000L)
      .map(i => (i, if (i % 3 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val mixed = Sampling
      .weightedMix(docs, "doc_id", "lang", Map("en" -> 120), defaultPerMille = 700)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // single copy per kept doc, rates respected (1000 en / 2000 de docs)
    mixed.foreach(_._3 shouldBe 0L)
    mixed.map(_._1).distinct.length shouldBe mixed.length
    mixed.count(_._2 == "en").toDouble shouldBe 120.0 +- 40.0
    mixed.count(_._2 == "de").toDouble shouldBe 1400.0 +- 110.0
  }

  test("weightedMix composed after a hash sample stays unbiased") {
    // the decision hashes are salted apart: an unsalted mix after a 100‰
    // sample would see every survivor in bucket<100 and give ALL of them
    // the fractional extra copy instead of the nominal 50%
    val docs = (1L to 20000L).map(i => (i, "en")).toDF("doc_id", "lang")
    val sampled = Sampling
      .stratifiedHashSample(docs, "doc_id", "lang", Map.empty, 100)
    val counts = Sampling
      .weightedMix(sampled, "doc_id", "lang", Map("en" -> 2500), 1000)
      .groupBy("doc_id").count()
      .select("count").as[Long].collect()
    val kept = counts.length.toDouble
    kept shouldBe 2000.0 +- 200.0
    counts.foreach(n => n should (be(2L) or be(3L)))
    // ~50% of survivors get the third copy — NOT 100%
    counts.count(_ == 3L) / kept shouldBe 0.5 +- 0.08
  }

  test("weightedMix rejects a copyCol collision and dodges __n_copies") {
    val docs = Seq((1L, "en", 7L)).toDF("doc_id", "lang", "copy")
    an[IllegalArgumentException] should be thrownBy
      Sampling.weightedMix(docs, "doc_id", "lang", Map.empty, 1000)
    // a pre-existing __n_copies column must survive untouched
    val withTmp = Seq((1L, "en", 42L)).toDF("doc_id", "lang", "__n_copies")
    val out = Sampling
      .weightedMix(withTmp, "doc_id", "lang", Map.empty, 1000, copyCol = "cp")
      .collect()
    out.length shouldBe 1
    out.head.getAs[Long]("__n_copies") shouldBe 42L
  }
}

class PackingSpec extends SparkSpec {
  import spark.implicits._

  test("apportion: exact total, every group within 1 of proportional") {
    val df = Seq(("a", 10L), ("b", 25L), ("c", 65L), ("b", 10L))
      .toDF("g", "w")
    val out = Sampling.apportion(df, "g", col("w"), total = 10L)
      .collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_alloc"))
      .toMap
    // weights a=10, b=35, c=65 of 110: exact shares 0.909/3.18/5.909;
    // floors 0/3/5 leave 2 extras -> the largest remainders (a .909, c .909,
    // tie a<c alphabetical both get one... need=2: a and c)
    out("a") shouldBe 1L
    out("b") shouldBe 3L
    out("c") shouldBe 6L
    out.values.sum shouldBe 10L
  }

  test("apportion: zero total weight allocates nothing; total=0 works") {
    val z = Seq(("a", 0L), ("b", 0L)).toDF("g", "w")
    Sampling.apportion(z, "g", col("w"), 7L)
      .agg(sum("n_alloc")).collect().head.getLong(0) shouldBe 0L
    val df = Seq(("a", 5L)).toDF("g", "w")
    Sampling.apportion(df, "g", col("w"), 0L)
      .collect().head.getAs[Long]("n_alloc") shouldBe 0L
  }

  test("apportion rejects an overflow-risk total; clamps negative weights") {
    an[IllegalArgumentException] should be thrownBy
      Sampling.apportion(
        Seq(("a", 1L)).toDF("g", "w"), "g", col("w"), 2000000000000L)
    val out = Sampling.apportion(
      Seq(("a", -5L), ("b", 10L)).toDF("g", "w"), "g", col("w"), 4L)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_alloc")).toMap
    out("a") shouldBe 0L
    out("b") shouldBe 4L
  }

  test("rendezvous: moved rows move ONLY to the added worker") {
    val ids = (0L until 2000L).toDF("id")
    val before = Seq("w0", "w1", "w2", "w3", "w4")
    val after = before :+ "w5"
    val a = Packing.rendezvousAssign(ids, "id", before)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = Packing.rendezvousAssign(ids, "id", after)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val moved = a.keys.filter(k => a(k) != b(k))
    moved.foreach(k => b(k) shouldBe "w5") // the HRW minimal-movement proof
    // ~1/6 of rows move (hash-deterministic, so exact for this fixture)
    val frac = moved.size.toDouble / 2000
    frac should be > 0.10
    frac should be < 0.25
    val rep = Packing.rendezvousMoveReport(ids, "id", before, after)
      .collect().head
    rep.getAs[Long]("n_moved") shouldBe moved.size.toLong
    rep.getAs[Long]("moved_ppm") shouldBe (moved.size.toLong * 1000000L / 2000)
  }

  test("rendezvous rejects duplicate or empty worker sets") {
    val ids = Seq(1L).toDF("id")
    an[IllegalArgumentException] should be thrownBy
      Packing.rendezvousAssign(ids, "id", Seq.empty)
    an[IllegalArgumentException] should be thrownBy
      Packing.rendezvousAssign(ids, "id", Seq("a", "a"))
  }

  test("contiguousWindows: hand-checked offsets, window spans, invariance") {
    // token counts by doc_id order: 5, 3, 4 ; L = 4
    // starts: 0, 5, 8 -> windows (0,1) off 0 ; (1,1) off 1 ; (2,2) off 0
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "f g h"),
      (3L, "i j k l"))
    def run(parts: Int) = Packing
      .contiguousWindows(
        docs.toDF("doc_id", "text").repartition(parts),
        "doc_id",
        TextFunctions.tokenCount(col("text")),
        windowLen = 4L)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("tok_start"), r.getAs[Long]("first_window"),
          r.getAs[Long]("last_window"), r.getAs[Long]("offset_in_first"))))
      .toMap
    val out = run(1)
    out(1L) shouldBe ((0L, 0L, 1L, 0L))
    out(2L) shouldBe ((5L, 1L, 1L, 1L))
    out(3L) shouldBe ((8L, 2L, 2L, 0L))
    out shouldBe run(5) // partitioning-invariant global offsets
  }

  test("contiguousWindows offsets telescope: start_i+1 = start_i + n_i") {
    val docs = (1L to 300L).map(i => (i, ("w " * (1 + (i % 17).toInt)).trim))
    val rows = Packing
      .contiguousWindows(
        docs.toDF("doc_id", "text"),
        "doc_id",
        TextFunctions.tokenCount(col("text")),
        windowLen = 64L)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("tok_start"),
        r.getAs[Long]("n_tokens")))
      .sortBy(_._1)
    rows.sliding(2).foreach {
      case Array((_, s1, n1), (_, s2, _)) => s2 shouldBe (s1 + n1)
      case _ =>
    }
    rows.head._2 shouldBe 0L
  }

  test("sequencePack lays out contiguous bins by cumulative tokens") {
    // shards=1 -> one deterministic stream ordered by doc_id
    // tokens: 4, 5, 3, 9 ; capacity 10
    // cum-before: 0, 4, 9, 12 -> bins 0,0,0,1 ; offsets 0,4,9,2
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "a b c d e"),
      (3L, "a b c"),
      (4L, "a b c d e f g h i")).toDF("doc_id", "text")
    val out = Packing
      .sequencePack(docs, "doc_id",
        TextFunctions.tokenCount(org.apache.spark.sql.functions.col("text")),
        capacity = 10, partCols = Nil, shards = 1)
      .orderBy("doc_id")
      .collect()
      .map(r => (
        r.getAs[Long]("doc_id"),
        r.getAs[Long]("bin"),
        r.getAs[Long]("bin_offset")))
    out.toSeq shouldBe Seq((1L, 0L, 0L), (2L, 0L, 4L), (3L, 0L, 9L),
      (4L, 1L, 2L))
  }

  test("sequencePack shards bound the window partition size") {
    val docs = (1L to 200L).map(i => (i, "w " * 5)).toDF("doc_id", "text")
    val out = Packing.sequencePack(docs, "doc_id",
      TextFunctions.tokenCount(org.apache.spark.sql.functions.col("text")),
      capacity = 50, partCols = Nil, shards = 8)
    val perShard = out.groupBy("shard").count().collect()
      .map(_.getAs[Long]("count"))
    perShard.sum shouldBe 200L
    all(perShard) should be < 60L // ~25 expected per shard, bounded
  }

  test("globalShuffle is a deterministic permutation with contiguous shards") {
    val docs = (0L until 300L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val out = Packing.globalShuffle(docs, "doc_id", shardSize = 32L)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pos"),
        r.getAs[Long]("shard")))
    // pos is a bijection 0..n-1; shard = pos / 32
    out.map(_._2).sorted.toSeq shouldBe (0L until 300L)
    out.foreach { case (_, p, s) => s shouldBe p / 32 }
    // not the identity order (it actually shuffles)
    out.sortBy(_._2).map(_._1).toSeq should not be (0L until 300L)
    // partition-count independent
    val again = Packing.globalShuffle(docs.repartition(17), "doc_id",
        shardSize = 32L)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pos"),
        r.getAs[Long]("shard")))
    again.sortBy(_._1).toSeq shouldBe out.sortBy(_._1).toSeq
    // a different seed is a different permutation
    val reseeded = Packing.globalShuffle(docs, "doc_id", seed = "epoch2",
        shardSize = 32L)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pos")))
    reseeded.sortBy(_._1).map(_._2).toSeq should not be
      out.sortBy(_._1).map(_._2).toSeq
  }

  test("balancedShards: shard sums within one max item, deterministic") {
    import org.apache.spark.sql.functions.col
    // skewed weights: a few giants + a long tail
    val rows = (1L to 500L).map(i => (i, if (i <= 5) 900L + i else i % 37 + 1L))
    val df = rows.toDF("id", "w")
    val out = Packing.balancedShards(df, "id", col("w"), nShards = 8)
    out.columns.toSeq shouldBe Seq("id", "w", "shard")
    val sums = out.groupBy("shard").sum("w").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    sums.keySet shouldBe (0 until 8).toSet
    val maxW = rows.map(_._2).max
    (sums.values.max - sums.values.min) should be <= maxW
    // assignment is a pure function of (weight, id): partitioning-invariant
    val again = Packing
      .balancedShards(df.repartition(13), "id", col("w"), nShards = 8)
      .select("id", "shard").as[(Long, Int)].collect().toMap
    out.select("id", "shard").as[(Long, Int)].collect().toMap shouldBe again
    // collision guard: an existing shard column (e.g. from sequencePack)
    // must be rejected, not silently clobbered
    an[IllegalArgumentException] should be thrownBy
      Packing.balancedShards(
        df.withColumn("shard", col("w")), "id", col("w"), nShards = 2)
  }
}

class NgramLmSpec extends SparkSpec {
  import spark.implicits._

  test("bigramFluency scores hand-computed conditional probabilities") {
    // corpus: d1 = "a b c", d2 = "a b a c"
    //   bigram counts: "a b"->2, "b c"->1, "b a"->1, "a c"->1
    //   prefix counts: a->3, b->2
    //   micro: "a b"=666666, "b c"=500000, "b a"=500000, "a c"=333333
    val docs = Seq((1L, "a b c"), (2L, "a b a c")).toDF("doc_id", "text")
    val out = NgramLm.bigramFluency(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    out(1L)._1 shouldBe 2L
    out(1L)._2 shouldBe (666666L + 500000L) / 2.0
    out(2L)._1 shouldBe 3L
    out(2L)._2 shouldBe (666666L + 500000L + 333333L) / 3.0
    Par.releaseCaches()
  }

  test("bigramFluency: single-word and empty docs emit no row") {
    val docs = Seq((1L, "solo"), (2L, ""), (3L, "two words"))
      .toDF("doc_id", "text")
    val out = NgramLm.bigramFluency(docs, "doc_id", "text").collect()
    out.map(_.getLong(0)).toSet shouldBe Set(3L)
    Par.releaseCaches()
  }

  test("hot-bigram broadcast keeps a skewed scoring join off the shuffle") {
    // boilerplate-heavy corpus: one bigram ("x x") is >90% of the stream —
    // the exact distribution the raw bigram-keyed join would collapse onto
    // one task. With the hot split, the hot mass rides a broadcast join and
    // only the tail (one bigram per doc) plus the bounded histograms are
    // shuffled.
    val docs = (1L to 100L)
      .map(i => (i, ("x " * 40).trim + s" u$i"))
      .toDF("doc_id", "text")
    // 100 docs x (39 "x x" + 1 "x u$i") = 4000 bigrams, 3900 hot

    def run(hotK: Int): (Map[Long, (Long, Double)], Long) = {
      val read = new java.util.concurrent.atomic.AtomicLong()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null)
            read.addAndGet(t.taskMetrics.shuffleReadMetrics.recordsRead)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val out = NgramLm
          .bigramFluency(docs, "doc_id", "text", hotK = hotK)
          .collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
          .toMap
        // the listener bus is async: wait until the counter stops moving
        var last = -1L
        var stable = 0
        var waited = 0
        while (stable < 3 && waited < 100) {
          Thread.sleep(100)
          waited += 1
          val cur = read.get
          if (cur == last) stable += 1 else { stable = 0; last = cur }
        }
        (out, read.get())
      } finally {
        spark.sparkContext.removeSparkListener(listener)
        Par.releaseCaches()
      }
    }

    // At scale the probability table is vocab-sized and cannot
    // auto-broadcast; model that here by disabling the threshold (explicit
    // broadcast() hints — the hot path — are unaffected), so the plain plan
    // shows its true shuffled-stream shape even on a toy corpus.
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (split, splitShuffle) = run(hotK = 8)
      val (plain, plainShuffle) = run(hotK = 0)
      split shouldBe plain // result-identical
      split should have size 100
      // the plain plan shuffles the whole scored stream; the split plan's
      // bigram-keyed shuffle carries only the tail — assert the hot mass
      // (3900 records) stayed off the wire
      splitShuffle should be < (plainShuffle - 3000L)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("perplexityBuckets slices each language's fluency ranking in thirds") {
    // lang A: d1 repeats the dominant "p q" transition (fluent); d2/d3
    // each follow the shared "p" prefix with a one-off continuation, so
    // they tie at the bottom and the tie breaks by id. Lang B ranks
    // independently (one doc → bucket 0 by the slice formula).
    val docs = Seq(
      (1L, "p q p q p q", "A"),
      (2L, "p r", "A"),
      (3L, "p s", "A"),
      (4L, "z z", "B"),
      (5L, "solo", "B") // <2 bigrams → no row
    ).toDF("doc_id", "text", "lang")
    val out = NgramLm
      .perplexityBuckets(docs, "doc_id", "text", "lang")
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(4), r.getString(5))))
      .toMap
    out.keySet shouldBe Set(1L, 2L, 3L, 4L)
    out(1L) shouldBe (("A", 0, "head"))
    out(2L) shouldBe (("A", 1, "middle"))
    out(3L) shouldBe (("A", 2, "tail"))
    out(4L) shouldBe (("B", 0, "head"))
    Par.releaseCaches()
  }

  test("perplexityBuckets: slice sizes differ by at most one per language") {
    // 10 equal-fluency docs in one language: buckets get 4/3/3 (the
    // ((rank−1)·3) div n formula's balanced split), assignment by id order
    val docs = (1L to 10L).map(i => (i, "a b", "A")).toDF("doc_id", "text", "lang")
    val sizes = NgramLm
      .perplexityBuckets(docs, "doc_id", "text", "lang")
      .groupBy("bucket").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    sizes shouldBe Map(0 -> 4L, 1 -> 3L, 2 -> 3L)
    Par.releaseCaches()
  }
}

class MinhashSigSpec extends SparkSpec {
  import spark.implicits._

  test("native MinhashSigF equals the HOF reference formulation on real text") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(200)
    val sh = docs.select(
      col("doc_id"),
      array_distinct(
        transform(
          TextFunctions.shingleSet(col("text"), 3),
          s => TextFunctions.hash61(s))).as("sh"))
    val both = sh.select(
      col("doc_id"),
      Dedup.minhashSignature(col("sh")).as("native"),
      Dedup.minhashSignatureHof(col("sh")).as("hof"))
    both.filter(functions.not(col("native") === col("hof"))).count() shouldBe 0L
  }

  test("empty shingle set yields the sentinel signature") {
    val out = Seq((1L, Seq.empty[Long])).toDF("id", "sh")
      .select(Dedup.minhashSignature(col("sh")).as("sig"))
      .head().getSeq[Long](0)
    out.toSeq shouldBe Seq.fill(Dedup.MinhashA.length)(Dedup.MinhashP)
  }
}

class PlanesForSpec extends SparkSpec {
  test("planesFor bounds the expected bucket size at any corpus scale") {
    for (n <- Seq(1L, 100L, 2048L, 1000000L, 10000000000L)) {
      val p = Similarity.planesFor(n)
      // the bound planesFor exists to enforce: n / 2^p <= target
      (n.toDouble / (1L << p)) should be <= Similarity.TargetBucketSize.toDouble
      p should be >= 1
    }
    // monotone: 1000x the corpus never means fewer planes
    Similarity.planesFor(1000000000L) should be >= Similarity.planesFor(1000000L)
  }

  test("lshBucketFixedDim is bit-identical to the runtime-dim variant") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val rows = (1L to 200L)
      .map(i => (i, Array.fill(16)(rng.nextFloat() * 2f - 1f)))
    val df = rows.toDF("id", "vec")
    val both = df
      .select(
        Similarity.lshBucket(col("vec"), 10).as("rt"),
        Similarity.lshBucketFixedDim(col("vec"), 10, 16).as("fx"))
      .as[(Long, Long)]
      .collect()
    both.foreach { case (rt, fx) => fx shouldBe rt }
    // and buckets actually vary (the comparison isn't vacuous)
    both.map(_._1).distinct.length should be > 1
  }

  test("cosineNearDupPairs derives planes from corpus size by default") {
    import spark.implicits._
    // 3 exact-duplicate pairs among orthogonal-ish vectors: derived-planes
    // blocking must still find every exact duplicate (same bucket always)
    val rows = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)), (4L, Array(0.0f, 1.0f, 0.0f)),
      (5L, Array(0.0f, 0.0f, 1.0f)), (6L, Array(0.0f, 0.0f, 1.0f)))
    val out = Similarity
      .cosineNearDupPairs(rows.toDF("vec_id", "embedding"), "vec_id", "embedding", 0.99)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    out should contain allOf ((1L, 2L), (3L, 4L), (5L, 6L))
    Par.releaseCaches()
  }
}

class TfIdfSpec extends SparkSpec {
  import spark.implicits._

  test("scoreDocs computes hand-checked integer-scaled tf-idf") {
    // corpus: d1 = "a b a", d2 = "b c"
    //   df: a->1, b->2, c->1; n_docs=2
    //   idf (scale 1e6): a=2000000, b=1000000, c=2000000
    //   weights: (d1,a)=4000000, (d1,b)=1000000, (d2,b)=1000000,
    //            (d2,c)=2000000
    val docs = Seq((1L, "a b a"), (2L, "b c")).toDF("doc_id", "text")
    val out = TfIdf.scoreDocs(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    out(1L) shouldBe ((2L, 3L, 5000000.0 / 3.0))
    out(2L) shouldBe ((2L, 2L, 1500000.0))
    Par.releaseCaches()
  }

  test("topKeywords ranks by weight with deterministic term tie-break") {
    val docs = Seq((1L, "a b a"), (2L, "b c"), (3L, "p q"))
      .toDF("doc_id", "text")
    val out = TfIdf.topKeywords(docs, "doc_id", "text", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getString(1))
      .toMap
    out((1L, 1)) shouldBe "a" // weight 4000000 beats b's 1000000
    out((2L, 1)) shouldBe "c" // 2000000 beats b's 1000000
    // d3: p and q tie on weight -> lexicographic term order breaks it
    out((3L, 1)) should be < out((3L, 2))
    Par.releaseCaches()
  }

  test("hot/tail split is result-identical to the plain idf join") {
    // one term ("the") in every doc dominates; hotK=1 broadcasts exactly it
    val docs = (1L to 20L)
      .map(i => (i, s"the the the unique$i"))
      .toDF("doc_id", "text")
    def rows(hotK: Int) =
      TfIdf.termWeights(docs, "doc_id", "text", hotK = hotK)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
    val split = rows(1)
    rows(0) shouldBe split
    // sanity: the hot term's weight reflects df = all 20 docs:
    // idf = (20 * 1e6) div 20 = 1e6, tf = 3 -> weight 3e6
    split should contain ((1L, "the", 3L, 3000000L))
    Par.releaseCaches()
  }

  test("phraseMatches finds consecutive words only, with counts and positions") {
    val docs = Seq(
      (1L, "a b c a b c"), // two matches of "a b c" at 1 and 4
      (2L, "a b x c"), // broken by x: no match
      (3L, "c b a"), // reversed: no match
      (4L, "x a b c"), // one match at 2
      (5L, "a b"), // prefix only
      (6L, "a a b c c") // one match at 2 (overlapping starts don't double)
    ).toDF("doc_id", "text")
    val out = TfIdf.phraseMatches(docs, "doc_id", "text", Seq("a", "b", "c"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    out shouldBe Map(1L -> ((2L, 1L)), 4L -> ((1L, 2L)), 6L -> ((1L, 2L)))
    Par.releaseCaches()
    // single-word phrase degenerates to term lookup
    val one = TfIdf.phraseMatches(docs, "doc_id", "text", Seq("x"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    one shouldBe Map(2L -> 1L, 4L -> 1L)
    Par.releaseCaches()
  }
}

class BudgetEdgeSpec extends SparkSpec {
  import spark.implicits._

  test("tokenBudgetSelect excludes null and negative token counts") {
    // doc 2's tokens are null, doc 3's negative (the size(null) = -1
    // shape): both are excluded; the prefix over the rest stays monotone
    val docs = Seq(
      (1L, java.lang.Long.valueOf(10L), 90),
      (2L, null.asInstanceOf[java.lang.Long], 95),
      (3L, java.lang.Long.valueOf(-1L), 93),
      (4L, java.lang.Long.valueOf(10L), 80))
      .toDF("doc_id", "tok", "score")
    val out = Sampling
      .tokenBudgetSelect(docs, "doc_id", col("tok"), col("score"), 20L)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cum_tokens"))
      .toMap
    out shouldBe Map(1L -> 10L, 4L -> 20L)
    Par.releaseCaches()
  }
}
