package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.http.{HttpForeachWriter, Json}
import graft.http.testkit.StubServer
import graft.ops.Similarity
import graft.plans.GraftExtensions

class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("graft_dot registers and evaluates in SQL") {
    GraftExtensions.register(spark)
    Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b")
      .createOrReplaceTempView("vecs")
    val out =
      spark.sql("SELECT graft_dot(a, b) AS d FROM vecs").collect().head.getDouble(0)
    out shouldBe 32.0
  }

  test("graft_hash61 registers and matches TextFunctions.hash61") {
    GraftExtensions.register(spark)
    Seq("abc", "", "ünïcødé").toDF("s").createOrReplaceTempView("h61")
    val rows = spark.sql(
      "SELECT graft_hash61(s) AS h, CAST(CONV(SUBSTRING(MD5(s), 1, 15), 16, 10) AS BIGINT) AS e FROM h61")
      .collect()
    rows.foreach(r => r.getLong(0) shouldBe r.getLong(1))
  }

  test("text functions in SQL match the DataFrame API bit-for-bit") {
    GraftExtensions.register(spark)
    Seq(
      "The cat is in the house and it is fine",
      "  a  Messy, (DOC); the end!  ",
      "der hund ist nicht mit der katze und")
      .toDF("text").createOrReplaceTempView("sqltext")
    val cmp = spark.sql(
      """SELECT graft_lang_id(text) AS l_sql,
        |  graft_token_count(text) AS c_sql,
        |  graft_quality_score(text) AS q_sql,
        |  graft_clean_text(text) AS t_sql,
        |  graft_normalize_answer(text) AS n_sql,
        |  text FROM sqltext""".stripMargin)
      .select(
        col("l_sql"), col("c_sql"), col("q_sql"), col("t_sql"), col("n_sql"),
        ops.TextFunctions.langId(col("text")).as("l_df"),
        ops.TextFunctions.tokenCount(col("text")).as("c_df"),
        ops.TextFunctions.qualityScore(col("text")).as("q_df"),
        ops.TextFunctions.cleanText(col("text")).as("t_df"),
        ops.TextFunctions.normalizeAnswer(col("text")).as("n_df"))
      .filter(
        col("l_sql") =!= col("l_df") || col("c_sql") =!= col("c_df") ||
          col("q_sql") =!= col("q_df") || col("t_sql") =!= col("t_df") ||
          col("n_sql") =!= col("n_df"))
    cmp.count() shouldBe 0L
  }

  test("graft_nfc registers and matches the DataFrame API bit-for-bit") {
    GraftExtensions.register(spark)
    Seq("e\u0301cole", "plain", "A\u030a e\u0301")
      .toDF("s").createOrReplaceTempView("nfc")
    val cmp = spark.sql("SELECT graft_nfc(s) AS n_sql, s FROM nfc")
      .select(
        col("n_sql"),
        ops.TextFunctions.nfcNormalize(col("s")).as("n_df"))
      .filter(col("n_sql") =!= col("n_df"))
    cmp.count() shouldBe 0L
    // and the SQL path actually COMPOSES (not just agrees with the API):
    // the decomposed view row comes back as the single composed code point
    spark.sql("SELECT graft_nfc(s) AS n FROM nfc WHERE s LIKE '%cole'")
      .collect().head.getString(0) shouldBe "\u00e9cole"
  }

  test("graft_dot matches the HOF formulation bit-for-bit") {
    val df = spark.range(200).select(
      col("id"),
      transform(sequence(lit(1), lit(64)), i =>
        (sin(i * (col("id") + 1))).cast("float")).as("v"))
    val cmp = df.select(
      Similarity.dot(col("v"), col("v")).as("native"),
      Similarity.dotHof(col("v"), col("v")).as("hof"))
      .filter(col("native") =!= col("hof"))
    cmp.count() shouldBe 0L
  }
}

class CosineNearDupSpec extends SparkSpec {
  import spark.implicits._

  test("cosineNearDupPairs finds exact and near duplicates via LSH blocking") {
    def vec(seed: Int): Array[Float] =
      Array.tabulate(16)(d => (((seed * 31 + d * 7) % 11) - 5).toFloat)
    val rows = Seq(
      (1L, vec(1)),
      (2L, vec(2)),
      (3L, vec(3)),
      (4L, vec(1).map(_ * 3.0f)), // exact direction dup of 1
      (5L, vec(1).zipWithIndex.map { case (x, i) => if (i == 0) x + 0.01f else x })) // near dup of 1
      .toDF("vec_id", "embedding")
    val out = Similarity
      .cosineNearDupPairs(rows, "vec_id", "embedding", threshold = 0.999, planes = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    out should contain((1L, 4L))
    out should contain((1L, 5L))
    out should contain((4L, 5L))
    out.exists(p => p._1 == 2L || p._2 == 2L) shouldBe false
  }

  test("cosinePairsExact agrees with cosineNearDupPairs on guaranteed-same-bucket pairs") {
    def vec(seed: Int): Array[Float] =
      Array.tabulate(16)(d => (((seed * 13 + d * 5) % 9) - 4).toFloat)
    val rows = (1 to 20).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val exact = Similarity
      .cosinePairsExact(rows, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity
      .cosineNearDupPairs(rows, "vec_id", "embedding", 0.9, planes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    lsh.subsetOf(exact) shouldBe true
  }
}

class HttpForeachWriterSpec extends SparkSpec with BeforeAndAfterAll {
  private var server: StubServer = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = StubServer().route("/row")(_ => (200, "{}")).start()
  }
  override def afterAll(): Unit = { server.stop(); super.afterAll() }

  test("streaming foreach writer posts one request per row") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val query = input
      .toDF()
      .toDF("v")
      .select(to_json(struct(col("v"))).as("payload"))
      .writeStream
      .foreach(new HttpForeachWriter(Map("url" -> server.url("/row"))))
      .start()
    try {
      input.addData(1L, 2L, 3L)
      query.processAllAvailable()
      val bodies = server.requests.map(_.body).sorted
      bodies shouldBe List("""{"v":1}""", """{"v":2}""", """{"v":3}""")
    } finally query.stop()
  }

  test("error status fails the stream") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val fail = StubServer().route("/bad")(_ => (500, "no")).start()
    try {
      val input = MemoryStream[Long]
      val query = input
        .toDF()
        .toDF("v")
        .select(to_json(struct(col("v"))).as("payload"))
        .writeStream
        .foreach(new HttpForeachWriter(Map("url" -> fail.url("/bad"))))
        .start()
      try {
        input.addData(1L)
        a[Throwable] should be thrownBy query.processAllAvailable()
      } finally query.stop()
    } finally fail.stop()
  }

  test("the named sink request callback sees one request per row") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val requests = new java.util.concurrent.atomic.AtomicInteger()
    graft.http.RequestCallback.register("foreach-counter", _ => new graft.http.RequestCallback {
      def onRequest(m: String, u: String, b: Option[String]): Unit = { requests.incrementAndGet(); () }
      def onResponse(m: String, u: String, s: Int): Unit = ()
      def onException(m: String, u: String, e: Throwable): Unit = ()
    })
    val cb = StubServer().route("/cb")(_ => (200, "{}")).start()
    try {
      val input = MemoryStream[Long]
      val query = input
        .toDF()
        .toDF("v")
        .select(to_json(struct(col("v"))).as("payload"))
        .writeStream
        .foreach(new HttpForeachWriter(Map(
          "url" -> cb.url("/cb"),
          "http.sink.request-callback" -> "foreach-counter")))
        .start()
      try {
        input.addData(1L, 2L, 3L)
        query.processAllAvailable()
        cb.requestCount shouldBe 3
        requests.get() shouldBe 3
      } finally query.stop()
    } finally cb.stop()
  }
}

class IvfSpec extends SparkSpec {
  import spark.implicits._

  private def vec(seed: Int): Array[Float] =
    Array.tabulate(16)(d => (((seed * 37 + d * 11) % 17) - 8).toFloat)

  test("ivfTopK finds an identical-direction vector through its cell") {
    val rows = (1 to 60).map(i => (i.toLong, vec(i))) :+
      (61L, vec(30).map(_ * 2.0f)) // exact direction dup of 30
    val corpus = rows.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") === 30L)
    val out = graft.ops.Similarity
      .ivfTopK(corpus, "vec_id", "embedding", queries, "vec_id", "embedding",
        k = 3, cells = 8, nprobe = 2)
      .orderBy("rank")
      .collect()
    // the duplicate has an identical cell assignment, so nprobe >= 1 finds it
    out.map(_.getAs[Long]("neighbor_id")) should contain(61L)
    out.head.getAs[Double]("cos_sim") shouldBe 1.0 +- 1e-9
  }

  test("spherical k-means separates well-clustered data and recovers cluster directions") {
    // three tight clusters around orthogonal axes (plus small jitter)
    def clustered(axis: Int, i: Int): Array[Float] =
      Array.tabulate(12) { d =>
        val base = if (d / 4 == axis) 10.0f else 0.0f
        base + (((i * 31 + d * 7) % 5) - 2) * 0.1f
      }
    val rows = for (axis <- 0 until 3; i <- 1 to 20)
      yield ((axis * 20 + i).toLong, clustered(axis, i))
    val corpus = rows.toDF("vec_id", "embedding")
    val init = graft.ops.Similarity
      .oversampledCentroids(corpus, "vec_id", "embedding", cells = 3)
    val trained = graft.ops.Similarity
      .trainSphericalKMeans(corpus, "embedding", init, iters = 5)
    trained.length shouldBe 3
    // every trained centroid should be dominated by exactly one axis block,
    // and all three axes should be covered
    val axes = trained.map { c =>
      val blockNorm = (0 until 3).map(b =>
        (0 until 4).map(d => math.abs(c(b * 4 + d).toDouble)).sum)
      blockNorm.indexOf(blockNorm.max)
    }
    axes.toSet shouldBe Set(0, 1, 2)
    // unit-normalized
    all(trained.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))) shouldBe 1.0 +- 1e-5
  }

  test("ivfTopK with trained centroids matches brute force on clustered data") {
    def clustered(axis: Int, i: Int): Array[Float] =
      Array.tabulate(12) { d =>
        val base = if (d / 4 == axis) 10.0f else 0.0f
        base + (((i * 31 + d * 7) % 5) - 2) * 0.1f
      }
    val rows = for (axis <- 0 until 3; i <- 1 to 20)
      yield ((axis * 20 + i).toLong, clustered(axis, i))
    val corpus = rows.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id").isin(1L, 25L, 45L))
    val brute = graft.ops.Similarity
      .bruteForceTopK(corpus, "vec_id", "embedding", queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // nprobe=1 suffices once centroids align with the true clusters
    val ivf = graft.ops.Similarity
      .ivfTopK(corpus, "vec_id", "embedding", queries, "vec_id", "embedding",
        k = 3, cells = 3, nprobe = 1, trainIters = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    ivf shouldBe brute
  }

  test("oversampledCentroids runs O(1) Spark jobs regardless of cell count") {
    val corpus = (1 to 200).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    corpus.count() // materialize the local relation plan path first
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val cents = graft.ops.Similarity
        .oversampledCentroids(corpus, "vec_id", "embedding", cells = 32)
      cents.length shouldBe 32
      Thread.sleep(500) // let queued listener events drain
      // one top-k sample scan (+ a possible AQE stage job) — NOT O(cells)
      jobs.get() should be <= 4
    } finally sc.removeSparkListener(listener)
    // determinism: rerun yields identical centroids
    val again = graft.ops.Similarity
      .oversampledCentroids(corpus, "vec_id", "embedding", cells = 32)
    again.map(_.toSeq).toSeq shouldBe
      graft.ops.Similarity
        .oversampledCentroids(corpus, "vec_id", "embedding", cells = 32)
        .map(_.toSeq).toSeq
  }

  test("ivfTopK results are a subset of brute force with matching ranks at full probe") {
    val corpus = (1 to 40).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") <= 2L)
    val brute = graft.ops.Similarity
      .bruteForceTopK(corpus, "vec_id", "embedding", queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ivfFull = graft.ops.Similarity
      .ivfTopK(corpus, "vec_id", "embedding", queries, "vec_id", "embedding",
        k = 5, cells = 4, nprobe = 4) // probe every cell -> exact
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    ivfFull shouldBe brute
  }
}

class MultimodalPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def blobs = Seq((1L, "a" * 100), (2L, "b" * 37))
    .toDF("id", "s")
    .select(col("id"), col("s").cast("binary").as("blob"))

  test("frameSample explodes sampled frames with stable fingerprints") {
    val out = graft.ops.Multimodal.frameSample(blobs, "id", "blob", every = 2)
      .collect()
    // 100 bytes -> n_frames = 100 % 24 + 1 = 5 -> frames 0,2,4
    out.filter(_.getLong(0) == 1L).map(_.getInt(1)).sorted shouldBe Array(0, 2, 4)
    // fingerprints deterministic: rerun equals
    val again = graft.ops.Multimodal.frameSample(blobs, "id", "blob", every = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    out.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet shouldBe again
  }

  test("featureExtract yields fixed-dim float vectors usable by Similarity") {
    val feats = graft.ops.Multimodal.featureExtract(blobs, "id", "blob", dim = 8)
    val rows = feats.collect()
    all(rows.map(_.getSeq[Float](1).size)) shouldBe 8
    // downstream compatibility: cosine of a vector with itself is 1
    val self = feats.select(
      graft.ops.Similarity.cosine(col("features"), col("features")).as("c"))
      .collect().map(_.getDouble(0))
    all(self.map(math.abs)) shouldBe 1.0 +- 1e-9
  }
}

class StreamingSessionsSpec extends SparkSpec {
  import spark.implicits._
  import graft.streaming.StreamingSessions
  import graft.streaming.StreamingSessions.Event
  import java.sql.Timestamp

  private def ts(s: String) = Timestamp.valueOf(s)

  test("flatMapGroupsWithState sessionization closes sessions on gap") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val out = StreamingSessions.sessionize(
      input.toDS(), gapMillis = 30 * 60 * 1000L)
    val q = out.writeStream
      .format("memory")
      .queryName("custom_sessions")
      .outputMode("append")
      .start()
    try {
      input.addData(
        Event(1L, ts("2024-01-01 09:00:00")),
        Event(1L, ts("2024-01-01 09:10:00")),
        Event(1L, ts("2024-01-01 10:30:00")), // gap 80m -> closes first session
        Event(2L, ts("2024-01-01 09:00:00")))
      q.processAllAvailable()
      val rows = spark
        .sql("SELECT user_id, n_events FROM custom_sessions")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      rows.toSeq shouldBe Seq((1L, 2L)) // only the closed session emitted
      // next batch with a big gap closes the open session for user 1
      input.addData(Event(1L, ts("2024-01-01 15:00:00")))
      q.processAllAvailable()
      val rows2 = spark
        .sql("SELECT user_id, n_events FROM custom_sessions")
        .collect()
      rows2.length shouldBe 2
    } finally q.stop()
  }
}

class AnnRecallSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.ops.Similarity

  /** Recall@k of an ANN result against brute force on the driver's real
    * embeddings table — quantifies the approximation the scale path trades
    * for its pruning (SURVEY §2.4 P5/P6/P6b).
    */
  private def recallAt(k: Int, approx: Array[(Long, Long)], exact: Array[(Long, Long)]): Double = {
    val e = exact.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hits = approx.count { case (q, n) => e.getOrElse(q, Set.empty).contains(n) }
    hits.toDouble / e.values.map(_.size).sum
  }

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private lazy val queries = emb.filter(col("vec_id") % 25 === 0)
  private lazy val exact = Similarity
    .bruteForceTopK(emb, "vec_id", "embedding", queries, "vec_id", "embedding", 5)
    .collect().map(r => (r.getLong(0), r.getLong(1)))

  // Floors measured on this table (0.50 / 0.80), set with margin — recall
  // is a data + parameter property; the point is a regression tripwire and
  // an honest record of the approximation, not a universal guarantee.
  test("IVF with trained centroids reaches measured recall floors") {
    def run(nprobe: Int) = recallAt(5, Similarity
      .ivfTopK(emb, "vec_id", "embedding", queries, "vec_id", "embedding",
        k = 5, cells = 16, nprobe = nprobe, trainIters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))), exact)
    val r4 = run(4)
    val r8 = run(8)
    withClue(f"recall@5 nprobe=4: $r4%.2f nprobe=8: $r8%.2f: ") {
      r4 should be >= 0.40
      r8 should be >= 0.65
      r8 should be >= r4
    }
  }

  test("IVF probing every cell recovers brute force exactly") {
    val approx = Similarity
      .ivfTopK(emb, "vec_id", "embedding", queries, "vec_id", "embedding",
        k = 5, cells = 16, nprobe = 16, trainIters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    recallAt(5, approx, exact) shouldBe 1.0
  }
}

class TextCleaningSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.ops.TextFunctions

  private def one(in: String, c: org.apache.spark.sql.Column => org.apache.spark.sql.Column): String =
    Seq(in).toDF("text").select(c(col("text")).as("out")).collect().head.getString(0)

  test("cleanText strips control chars and collapses whitespace") {
    one("  a\u0000b\tc   d \r\n e  ", TextFunctions.cleanText) shouldBe "a b c d e"
    one("already clean", TextFunctions.cleanText) shouldBe "already clean"
  }

  test("redactPii replaces emails, IPs and phone runs with placeholders") {
    one("mail me at jane.doe+x@example.co.uk now", TextFunctions.redactPii) shouldBe
      "mail me at <EMAIL> now"
    one("server at 10.0.255.1 port 80", TextFunctions.redactPii) shouldBe
      "server at <IP> port 80"
    one("call +1 (555) 123-4567 today", TextFunctions.redactPii) shouldBe
      "call <PHONE> today"
    one("a@b.com via 1.2.3.4 or 555-123-9876", TextFunctions.redactPii) shouldBe
      "<EMAIL> via <IP> or <PHONE>"
    one("no pii here", TextFunctions.redactPii) shouldBe "no pii here"
  }

  test("pruneWords removes exactly the given vocabulary") {
    val out = Seq("the cat and the hat").toDF("text")
      .select(TextFunctions.pruneWords(col("text"), Seq("the", "and")).as("ws"))
      .collect().head.getSeq[String](0)
    out shouldBe Seq("cat", "hat")
  }
}

class Hash61Spec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.ops.TextFunctions

  test("native hash61 equals the md5-chain formulation on varied inputs") {
    val inputs = Seq(
      "", "a", "hello world", "The quick brown fox", "ünïcødé ✓ 中文",
      "x" * 500, "line\nbreak\ttab", "0", "15000")
    val df = inputs.toDF("s")
    val rows = df.select(
      TextFunctions.hash61(col("s")).as("native"),
      TextFunctions.hash61Hof(col("s")).as("chain")).collect()
    rows.foreach { r => r.getLong(0) shouldBe r.getLong(1) }
    // 60-bit: always non-negative
    all(rows.map(_.getLong(0))) should be >= 0L
  }
}

class RequestCallbackRegistrySpec extends SparkSpec {
  import graft.http._
  import graft.http.testkit.StubServer
  import org.apache.spark.sql.types._

  test("named lookup callback observes requests and responses") {
    import spark.implicits._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    RequestCallback.register("test-recorder", _ => new RequestCallback {
      def onRequest(m: String, u: String, b: Option[String]): Unit = ()
      def onResponse(m: String, u: String, s: Int): Unit = { seen.add((m, s)); () }
      def onException(m: String, u: String, e: Throwable): Unit = ()
    })
    val server = new StubServer().route("/cb")(_ => (200, """{"v":"x"}""")).start()
    try {
      val out = HttpLookup.join(
        Seq("k1", "k2").toDF("k"),
        Seq("k"),
        StructType(Seq(StructField("v", StringType))),
        Map(
          "url" -> server.url("/cb"),
          "http.source.lookup.request-callback" -> "test-recorder"))
      out.count() shouldBe 2
      seen.size shouldBe 2
      seen.peek() shouldBe ("GET", 200)
    } finally server.stop()
  }

  test("named sink callback observes posted batches") {
    import spark.implicits._
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    RequestCallback.register("sink-recorder", _ => new RequestCallback {
      def onRequest(m: String, u: String, b: Option[String]): Unit = ()
      def onResponse(m: String, u: String, s: Int): Unit = { seen.incrementAndGet(); () }
      def onException(m: String, u: String, e: Throwable): Unit = ()
    })
    val server = new StubServer().route("/ingest")(_ => (200, "{}")).start()
    try {
      HttpSink.write(
        Seq(1, 2, 3).toDF("v").repartition(1),
        Map(
          "url" -> server.url("/ingest"),
          "http.sink.request.batch.size" -> "2",
          "http.sink.request-callback" -> "sink-recorder"))
      seen.get() shouldBe 2 // two batches: [1,2] and [3]
    } finally server.stop()
  }

  test("unknown callback name is a config error") {
    import spark.implicits._
    an[HttpConfigException] should be thrownBy HttpLookup.join(
      Seq("k").toDF("k"),
      Seq("k"),
      StructType(Seq(StructField("v", StringType))),
      Map(
        "url" -> "http://127.0.0.1:1/x",
        "http.source.lookup.request-callback" -> "nope"))
  }

  test("non-json lookup-request.format is rejected") {
    import spark.implicits._
    an[HttpConfigException] should be thrownBy HttpLookup.join(
      Seq("k").toDF("k"),
      Seq("k"),
      StructType(Seq(StructField("v", StringType))),
      Map("url" -> "http://127.0.0.1:1/x", "lookup-request.format" -> "avro"))
  }
}

class BpeSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.Bpe

  test("learns the single obvious merge on a toy corpus") {
    val corpus = Seq("ab ab ab", "ab").toDF("text")
    val merges = Bpe.train(corpus, "text", numMerges = 1)
    merges.ranks.keySet shouldBe Set(("a", "b"))
    Bpe.encodeWord("ab", merges).toSeq shouldBe Seq("ab")
    Bpe.encodeWord("abc", merges).toSeq shouldBe Seq("ab", "c")
    Bpe.encodeWord("ba", merges).toSeq shouldBe Seq("b", "a")
  }

  test("frequent words collapse to single tokens; counts stay in Catalyst pipeline") {
    val docs = Seq.fill(20)("newest widest lowest").toDF("text")
    val merges = Bpe.train(docs, "text", numMerges = 30)
    Bpe.encodeWord("newest", merges).length shouldBe 1
    Bpe.encodeWord("widest", merges).length shouldBe 1
    // unseen word splits into learned subwords, not single chars
    val unseen = Bpe.encodeWord("newwidest", merges)
    unseen.length should be < "newwidest".length
    val counted = docs
      .select(Bpe.tokenCount(org.apache.spark.sql.functions.col("text"), merges).as("n"))
      .collect().map(_.getInt(0))
    all(counted) shouldBe 3 // three fully-merged words per doc
  }

  test("training is deterministic") {
    val docs = Seq("the cat sat on the mat", "the cat ran", "a cat sat")
      .toDF("text")
    val m1 = Bpe.train(docs, "text", numMerges = 12)
    val m2 = Bpe.train(docs, "text", numMerges = 12)
    m1.ranks shouldBe m2.ranks
  }

  test("Frozen merge table is exactly train(documents@sf0.01) — provenance pin") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val trained = Bpe.train(docs, "text", numMerges = 100, topWords = 5000)
    val orderedPairs = trained.ranks.toSeq.sortBy(_._2).map(_._1)
    orderedPairs shouldBe Bpe.Frozen
  }

  test("ordered-sweep encode agrees with greedy encode on every corpus word") {
    // the gated query + DuckDB oracle use the ordered sweep; the greedy
    // lowest-rank loop is the training-canonical encode — assert they agree
    // on the real corpus vocabulary for the frozen table
    val merges = Bpe.frozenMerges
    val words = spark.read
      .parquet("/root/testdata/sf0.01/documents.parquet")
      .select(org.apache.spark.sql.functions.explode(
        graft.ops.TextFunctions.words(
          org.apache.spark.sql.functions.lower(
            org.apache.spark.sql.functions.col("text")))).as("w"))
      .distinct()
      .collect().map(_.getString(0)).filter(_.nonEmpty)
    words should not be empty
    words.foreach { w =>
      Bpe.encodeWordOrdered(w, Bpe.Frozen).toSeq shouldBe
        Bpe.encodeWord(w, merges).toSeq
    }
  }
}

class SkewJoinSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.SkewJoin

  test("salted join matches plain join results") {
    val big = (1 to 1000).map(i => (if (i % 10 == 0) 1L else i.toLong, i.toLong))
      .toDF("k", "row_id")
    val small = Seq((1L, "hot"), (5L, "five"), (77L, "sf")).toDF("sk", "v")
    val plain = big.join(small, big("k") === small("sk"))
      .select("row_id", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val salted = SkewJoin
      .saltedInnerJoin(big, "k", "row_id", small, "sk", salts = 8)
      .select("row_id", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    salted shouldBe plain
    // 100 rows from i % 10 == 0, plus row i = 1 whose key is 1
    plain.count(_._2 == "hot") shouldBe 101
  }

  test("topKeys surfaces the heavy hitters") {
    val big = (1 to 500).map(i => (if (i % 5 == 0) "hot" else s"k$i")).toDF("k")
    val top = SkewJoin.topKeys(big, "k", 1).collect().head
    top.getString(0) shouldBe "hot"
    top.getLong(1) shouldBe 100L
  }

  test("salting spreads the hot key's shuffle load across tasks") {
    // The mechanism, not just the result: per-task shuffle-read records.
    // Unsalted, ONE task must read every hot-key row; salted over 16
    // buckets, no task may read more than a fraction of them.
    //
    // Isolated session: suites run in parallel in one JVM, so conf
    // mutations must not leak; the metric listener is scoped to this
    // test's job group so concurrent suites' tasks can't pollute the max.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // at this toy scale AQE would coalesce every salt bucket back into one
    // task (all buckets fit one advisory partition), hiding the spread the
    // test asserts; at real scale buckets exceed the advisory size
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    // 16 partitions so the 16 salt buckets spread (suite default is 4)
    s.conf.set("spark.sql.shuffle.partitions", "16")
    val big = s
      .range(20000)
      .selectExpr(
        "CASE WHEN id % 4 != 0 THEN 0 ELSE id END AS k",
        "id AS row_id")
    val small = s.range(100)
      .selectExpr("id AS sk", "CAST(id AS STRING) AS v")

    def maxTaskShuffleRead(df: org.apache.spark.sql.DataFrame): Long = {
      val group = s"skew-spec-${System.nanoTime()}"
      val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val max = new java.util.concurrent.atomic.AtomicLong(0)
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          if (group == j.properties.getProperty("spark.jobGroup.id"))
            j.stageIds.foreach(id => stages.add(id))
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (stages.contains(e.stageId))
            Option(e.taskMetrics).foreach { m =>
              max.getAndUpdate(v =>
                math.max(v, m.shuffleReadMetrics.recordsRead))
            }
      }
      sc.addSparkListener(listener)
      try {
        s.sparkContext.setJobGroup(group, "skew-spread probe")
        try df.count()
        finally s.sparkContext.clearJobGroup()
        // the listener bus is async: wait until the max stops moving
        var last = -1L
        var stable = 0
        var waited = 0
        while (stable < 3 && waited < 100) {
          Thread.sleep(100)
          waited += 1
          val cur = max.get
          if (cur == last) stable += 1 else { stable = 0; last = cur }
        }
      } finally sc.removeSparkListener(listener)
      max.get
    }

    // hot key 0 carries 15000 of 20000 rows
    val plainMax = maxTaskShuffleRead(
      big.join(small, big("k") === small("sk")))
    val saltedMax = maxTaskShuffleRead(
      SkewJoin.saltedInnerJoin(big, "k", "row_id", small, "sk", salts = 16))
    plainMax should be >= 15000L
    // several salt buckets can hash into one partition, so the per-task
    // bound is a multiple of hot/salts, not hot/salts itself; deterministic
    // given fixed data + murmur3 + confs
    saltedMax should be <= plainMax / 3
  }
}

class BucketedJoinSpec extends SparkSpec {
  import spark.implicits._

  test("matching bucketed tables join with zero exchanges") {
    // The 100 TB pattern for REPEAT joins on one key: pay the shuffle once
    // at write (bucketBy), then every subsequent join on the bucket key is
    // exchange-free. Asserted on the executed plan, not assumed.
    // Isolated session: conf mutations must not leak to parallel suites.
    val s = spark.newSession()
    import s.implicits._
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.sql("DROP TABLE IF EXISTS g_bucket_orders")
    s.sql("DROP TABLE IF EXISTS g_bucket_items")
    try {
      (1L to 1000L).map(i => (i % 100, i)).toDF("k", "o")
        .write.bucketBy(8, "k").sortBy("k")
        .mode("overwrite").saveAsTable("g_bucket_orders")
      (1L to 2000L).map(i => (i % 100, s"i$i")).toDF("k", "item")
        .write.bucketBy(8, "k").sortBy("k")
        .mode("overwrite").saveAsTable("g_bucket_items")
      val joined = s.table("g_bucket_orders")
        .join(s.table("g_bucket_items"), "k")
      joined.count() shouldBe 20000L
      val plan = joined.queryExecution.executedPlan.toString
      plan should not include "Exchange"
      // the same join WITHOUT bucketing shuffles both sides
      val unbucketed = (1L to 1000L).map(i => (i % 100, i)).toDF("k", "o")
        .join((1L to 2000L).map(i => (i % 100, s"i$i")).toDF("k", "item"), "k")
      unbucketed.count() shouldBe 20000L
      unbucketed.queryExecution.executedPlan.toString should include("Exchange")
    } finally {
      s.sql("DROP TABLE IF EXISTS g_bucket_orders")
      s.sql("DROP TABLE IF EXISTS g_bucket_items")
    }
  }
}

class QueryParamFieldsSpec extends SparkSpec {
  import graft.http.{HttpConfigException, HttpOptions, QueryCreator}

  test("query-param-fields restricts GET params") {
    import spark.implicits._
    val probe = Seq(("a1", "b1")).toDF("wanted", "hidden")
    val creator = QueryCreator.fromOptions(HttpOptions(
      "url" -> "http://h/x",
      "http.request.query-param-fields" -> "wanted"))
    val compiled = creator.compile(probe, Seq("wanted", "hidden"))
    val url = probe.select(compiled.url.as("u")).collect().head.getString(0)
    url shouldBe "http://h/x?wanted=a1"
  }

  test("query-param-fields-with-key renames params to API field names") {
    import spark.implicits._
    val probe = Seq(("a1", "b1")).toDF("local_name", "plain")
    val creator = QueryCreator.fromOptions(HttpOptions(
      "url" -> "http://h/x",
      "http.request.query-param-fields-with-key" -> "local_name:apiField"))
    val compiled = creator.compile(probe, Seq("local_name", "plain"))
    val url = probe.select(compiled.url.as("u")).collect().head.getString(0)
    url shouldBe "http://h/x?apiField=a1&plain=b1"
  }

  test("query-param-fields with POST is a config error (upstream migration rule)") {
    an[HttpConfigException] should be thrownBy QueryCreator.fromOptions(
      HttpOptions(
        "url" -> "http://h/x",
        "lookup-method" -> "POST",
        "http.request.query-param-fields" -> "a"))
  }
}
