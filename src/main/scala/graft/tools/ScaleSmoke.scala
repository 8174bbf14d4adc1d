package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale smoke for the three headline dedup pipelines: run them on a corpus
  * 10× the largest driver scale factor and assert completion plus a
  * shuffle-volume ceiling from task metrics — wall time is untrustworthy in
  * this sandbox (SURVEY §5), but shuffle bytes/records are deterministic
  * properties of the plan, so THEY are the scale evidence.
  *
  * The 10× corpus derives from the driver's own sf0.1 parquet (no synthetic
  * distributions): each document/embedding appears in 10 copies under
  * distinct ids. Duplication is the adversarial case for dedup — every
  * segment is corpus-wide hot, every doc sits in a 10-member duplicate
  * cluster, every embedding has 9 exact cosine twins — so the smoke
  * stresses precisely the paths the 100 TB scaladoc claims are bounded.
  *
  * `runMain graft.tools.ScaleSmoke [copies]` — prints one report block;
  * non-zero exit on any violated ceiling.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val copies = args.headOption.map(_.toInt).getOrElse(10)
    // optional second arg (local dev): only run steps whose name contains
    // one of the comma-separated substrings
    val onlySub = args.drop(1).headOption.map(_.split(',').toSeq)
    val (sfDir, cpus) = (graft.GraftSession.sfDir, graft.GraftSession.cpus)
    val spark = graft.GraftSession.local(cpus)
    val stats = graft.RunStats.install(spark)

    def fan(name: String, df: DataFrame): DataFrame = {
      // distinct ids per copy; every other column identical
      val out = df
        .crossJoin(
          spark.range(copies).select(col("id").as("__copy")))
        .withColumn(
          name,
          col(name) * copies + col("__copy"))
        .drop("__copy")
      out
    }

    val docs = fan(
      "doc_id",
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text")))
    val embs = fan(
      "vec_id",
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding")))

    val nDocs = docs.count()
    val nEmbs = embs.count()
    println(s"[smoke] corpus: $nDocs docs, $nEmbs embeddings ($copies x $sfDir)")

    final case class Step(
        name: String,
        run: () => DataFrame,
        ceilingGB: Double,
        invariant: DataFrame => Seq[String] = _ => Nil)
    var failed = false

    def measure(step: Step): Unit = {
      if (onlySub.exists(fs => !fs.exists(step.name.contains))) return
      // counters reset BEFORE the build: iterative pipelines (cluster label
      // propagation) execute eagerly while the DataFrame is constructed, so
      // build + noop-write together are the pipeline's true shuffle bill.
      // The noop write fully evaluates every output column (count() would
      // prune the string payloads off the shuffles). The metric SNAPSHOT is
      // taken right after the write — the trailing row count and the
      // invariant checks re-execute (parts of) mostly-uncached pipelines,
      // so anything they shuffle must stay OUT of the ceiling comparison.
      try {
        graft.ops.Par.releaseCaches() // previous step's caches
        stats.reset()
        val t0 = System.nanoTime()
        val df = step.run()
        df.write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        val run = stats.snapshot()
        val gb = run.shuffleWriteBytes / 1e9
        val recs = run.shuffleWriteRecords
        val spillGb = run.spillBytes / 1e9
        val rows = df.count()
        val violations = step.invariant(df)
        val ok = gb <= step.ceilingGB && violations.isEmpty
        if (!ok) failed = true
        println(f"[smoke] ${step.name}: rows=$rows wall=${secs}%.0fs " +
          f"shuffleWrite=${gb}%.2fGB (ceiling ${step.ceilingGB}%.1fGB) " +
          f"records=$recs spill=${spillGb}%.2fGB " +
          (if (ok) "OK"
           else if (violations.nonEmpty)
             "INVARIANT VIOLATED: " + violations.mkString("; ")
           else "CEILING EXCEEDED"))
      } catch {
        case e: Throwable =>
          println(s"[smoke] ${step.name} FAILED: ${e.getMessage}")
          failed = true
      }
    }

    // ceilings: generous multiples of the ~0.55 GB (10x) text volume — the
    // claim under test is "shuffle volume is bounded by corpus + bounded
    // candidate sets", i.e. it cannot go quadratic in the duplication factor
    measure(Step(
      "p_segment_dedup(skewSafe default)",
      () => graft.ops.Dedup.dedupSegments(
        docs, "doc_id",
        graft.ops.Chunking.wordWindows(col("text"), 10)),
      ceilingGB = 8.0))
    measure(Step(
      "p_dedup_survivors(minhash->closure->keep-one)",
      () => {
        val pairs = graft.ops.Dedup.minhashLshPairs(
          docs, "doc_id", "text", n = 3, bands = 4, threshold = 0.8)
        graft.ops.Dedup.keepOnePerCluster(docs, "doc_id", pairs)
      },
      ceilingGB = 8.0))
    // the exact-collapse-prefiltered one-call variant: result-identical
    // (driver-gated against the same oracle), but the band join only ever
    // sees one representative per distinct content — the 100x-duplication
    // quadratic blowup above collapses to the distinct-content volume
    measure(Step(
      "p_dedup_survivors_fast(exact-collapse prefilter)",
      () => graft.ops.Dedup.nearDupSurvivors(
        docs, "doc_id", "text", n = 3, bands = 4, threshold = 0.8),
      ceilingGB = 1.0))
    measure(Step(
      "s_semantic_dedup(lsh pairs->clusters->keep-one)",
      () => graft.ops.Similarity.semanticDedup(
        embs, "vec_id", "embedding", threshold = 0.95),
      ceilingGB = 8.0))
    // r8 additions. tfidf: the duplicated corpus makes every term 10x
    // hotter — the hot/tail split must keep the tf⋈idf join off the hot
    // mass; shuffle is bounded by distinct (doc, term) pairs.
    measure(Step(
      "t_tfidf(score 10x corpus)",
      () => graft.ops.TfIdf.scoreDocs(docs, "doc_id", "text"),
      ceilingGB = 8.0))
    // cross near-dup: every even-id copy has 5 exact odd-id twins — the
    // adversarial all-buckets-hot case for the cross-corpus band join.
    measure(Step(
      "p_cross_neardup(even vs odd halves)",
      () => graft.ops.Dedup.dropNearSeenIn(
        docs.filter(col("doc_id") % 2 === 0), "text",
        docs.filter(col("doc_id") % 2 === 1), "text",
        n = 3, bands = 4, threshold = 0.8),
      ceilingGB = 8.0))
    // token budget: two corpus-wide exchanges by design (range bucketing +
    // bucket-window regroup) — linear in the corpus, never quadratic.
    measure(Step(
      "t_token_budget(half the 10x tokens)",
      () => graft.ops.Sampling.tokenBudgetSelect(
        docs, "doc_id",
        graft.ops.TextFunctions.tokenCount(col("text")),
        length(col("text")),
        budget = (nDocs / 2) * 60L),
      ceilingGB = 6.0))
    // url dedup: ~10 copies per canonical url (tracking params differ per
    // copy and are canonicalized away) — the drop-id pipeline must stay on
    // the narrow (id, url) projection; the corpus shuffles once (anti-join)
    measure(Step(
      "u_url_dedup(10 copies per canonical url)",
      () => graft.ops.Urls.dedupByCanonicalUrl(
        docs.withColumn(
          "url",
          concat(
            lit("https://www.d"),
            (col("doc_id") % (nDocs / 10)).cast("string"),
            lit(".com/x?utm_c="),
            col("doc_id").cast("string"))),
        "doc_id", "url"),
      ceilingGB = 6.0))
    // quantized ANN: the corpus-side scan is map-side quantization; only
    // per-query top-k survivors reach the final exchange (WindowGroupLimit
    // prunes map-side), so shuffle stays far below the vector volume
    measure(Step(
      "s_quant_topk(100 queries vs 10x corpus)",
      () => graft.ops.Quantize.quantizedTopK(
        embs, "vec_id", "embedding",
        embs.filter(col("vec_id") < 100), "vec_id", "embedding",
        k = 5),
      ceilingGB = 2.0))

    // sign-quantized Hamming top-k (r13): the 32x-compressed extreme of
    // the quantization ladder at 100x corpus — signatures computed
    // map-side, 100 queries broadcast, per-query exchange bounded by the
    // WindowGroupLimit; the corpus never shuffles its vectors
    measure(Step(
      s"s_sign_hamming(100 queries vs ${copies}x corpus)",
      () => {
        val packed = embs.select(
          col("vec_id"),
          graft.ops.Quantize.signPack(col("embedding"), 64).as("sig"))
        val qs = packed.filter(col("vec_id") < 100)
          .select(col("vec_id").as("query_id"), col("sig").as("qsig"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("dist"), col("vec_id"))
        packed.join(broadcast(qs), col("vec_id") =!= col("query_id"))
          .select(
            col("query_id"), col("vec_id"),
            graft.ops.Quantize.hamming(col("sig"), col("qsig"))
              .as("dist"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
      },
      ceilingGB = 2.0,
      invariant = df => {
        val n = df.count()
        if (n == 500L) Nil
        else Seq(s"$n top-k rows (expected 100 queries x 5)")
      }))

    // Lee-style span dedup (r9): under `copies`x duplication EVERY k-word
    // window is cross-doc duplicated, so the whole occurrence stream
    // survives the semi-join and every >=k-word doc collapses to one
    // full-width span — the adversarial case. The plain variant's shuffle
    // is linear in corpus x windows; the exact-collapse variant shrinks
    // the window stream by the duplication factor (result-identical,
    // same driver oracle).
    val docs20 = docs.filter(
      graft.ops.TextFunctions.tokenCount(col("text")) >= 20).count()
    measure(Step(
      s"p_span_removed(${copies}x: every window duplicated)",
      () => graft.ops.Dedup.removeDuplicatedSpans(
        docs, "doc_id", col("text"), k = 20),
      ceilingGB = 8.0,
      invariant = df => {
        val bad = df.filter(
          col("n_kept") + col("n_dropped") >= 20 && col("n_kept") =!= 0)
          .count()
        if (bad == 0) Nil
        else Seq(s"$bad docs with >=20 words kept words despite full duplication")
      }))
    measure(Step(
      s"p_dup_spans_fast(exact-collapse, ${copies}x)",
      () => graft.ops.Dedup.duplicatedSpansCollapsed(
        docs, "doc_id", col("text"), k = 20),
      ceilingGB = 1.0,
      invariant = df => {
        val n = df.count()
        val fullWidth = df.filter(col("span_start") === 1L).count()
        Seq(
          if (n == docs20) None
          else Some(s"$n spans != $docs20 docs with >=20 words"),
          if (fullWidth == n) None
          else Some(s"only $fullWidth of $n spans start at word 1")
        ).flatten
      }))

    // ----- e2e COMPOSITION smokes (r9): compositions are the library's
    // primary use, and until now only their parts were smoke-tested. Both
    // run the driver-gated pipeline shapes at `copies`x duplication and
    // assert RESULT invariants, not just ceilings.

    // Curation chain — the stage list is graft.queries.PipelineQueries
    // .curationChain, the SAME code the p_curation_e2e gate runs (shared
    // builder, so the smoke cannot drift from the gated shape). Every
    // stage commutes with id-preserving duplication (quality/decontaminate
    // are text-pure; keep-min dedup picks base_min*copies+0; budget
    // ordering by (score, id*copies) preserves the base (score, id)
    // order), so the fanned survivors div copies must equal the UNFANNED
    // run's survivors EXACTLY — duplication changes nothing but the work.
    def curation(corpus: DataFrame): DataFrame = {
      val bench = spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"), col("text"))
      graft.queries.PipelineQueries.curationChain(
        corpus, bench, budget = 100000L, score = length(col("text")))
    }
    val baseDocs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val baseKept = curation(baseDocs.filter(col("doc_id") % 50 =!= 0))
      .select(col("doc_id")).as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSet
    println(s"[smoke] curation base run: ${baseKept.size} survivors")
    measure(Step(
      s"p_curation_e2e(${copies}x, result-invariant vs base)",
      () => curation(docs.filter((col("doc_id") / copies).cast("long") % 50 =!= 0)),
      ceilingGB = 8.0,
      invariant = df => {
        val got = df
          .select((col("doc_id") / copies).cast("long").as("b"))
          .as[Long](org.apache.spark.sql.Encoders.scalaLong)
          .collect().toSet
        if (got == baseKept) Nil
        else Seq(s"fanned survivors (${got.size}) != base survivors " +
          s"(${baseKept.size}); sym-diff=${(got diff baseKept).size + (baseKept diff got).size}")
      }))

    // Prefix-filter EXACT similarity join (r9): pair output is inherently
    // quadratic under duplication (each base doc's `copies` exact copies
    // are copies·(copies−1)/2 TRUE jaccard-1 pairs — any pair-semantics op
    // owes that output), so the at-scale deployment — scaladoc'd on
    // prefixJaccardPairs — is exact-collapse first (P1, linear), then the
    // lossless join over distinct contents. The invariant asserts the
    // collapsed run reproduces the UNFANNED corpus's collapsed pairs
    // exactly (the base corpus carries its own exact dups, so it collapses
    // too; rep id = min copy id = base-rep·copies ⇒ div maps back).
    val baseReps = baseDocs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
    val basePairs = graft.ops.Dedup.prefixJaccardPairs(
      baseReps, "doc_id", "text", n = 3, threshold = 0.8)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.ops.Par.releaseCaches()
    println(s"[smoke] prefix-jaccard base run: ${basePairs.size} pairs")
    measure(Step(
      s"p_prefix_jaccard(exact-collapse -> lossless join, ${copies}x)",
      () => {
        val reps = docs.groupBy(col("text"))
          .agg(min(col("doc_id")).as("doc_id"))
        graft.ops.Dedup.prefixJaccardPairs(
          reps, "doc_id", "text", n = 3, threshold = 0.8)
      },
      ceilingGB = 4.0,
      invariant = df => {
        val got = df.select(
          (col("id_a") / copies).cast("long"),
          (col("id_b") / copies).cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        if (got == basePairs) Nil
        else Seq(s"collapsed pairs (${got.size}) != base pairs " +
          s"(${basePairs.size}); sym-diff=" +
          s"${(got diff basePairs).size + (basePairs diff got).size}")
      }))

    // Web chain — the stage list is graft.queries.PipelineQueries
    // .webCurationChain, the SAME code the p_web_curation_e2e gate runs.
    // The fanned url set is built so every canonical url has exactly
    // `copies` variants (per-copy utm_c param, canonicalized away) across
    // 50 domains — so url dedup must keep EXACTLY 1/copies of the corpus
    // and the k=3 domain cap EXACTLY 150 rows, independent of the
    // duplication factor. Intermediate counts run in the invariant phase,
    // AFTER the metric snapshot.
    val baseCount = nDocs / copies
    var web: graft.queries.PipelineQueries.WebCuration = null
    measure(Step(
      s"p_web_curation_e2e(${copies}x: $copies copies/url, 50 domains)",
      () => {
        val urlDocs = docs.select(
          col("doc_id"),
          concat(
            lit("https://www.d"),
            ((col("doc_id") / copies).cast("long") % 50).cast("string"),
            lit(".com/p"),
            ((col("doc_id") / copies).cast("long")).cast("string"),
            lit("?utm_c="),
            col("doc_id").cast("string")).as("url"))
        web = graft.queries.PipelineQueries.webCurationChain(
          urlDocs, docs, k = 3, budget = 5000L,
          score = length(col("text")))
        web.result
      },
      ceilingGB = 6.0,
      invariant = df => {
        val n = df.count()
        val webDedupCount = web.deduped.count()
        val webCapCount = web.capped.count()
        Seq(
          // exactly 1/copies survives url dedup — the verdict's example
          if (webDedupCount == baseCount) None
          else Some(s"url dedup kept $webDedupCount, expected $baseCount " +
            s"(1/$copies of $nDocs)"),
          if (webCapCount == 150L) None
          else Some(s"domain cap kept $webCapCount, expected 50x3=150"),
          if (n <= 150L) None
          else Some(s"final rows $n exceed the 50x3 domain-cap bound")
        ).flatten
      }))

    // Hashed classifier inference (P69): the model is a FIXED broadcast
    // (2^18 slots here) so the scoring bill must be one doc-level
    // partial-agg exchange — duplication multiplies the map work linearly
    // but the shuffle carries only (id, count, sum) rows. Invariant: the
    // `copies` copies of a base doc share its text, so every base group
    // must land on EXACTLY one distinct integer score (float-sum scoring
    // would not survive this check across partitionings).
    measure(Step(
      s"t_quality_classifier(${copies}x, 2^18-slot broadcast model)",
      () => graft.ops.HashedClassifier.scoreDocs(
        docs, "doc_id", "text",
        graft.ops.HashedClassifier.pseudoWeights(spark, 1 << 18),
        buckets = 1 << 18),
      ceilingGB = 2.0,
      invariant = df => {
        val bad = df
          .groupBy((col("doc_id") / copies).cast("long").as("base"))
          .agg(countDistinct(col("score_micro")).as("k"))
          .filter(col("k") =!= 1)
          .count()
        if (df.count() != nDocs)
          Seq(s"rows ${df.count()} != corpus $nDocs")
        else if (bad != 0)
          Seq(s"$bad base groups scored non-identically across copies")
        else Nil
      }))

    // CCNet perplexity buckets (P70): the 100x-duplicated corpus is the
    // extreme bigram-skew regime (every bigram 100x hotter) — the
    // hot-bigram broadcast split must keep the scoring join off the hot
    // mass, and the lang window shuffles doc-level rows only. Invariant:
    // per-language bucket sizes differ by at most one (the integer slice
    // formula's balance guarantee).
    measure(Step(
      s"t_ccnet_buckets(${copies}x, 5 langs)",
      () => graft.ops.NgramLm.perplexityBuckets(
        docs.withColumn(
          "lang",
          concat(lit("l"),
            ((col("doc_id") / copies).cast("long") % 5).cast("string"))),
        "doc_id", "text", "lang"),
      ceilingGB = 6.0,
      invariant = df => {
        val sizes = df.groupBy(col("lang"), col("bucket")).count()
          .groupBy(col("lang"))
          .agg((max(col("count")) - min(col("count"))).as("spread"),
            count(lit(1)).as("nb"))
          .collect()
        sizes.flatMap { r =>
          val (lang, spread, nb) =
            (r.getString(0), r.getLong(1), r.getLong(2))
          Seq(
            if (spread > 1)
              Some(s"$lang bucket sizes spread by $spread (> 1)")
            else None,
            if (nb != 3) Some(s"$lang has $nb buckets, expected 3")
            else None).flatten
        }.toSeq
      }))

    // Integer-exact PQ (P74) at 100x duplication: train 2x8-cell books on
    // the 200k-code corpus and rank 100 queries by ADC. Training shuffles
    // only (subspace, cell, dim) partial sums; the ADC scan never shuffles
    // corpus vectors — the per-query exchange carries top-k survivors.
    // Invariants: exactly queries x k result rows, and the 100 identical
    // copies of each base vector must receive IDENTICAL codes (integer
    // training cannot split a tie across partitionings).
    measure(Step(
      s"s_pq_adc(${copies}x, m=2 cells=8 iters=2, 100 queries)",
      () => {
        val queries = embs.filter(col("vec_id") % copies === 0).limit(100)
        graft.ops.Pq.adcTopK(
          embs, "vec_id", "embedding", queries, "vec_id", "embedding",
          k = 10, m = 2, cells = 8, iters = 2)
      },
      ceilingGB = 2.0,
      invariant = df => {
        val n = df.count()
        if (n != 100L * 10L) Seq(s"rows $n != 1000") else Nil
      }))

    measure(Step(
      s"s_pq_codes(${copies}x: copies code identically)",
      () => {
        val quant = graft.ops.IvfInt.quantizedWithNorm(
          embs, "vec_id", "embedding")
        val books = graft.ops.Pq.trainCodebooks(
          quant, "vec_id", m = 2, cells = 8, iters = 2)
        graft.ops.Pq.encode(quant, "vec_id", books)
      },
      ceilingGB = 2.0,
      invariant = df => {
        val split = df
          .groupBy((col("vec_id") / copies).cast("long").as("base"))
          .agg(countDistinct(col("codes").cast("string")).as("kc"))
          .filter(col("kc") =!= 1)
          .count()
        if (split != 0) Seq(s"$split base groups coded non-identically")
        else Nil
      }))

    // Containment join (P76, r10) at 100x: like prefix-jaccard, pair
    // output is inherently quadratic under duplication, so the at-scale
    // deployment is exact-collapse first, then the lossless join over
    // distinct contents. Invariant: collapsed pairs reproduce the
    // UNFANNED corpus's collapsed pairs exactly (rep id = min copy id =
    // base-rep*copies => div maps back).
    val baseCReps = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
    val baseCPairs = graft.ops.Dedup.containmentPairs(
      baseCReps, "doc_id", "text", n = 3, thresholdPpm = 800000L)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.ops.Par.releaseCaches()
    println(s"[smoke] containment base run: ${baseCPairs.size} pairs")
    measure(Step(
      s"p_containment(exact-collapse -> lossless join, ${copies}x)",
      () => {
        val reps = docs.groupBy(col("text"))
          .agg(min(col("doc_id")).as("doc_id"))
        graft.ops.Dedup.containmentPairs(
          reps, "doc_id", "text", n = 3, thresholdPpm = 800000L)
      },
      ceilingGB = 4.0,
      invariant = df => {
        val got = df.select(
          (col("id_a") / copies).cast("long"),
          (col("id_b") / copies).cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        if (got == baseCPairs) Nil
        else Seq(s"collapsed pairs (${got.size}) != base pairs " +
          s"(${baseCPairs.size})")
      }))

    // Priority dedup (P84, r10) at 100x: every base doc has `copies`
    // identical-content copies with DISTINCT hash scores competing — the
    // partial-agg argmax must pick the same winner under any
    // partitioning, and the shuffle carries one row per distinct content
    // per map partition (ceiling far below corpus bytes).
    measure(Step(
      s"p_dedup_keep_best(${copies}x copies compete)",
      () => graft.ops.Dedup.exactKeepBest(
        docs, "doc_id", "text",
        graft.ops.TextFunctions.hash61(
          concat(lit("prio:"), col("doc_id").cast("string"))) % 1000),
      ceilingGB = 1.0,
      invariant = df => {
        val n = df.count()
        val distinctContents = docs.select(col("text")).distinct().count()
        val a = df.select(col("fp"), col("doc_id_kept"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSet
        graft.ops.Par.releaseCaches()
        val b = graft.ops.Dedup.exactKeepBest(
          docs.repartition(17), "doc_id", "text",
          graft.ops.TextFunctions.hash61(
            concat(lit("prio:"), col("doc_id").cast("string"))) % 1000)
          .select(col("fp"), col("doc_id_kept"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSet
        Seq(
          if (n == distinctContents) None
          else Some(s"$n kept rows != $distinctContents distinct contents"),
          if (a == b) None
          else Some("winners differ across partitionings")
        ).flatten
      }))

    // PageRank (P64) at 100x: the one op class (iterative joins) with no
    // prior scale evidence. Graph = the driver gate's edge generator over
    // the fanned corpus (nDocs nodes, ~2.2 nDocs edges, 5 power
    // iterations). Ceiling covers the WHOLE run (5x (ranks-join-edges +
    // dest partial-agg) on integer rows). Invariants, checked after the
    // metric snapshot: (a) one rank row per node; (b) the final plan is
    // FLAT — localCheckpoint per iteration truncates lineage, so the tree
    // must not grow with iteration count; (c) exact-integer determinism:
    // re-running on an adversarially repartitioned edge list reproduces
    // every (node, rank) bit-identically (float-mass PageRank fails this).
    locally {
      val n = nDocs
      def edgesOf(d: DataFrame): DataFrame = {
        val e1 = d.select(
          col("doc_id").as("src"), ((col("doc_id") * 7 + 3) % n).as("dst"))
        val e2 = d.select(
          col("doc_id").as("src"), ((col("doc_id") * 13 + 5) % n).as("dst"))
        val e3 = d.filter(col("doc_id") % 5 === 0).select(
          col("doc_id").as("src"), (col("doc_id") % 37).as("dst"))
        e1.union(e2).union(e3)
      }
      val ids = docs.select(col("doc_id"))
      measure(Step(
        s"u_pagerank(${copies}x graph, 5 iters)",
        () => graft.ops.PageRank.ranks(edgesOf(ids), "src", "dst", iters = 5),
        ceilingGB = 2.0,
        invariant = df => {
          val rows = df.count()
          val planLines =
            df.queryExecution.optimizedPlan.numberedTreeString.linesIterator.size
          val a = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          graft.ops.Par.releaseCaches()
          val b = graft.ops.PageRank
            .ranks(edgesOf(ids).repartition(7), "src", "dst", iters = 5)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          Seq(
            if (rows == n) None
            else Some(s"$rows rank rows != $n nodes"),
            if (planLines <= 20) None
            else Some(s"final plan has $planLines lines — lineage not truncated"),
            if (a == b) None
            else Some(s"ranks differ across partitionings: sym-diff=" +
              s"${(a diff b).size + (b diff a).size}")
          ).flatten
        }))
    }

    // HITS (P121) and TrustRank (P125) at the smoke scale: the same
    // fanned link graph as u_pagerank. HITS pays two half-steps (edge
    // join + dest partial-agg) per iteration — double PageRank's shuffle
    // bill, same integer-exact determinism contract. TrustRank = the
    // PageRank plan with seed-gated teleport; seeds = every 50th node.
    // Invariants per op: one row per node, flat checkpointed lineage,
    // bit-identical results under an adversarial repartitioning (plus,
    // for TrustRank, rank 0 exactly on the seed-unreachable set).
    locally {
      val n = nDocs
      def edgesOf(d: DataFrame): DataFrame = {
        val e1 = d.select(
          col("doc_id").as("src"), ((col("doc_id") * 7 + 3) % n).as("dst"))
        val e2 = d.select(
          col("doc_id").as("src"), ((col("doc_id") * 13 + 5) % n).as("dst"))
        val e3 = d.filter(col("doc_id") % 5 === 0).select(
          col("doc_id").as("src"), (col("doc_id") % 37).as("dst"))
        e1.union(e2).union(e3)
      }
      val ids = docs.select(col("doc_id"))
      measure(Step(
        s"u_hits(${copies}x graph, 5 iters)",
        () => graft.ops.Hits.ranks(edgesOf(ids), "src", "dst", iters = 5),
        ceilingGB = 4.0,
        invariant = df => {
          val rows = df.count()
          val planLines =
            df.queryExecution.optimizedPlan.numberedTreeString.linesIterator.size
          val a = df.collect()
            .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toSet
          graft.ops.Par.releaseCaches()
          val b = graft.ops.Hits
            .ranks(edgesOf(ids).repartition(7), "src", "dst", iters = 5)
            .collect()
            .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toSet
          Seq(
            if (rows == n) None
            else Some(s"$rows score rows != $n nodes"),
            if (planLines <= 20) None
            else Some(s"final plan has $planLines lines — lineage not truncated"),
            if (a == b) None
            else Some(s"scores differ across partitionings: sym-diff=" +
              s"${(a diff b).size + (b diff a).size}")
          ).flatten
        }))
      val seeds = ids.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("node"))
      measure(Step(
        s"u_trustrank(${copies}x graph, 5 iters)",
        () => graft.ops.PageRank.personalizedRanks(
          edgesOf(ids), "src", "dst", seeds, "node", iters = 5),
        ceilingGB = 2.0,
        invariant = df => {
          val rows = df.count()
          val a = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          graft.ops.Par.releaseCaches()
          val b = graft.ops.PageRank
            .personalizedRanks(
              edgesOf(ids).repartition(7), "src", "dst", seeds, "node",
              iters = 5)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          Seq(
            if (rows == n) None
            else Some(s"$rows rank rows != $n nodes"),
            if (a == b) None
            else Some(s"ranks differ across partitionings: sym-diff=" +
              s"${(a diff b).size + (b diff a).size}")
          ).flatten
        }))
    }

    // Redirect resolution by pointer doubling (P131) at the smoke scale:
    // nDocs nodes in redirect chains of 1000 (node -> node-1, heads at
    // %1000==0), maxHops=1024 so EVERY chain resolves — 10 doubling
    // self-joins of the map relation. Invariants: one row per mapped src;
    // a FULL ground-truth check (final = the chain head, hops = position
    // in chain — exact for every row, not a sample); determinism across
    // an adversarial repartitioning.
    locally {
      val ids = docs.select(col("doc_id"))
      def chainOf(d: DataFrame): DataFrame = d
        .filter(pmod(col("doc_id"), lit(1000L)) =!= 0L)
        .select(
          concat(lit("u"), col("doc_id").cast("string")).as("src"),
          concat(lit("u"), (col("doc_id") - 1L).cast("string")).as("dst"))
      measure(Step(
        s"u_redirects(${copies}x, chains of 1000, maxHops=1024)",
        () => graft.ops.Urls.resolveRedirects(
          chainOf(ids), "src", "dst", maxHops = 1024),
        ceilingGB = 3.0,
        invariant = df => {
          val n = ids.filter(pmod(col("doc_id"), lit(1000L)) =!= 0L).count()
          val rows = df.count()
          // ground truth per row: src u<k> resolves to u<k - k%1000> in
          // exactly k%1000 hops, all resolved
          val wrong = df
            .withColumn("__k",
              substring(col("src"), 2, 100).cast("long"))
            .filter(
              col("final_url") =!=
                concat(lit("u"),
                  (col("__k") - pmod(col("__k"), lit(1000L))).cast("string")) ||
              col("hops") =!= pmod(col("__k"), lit(1000L)) ||
              col("resolved") =!= 1L)
            .count()
          val a = df.collect()
            .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
          graft.ops.Par.releaseCaches()
          val b = graft.ops.Urls
            .resolveRedirects(
              chainOf(ids).repartition(7), "src", "dst", maxHops = 1024)
            .collect()
            .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
          Seq(
            if (rows == n) None
            else Some(s"$rows result rows != $n mapped srcs"),
            if (wrong == 0) None
            else Some(s"$wrong rows deviate from chain ground truth"),
            if (a == b) None
            else Some("results differ across partitionings")
          ).flatten
        }))
    }

    // Star-contraction connected components (NEW r10) at the smoke corpus
    // scale: nDocs nodes in chains of 1000 — the HIGH-DIAMETER case where
    // min-label propagation would need 1000 edge-shuffles and the
    // contraction needs ~log rounds. Ceiling covers all rounds (each is
    // two groupBy+join shuffles on the edge list). Invariants: (a) one
    // label row per node; (b) ground-truth labels — every node's
    // cluster_id must equal its chain head (node - node % 1000), a full
    // result check, not a sample; (c) determinism across an adversarial
    // repartitioning.
    locally {
      val ids = docs.select(col("doc_id"))
      def chainOf(d: DataFrame): DataFrame = d
        .filter(pmod(col("doc_id"), lit(1000L)) =!= 999L)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1L).as("id_b"))
      measure(Step(
        s"p_cc_star(${copies}x, chains of 1000)",
        () => graft.ops.ConnectedComponents.components(chainOf(ids)),
        ceilingGB = 2.0,
        invariant = df => {
          val rows = df.count()
          val wrong = df
            .filter(col("cluster_id") =!=
              (col("doc_id") - pmod(col("doc_id"), lit(1000L))))
            .count()
          val a = df.collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          graft.ops.Par.releaseCaches()
          val b = graft.ops.ConnectedComponents
            .components(chainOf(ids).repartition(7))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          Seq(
            if (rows == nDocs) None
            else Some(s"$rows label rows != $nDocs nodes"),
            if (wrong == 0L) None
            else Some(s"$wrong nodes labeled off their chain head"),
            if (a == b) None
            else Some("labels differ across partitionings")
          ).flatten
        }))
    }

    // Corpus drift (NEW r10) at 100×: the token-histogram full-outer join
    // over the fanned corpus. Shuffle is bounded by the VOCABULARY (one
    // row per distinct token per side), not the corpus — the ceiling
    // asserts that. Sharp result invariant: fanning duplicates every doc
    // into 50 even- and 50 odd-id copies, so the two halves are the SAME
    // distribution and every reported delta_ppm must be exactly zero.
    measure(Step(
      s"t_corpus_drift(${copies}x, even vs odd halves identical)",
      () => graft.ops.CorpusStats.corpusDrift(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "text",
        k = 100),
      ceilingGB = 2.0,
      invariant = df => {
        val bad = df.filter(col("delta_ppm") =!= 0L).count()
        if (bad == 0L) Nil
        else Seq(s"$bad tokens drifted between identical halves")
      }))

    // ----- rangePrefix machinery (r11) at 50M rows: globalShuffle and
    // systematicSample both ride Sampling.rangePrefix (range-bucket the
    // corpus, broadcast per-bucket prefix offsets, bucket-local windows).
    // The driver gates exercise it at 60k rows; these steps run it at
    // 50M — ~100 partitions' worth of bucket boundaries — and assert the
    // EXACT global contracts (bijection / Σhits = k) that would break if
    // a bucket boundary double-counted or dropped a row. spark.range is
    // the right input here: the machinery is id/weight-shaped, and 50M
    // is beyond any fanning of the sf0.1 corpus.
    locally {
      val n = 50000000L
      val ids = spark.range(n).select(col("id").as("doc_id"))
      measure(Step(
        s"t_global_shuffle(50M rows, bijection)",
        () => graft.ops.Packing.globalShuffle(ids, "doc_id", shardSize = 64L),
        ceilingGB = 3.0,
        invariant = df => {
          val stats = df.agg(
            count(lit(1)).as("c"),
            countDistinct(col("pos")).as("d"),
            min(col("pos")).as("lo"),
            max(col("pos")).as("hi")).collect()(0)
          val shardsOff = df.groupBy(col("shard")).count()
            .filter(col("count") =!= 64L).count()
          Seq(
            if (stats.getLong(0) == n && stats.getLong(1) == n) None
            else Some(s"rows=${stats.getLong(0)} distinct pos=" +
              s"${stats.getLong(1)}, expected $n (bijection broken)"),
            if (stats.getLong(2) == 0L && stats.getLong(3) == n - 1) None
            else Some(s"pos range [${stats.getLong(2)}, ${stats.getLong(3)}]" +
              s" != [0, ${n - 1}]"),
            if (shardsOff <= 1L) None
            else Some(s"$shardsOff shards off the 64-row size (only the " +
              "last may be short)")
          ).flatten
        }))
      // skewed-weight PPS: 50k rows carry weight 100001 (each straddles
      // ~20 grid points of the T/k selection grid — the multi-hit
      // certainty case), the rest weight 1. Exactness contract: Σ n_hits
      // == k regardless of how bucket boundaries slice the cumulative
      // weight, every heavy row is selected with ⌊wk/T⌋..⌊wk/T⌋+1 hits,
      // every sampled light row exactly once.
      val k = 1000000L
      val heavyW = 100001L
      val total = (n - n / 1000) * 1L + (n / 1000) * heavyW
      val loHeavy = heavyW * k / total
      measure(Step(
        s"t_systematic_sample(50M rows, 50k heavy, k=1M)",
        () => graft.ops.Sampling.systematicSample(
          ids.withColumn(
            "w",
            when(col("doc_id") % 1000 === 0, lit(heavyW)).otherwise(lit(1L))),
          "doc_id", col("w"), k = k),
        ceilingGB = 3.0,
        invariant = df => {
          val hits = df.agg(sum(col("n_hits"))).collect()(0).getLong(0)
          val heavyRows = df.filter(col("doc_id") % 1000 === 0)
          val nHeavy = heavyRows.count()
          val badHeavy = heavyRows
            .filter(col("n_hits") < loHeavy || col("n_hits") > loHeavy + 1)
            .count()
          val badLight = df.filter(
            col("doc_id") % 1000 =!= 0 && col("n_hits") =!= 1L).count()
          Seq(
            if (hits == k) None
            else Some(s"sum(n_hits)=$hits != k=$k (grid crossings lost " +
              "at a bucket boundary)"),
            if (nHeavy == n / 1000) None
            else Some(s"$nHeavy heavy rows sampled, expected ${n / 1000} " +
              "(certainty inclusion violated)"),
            if (badHeavy == 0L) None
            else Some(s"$badHeavy heavy rows outside [$loHeavy, ${loHeavy + 1}] hits"),
            if (badLight == 0L) None
            else Some(s"$badLight light rows with n_hits != 1")
          ).flatten
        }))
    }

    // ----- sentence-level boilerplate removal (P93, r11) at `copies`x:
    // the sentence-explode fan-out case. Fanning multiplies every
    // segment's document frequency by exactly `copies` (copies are
    // distinct docs with identical text), so the fanned run with
    // minDocs = 2*copies must commute with the base run at minDocs = 2:
    // survivors div copies == base survivors, full-row compare
    // (clean_text + counts), not just ids.
    locally {
      def fixture(d: DataFrame): DataFrame = d.withColumn(
        "text",
        concat(
          lit("Subscribe to our newsletter. "),
          col("text"),
          lit(". All rights reserved. Cookie policy applies.")))
      def run(d: DataFrame, minDocs: Long): DataFrame =
        graft.ops.Dedup.dropFrequentSegments(
          fixture(d), "doc_id",
          graft.ops.TextFunctions.sentences(col("text")),
          minDocs = minDocs)
      val base = run(baseDocs, 2L)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      graft.ops.Par.releaseCaches()
      println(s"[smoke] sentence-boilerplate base run: ${base.size} docs")
      measure(Step(
        s"p_sentence_boilerplate(${copies}x, minDocs=2*$copies commutes)",
        () => run(docs, 2L * copies),
        ceilingGB = 1.0,
        invariant = df => {
          val got = df.select(
            (col("doc_id") / copies).cast("long"),
            col("clean_text"), col("n_kept"), col("n_dropped"))
            .distinct()
            .collect()
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
            .toSet
          if (got == base) Nil
          else Seq(s"fanned survivors (${got.size} distinct base rows) != " +
            s"base run (${base.size}); duplication does not commute")
        }))
    }

    // ----- link authority END-TO-END (P103, r11) at `copies`x: href
    // extraction over real HTML (regex, map-side) -> registered-domain
    // reduction -> integer PageRank over the (src domain, dst domain)
    // multigraph. Domain indices derive from the BASE id, so fanning
    // multiplies every edge's multiplicity by `copies` but keeps the
    // 87-node domain graph fixed — the shuffle bill must track the edge
    // list, never the corpus text. Invariants: exactly the 87 domain
    // nodes, a FLAT final plan, and bit-identical ranks under an
    // adversarial repartitioning (integer-exactness at multiplicity 100x).
    locally {
      import org.apache.spark.sql.types.StringType
      def authority(d: DataFrame): DataFrame = {
        val baseId = (col("doc_id") / copies).cast("long")
        val url1 = concat(
          lit("https://www.d"), (baseId % 37).cast(StringType),
          lit(".co.uk/p"), col("doc_id").cast(StringType))
        val url2 = concat(
          lit("http://blog.d"), (baseId % 41).cast(StringType),
          lit(".com/q?id="), col("doc_id").cast(StringType))
        val html = concat(
          lit("<p>"), col("text"), lit("</p><a href=\""), url1,
          lit("\">x</a> <nav><a href=\""), url2, lit("\">y</a></nav>"))
        val srcDom = concat(
          lit("d"), (baseId % 50).cast(StringType), lit(".com"))
        val edges = d
          .select(
            srcDom.as("src"),
            explode(graft.ops.Urls.extractLinks(html)).as("url"))
          .select(col("src"), graft.ops.Urls.urlDomain(col("url")).as("dst"))
        graft.ops.PageRank.ranks(edges, "src", "dst", iters = 3)
      }
      measure(Step(
        s"u_link_authority(${copies}x href explosion, fixed 87-domain graph)",
        () => authority(docs),
        ceilingGB = 0.5,
        invariant = df => {
          val rows = df.count()
          val planLines =
            df.queryExecution.optimizedPlan.numberedTreeString.linesIterator.size
          val a = df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
          graft.ops.Par.releaseCaches()
          val b = authority(docs.repartition(7))
            .collect().map(r => (r.getString(0), r.getLong(1))).toSet
          Seq(
            if (rows == 87L) None
            else Some(s"$rows domain nodes != 87 (50 .com + 37 .co.uk)"),
            if (planLines <= 20) None
            else Some(s"final plan has $planLines lines — lineage not truncated"),
            if (a == b) None
            else Some("domain ranks differ across partitionings")
          ).flatten
        }))
    }

    // ----- edit-distance join (P109, r11) at `copies`x: identical titles
    // collapse to one representative before the deletion-variant index
    // (the scaladoc'd composition), so the fanned run must reproduce the
    // UNFANNED corpus's pairs exactly — the p_prefix_jaccard pattern.
    locally {
      def titled(d: DataFrame): DataFrame = d
        .select(
          col("doc_id"),
          concat(
            substring(col("text"), 1, 12),
            when((col("doc_id") / copies).cast("long") % 7 === 0, lit("x"))
              .otherwise(lit(""))).as("title"))
        .groupBy(col("title"))
        .agg(min(col("doc_id")).as("doc_id"))
      val basePairs = graft.ops.Dedup
        .editDistancePairs(
          baseDocs.select(
            col("doc_id"),
            concat(
              substring(col("text"), 1, 12),
              when(col("doc_id") % 7 === 0, lit("x")).otherwise(lit("")))
              .as("title"))
            .groupBy(col("title")).agg(min(col("doc_id")).as("doc_id")),
          "doc_id", col("title"), maxDist = 1)
        .select(col("id_a"), col("id_b"), col("dist"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      graft.ops.Par.releaseCaches()
      println(s"[smoke] edit-pairs base run: ${basePairs.size} pairs")
      measure(Step(
        s"p_edit_pairs(exact-collapse -> deletion index, ${copies}x)",
        () => graft.ops.Dedup.editDistancePairs(
          titled(docs), "doc_id", col("title"), maxDist = 1),
        ceilingGB = 0.5,
        invariant = df => {
          val got = df.select(
            (col("id_a") / copies).cast("long"),
            (col("id_b") / copies).cast("long"),
            col("dist"))
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
            .toSet
          if (got == basePairs) Nil
          else Seq(s"collapsed pairs (${got.size}) != base pairs " +
            s"(${basePairs.size})")
        }))
    }

    // ----- BFS crawl depth (P110, r11) on the 500k-node chain corpus:
    // chains of 1000 with seeds at the heads, depth capped at 8 — exact
    // ground truth depth(v) = v mod 1000 for the first nine layers, one
    // edge-shuffle round per hop. Invariants: exactly 9 layers x #chains
    // rows, every label on its chain offset, and bit-identical layers
    // under an adversarial repartitioning.
    locally {
      val ids = docs.select(col("doc_id"))
      def chainOf(d: DataFrame): DataFrame = d
        .filter(pmod(col("doc_id"), lit(1000L)) =!= 999L)
        .select(col("doc_id").as("src"), (col("doc_id") + 1L).as("dst"))
      val seeds = ids
        .filter(pmod(col("doc_id"), lit(1000L)) === 0L)
        .select(col("doc_id").as("node"))
      val nChains = nDocs / 1000L
      // the 9-layers-per-chain expectation below only holds for complete
      // chains; a truncated final chain would yield fewer layers PLUS a
      // phantom node nDocs reachable through the last doc's edge — fail
      // the fixture assumption loudly instead of false-failing the step
      require(
        nDocs % 1000L == 0L,
        s"u_crawl_depth smoke needs nDocs ($nDocs) divisible by 1000 " +
          "(complete chains); adjust copies or the chain length")
      measure(Step(
        s"u_crawl_depth(${copies}x chains of 1000, depth<=8)",
        () => graft.ops.Bfs.depths(
          chainOf(ids), "src", "dst", seeds, "node", maxDepth = 8),
        ceilingGB = 0.5,
        invariant = df => {
          val rows = df.count()
          val offChain = df
            .filter(pmod(col("node"), lit(1000L)) =!= col("depth").cast("long"))
            .count()
          val a = df.collect().map(r => (r.getLong(0), r.getInt(1))).toSet
          graft.ops.Par.releaseCaches()
          val b = graft.ops.Bfs.depths(
            chainOf(ids).repartition(7), "src", "dst", seeds, "node", 8)
            .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
          Seq(
            if (rows == 9L * nChains) None
            else Some(s"$rows rows != 9 layers x $nChains chains"),
            if (offChain == 0L) None
            else Some(s"$offChain nodes labeled off their chain offset"),
            if (a == b) None
            else Some("layers differ across partitionings")
          ).flatten
        }))
    }

    // ----- source interleave (P113, r11) at 10M rows / 8 sources: the
    // per-source window is the op's P38 trade (one window task per
    // source, ~1.25M rows each here), the global order rides rangePrefix.
    // Invariants: position bijection and the scaladoc'd prefix
    // proportionality bound at three prefix depths. (Mutual-NN P111 is
    // deliberately absent: brute-force by design, its plan shape is the
    // already-smoked s_quant_topk broadcast scan; the two-large-corpora
    // path is IVF blocking, P73's smoked machinery.)
    locally {
      val n = 10000000L
      val ids = spark.range(n).select(
        col("id").as("doc_id"),
        concat(lit("s"), pmod(col("id"), lit(8L)).cast("string"))
          .as("source"))
      measure(Step(
        "t_interleave(10M rows, 8 sources)",
        () => graft.ops.Packing.interleaveBySource(ids, "doc_id", "source"),
        ceilingGB = 1.5,
        invariant = df => {
          val stats = df.agg(
            count(lit(1)).as("c"),
            countDistinct(col("pos")).as("d"),
            max(col("pos")).as("hi")).collect()(0)
          // 8 equal sources: every prefix m holds m/8 +- (1 + 8*(1/8)) = 2
          val offProportion = Seq(1000L, 999999L, 5000001L).flatMap { m =>
            val counts = df.filter(col("pos") < m)
              .groupBy(col("source")).count().collect()
            counts.collect {
              case r if math.abs(r.getLong(1) - m / 8.0) > 2.0 + 1e-9 =>
                s"prefix $m: source ${r.getString(0)} has ${r.getLong(1)} " +
                  s"rows, expected ~${m / 8.0}"
            }
          }
          Seq(
            if (stats.getLong(0) == n && stats.getLong(1) == n &&
              stats.getLong(2) == n - 1) None
            else Some("positions are not a 0..n-1 bijection")
          ).flatten ++ offProportion
        }))
    }

    // ----- mixture e2e (P133, r12): plan -> weightedMixCol -> interleave
    // over the 100x corpus with 5 synthetic langs. The chain's shuffles
    // are the corpusReport lang agg + the interleave's source window and
    // rangePrefix exchanges over the MIXED (up-sampled) corpus.
    // Invariants: interleave positions are a 0..n-1 bijection and the
    // interleave preserves exactly the mixed row set. -----
    locally {
      val langed = docs.withColumn(
        "lang",
        concat(lit("l"),
          ((col("doc_id") / copies).cast("long") % 5).cast("string")))
      measure(Step(
        s"t_mixture_e2e(${copies}x, 5 langs, plan->mix->interleave)",
        () => {
          val stats =
            graft.ops.CorpusStats.corpusReport(langed, "text", Seq("lang"))
          val plan = graft.ops.Sampling.mixturePlan(
            stats, "lang", "n_tokens",
            targetsPerMille = Map("l0" -> 400, "l1" -> 300),
            defaultPerMille = 100,
            budget = 50000000L,
            maxPerMille = 2000)
          val mixed = graft.ops.Sampling.weightedMixCol(
            langed
              .select(col("doc_id"), col("lang"))
              .join(
                broadcast(plan.select(col("lang"), col("rate_per_mille"))),
                Seq("lang")),
            "doc_id",
            col("rate_per_mille"))
          val withId = mixed.select(
            (col("doc_id") * 1000 + col("copy")).as("mixed_id"),
            col("doc_id"),
            col("lang"))
          graft.ops.Packing.interleaveBySource(withId, "mixed_id", "lang")
        },
        ceilingGB = 1.5,
        invariant = df => {
          val stats = df.agg(
            count(lit(1)).as("c"),
            countDistinct(col("pos")).as("d"),
            max(col("pos")).as("hi"),
            countDistinct(col("mixed_id")).as("ids")).collect()(0)
          val n = stats.getLong(0)
          Seq(
            if (n > 0) None else Some("empty mixed corpus"),
            if (stats.getLong(1) == n && stats.getLong(2) == n - 1) None
            else Some(s"positions are not a 0..${n - 1} bijection"),
            if (stats.getLong(3) == n) None
            else Some("interleave dropped or duplicated mixed rows")
          ).flatten
        }))
    }

    // ----- retrieval e2e (P134, r12): postings-driven term pick -> BM25
    // -> RRF with the dense cosine ranking -> rank-eval, over the 100x
    // corpus (20M-token postings explode is the dominant shuffle; the
    // dense side broadcasts one query vector over 100x embeddings).
    // Invariants: exactly 5 judged query buckets, every metric in range.
    locally {
      measure(Step(
        s"p_retrieval_e2e(${copies}x, postings->bm25->rrf->eval)",
        () => {
          val terms = graft.ops.TfIdf
            .postings(docs, "doc_id", "text")
            .select(col("term"), col("df"))
            .distinct()
            .orderBy(col("df").asc, col("term").asc)
            .limit(3)
            .collect()
            .map(_.getString(0))
            .toSeq
          val sparse = graft.ops.Bm25
            .searchTopK(docs, "doc_id", "text", terms, k = 200)
            .select(col("doc_id"), col("rank"))
          val dense = graft.ops.Similarity
            .bruteForceTopK(
              embs, "vec_id", "embedding",
              embs.filter(col("vec_id") === 0), "vec_id", "embedding",
              k = 200)
            .select(col("neighbor_id").as("doc_id"), col("rank"))
          val fused = graft.ops.RankFusion
            .rrf(Seq(sparse, dense), "doc_id", "rank", k0 = 60, topK = 100)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("query_id")).orderBy(col("__fr").asc)
          val run = fused
            .select(
              (col("doc_id") % 5).as("query_id"),
              col("doc_id").as("d"),
              col("rank").as("__fr"))
            .withColumn("rank", row_number().over(w).cast("long"))
            .drop("__fr")
          val qrels = docs
            .filter(
              graft.ops.TextFunctions.hash61(
                concat(lit("rel:"), col("doc_id").cast("string"))) % 5 === 0)
            .select((col("doc_id") % 5).as("query_id"), col("doc_id").as("d"))
          graft.ops.RankEval.perQuery(run, qrels, "query_id", "d", "rank", 10)
        },
        ceilingGB = 3.0,
        invariant = df => {
          val rows = df.collect()
          Seq(
            if (rows.length == 5) None
            else Some(s"${rows.length} eval rows != 5 query buckets"),
            if (rows.forall(r =>
              r.getAs[Long]("rr_ppm") <= 1000000L &&
                r.getAs[Long]("ap_ppm") <= 1000000L &&
                r.getAs[Long]("n_hits_at_k") <= 10L &&
                r.getAs[Long]("n_rel") > 0L)) None
            else Some("an eval metric left its range")
          ).flatten
        }))
    }

    // real ImageIO decode at corpus scale (r13): encode + decode one PNG
    // per doc partition-wise — the whole chain is mapPartitions-only, so
    // the shuffle bill must stay ~zero regardless of corpus size (the
    // multimodal 100-TB posture: decode is embarrassingly parallel)
    measure(Step(
      s"m_image_stats(${copies}x, png encode+ImageIO decode)",
      () => {
        val staged = graft.ops.Multimodal.withPngBlob(
          docs.select(col("doc_id")),
          "doc_id",
          lit(8) + col("doc_id") % 5,
          lit(8) + col("doc_id") % 3,
          (col("doc_id") * 7) % 256,
          (col("doc_id") * 11) % 256,
          (col("doc_id") * 13) % 256)
        graft.ops.Multimodal.imageStats(staged, "doc_id", "blob")
      },
      ceilingGB = 0.1,
      invariant = df => {
        val bad = df
          .filter(
            col("format") =!= "png" ||
              col("n_pixels") =!= col("width").cast("long") * col("height") ||
              col("sum_b") =!= col("n_pixels") *
                ((col("doc_id") * 13) % 256))
          .count()
        val n = df.count()
        Seq(
          if (bad == 0L) None
          else Some(s"$bad rows with wrong decode stats"),
          if (n == nDocs) None
          else Some(s"$n rows != $nDocs docs")).flatten
      }))

    // real ISO-BMFF box walk at corpus scale (r14): encode one
    // structurally-real MP4 per doc partition-wise, parse it back — the
    // m_image_stats posture one modality over (container metadata; the
    // JDK has no video codec, so the codec level stays the documented
    // stub). Shuffle bill must stay ~zero at any corpus size.
    measure(Step(
      s"m_video_meta(${copies}x, mp4 encode+box walk)",
      () => {
        val staged = graft.ops.Multimodal.withMp4Blob(
          docs.select(col("doc_id")),
          "doc_id",
          timescale = lit(600) + (col("doc_id") % 5) * 200,
          durationTicks = lit(1000) + col("doc_id") % 50000,
          width = lit(160) + (col("doc_id") % 8) * 40,
          height = lit(120) + (col("doc_id") % 6) * 30,
          codec = lit("avc1"),
          nAudio = col("doc_id") % 3,
          mdatLen = lit(64) + col("doc_id") % 100)
        graft.ops.Multimodal.videoMeta(staged, "doc_id", "blob")
      },
      ceilingGB = 0.1,
      invariant = df => {
        val bad = df
          .filter(
            col("format") =!= "mp4" ||
              col("major_brand") =!= "isom" ||
              col("n_tracks") =!= (lit(1) + col("doc_id") % 3) ||
              col("width") =!= lit(160) + (col("doc_id") % 8) * 40 ||
              col("duration_ms") =!= org.apache.spark.sql.graft.ColumnShim
                .column(org.apache.spark.sql.catalyst.expressions
                  .IntegralDivide(
                    org.apache.spark.sql.graft.ColumnShim.expression(
                      (lit(1000L) + col("doc_id") % 50000) * 1000L),
                    org.apache.spark.sql.graft.ColumnShim.expression(
                      lit(600L) + (col("doc_id") % 5) * 200L))))
          .count()
        val n = df.count()
        Seq(
          if (bad == 0L) None
          else Some(s"$bad rows with wrong box-walk metadata"),
          if (n == nDocs) None
          else Some(s"$n rows != $nDocs docs")).flatten
      }))

    // real EBML varint walk at corpus scale (r15): encode one
    // structurally-real WebM per doc partition-wise, parse it back — the
    // m_video_meta posture one container format over. Shuffle bill must
    // stay ~zero at any corpus size.
    measure(Step(
      s"m_webm_meta(${copies}x, webm encode+EBML walk)",
      () => {
        val staged = graft.ops.Multimodal.withWebmBlob(
          docs.select(col("doc_id")),
          "doc_id",
          scaleNs = element_at(
            array(lit(250000L), lit(500000L), lit(1000000L), lit(2000000L),
              lit(4000000L)),
            (col("doc_id") % 5 + 1).cast("int")),
          durationUnits = lit(1000) + col("doc_id") % 50000,
          width = lit(160) + (col("doc_id") % 8) * 40,
          height = lit(120) + (col("doc_id") % 6) * 30,
          codec = lit("V_VP9"),
          nAudio = col("doc_id") % 3,
          clusterLen = lit(64) + col("doc_id") % 100)
        graft.ops.Multimodal.videoMeta(staged, "doc_id", "blob")
      },
      ceilingGB = 0.1,
      invariant = df => {
        val scaleNs = element_at(
          array(lit(250000L), lit(500000L), lit(1000000L), lit(2000000L),
            lit(4000000L)),
          (col("doc_id") % 5 + 1).cast("int"))
        val bad = df
          .filter(
            col("format") =!= "webm" ||
              col("major_brand") =!= "webm" ||
              col("n_tracks") =!= (lit(1) + col("doc_id") % 3) ||
              col("width") =!= lit(160) + (col("doc_id") % 8) * 40 ||
              col("codec") =!= "V_VP9" ||
              col("duration_ms") =!= org.apache.spark.sql.graft.ColumnShim
                .column(org.apache.spark.sql.catalyst.expressions
                  .IntegralDivide(
                    org.apache.spark.sql.graft.ColumnShim.expression(
                      (lit(1000L) + col("doc_id") % 50000) * scaleNs),
                    org.apache.spark.sql.graft.ColumnShim.expression(
                      lit(1000000L)))))
          .count()
        val n = df.count()
        Seq(
          if (bad == 0L) None
          else Some(s"$bad rows with wrong EBML-walk metadata"),
          if (n == nDocs) None
          else Some(s"$n rows != $nDocs docs")).flatten
      }))

    // WARC ingest at corpus scale (r15): encode one structurally-real
    // WARC blob per doc partition-wise (odd ids as gzip members, the
    // Common Crawl layout), parse every record back — zero shuffle at
    // any corpus size, and the record count is the generator's closed
    // form. The gzip path pays a real DEFLATE round-trip per odd doc.
    measure(Step(
      s"u_warc_ingest(${copies}x, warc encode+parse, half gzip)",
      () => {
        val staged = graft.ops.Warc.withWarcBlob(
          docs.select(col("doc_id")),
          "doc_id",
          nResponses = lit(1) + col("doc_id") % 3)
        graft.ops.Warc.warcIngest(staged, "doc_id", "blob")
      },
      ceilingGB = 0.1,
      invariant = df => {
        val corrupt = df.filter(col("warc_type") === "warc-corrupt").count()
        val responses = df
          .filter(col("warc_type") === "response" &&
            col("payload_len") =!= (lit(16) +
              (col("doc_id") * 7 + col("rec_idx") - 1) % 32))
          .count()
        val n = df.count()
        // rows = one warcinfo per doc + sum(1 + doc_id%3) responses
        val expect = nDocs + docs
          .select(sum(lit(1) + col("doc_id") % 3)).collect()(0).getLong(0)
        Seq(
          if (corrupt == 0L) None else Some(s"$corrupt corrupt blobs"),
          if (responses == 0L) None
          else Some(s"$responses responses with wrong closed-form length"),
          if (n == expect) None
          else Some(s"$n rows != expected $expect")).flatten
      }))

    // FILE-scale WARC ingest (r16): the arrival grain — stage the gate's
    // >=256 MiB multi-member .warc.gz plus 8 medium segments (~600 MiB
    // on-wire total, ~700 MiB decompressed) and STREAM every record off
    // the file handles. The memory posture is RECORD-bounded, not
    // file-bounded (WarcFileSpec proves a 2 GiB declared length rejects
    // without materializing); the only shuffle at ANY file count is the
    // tiny path spread — record rows never shuffle, so the ceiling is
    // effectively zero. Big file walks payload-PRUNED (the metadata
    // grain); the 8 segments decode every payload in full.
    measure(Step(
      "u_warc_file_ingest(9 files, ~600 MiB on-wire, streamed records)",
      () => {
        import spark.implicits._
        val big = graft.ops.Warc.stagedWarcFile(
          "big", seed = 1L, nResponses = 110000, gzip = true)
        val segs = (0 until 8).map { i =>
          (s"seg$i", graft.ops.Warc.stagedWarcFile(
            s"smoke$i", seed = 10L + i, nResponses = 14000,
            gzip = true).getPath)
        }
        val bigRecs = graft.ops.Warc.warcIngestFiles(
          Seq(("big", big.getPath)).toDF("file_id", "path"), "path",
          includePayload = false)
        val segRecs =
          graft.ops.Warc.warcIngestFiles(segs.toDF("file_id", "path"), "path")
        bigRecs.unionByName(segRecs)
      },
      ceilingGB = 0.01,
      invariant = df => {
        val corrupt = df.filter(col("warc_type") === "warc-corrupt").count()
        val n = df.count()
        val expect = 110001L + 8L * 14001L
        val seed = when(col("file_id") === "big", lit(1L))
          .otherwise(lit(10L) +
            regexp_extract(col("file_id"), "seg(\\d+)", 1).cast("long"))
        val badLen = df
          .filter(col("warc_type") === "response" &&
            col("payload_len") =!= lit(2048) +
              (seed * 31 + (col("rec_idx") - 1) * 97) % 2048)
          .count()
        Seq(
          if (corrupt == 0L) None else Some(s"$corrupt corrupt files"),
          if (badLen == 0L) None
          else Some(s"$badLen records with wrong closed-form byte length"),
          if (n == expect) None
          else Some(s"$n rows != expected $expect")).flatten
      }))

    // crawl-to-corpus e2e at 100x (r16): the p_crawl_e2e chain — WARC
    // encode (html-wrapped text, half gzip) → ingest → stripHtml →
    // artifact-ppm filter → langId → exact dedup → per-lang report —
    // with the twin/injection selections keyed on the ORIGINAL doc id
    // (fan id ÷ copies), so duplication collapses exactly and the 100x
    // report must equal the 1x base run bit-for-bit. Text never
    // shuffles: the dedup exchange carries (fp, metrics) tuples only.
    locally {
      def crawlChain(d0: DataFrame, divisor: Long): DataFrame = {
        import graft.ops.TextFunctions
        // spread FIRST: the fanned corpus inherits the crossJoin's few
        // scan partitions (Par.fan bails on join-bearing lineage), and
        // the whole chain ahead is heavy narrow work — this one priced
        // text-sized exchange buys full-width parallelism; at real scale
        // file splits provide it natively and this repartition vanishes
        val d = d0.repartition(
          d0.sparkSession.sparkContext.defaultParallelism)
        val orig = floor(col("doc_id") / lit(divisor)).cast("long")
        val body = concat(
          lit("<html><head><title>t</title></head><body><h1>Doc</h1><p>"),
          col("text"),
          when(orig % 17 === 0, lit("\uFFFD\uFFFD\uFFFD"))
            .otherwise(lit("")),
          lit("</p></body></html>"))
        val base = d.select(col("doc_id"), body.as("body"))
        val twins = d
          .filter(orig % 10 === 0)
          .select(
            (col("doc_id") + lit(1000000000000L)).as("doc_id"),
            body.as("body"))
        val staged = graft.ops.Warc.withWarcBlobBody(
          base.unionByName(twins), "doc_id", "body")
        val stripped = graft.ops.Warc.warcIngest(staged, "doc_id", "blob")
          .filter(col("warc_type") === "response")
          .select(
            col("doc_id"),
            TextFunctions.stripHtml(col("payload")).as("text2"))
        val langed = stripped
          .filter(TextFunctions.encodingArtifactPpm(col("text2")) === 0L)
          .withColumn("pred_lang", TextFunctions.langId(col("text2")))
        val perDoc = langed.select(
          col("doc_id"),
          md5(col("text2")).as("__fp"),
          col("pred_lang"),
          coalesce(TextFunctions.tokenCount(col("text2")), lit(0L))
            .cast("long").as("__toks"),
          coalesce(length(col("text2")), lit(0)).cast("long").as("__chars"),
          TextFunctions.hash61(coalesce(col("text2"), lit(""))).as("__h"))
        perDoc
          .groupBy(col("__fp"))
          .agg(
            min(col("pred_lang")).as("pred_lang"),
            min(col("__toks")).as("__toks"),
            min(col("__chars")).as("__chars"),
            min(col("__h")).as("__h"))
          .groupBy(col("pred_lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("__toks")).as("n_tokens"),
            sum(col("__chars")).as("n_chars"),
            countDistinct(col("__h")).as("n_distinct_texts"),
            max(col("__toks")).as("max_tokens"),
            (sum(col("__toks")).cast("double") /
              count(lit(1)).cast("double")).as("mean_tokens"))
      }
      val baseRows = crawlChain(
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("text")),
        divisor = 1L)
        .collect().map(_.toSeq).toSet
      println(s"[smoke] crawl-e2e base run: ${baseRows.size} lang rows")
      measure(Step(
        s"p_crawl_e2e(${copies}x, warc->strip->filter->dedup->report, " +
          "result-invariant)",
        () => crawlChain(docs, divisor = copies.toLong),
        // the spread exchange carries the corpus text ONCE (~1 GB at
        // 100x); dedup/report exchanges stay fixed-width-tuple-sized
        ceilingGB = 1.5,
        invariant = df => {
          val got = df.collect().map(_.toSeq).toSet
          if (got == baseRows) None.toSeq
          else Seq(
            s"100x crawl-e2e diverged from base: got ${got.size} rows, " +
              s"base ${baseRows.size}")
        }))
    }

    // ingest e2e composition at 100x (r13): CSV slice + JSONL slice with
    // re-ingested duplicates -> union -> keep-min exact dedup ->
    // partitionBy(lang) write -> pruned read. Result-invariance is exact:
    // fan() keeps id order (doc_id*copies+copy is monotone), so keep-min
    // elects the SAME original document at any copy factor and the 100x
    // per-lang aggregates must equal the 1x base run's bit-for-bit.
    locally {
      def chain(d: DataFrame, root: String): DataFrame = {
        val cols = Seq("doc_id", "lang", "text", "n_chars").map(col)
        val a = graft.ops.Formats.roundTrip(
          d.filter(col("doc_id") % 2 === 1).select(cols: _*),
          "csv", s"$root/a")
        val rein = d
          .filter(col("doc_id") % 2 === 1 && col("doc_id") % 10 === 1)
          .select(
            (col("doc_id") + lit(1000000000L)).as("doc_id"),
            col("lang"), col("text"), col("n_chars"))
        val b = graft.ops.Formats.roundTrip(
          d.filter(col("doc_id") % 2 === 0).select(cols: _*)
            .unionByName(rein),
          "json", s"$root/b")
        val all = a.unionByName(b)
        val keep = graft.ops.Dedup.exact(all, "doc_id", "text")
          .select(col("doc_id_kept").as("doc_id"))
        all.join(keep, Seq("doc_id"), "left_semi")
          .write.partitionBy("lang").parquet(s"$root/out")
        spark.read.parquet(s"$root/out")
          .filter(pmod(
            graft.ops.TextFunctions.hash61(col("lang")), lit(3L)) < 2)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            sum(graft.ops.TextFunctions.hashMod(col("text")))
              .as("text_fp"))
      }
      val docsFull = fan(
        "doc_id",
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("lang"), col("text"), col("n_chars")))
      val baseRows = chain(
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("lang"), col("text"), col("n_chars")),
        graft.queries.GateTemp.dir("smoke-ingest-base").toString)
        .collect().map(_.toSeq).toSet
      println(s"[smoke] ingest-e2e base run: ${baseRows.size} lang rows")
      measure(Step(
        s"p_ingest_e2e(${copies}x, csv+jsonl->dedup->partitioned, result-invariant)",
        () => chain(
          docsFull,
          graft.queries.GateTemp.dir("smoke-ingest-100x").toString),
        ceilingGB = 0.5,
        invariant = df => {
          val got = df.collect().map(_.toSeq).toSet
          if (got == baseRows) None.toSeq
          else Seq(
            s"100x ingest-e2e diverged from base: got ${got.size} rows, " +
              s"base ${baseRows.size}")
        }))
    }

    // Misra-Gries sketch at 100x (r13): heavy hitters are SCALE-INVARIANT
    // under duplication (every count scales by `copies`, so the
    // cnt·(k+1) > n set is unchanged) — the sketch over the 100x corpus
    // must contain every base-corpus guaranteed hitter and bound its
    // 100x-scaled exact count, with the key stream never shuffling
    // (treeAggregate: O(k) per task, sketch-sized merges only)
    locally {
      val k = 32
      val baseWords = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(explode(split(trim(col("text")), "\\s+")).as("word"))
      val baseExact = baseWords
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      val baseN = baseExact.agg(sum(col("cnt"))).head().getLong(0)
      val baseGuaranteed = baseExact
        .filter(col("cnt") * (k + 1) > lit(baseN))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      measure(Step(
        s"t_heavy_hitters(${copies}x, k=$k sketch, scale-invariant set)",
        () => {
          val words = docs.select(
            explode(split(trim(col("text")), "\\s+")).as("word"))
          val s100 = graft.ops.HeavyHitters.sketch(words, col("word"), k)
          val n100 = baseN * copies
          require(s100.n == n100, s"sketch n ${s100.n} != $n100")
          require(
            s100.err <= n100 / (k + 1),
            s"err ${s100.err} > n/(k+1) ${n100 / (k + 1)}")
          baseGuaranteed.foreach { case (w, c) =>
            val est = s100.counts.getOrElse(
              w,
              sys.error(s"guaranteed hitter '$w' missing at ${copies}x"))
            require(
              est <= c * copies && c * copies <= est + s100.err,
              s"'$w': est $est violates bounds around ${c * copies}")
          }
          import spark.implicits._
          s100.counts.toSeq.toDF("word", "est")
        },
        ceilingGB = 0.05,
        invariant = df => {
          val m = df.count()
          if (m >= baseGuaranteed.size && m <= k) None.toSeq
          else Seq(s"sketch kept $m keys (guaranteed ${baseGuaranteed.size}, k=$k)")
        }))
    }

    // streaming-LSH dedup registry at 100x duplication (r13): the batch
    // formulation of p_stream_lsh_dedup's plan (micro-batch execution
    // shuffles the same relations). The registry NEVER materializes pairs
    // — state is one row per band bucket — so 100x duplication, which
    // explodes pairwise LSH (p_dedup_survivors above: 5.7 GB + spill),
    // must leave the shuffle bill at band-key volume: 4 tiny rows per doc.
    measure(Step(
      s"p_stream_lsh_registry(${copies}x, bucket state, no pairs)",
      () => {
        val banded = graft.ops.Dedup.lshBandKeys(docs, "doc_id", "text")
        val registry = banded
          .groupBy(col("band"), col("band_key"))
          .agg(min(col("id")).as("min_id"), count(lit(1)).as("n_docs"))
        banded.join(registry, Seq("band", "band_key"))
          .groupBy(col("id"))
          .agg(count(lit(1)).as("n_bands"), min(col("min_id")).as("m"))
          .select(col("id"), (col("m") === col("id")).as("survived"))
      },
      ceilingGB = 0.5,
      invariant = df => {
        val n = df.count()
        val survivors = df.filter(col("survived")).count()
        Seq(
          // copies of a doc share EVERY bucket, so at most one member of
          // each of the nDocs/copies copy-groups can be min-everywhere
          if (survivors > 0L && survivors <= nDocs / copies) None
          else Some(
            s"$survivors survivors for ${nDocs / copies} copy-groups"),
          if (n <= nDocs && n >= nDocs * 9 / 10) None
          else Some(s"$n banded docs out of $nDocs")).flatten
      }))

    // HTTP connector at corpus scale (r13): the smoke's first connector
    // steps — measure the two claims the lookup/sink scaladocs make.
    locally {
      val wireHits = new java.util.concurrent.atomic.AtomicLong()
      val stub = graft.http.testkit.StubServer.serveOnly()
        .route("/k") { req =>
          wireHits.incrementAndGet()
          val k = graft.http.testkit.StubServer
            .queryMap(req.query).getOrElse("k", "0")
          (200, s"""{"v": $k}""")
        }
        .route("/ingest") { _ => (200, "ok") }
        .start()
      try {
        // dedup-keys: 500k probe rows over 5 000 distinct keys must reach
        // the wire exactly 5 000 times — request volume is |unique keys|,
        // not |rows| (the claim that keeps 1000 executors from hammering
        // an endpoint with corpus-sized traffic); shuffle = the byte-tiny
        // distinct-keys exchange plus the AQE-broadcast join-back
        measure(Step(
          s"h_lookup_dedup(${copies}x probes, 5k distinct keys)",
          () => {
            wireHits.set(0)
            graft.http.HttpLookup.join(
              docs.select(
                col("doc_id"),
                (col("doc_id") % 5000).cast("string").as("k")),
              keyCols = Seq("k"),
              responseSchema = org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField(
                  "v", org.apache.spark.sql.types.LongType))),
              options = Map(
                "url" -> stub.url("/k"),
                "http.source.lookup.dedup-keys" -> "true"))
          },
          ceilingGB = 0.5,
          invariant = df => {
            val n = df.count()
            // the harness fully evaluates the frame several times (noop
            // write, row count, this count) and nothing caches between
            // evaluations — each one must reach the wire EXACTLY once per
            // distinct key (without dedup-keys a single evaluation makes
            // 500 000 calls, x100 the allowance)
            val hits = wireHits.get()
            Seq(
              if (hits > 0 && hits % 5000L == 0L && hits <= 5000L * 4) None
              else Some(
                s"$hits wire calls — not an exact per-evaluation multiple " +
                  "of the 5000 distinct keys"),
              if (n == nDocs) None
              else Some(s"$n enriched rows != $nDocs probes")).flatten
          }))

        // sink batch mode: 500k rows submit as exactly ceil(rows/500)
        // bounded-size requests with ZERO shuffle — delivery cost scales
        // with row count, never with a reshuffle of the corpus
        val sinkReqs = new java.util.concurrent.atomic.AtomicLong()
        val sinkRows = new java.util.concurrent.atomic.AtomicLong()
        stub.route("/ingest-count") { req =>
          sinkReqs.incrementAndGet()
          sinkRows.addAndGet(
            graft.http.Json.mapper.readTree(req.body).size().toLong)
          (200, "ok")
        }
        measure(Step(
          s"h_sink_batch(${copies}x rows, batch 500)",
          () => {
            sinkReqs.set(0); sinkRows.set(0)
            val payload = docs.select(
              col("doc_id"),
              (col("doc_id") % 97).as("bucket"))
            graft.http.HttpSink.write(
              payload,
              Map(
                "url" -> stub.url("/ingest-count"),
                "http.sink.request.batch.size" -> "500"))
            payload.limit(1) // the metric is the write above
          },
          ceilingGB = 0.05,
          invariant = _ => {
            val r = sinkReqs.get()
            val n = sinkRows.get()
            Seq(
              if (n == nDocs) None
              else Some(s"sink delivered $n rows != $nDocs"),
              // per-partition tails make the count a range: every request
              // is <= 500 rows and the count is bounded by
              // ceil(n/500) + partitions partial tails
              if (r >= nDocs / 500 && r <= nDocs / 500 + 64) None
              else Some(s"$r requests for $nDocs rows at batch 500")).flatten
          }))
      } finally stub.stop()
    }

    // ----- late-r13 temporal/media/sketch additions -----

    // SCD-2 at 100x duplication: fanned copies of an observation carry
    // distinct event_ids but identical (user, ts, type) — they sort
    // consecutively and MUST collapse into the base run structure. The
    // invariant is EXACT result-invariance (count + eff_from checksum):
    // duplicated observations may not inflate the history. One exchange
    // on user_id for copies x |events| rows.
    locally {
      // Tables.events normalizes ts to session-zone TIMESTAMP (the raw
      // parquet decodes TIMESTAMP_NTZ, which unix_micros rejects)
      val baseEvents = graft.queries.Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      def runs(df: DataFrame): DataFrame = graft.ops.Scd.scd2History(
        df, Seq("user_id"), "event_type", "ts", "event_id")
      val base = runs(baseEvents)
        .agg(
          count(lit(1)).as("n"),
          // modular checksum: raw epoch-micro sums overflow Long at
          // corpus row counts (ANSI mode faults the overflow)
          sum(unix_micros(col("eff_from")) % 1000000007L).as("ck"))
        .collect()(0)
      val (baseRuns, baseCk) = (base.getLong(0), base.getLong(1))
      val fanned = fan("event_id", baseEvents)
      measure(Step(
        s"q_scd2_history(${copies}x events, run-collapse invariance)",
        () => runs(fanned),
        ceilingGB = 2.0,
        invariant = df => {
          val a = df.agg(
            count(lit(1)).as("n"),
            sum(unix_micros(col("eff_from")) % 1000000007L).as("ck"),
            sum(col("is_current")).as("open"),
            countDistinct(col("user_id")).as("users")).collect()(0)
          Seq(
            if (a.getLong(0) == baseRuns && a.getLong(1) == baseCk) None
            else Some(s"${a.getLong(0)} runs (ck ${a.getLong(1)}) != base " +
              s"$baseRuns (ck $baseCk) — duplicates inflated the history"),
            if (a.getLong(2) == a.getLong(3)) None
            else Some(s"${a.getLong(2)} open rows for ${a.getLong(3)} users"))
            .flatten
        }))
    }

    // CDC latest-wins snapshot at 100x duplication: copies of the per-user
    // winning observation share (ts, type, value) and differ only in the
    // fanned event_id, so the snapshot must be result-invariant modulo
    // the winner's id — per-user (last_us, event_type, value) exactly
    // equal to the base snapshot. One map-side-combined argmax exchange.
    locally {
      val baseEvents = graft.queries.Tables.events(spark, sfDir)
        .select(
          col("event_id"), col("user_id"), col("ts"),
          col("event_type"), col("value"))
      def snap(df: DataFrame): DataFrame = graft.ops.Scd.latestSnapshot(
        df, Seq("user_id"), "ts", "event_id",
        col("event_type") === "error")
        .select(
          col("user_id"), unix_micros(col("ts")).as("last_us"),
          col("event_type"), col("value"))
      val base = snap(baseEvents).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
      val fanned = fan("event_id", baseEvents)
      measure(Step(
        s"q_cdc_snapshot(${copies}x changelog, winner invariance)",
        () => snap(fanned),
        ceilingGB = 1.0,
        invariant = df => {
          val got = df.collect()
            .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
          val bad = base.collect {
            case (k, v) if got.get(k) != Some(v) =>
              s"user $k: ${got.get(k)} != $v"
          }
          (if (got.size == base.size) None
           else Some(s"${got.size} snapshot keys != ${base.size}")).toSeq ++
            bad.take(3)
        }))
    }

    // interval-union coverage at 100x duplication: every shipment window
    // appears in `copies` identical copies (distinct tie keys) — coverage
    // and island structure are UNION-invariant, so per-supplier
    // (covered, n_islands) must equal the base run exactly while
    // n_intervals scales by `copies`. One exchange of copies x |lineitem|
    // interval tuples + windowed sweep per supplier.
    locally {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_suppkey"), col("l_shipdate"))
        .withColumn(
          "__day",
          datediff(col("l_shipdate"), lit("1992-01-01").cast("date"))
            .cast("long"))
      def covOf(df: DataFrame): DataFrame = graft.ops.Intervals.coverage(
        df,
        Seq("l_suppkey"),
        col("__day"),
        col("__day") + col("l_linenumber") * 2L + 1L,
        col("l_orderkey") * 10L + col("l_linenumber"))
      val base = covOf(li).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val fanned = fan("l_orderkey", li)
      measure(Step(
        s"q_interval_coverage(${copies}x intervals, union invariance)",
        () => covOf(fanned),
        ceilingGB = 4.0,
        invariant = df => {
          val got = df.collect().map(r => r.getLong(0) ->
            ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
          val bad = base.flatMap { case (k, (nIv, nIsl, cov)) =>
            got.get(k) match {
              case Some((gIv, gIsl, gCov))
                if gIv == nIv * copies && gIsl == nIsl && gCov == cov => None
              case other =>
                Some(s"supplier $k: $other != (${nIv * copies}, $nIsl, $cov)")
            }
          }
          (if (got.size == base.size) None
           else Some(s"${got.size} suppliers != ${base.size}")).toSeq ++
            bad.take(3)
        }))
    }

    // real WAV encode -> decode at corpus scale: one JDK AudioSystem
    // round-trip per doc, mapPartitions-only — the m_image_stats posture
    // (embarrassingly parallel, shuffle-free at any corpus size). The
    // invariant re-derives each row's expected frame count from its
    // doc_id and requires per-sample stats to be present.
    measure(Step(
      s"m_audio_stats(${copies}x, real WAV encode+decode)",
      () => {
        val staged = graft.ops.Multimodal.withWavBlob(
          docs.select(col("doc_id")),
          "doc_id",
          lit(64) + (col("doc_id") % 17) * 8,
          lit(1) + col("doc_id") % 9973)
        graft.ops.Multimodal.audioStats(staged, "doc_id", "blob")
      },
      ceilingGB = 0.1,
      invariant = df => {
        val bad = df.filter(
          col("format") =!= "wav" ||
            col("n_samples") =!= lit(64) + (col("doc_id") % 17) * 8 ||
            col("sum_abs") <= 0L).count()
        val n = df.count()
        Seq(
          if (bad == 0L) None
          else Some(s"$bad rows decoded wrong format/frames/stats"),
          if (n == nDocs) None
          else Some(s"$n decoded rows != $nDocs")).flatten
      }))

    // data-quality constraint report at 100x: all row predicates in ONE
    // 1-row aggregate over copies x |orders| rows, uniqueness one key
    // exchange, FK a distinct + anti-join. The dirty slice is injected on
    // the REMAPPED keys, so expected violation counts are closed-form
    // from the slice size — the report must count them exactly.
    locally {
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      val fanned = fan("o_orderkey", orders)
      val customer = spark.read.parquet(s"$sfDir/customer.parquet")
      val nDirty = fanned.filter(col("o_orderkey") % 101 === 0).count()
      measure(Step(
        s"t_data_quality(${copies}x orders, closed-form violations)",
        () => {
          val dirty = fanned
            .filter(col("o_orderkey") % 101 === 0)
            .select(
              col("o_orderkey"),
              (col("o_custkey") + 1000000L).as("o_custkey"),
              lit("X").as("o_orderstatus"),
              (col("o_totalprice") * -1.0).as("o_totalprice"),
              lit(null).cast("timestamp").as("o_orderdate"),
              col("o_orderpriority"))
          val all = fanned.unionByName(dirty)
          graft.ops.DataQuality.combine(
            graft.ops.DataQuality.predicateReport(all, Seq(
              "totalprice_positive" -> (col("o_totalprice") > 0.0),
              "status_in_domain" -> col("o_orderstatus").isin("O", "F", "P"),
              "orderdate_not_null" -> col("o_orderdate").isNotNull)),
            graft.ops.DataQuality.uniqueReport(
              all, Seq("o_orderkey"), "orderkey_unique"),
            graft.ops.DataQuality.fkReport(
              all, "o_custkey", customer, "c_custkey", "custkey_fk"))
        },
        ceilingGB = 1.5,
        invariant = df => {
          val got = df.collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          val want = Map(
            "totalprice_positive" -> nDirty,
            "status_in_domain" -> nDirty,
            "orderdate_not_null" -> nDirty,
            "orderkey_unique" -> 2 * nDirty,
            "custkey_fk" -> nDirty)
          want.collect {
            case (k, v) if got.get(k) != Some(v) =>
              s"$k: ${got.get(k)} violations != closed-form $v"
          }.toSeq
        }))
    }

    // confusable-skeleton dedup at 100x duplication: the skeleton stays a
    // map-side translate; dup counting is two partial-agg'd fingerprint
    // exchanges + broadcast-able join-backs. Copies make every raw group
    // >= copies members; twins must STILL show skeleton-only duplication
    // (skel_dups > raw_dups \u2014 the evasion-caught property at any scale).
    measure(Step(
      s"t_confusables(${copies}x corpus, evasion caught)",
      () => {
        val twins = docs
          .filter(col("doc_id") % 37 === 0)
          .select(
            (col("doc_id") + 1000000000L).as("doc_id"),
            concat(
              translate(
                col("text"), "aeopcyx",
                "\u0430\u0435\u043E\u0440\u0441\u0443\u0445"),
              lit("\u200B")).as("text"))
        val corpus = docs.unionByName(twins)
        val skel = corpus.select(
          col("doc_id"),
          graft.ops.TextFunctions.hashMod(col("text")).as("raw_fp"),
          graft.ops.TextFunctions.hashMod(
            graft.ops.TextFunctions.confusableSkeleton(col("text")))
            .as("skel_fp"))
        skel
          .join(
            skel.groupBy("skel_fp").agg(count(lit(1)).as("__ns")), "skel_fp")
          .join(
            skel.groupBy("raw_fp").agg(count(lit(1)).as("__nr")), "raw_fp")
          .select(
            col("doc_id"),
            (col("__ns") - 1L).as("skel_dups"),
            (col("__nr") - 1L).as("raw_dups"))
      },
      ceilingGB = 1.0,
      invariant = df => {
        val twinRows = df.filter(col("doc_id") >= 1000000000L)
        val missed = twinRows
          .filter(col("skel_dups") <= col("raw_dups")).count()
        val n = df.count()
        Seq(
          if (missed == 0L) None
          else Some(s"$missed twins without skeleton-only duplication"),
          if (n > nDocs) None
          else Some(s"$n rows \u2014 twins missing from the corpus")).flatten
      }))

    // triangle counting on a 10M-node ring-with-chords (20M edges):
    // edges (i, i+1 mod n) + (i, i+2 mod n) make EXACTLY n triangles
    // (the consecutive triples), 3 per node — a closed-form invariant at
    // any n. Wedge volume stays degree-bounded (deg 4), so the two
    // equi-joins shuffle edge-sized relations, never pairs.
    locally {
      val n = 10000000L
      measure(Step(
        "u_triangles+cc(10M-node ring+chords, exact closed form)",
        () => {
          val ids = spark.range(n).select(col("id"))
          val edges = ids
            .select(col("id").as("src"), ((col("id") + 1) % n).as("dst"))
            .union(ids.select(
              col("id").as("src"), ((col("id") + 2) % n).as("dst")))
          graft.ops.GraphStats.clusteringReport(edges, "src", "dst")
        },
        ceilingGB = 6.0,
        invariant = df => {
          // closed form: every node has degree 4, sits in exactly 3
          // triangles, cc = 2*3*1e6/(4*3) = 500000 ppm
          val a = df.agg(
            count(lit(1)).as("nodes"),
            sum(col("n_triangles")).as("corners"),
            countDistinct(
              col("degree"), col("n_triangles"), col("cc_ppm")).as("shapes"),
            min(col("cc_ppm")).as("cc")).collect()(0)
          Seq(
            if (a.getLong(0) == n && a.getLong(1) == 3 * n) None
            else Some(s"${a.getLong(0)} nodes / ${a.getLong(1)} corners " +
              s"!= ($n, ${3 * n})"),
            if (a.getLong(2) == 1L && a.getLong(3) == 500000L) None
            else Some(s"${a.getLong(2)} distinct (degree, tri, cc) shapes, " +
              s"cc=${a.getLong(3)} — expected exactly (4, 3, 500000)"))
            .flatten
        }))
    }

    // GK quantile sketch (percentile_approx) at 50M DISTINCT values: the
    // mergeable-summary path that replaces exact rangePrefix quantiles
    // when rank error is tolerable at 100 TB. The input is a closed-form
    // permutation of 0..n-1, so the exact quantile is arithmetic and the
    // sketch is band-checked with ZERO exact-pass shuffle; the step's own
    // shuffle is one partial-agg of per-partition summaries (byte-tiny).
    locally {
      val n = 50000000L
      measure(Step(
        "t_approx_quantiles(50M distinct values, GK band)",
        () => spark.range(n)
          .select(((col("id") * 2654435761L) % n).as("v"))
          .agg(percentile_approx(
            col("v"),
            array(lit(0.125), lit(0.5), lit(0.9375)),
            lit(10000)).as("ap")),
        ceilingGB = 0.05,
        invariant = df => {
          val ap = df.collect()(0).getSeq[Long](0)
          Seq(0.125, 0.5, 0.9375).zip(ap).flatMap { case (q, v) =>
            val exact = math.ceil(q * n).toLong - 1
            val band = n / 32
            if (v >= exact - band && v <= exact + band) None
            else Some(s"q=$q: sketch $v outside +-$band around $exact")
          }
        }))
    }

    // POWER-LAW triangle counting (r14, closing the r13 verdict's one
    // `weak`): a degree-10^5 super-hub whose id sorts MID-RANGE — the
    // id-canonical worst case (its edges split across both sides of the
    // a<b orientation, so the hub would pivot ~(deg/2)^2 = 2.5e9 wedges).
    // The degree-ordered plan orients every hub edge TOWARD the hub
    // (leaves have degree 3), so the hub pivots zero wedges and total
    // wedge volume stays linear. Both orientations' wedge volumes are
    // AUDITED as 1-row aggregates (no need to run the bad plan to prove
    // it violates the ceiling), and the triangle/cc output is closed-form.
    locally {
      val m = 100000L
      val hub = 600000L // strictly between the two leaf id blocks
      def leafId(i: org.apache.spark.sql.Column) =
        when(i < m / 2, i).otherwise(i + 1000000L)
      val ids = spark.range(m).select(col("id"))
      val edges = ids
        .select(lit(hub).as("src"), leafId(col("id")).as("dst"))
        .union(ids.select(
          leafId(col("id")).as("src"),
          leafId((col("id") + 1) % m).as("dst")))
      measure(Step(
        "u_triangles+cc(degree-10^5 mid-id hub, degree-ordered wedges)",
        () => graft.ops.GraphStats.clusteringReport(edges, "src", "dst"),
        ceilingGB = 2.0,
        invariant = df => {
          val a = df.agg(
            count(lit(1)).as("nodes"),
            sum(col("n_triangles")).as("corners")).collect()(0)
          val hubRow = df.filter(col("node") === hub)
            .select(col("degree"), col("n_triangles"), col("cc_ppm"))
            .collect()(0)
          // wedge-volume audit over the SAME canonical edge set, both
          // orientations: sum over pivots of C(out,2)
          val canon = edges
            .filter(col("src") =!= col("dst"))
            .select(
              least(col("src"), col("dst")).as("a"),
              greatest(col("src"), col("dst")).as("b"))
            .distinct()
          val deg = canon
            .select(explode(array(col("a"), col("b"))).as("node"))
            .groupBy("node").agg(count(lit(1)).as("d"))
          val aFirst =
            struct(col("__da"), col("a")) < struct(col("__db"), col("b"))
          val orderedWedges = canon
            .join(deg.select(col("node").as("a"), col("d").as("__da")), Seq("a"))
            .join(deg.select(col("node").as("b"), col("d").as("__db")), Seq("b"))
            .select(when(aFirst, col("a")).otherwise(col("b")).as("u"))
            .groupBy("u").agg(count(lit(1)).as("out"))
            .agg(sum(col("out") * (col("out") - 1) / 2).as("w"))
            .collect()(0).getAs[Number]("w").longValue()
          val canonicalWedges = canon
            .groupBy(col("a").as("u")).agg(count(lit(1)).as("hi"))
            .join(
              canon.groupBy(col("b").as("u")).agg(count(lit(1)).as("lo")),
              Seq("u"))
            .agg(sum(col("hi") * col("lo")).as("w"))
            .collect()(0).getAs[Number]("w").longValue()
          Seq(
            if (a.getLong(0) == m + 1 && a.getLong(1) == 3 * m) None
            else Some(s"${a.getLong(0)} nodes / ${a.getLong(1)} corners " +
              s"!= (${m + 1}, ${3 * m})"),
            if (hubRow.getLong(0) == m && hubRow.getLong(1) == m &&
              hubRow.getLong(2) == 2000000L / (m - 1)) None
            else Some(s"hub (deg, tri, cc) = $hubRow != " +
              s"($m, $m, ${2000000L / (m - 1)})"),
            if (orderedWedges <= 3 * m) None
            else Some(s"degree-ordered wedge volume $orderedWedges > ${3 * m}" +
              " — the orientation lost its O(m^1.5) bound"),
            if (canonicalWedges >= (m / 2) * (m / 2)) None
            else Some(s"id-canonical wedge volume $canonicalWedges < " +
              s"${(m / 2) * (m / 2)} — fixture no longer exercises the " +
              "hub blowup this step exists to catch")).flatten
        }))
    }

    // POWER-LAW PageRank (r14): the ring smokes have constant degree, so
    // the graph family's skew posture was asserted, never exercised. A
    // planted super-hub with in-degree n-1 (every node links the hub; a
    // ring gives everyone an out-edge) drives the contribution aggregate's
    // hot key: map-side combine must deliver the hub's fan-in as one row
    // per map partition, so NO reduce task may read anything near deg(hub)
    // records. AQE partition coalescing is disabled in an isolated session
    // (the q_skew_salted_join spec pattern) so the per-task bound is
    // deterministic at this deliberately-small-bytes scale.
    locally {
      val n = 4000000L
      val hub = n / 2
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val ids = s2.range(n).select(col("id"))
      val edges = ids
        .select(col("id").as("src"), ((col("id") + 1) % n).as("dst"))
        .union(ids.filter(col("id") =!= hub)
          .select(col("id").as("src"), lit(hub).as("dst")))
      measure(Step(
        s"u_pagerank(4M nodes, planted in-degree-${n - 1} hub, task spread)",
        () => graft.ops.PageRank.ranks(edges, "src", "dst", iters = 3),
        ceilingGB = 3.0,
        invariant = df => {
          // bounds scale with the shuffle fan-out (a healthy fully-
          // combined stage legitimately reads ~rows/partitions per task);
          // the failure mode — deg(hub) rows into one reduce task — is
          // ~n regardless of partition count. r17 (r16 advice): the
          // one-time cached-edge BUILD stage (fused degree-agg +
          // degree-join reads the 2n-edge exchange twice, measured 502576
          // at n=4M/32 tasks) gets its own 6n/partitions bound as the
          // single widest stage; EVERY other stage — the per-iteration
          // fan-in this step exists to police — keeps the original
          // tighter 4n/partitions bound instead of inheriting the
          // build's slack.
          val perPart = n / cpus.toLong.max(1L)
          val (buildBound, iterBound) = (6L * perPart, 4L * perPart)
          val perStage = stats.snapshot().perStage
          // the table a brush against either bound is attributed with
          perStage.toSeq.sortBy(_._1).foreach { case (id, st) =>
            if (st.maxTaskReadRecords > 0)
              println(f"[smoke]   stage $id%4d maxTaskRead=" +
                f"${st.maxTaskReadRecords}%9d  ${st.name.take(100)}")
          }
          val byStage = perStage.values.map(_.maxTaskReadRecords).toSeq
            .sorted(Ordering[Long].reverse)
          val widest = byStage.headOption.getOrElse(0L)
          val restMax = byStage.drop(1).headOption.getOrElse(0L)
          val top = df.orderBy(col("rank").desc).limit(1).collect()(0)
          Seq(
            if (top.getLong(0) == hub && top.getLong(1) > 250000000000L) None
            else Some(s"top rank (${top.getLong(0)}, ${top.getLong(1)}) — " +
              s"expected the hub $hub with > 0.25 * scale"),
            if (df.count() == n) None
            else Some(s"${df.count()} nodes != $n"),
            if (widest < buildBound) None
            else Some(s"a task shuffle-read $widest records (>= 6n/" +
              s"partitions = $buildBound) — even the one-time edge-build " +
              "stage must stay below this; the hub's fan-in reached a " +
              "reduce task uncombined"),
            if (restMax < iterBound) None
            else Some(s"a task outside the single widest stage " +
              s"shuffle-read $restMax records (>= 4n/partitions = " +
              s"$iterBound) — a per-iteration stage lost its map-side " +
              "combine")).flatten
        }))
    }

    // POWER-LAW connected components (r14): the chains-of-1000 step caps
    // component size at 1000, so star contraction's giant-component case
    // (the EXACT shape Kiveris et al. designed large-star/small-star for:
    // one hub whose closed neighborhood is the whole graph) was never
    // exercised. A 2M-leaf star must collapse to ONE component labeled by
    // the hub in O(1) alternating rounds — per-round cost is two
    // edge-sized same-key shuffles regardless of the hub's degree (the
    // min table is one row per key; AQE splits/broadcasts the probe side).
    locally {
      val n = 2000000L
      measure(Step(
        s"p_cc_star(single ${n}-node star, giant component)",
        () => graft.ops.ConnectedComponents.components(
          spark.range(1, n)
            .select(col("id").as("id_a"), lit(0L).as("id_b"))),
        ceilingGB = 2.0,
        invariant = df => {
          val a = df.agg(
            count(lit(1)).as("n"),
            countDistinct(col("cluster_id")).as("k"),
            max(col("cluster_id")).as("mx")).collect()(0)
          if (a.getLong(0) == n && a.getLong(1) == 1L && a.getLong(2) == 0L)
            Nil
          else Seq(s"(${a.getLong(0)} nodes, ${a.getLong(1)} components, " +
            s"max label ${a.getLong(2)}) != ($n, 1, 0)")
        }))
    }

    graft.ops.Par.releaseCaches()
    spark.stop()
    sys.exit(if (failed) 1 else 0)
  }
}
