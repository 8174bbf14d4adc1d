package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Train/test decontamination: flag training documents that share word
  * n-grams with a benchmark / evaluation set (the contamination check run
  * before any pretraining corpus ships — the GPT-3 appendix-C / PaLM style
  * "13-gram collision" sweep, here parameterized over n).
  *
  * Scale posture: the benchmark side is an eval suite — thousands of
  * documents, millions of n-grams at most — while the corpus is the 100 TB
  * side. So the benchmark's distinct n-gram hashes are broadcast and the
  * corpus is only ever map-scanned: shingle+hash per row (codegen), explode,
  * broadcast-hash semi-join. The single shuffle is the per-doc count of
  * MATCHED grams, whose input is bounded by contamination volume (rare by
  * construction), not corpus size. The corpus never repartitions.
  */
object Decontaminate {

  // a document's grams are the near-dup family's hashed shingle set, so
  // the DuckDB oracles replay one construction
  import Dedup.hashedShingleSet

  /** Per-document overlap against the benchmark: `(idCol, n_shared_ngrams,
    * n_doc_ngrams, contaminated_frac)` for every corpus document sharing at
    * least one distinct n-gram with any benchmark document.
    * `contaminated_frac` = shared grams / the document's own distinct grams
    * — the ratio real contamination filters threshold on (a 10k-gram doc
    * sharing 3 grams is noise; a 30-gram doc sharing 25 is a leaked eval
    * row). Anti-join the result (optionally pre-filtered on the ratio)
    * against the corpus to drop contaminated docs, or use
    * [[dropContaminated]] directly.
    *
    * Real sweeps run long grams (GPT-3's appendix-C used 13-grams; n=8–13
    * is typical) — at long n the shingle sets get sparse and most docs
    * overlap nothing, which is exactly why the matched-grams shuffle stays
    * bounded by contamination volume.
    *
    * `broadcastBenchmark=false` falls back to a shuffle hash join for
    * benchmark sets too large to broadcast (unusual — eval suites are small).
    */
  def ngramOverlap(
      corpus: DataFrame,
      idCol: String,
      textCol: Column,
      benchmark: DataFrame,
      benchTextCol: Column,
      n: Int = 3,
      broadcastBenchmark: Boolean = true): DataFrame = {
    val benchGrams = benchmark
      .select(explode(hashedShingleSet(benchTextCol, n)).as("g"))
      .distinct()
    val bench = if (broadcastBenchmark) broadcast(benchGrams) else benchGrams
    // Per-doc grams are distinct (a set), bench grams are distinct, so the
    // post-join count(1) per doc IS the distinct shared-gram count — no
    // second distinct pass needed. The gram set is aliased in its own
    // projection below the size/explode one: CollapseProject keeps a
    // non-cheap alias referenced twice un-inlined, so the shingle+hash pass
    // runs once per row.
    Par.fan(corpus)
      .select(col(idCol), hashedShingleSet(textCol, n).as("__graft_grams"))
      .select(
        col(idCol),
        size(col("__graft_grams")).cast("long").as("n_doc_ngrams"),
        explode(col("__graft_grams")).as("g"))
      .join(bench, Seq("g"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_shared_ngrams"),
        max(col("n_doc_ngrams")).as("n_doc_ngrams"))
      .withColumn(
        "contaminated_frac",
        col("n_shared_ngrams").cast("double") / col("n_doc_ngrams"))
      .select(
        col(idCol),
        col("n_shared_ngrams"),
        col("n_doc_ngrams"),
        col("contaminated_frac"))
  }

  /** Per-document n-gram NOVELTY against a reference corpus — the
    * memorization/novelty signal reported for generated or newly-crawled
    * data ("how much of this doc's n-gram mass already exists in what we
    * trained on"): `novelty_ppm = ⌊(own − seen)·10⁶ / own⌋` over the
    * doc's DISTINCT hashed n-grams. The transpose of [[ngramOverlap]]
    * with total coverage: EVERY corpus doc gets a row (docs sharing
    * nothing score 10⁶; gram-less docs score 0 — an empty doc contributes
    * nothing novel), so the output joins back as a per-doc feature
    * without an outer-join dance.
    *
    * Scale posture = [[ngramOverlap]]: the reference gram set broadcasts
    * (or shuffle-joins when too large), the corpus is map-scanned with
    * one gram-keyed join bounded by overlap volume plus one partial-agg'd
    * per-doc count; the full-coverage left join is doc-keyed.
    */
  def noveltyReport(
      corpus: DataFrame,
      idCol: String,
      textCol: Column,
      reference: DataFrame,
      refTextCol: Column,
      n: Int = 3,
      broadcastReference: Boolean = true): DataFrame = {
    val refGrams = reference
      .select(explode(hashedShingleSet(refTextCol, n)).as("g"))
      .distinct()
    val ref = if (broadcastReference) broadcast(refGrams) else refGrams
    val seen = Par.fan(corpus)
      .select(col(idCol), explode(hashedShingleSet(textCol, n)).as("g"))
      .join(ref, Seq("g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__seen"))
    Par.fan(corpus)
      .select(
        col(idCol),
        size(hashedShingleSet(textCol, n)).cast("long").as("n_doc_ngrams"))
      .join(seen, Seq(idCol), "left")
      .select(
        col(idCol),
        col("n_doc_ngrams"),
        coalesce(col("__seen"), lit(0L)).as("n_seen_ngrams"),
        when(col("n_doc_ngrams") === 0, lit(0L))
          .otherwise(Sampling.divFloor(
            (col("n_doc_ngrams") - coalesce(col("__seen"), lit(0L))) *
              lit(1000000L),
            col("n_doc_ngrams")))
          .as("novelty_ppm"))
  }

  /** One-call decontamination: drop corpus documents whose contaminated
    * fraction reaches `maxFrac` (or that share ANY benchmark gram, the
    * strict default). The corpus scan stays map-side; the anti-join's build
    * side is only the flagged ids (bounded by contamination volume).
    *
    * {{{
    * val clean = Decontaminate.dropContaminated(
    *   corpus, "doc_id", col("text"), evalSuite, col("question"), n = 13)
    * }}}
    */
  def dropContaminated(
      corpus: DataFrame,
      idCol: String,
      textCol: Column,
      benchmark: DataFrame,
      benchTextCol: Column,
      n: Int = 3,
      maxFrac: Double = 0.0,
      broadcastBenchmark: Boolean = true): DataFrame = {
    val flagged = ngramOverlap(
      corpus, idCol, textCol, benchmark, benchTextCol, n, broadcastBenchmark)
      .filter(col("contaminated_frac") > maxFrac)
      .select(col(idCol))
    corpus.join(broadcast(flagged), Seq(idCol), "left_anti")
  }

  /** Per-BENCHMARK-ITEM leak report — the transpose of [[ngramOverlap]]:
    * instead of "which corpus docs to drop", answer "which EVAL ROWS are
    * burned" (rewrite or retire them before reporting scores on the
    * benchmark). For every benchmark document sharing at least one
    * distinct n-gram with the corpus:
    *
    *   - `n_leaked_docs`    distinct corpus documents sharing ≥ 1 gram
    *   - `n_covered_ngrams` how many of the ITEM's distinct grams appear
    *                        anywhere in the corpus
    *   - `n_item_ngrams`    the item's own distinct gram count
    *   - `leaked_frac`      covered / item grams — 1.0 means the item is
    *                        fully reconstructible from training data
    *
    * Scale posture: identical to [[ngramOverlap]] with the roles kept —
    * the benchmark's (item, gram) pairs broadcast, the 100 TB corpus is
    * map-scanned once (shingle+hash codegen, explode, broadcast-hash
    * join); the only shuffle aggregates MATCHED (corpus doc, item, gram)
    * triples, bounded by contamination volume, not corpus size.
    */
  def leakReport(
      corpus: DataFrame,
      corpusIdCol: String,
      corpusTextCol: Column,
      benchmark: DataFrame,
      benchIdCol: String,
      benchTextCol: Column,
      n: Int = 3,
      broadcastBenchmark: Boolean = true): DataFrame = {
    val benchGrams = benchmark.select(
      col(benchIdCol).as("__bid"),
      explode(hashedShingleSet(benchTextCol, n)).as("g"))
    val benchSizes = benchmark.select(
      col(benchIdCol).as("__bid"),
      size(hashedShingleSet(benchTextCol, n)).cast("long").as("n_item_ngrams"))
    val bg = if (broadcastBenchmark) broadcast(benchGrams) else benchGrams
    Par.fan(corpus)
      .select(
        col(corpusIdCol).as("__cid"),
        explode(hashedShingleSet(corpusTextCol, n)).as("g"))
      .join(bg, Seq("g"))
      .groupBy(col("__bid"))
      .agg(
        countDistinct(col("__cid")).as("n_leaked_docs"),
        countDistinct(col("g")).as("n_covered_ngrams"))
      .join(broadcast(benchSizes), Seq("__bid"))
      .select(
        col("__bid").as(benchIdCol),
        col("n_leaked_docs"),
        col("n_covered_ngrams"),
        col("n_item_ngrams"),
        (col("n_covered_ngrams").cast("double") / col("n_item_ngrams"))
          .as("leaked_frac"))
  }

  /** SEMANTIC decontamination — the embedding-space complement of
    * [[ngramOverlap]]: flag every corpus vector whose cosine to ANY
    * benchmark vector reaches `num/den`. Catches the leakage n-grams miss
    * by construction: paraphrases, translations, and format-shuffled eval
    * rows share no 13-gram but sit on top of each other in embedding
    * space.
    *
    * The decision is EXACT INTEGER arithmetic over int8 codes (the
    * [[Outliers]] machinery): `dot > 0 ∧ dot²·den² ≥ num²·|c|²·|b|²` in
    * DECIMAL(38,0) — order-free, engine-portable, hash-gateable. Output:
    * one row per contaminated corpus vector — (`idCol`, `n_hits`,
    * `first_bench_id`) where `first_bench_id` = the MINIMUM hitting
    * benchmark id (min, not argmax-similarity: min is order-free and
    * needs no cross-pair float compare). Anti-join against the corpus to
    * drop, exactly like the n-gram path.
    *
    * Scale posture: the benchmark is an eval suite — thousands of
    * vectors — so its codes broadcast and the corpus is map-scanned once:
    * a broadcast nested-loop over bench codes with the codegen'd integer
    * dot, then ONE shuffle aggregating only the HITS (bounded by
    * contamination volume, not corpus size). For benchmark sets too big
    * to scan per row, pre-filter candidates with [[Similarity]]'s LSH
    * buckets and feed the survivors here.
    */
  def semanticOverlap(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      benchmark: DataFrame,
      benchIdCol: String,
      benchVecCol: String,
      thresholdNum: Long,
      thresholdDen: Long): DataFrame = {
    require(thresholdNum > 0 && thresholdDen > 0,
      s"threshold must be a positive rational (got $thresholdNum/$thresholdDen)")
    def codes(df: DataFrame, id: Column, vec: Column, idAs: String, qAs: String) =
      df.select(id.as(idAs), vec.as("__v"))
        .withColumn(
          "__maxabs",
          array_max(transform(col("__v"), x => abs(x.cast("double")))))
        .withColumn(
          "__scale",
          when(col("__maxabs") === lit(0.0d), lit(1.0d))
            .otherwise(col("__maxabs") / lit(127.0d)))
        .select(
          col(idAs),
          Quantize.int8Codes(col("__v"), col("__scale")).as(qAs))
    val c = codes(Par.fan(corpus), col(idCol), col(vecCol), "__cid", "__cq")
      .withColumn("__cn", Quantize.intDot(col("__cq"), col("__cq")))
    val b = codes(benchmark, col(benchIdCol), col(benchVecCol), "__bid", "__bq")
      .withColumn("__bn", Quantize.intDot(col("__bq"), col("__bq")))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def d38(x: Column): Column = x.cast(dec)
    val d = Quantize.intDot(col("__cq"), col("__bq"))
    c.crossJoin(broadcast(b))
      .withColumn("__d", d)
      .filter(
        col("__d") > 0 &&
          d38(col("__d")) * d38(col("__d")) *
            d38(lit(thresholdDen)) * d38(lit(thresholdDen)) >=
            d38(lit(thresholdNum)) * d38(lit(thresholdNum)) *
              d38(col("__cn")) * d38(col("__bn")))
      .groupBy(col("__cid"))
      .agg(
        count(lit(1)).as("n_hits"),
        min(col("__bid")).as("first_bench_id"))
      .select(col("__cid").as(idCol), col("n_hits"), col("first_bench_id"))
  }

  /** One-call semantic decontamination: drop every corpus vector row
    * flagged by [[semanticOverlap]]. The anti-join's build side is only
    * the flagged ids (bounded by contamination volume).
    */
  def dropSemanticContaminated(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      benchmark: DataFrame,
      benchIdCol: String,
      benchVecCol: String,
      thresholdNum: Long,
      thresholdDen: Long): DataFrame = {
    val flagged = semanticOverlap(
      corpus, idCol, vecCol, benchmark, benchIdCol, benchVecCol,
      thresholdNum, thresholdDen)
      .select(col(idCol))
    corpus.join(broadcast(flagged), Seq(idCol), "left_anti")
  }
}
