package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for web-scale corpora.
  *
  * Scale posture: every variant shuffles at most once on a *bucketing* key
  * (content hash, LSH band bucket, blocking columns) and never materializes
  * an unblocked cross join — the candidate-pair space is always bounded by
  * bucket sizes, which is what makes these runnable on 100 TB. Exact-integer
  * and md5-based arithmetic keeps results engine-portable for the DuckDB
  * oracles.
  */
object Dedup {

  /** Exact dedup by content hash: one surviving row (minimum id) per
    * distinct content. Partial aggregation makes the shuffle carry one row
    * per distinct hash per map partition.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Par.fan(df).groupBy(md5(col(textCol)).as("fp"))
      .agg(
        min(col(idCol)).as("doc_id_kept"),
        count(lit(1)).as("n_copies"))

  /** Exact dedup keeping the BEST copy per content (not the minimum id):
    * real pipelines keep the copy with the best provenance — highest
    * fetch-quality score, freshest crawl, canonical URL — and `exact`'s
    * keep-min rule throws that signal away. `score` must be an integer
    * column (exactness + map-side combine); the kept row maximizes
    * (score, then LOWEST id as the tie-break).
    *
    * Same scale shape as [[exact]]: ONE shuffle carrying one
    * (hash, best-struct, count) row per distinct content per map partition
    * — the argmax is `min(struct(-score, id))`, which partial-aggregates,
    * unlike a per-hash window (which would shuffle every copy). `score`
    * must exceed Long.MinValue (no long negation exists for it); the plan
    * raises a pointed error on such a row rather than an opaque ANSI
    * overflow.
    * Output: (fp, doc_id_kept, score_kept, n_copies).
    */
  def exactKeepBest(
      df: DataFrame,
      idCol: String,
      textCol: String,
      score: Column): DataFrame = {
    // Overflow guard: score = Long.MinValue has no long negation (ANSI
    // runtime error deep in the agg) - fail loudly at the row instead,
    // matching the mixturePlan/systematicSample guard style.
    val s = score.cast(LongType)
    val ns = when(
      s === Long.MinValue,
      raise_error(lit(
        "exactKeepBest: score = Long.MinValue overflows the argmax negation")))
      .otherwise(-s)
    Par.fan(df)
      .select(
        md5(col(textCol)).as("fp"),
        struct(ns.as("ns"), col(idCol).as("id")).as("__b"))
      .groupBy(col("fp"))
      .agg(min(col("__b")).as("__best"), count(lit(1)).as("n_copies"))
      .select(
        col("fp"),
        col("__best.id").as("doc_id_kept"),
        (-col("__best.ns")).as("score_kept"),
        col("n_copies"))
  }

  /** Corpus snapshot diff — the incremental-crawl accounting step: a
    * recurring pipeline re-crawls monthly and must know what changed
    * before spending compute (re-embed only `changed`+`added`, retire
    * `removed` from the index, skip `unchanged` entirely).
    *
    * Output: one row per id appearing in either snapshot —
    * (idCol, status ∈ added|removed|changed|unchanged, old_md5, new_md5);
    * content compared by md5, so the diff never carries payload bytes.
    *
    * Scale posture: both sides project to (id, md5) BEFORE the single
    * full-outer SortMergeJoin on the id — the 100 TB text never shuffles,
    * only 2×(id + 32-char hash) rows do.
    */
  def snapshotDiff(
      oldDf: DataFrame,
      newDf: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val o = Par.fan(oldDf)
      .select(col(idCol).as("__id"), md5(col(textCol)).as("old_md5"))
    val n = Par.fan(newDf)
      .select(col(idCol).as("__id"), md5(col(textCol)).as("new_md5"))
    o.join(n, Seq("__id"), "full_outer")
      .select(
        col("__id").as(idCol),
        when(col("old_md5").isNull, lit("added"))
          .when(col("new_md5").isNull, lit("removed"))
          .when(col("old_md5") === col("new_md5"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("old_md5"),
        col("new_md5"))
  }

  /** Cross-corpus exact dedup: drop every row of `df` whose content hash
    * appears in `seen` — dedupe a new crawl against already-ingested dumps,
    * or a training corpus against a held-out set. Exact result (the Bloom
    * pass only routes rows; see [[BloomJoin.antiJoin]]): rows the filter
    * proves unseen never shuffle, so the join moves only the
    * might-match slice — at 100 TB that is the overlap volume, not the
    * corpus.
    */
  def dropSeenIn(
      df: DataFrame,
      textCol: String,
      seen: DataFrame,
      seenTextCol: String): DataFrame = {
    val fp = "__graft_seen_fp"
    val fp2 = "__graft_seen_fp2"
    BloomJoin
      .antiJoin(
        df.withColumn(fp, md5(col(textCol))),
        fp,
        seen.select(md5(col(seenTextCol)).as(fp2)),
        fp2)
      .drop(fp)
  }

  /** Cross-corpus NEAR-dup dedup: drop every row of `df` whose text is a
    * MinHash/LSH near-duplicate (exact n-gram Jaccard ≥ `threshold`,
    * verified) of some document in `seen` — the near-dup analog of
    * [[dropSeenIn]] for the "new crawl vs already-ingested corpus" and
    * "training corpus vs eval set" steps, where lightly-edited copies
    * survive an exact-hash pass.
    *
    * Same bucketed machinery as [[minhashLshPairs]], but the band-bucket
    * join is ACROSS the two corpora instead of a self-join: only band keys
    * (id + short string per band) of either corpus move in the candidate
    * join, candidate pairs are bounded by bucket co-occupancy, and the
    * Jaccard verify re-reads shingle arrays only for candidate ids
    * (left-semi narrowed). Both sides are first EXACT-COLLAPSED to one
    * representative per distinct content (keyed by content hash — see the
    * inline note; result-identical, kills the quadratic-in-copy-count
    * band blowup). The unmatched bulk of `df` — at 100 TB, almost all of
    * it — is removed by one left-anti join on the matched-content set,
    * which is at most the distinct-content count and in practice the
    * overlap volume. Rows of `df` too short to shingle (< n words) cannot
    * near-match and are kept, mirroring [[minhashLshPairs]]'s
    * empty-shingle prefilter.
    */
  def dropNearSeenIn(
      df: DataFrame,
      textCol: String,
      seen: DataFrame,
      seenTextCol: String,
      n: Int = 3,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    // EXACT-COLLAPSE prefilter (r8, same trick as [[nearDupSurvivors]]):
    // both sides shrink to ONE representative per distinct content keyed
    // by the content hash itself — exact copies share their content's
    // shingles, so the per-content match decision is unchanged while a
    // 100-copy page stops contributing 100 members to every band bucket
    // (measured on the 100x smoke: 6.4 GB shuffle + spill → the
    // distinct-content volume). The final anti-join keys on the content
    // hash, so every copy of a matched content drops; shingle-less rows
    // never band and are kept, exactly as before.
    def collapse(src: DataFrame, text: String): DataFrame =
      src
        .select(md5(col(text)).as("__fp"), col(text))
        .groupBy(col("__fp"))
        .agg(first(col(text)).as(text))
    val (shN, bandedN) =
      shinglesAndBands(collapse(df, textCol), "__fp", textCol, n, bands)
    val (shS, bandedS) = shinglesAndBands(
      collapse(seen, seenTextCol), "__fp", seenTextCol, n, bands)
    val candidates = bandCandidates(bandedN, bandedS, selfJoin = false)
    val matched =
      jaccardVerify(withShingles(candidates, shN, shS, narrow = true), threshold)
        .select(col("id_a").as("__graft_near_seen_fp"))
        .distinct()
    df.withColumn("__graft_fp", md5(col(textCol)))
      .join(
        matched,
        col("__graft_fp") === col("__graft_near_seen_fp"),
        "left_anti")
      .drop("__graft_fp")
  }

  /** INTRA-document segment dedup: within each document, keep only the
    * first occurrence of every distinct segment (repeated paragraphs,
    * chorus lines, templated blocks inside one page) and reassemble in
    * order — the within-doc complement of the corpus-level
    * [[dedupSegments]]. Output mirrors it:
    * (`idCol`, `clean_text`, `n_kept`, `n_dropped`).
    *
    * Scale posture: SHUFFLE-FREE — the whole operation is a per-row
    * `aggregate` fold over the segment array (first-occurrence order
    * preserved by construction), so it composes into any scan stage at
    * 100 TB with zero exchanges. The fold's seen-set check is O(k²) string
    * compares per doc for k segments — fine at paragraph/window
    * granularity; a document so huge that k² matters belongs to the
    * corpus-level operator anyway. The segment array is staged through its
    * own projection (multi-referenced, so CollapseProject keeps it
    * un-inlined and the fold runs once per row).
    */
  def dedupSegmentsWithinDoc(
      df: DataFrame,
      idCol: String,
      segments: Column,
      sep: String = " "): DataFrame = {
    // null ELEMENTS are dropped up front: array_contains(acc, null) is SQL
    // NULL, which would route every null to the append branch (never
    // deduped) while array_join silently drops them from clean_text —
    // n_kept would overcount the reassembly
    val staged = Par.fan(df).select(
      col(idCol),
      filter(
        coalesce(segments, array().cast(ArrayType(StringType))),
        s => s.isNotNull).as("__segs"))
    staged
      .select(
        col(idCol),
        col("__segs"),
        aggregate(
          col("__segs"),
          array().cast(ArrayType(StringType)),
          (acc, s) =>
            when(array_contains(acc, s), acc)
              .otherwise(concat(acc, array(s)))).as("__kept"))
      .select(
        col(idCol),
        array_join(col("__kept"), sep).as("clean_text"),
        size(col("__kept")).as("n_kept"),
        (size(col("__segs")) - size(col("__kept"))).as("n_dropped"))
  }

  /** Segment-level corpus dedup (C4-style "drop any span seen before"):
    * within the whole corpus, each distinct segment survives only at its
    * first occurrence — the minimum (doc id, position) — and every later
    * occurrence is dropped; surviving segments are reassembled per document
    * in original order.
    *
    * `segments` is any array-of-string column: paragraphs
    * (`split(col("text"), "\n\n")`), sentences, or fixed word windows
    * ([[graft.ops.Chunking.wordWindows]]). Output: (`idCol`, `clean_text`,
    * `n_kept`, `n_dropped`) for EVERY input document — a document whose
    * segments all occurred earlier elsewhere comes back with an empty
    * `clean_text` and `n_kept = 0` (filter on `n_kept` to drop such docs).
    *
    * Scale posture: occurrences shuffle ONCE, on the 60-bit segment hash
    * (the window's min-struct needs no ordering, so no sort beyond the
    * exchange); reassembly is a per-document aggregation whose state is
    * bounded by document size. Intersecting on hashed longs keeps the
    * shuffle narrow; the reassembly carries segment text exactly once per
    * occurrence.
    *
    * `skewSafe` (the DEFAULT) swaps the per-segment window for a two-phase
    * min aggregation plus a hash-join back: partial aggregation collapses a
    * boilerplate segment's occurrences map-side (the keeper relation holds
    * one row per DISTINCT segment), and the join probes the hot hash
    * partition linearly instead of sorting it. Segment dedup exists for
    * boilerplate-heavy corpora, where a hot segment ("", a cookie banner)
    * repeats billions of times — under the window mode all those
    * occurrences land on ONE task, so the scale-safe plan must be the one
    * you get without reading scaladoc. Same result either way; the
    * two-phase mode costs one extra (tiny, pre-collapsed) shuffle, which is
    * why `skewSafe = false` remains available for corpora known to have no
    * hot segments.
    */
  def dedupSegments(
      df: DataFrame,
      idCol: String,
      segments: Column,
      sep: String = " ",
      skewSafe: Boolean = true): DataFrame = {
    val occ = Par.fan(df).select(
      col(idCol).as("__id"),
      posexplode(segments).as(Seq("__pos", "__seg")))
      .withColumn("__h", TextFunctions.hash61(col("__seg")))
    val marked =
      if (skewSafe) {
        val keepers = occ
          .groupBy(col("__h"))
          .agg(min(struct(col("__id"), col("__pos"))).as("__keeper"))
        occ.join(keepers, "__h")
      } else {
        val perSeg = Window.partitionBy(col("__h"))
        occ.withColumn(
          "__keeper",
          min(struct(col("__id"), col("__pos"))).over(perSeg))
      }
    val kept = marked
      .filter(
        col("__keeper.__id") === col("__id") &&
          col("__keeper.__pos") === col("__pos"))
      .groupBy(col("__id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("__pos"), col("__seg")))),
            x => x.getField("__seg")),
          sep).as("clean_text"),
        count(lit(1)).as("n_kept"))
    Par.fan(df).select(col(idCol), size(segments).cast(LongType).as("__n"))
      .join(kept, col(idCol) === col("__id"), "left")
      .select(
        col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__n") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Boilerplate removal by DOCUMENT FREQUENCY (the RefinedWeb/Gopher-style
    * complement of [[dedupSegments]]): drop EVERY occurrence of any segment
    * that appears in at least `minDocs` distinct documents — cookie
    * banners, nav bars, legal footers. [[dedupSegments]] keeps each
    * segment's first occurrence; for boilerplate the first occurrence is
    * still boilerplate, so the frequency pass removes it everywhere, while
    * segments repeated only WITHIN one document (a chorus) survive intact.
    *
    * `segments` is any array-of-string column (lines, sentences,
    * [[graft.ops.Chunking.wordWindows]]). Output shape = [[dedupSegments]]:
    * (`idCol`, `clean_text`, `n_kept`, `n_dropped`) for every input row.
    *
    * Scale posture: document frequencies build on the 60-bit segment hash
    * with (hash, doc) collapsed by a partial-agg'd `distinct` BEFORE the
    * per-hash count — a segment repeated a billion times inside one crawl
    * page contributes one row per doc past the map side. The hot set
    * (segments crossing `minDocs`) is by definition SMALL — boilerplate is
    * few distinct strings — so it joins back BROADCAST and the occurrence
    * stream is filtered map-side (left_anti); the corpus itself shuffles
    * only for the per-doc reassembly, which is bounded by document size.
    */
  def dropFrequentSegments(
      df: DataFrame,
      idCol: String,
      segments: Column,
      minDocs: Long,
      sep: String = " ",
      groupCols: Seq[String] = Nil): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2 (got $minDocs)")
    // groupCols scope the document-frequency rule: with Seq("source") a
    // segment is boilerplate only when >= minDocs docs OF THE SAME SOURCE
    // share it — site-template removal that can't nuke phrases merely
    // common across the whole web (the RefinedWeb per-site variant).
    val keys = groupCols :+ "__h"
    val occ = Par.fan(df).select(
      col(idCol).as("__id") +: groupCols.map(col) :+
        posexplode(segments).as(Seq("__pos", "__seg")): _*)
      .withColumn("__h", TextFunctions.hash61(col("__seg")))
    val hot = occ
      .select((keys.map(col) :+ col("__id")): _*)
      .distinct()
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(keys.map(col): _*)
    val keptOcc = occ.join(broadcast(hot), keys, "left_anti")
    val kept = keptOcc
      .groupBy(col("__id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("__pos"), col("__seg")))),
            x => x.getField("__seg")),
          sep).as("clean_text"),
        count(lit(1)).as("n_kept"))
    Par.fan(df).select(col(idCol), size(segments).cast(LongType).as("__n"))
      .join(kept, col(idCol) === col("__id"), "left")
      .select(
        col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__n") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Exact n-gram Jaccard near-dup pairs within blocking buckets.
    *
    * `blockCols` bound the pair space (classic blocking); the join shuffles
    * on the block key only. Output: (id_a, id_b, jaccard) with id_a < id_b
    * and jaccard ≥ `threshold`. Documents with an empty shingle set (fewer
    * than `n` words, or null) are dropped before the block self-join: two of
    * them in one block would score 0/0.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[String],
      n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // Persisted: without it Catalyst inlines the whole pipeline into the
    // self-join output and recomputes it per PAIR (observed 17s -> ~2s at
    // sf0.1).
    val withSh = nonEmpty(shingleFrame(Par.fan(df), idCol, textCol, n, blockCols))
    def side(s: String) = withSh.select(
      col("id").as("id" + s) +: col("sh").as("sh" + s) +: blockCols.map(col): _*)
    val joined =
      side("_a").join(side("_b"), blockCols).filter(col("id_a") < col("id_b"))
    jaccardVerify(joined, threshold)
  }

  /** Hashed shingle set of a text column: the distinct 60-bit
    * [[TextFunctions.hash61]] of its distinct word `n`-gram shingles (or
    * `n`-CHARACTER shingles when `chars`) — the one definition of "a
    * document" the near-dup family and [[Decontaminate]] share. Jaccard
    * over hashed shingles instead of shingle strings: the pairwise
    * intersect works on longs (an order of magnitude cheaper than string
    * sets) and the persisted/shuffled arrays shrink ~3x. The DuckDB oracles
    * hash identically (`hashedShinglesSql`), so collisions (if any) are
    * seen by both engines.
    */
  private[ops] def hashedShingleSet(
      text: Column,
      n: Int,
      chars: Boolean = false): Column =
    array_distinct(
      transform(
        if (chars) TextFunctions.charShingleSet(text, n)
        else TextFunctions.shingleSet(text, n),
        s => TextFunctions.hash61(s)))

  /** `(id, keep…, sh)`: each row's id, the `keep` columns, and its
    * [[hashedShingleSet]]. Callers decide where to fan, cache and drop
    * empty sets.
    */
  private def shingleFrame(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      keep: Seq[String] = Nil,
      chars: Boolean = false): DataFrame =
    df.select((col(idCol).as("id") +: keep.map(col)) :+
      hashedShingleSet(col(textCol), n, chars).as("sh"): _*)

  /** `sh` cached, then its empty shingle sets dropped. The filter reads the
    * cache: below it, Catalyst would push the filter (and a second
    * shingle+hash pass) under the fan.
    */
  private def nonEmpty(sh: DataFrame): DataFrame =
    Par.cached(sh).filter(size(col("sh")) > 0)

  /** One corpus's non-empty hashed shingle sets (`(id, sh)`, cached — the
    * signature pass and the verification join both read them) and its
    * banded signature keys (`(id, band, band_key)`, see [[bandedOf]]).
    */
  private def shinglesAndBands(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      bands: Int,
      chars: Boolean = false): (DataFrame, DataFrame) = {
    val sh = nonEmpty(
      shingleFrame(Par.fan(df), idCol, textCol, n, chars = chars))
    (sh, bandedOf(sh, bands))
  }

  /** Banded LSH keys `(id, band, band_key)` of an (id, hashed-shingle-array)
    * frame: `bands` bands of `k / bands` signature rows each.
    *
    * Per-row codegen'd signature (MinhashSigF: one pass over the hashed
    * shingles) and band keys in the SAME narrow stage — the signature never
    * leaves its row, so there is no explode, no signature shuffle, and no
    * second cache. The ONLY shuffle that moves documents is the caller's
    * band-bucket join ([[bandCandidates]]).
    *
    * Empty shingle sets (text shorter than n words, or null) get a null
    * band array, which explodes to no rows: they all share the sentinel
    * signature [P,...,P], so banding them would put every such doc in one
    * bucket in every band — O(m²) candidates the verify can never pass.
    * Not a `Filter`: over an uncached `sh`, Catalyst pushes one below the
    * shingle projection with a second copy of the shingle+hash expression.
    */
  private def bandedOf(sh: DataFrame, bands: Int): DataFrame = {
    val k = MinhashA.length
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    val sig = sh.select(
      col("id"),
      when(size(col("sh")) > 0, minhashSignature(col("sh"))).as("sig"))
    sig.select(
      col("id"),
      posexplode(
        when(col("sig").isNotNull, array((0 until bands).map { b =>
          concat_ws(
            "-",
            (0 until rows).map(j =>
              element_at(col("sig"), b * rows + j + 1).cast(StringType)): _*)
        }: _*))).as(Seq("band", "band_key")))
  }

  /** Band-bucket candidate join of two [[bandedOf]] frames: distinct
    * `(id_a, id_b)` for every pair sharing a (band index, band key) bucket.
    * Only band keys move, and candidate pairs are bounded by bucket
    * co-occupancy (buckets are tiny for non-duplicate data). A `selfJoin`
    * keeps each unordered pair once, as id_a < id_b.
    */
  private def bandCandidates(
      a: DataFrame,
      b: DataFrame,
      selfJoin: Boolean): DataFrame = {
    val joined = a.join(
      b.select(col("band"), col("band_key"), col("id").as("id_b")),
      Seq("band", "band_key"))
    (if (selfJoin) joined.filter(col("id") < col("id_b")) else joined)
      .select(col("id").as("id_a"), col("id_b"))
      .distinct()
  }

  /** Candidate pairs `(id_a, id_b)` joined to their shingle arrays `sh_a`
    * (from `shA`) and `sh_b` (from `shB`), plus each side's MinHash
    * signature `sig_a`/`sig_b` when `sig`.
    *
    * `narrow`: only ids that appear in some candidate pair need their
    * shingle arrays again — the left-semi joins (no distinct needed on a
    * semi join's right side) drop the rest of the corpus before any shingle
    * array moves; on non-duplicate-heavy data that is almost all of it.
    */
  private def withShingles(
      candidates: DataFrame,
      shA: DataFrame,
      shB: DataFrame,
      narrow: Boolean,
      sig: Boolean = false): DataFrame = {
    def side(s: String, sh: DataFrame) = {
      val kept = if (!narrow) sh else sh.join(
        candidates.select(col("id" + s).as("id")), Seq("id"), "left_semi")
      kept.select(Seq(col("id").as("id" + s), col("sh").as("sh" + s)) ++
        (if (sig) Seq(minhashSignature(col("sh")).as("sig" + s)) else Nil): _*)
    }
    candidates.join(side("_a", shA), "id_a").join(side("_b", shB), "id_b")
  }

  /** Exact-Jaccard scoring of candidate pairs carrying hashed shingle arrays
    * (`sh_a`, `sh_b`): emits (id_a, id_b, jaccard ≥ threshold).
    *
    * The intersect is evaluated at most twice per pair (once in the filter,
    * once in the output project — Catalyst collapses the intermediate
    * project). That is cheaper than the shuffle barrier it replaces: a
    * repartition would move every candidate pair across the wire just to
    * avoid one extra map-side array intersect; this formulation stays
    * map-side at any scale.
    */
  private def jaccardVerify(pairs: DataFrame, threshold: Double): DataFrame = {
    val i = size(array_intersect(col("sh_a"), col("sh_b")))
    val ss = size(col("sh_a")) + size(col("sh_b"))
    val jaccard = i.cast(DoubleType) / (ss - i).cast(DoubleType)
    pairs
      .select(col("id_a"), col("id_b"), jaccard.as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Rarest-first shingle order of a non-empty (id, sh) frame:
    * `(id, len, ord)` with `ord` the doc's shingles sorted by (corpus
    * document frequency asc, hash asc) — the deterministic total order the
    * prefix filters of [[prefixJaccardPairs]] and [[containmentPairs]] rank
    * by. The frequency join back to the exploded stream is skew-safe
    * ([[SkewJoin.hotTailEquiJoin]]: the hottest shingles carry the most
    * stream mass and would otherwise pile on one partition).
    */
  private def rarestFirst(sh: DataFrame, hotK: Int): DataFrame = {
    val toks = sh.select(
      col("id"), size(col("sh")).as("len"), explode(col("sh")).as("tok"))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val withFreq = SkewJoin.hotTailEquiJoin(
      toks, freq, "tok", Seq(col("df").desc, col("tok")), hotK)
    // struct sort = (df asc, tok asc)
    withFreq
      .groupBy(col("id"), col("len"))
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("ord"))
  }

  /** One row per (doc, ranked shingle) of a [[rarestFirst]] frame:
    * `(id<s>, len<s>, pos<s>, tok)`, `pos` the 1-based rank in the full
    * sorted doc; only the first `plen` ranks when given (the prefix).
    */
  private def ranked(
      ordered: DataFrame,
      s: String,
      plen: Option[Column]): DataFrame =
    ordered
      .select(
        col("id"),
        col("len"),
        posexplode(plen.fold(col("ord"))(slice(col("ord"), lit(1), _)))
          .as(Seq("pos0", "st")))
      .select(
        col("id").as("id" + s),
        col("len").as("len" + s),
        (col("pos0") + 1).as("pos" + s),
        col("st.tok").as("tok"))

  /** Per-document banded LSH keys: `(id, band, band_key)` — one row per
    * (document, band); documents whose shingle set is empty (text shorter
    * than one n-gram) produce NO rows, mirroring the batch pipeline.
    *
    * Every stage is stateless per-row (shingle → hash → signature →
    * band slice), so this works on BATCH AND STREAMING frames alike —
    * it is the projection a streaming dedup front runs on ingest before
    * consulting the bucket registry ([[streamingLshRegistry]]).
    */
  def lshBandKeys(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      bands: Int = 4): DataFrame =
    bandedOf(shingleFrame(df, idCol, textCol, n), bands)

  /** Streaming LSH dedup registry: the band-bucket state a dedup-on-ingest
    * service maintains. Each arriving document registers its band keys;
    * per bucket the registry keeps the minimum id seen and the member
    * count. A document is a near-dup CANDIDATE exactly when some bucket
    * of its holds a smaller id — the same candidate relation the batch
    * [[minhashLshPairs]] builds pairwise, kept incrementally.
    *
    * Both aggregates are commutative, so the registry is order-independent
    * (safe in complete OR update output mode) and its state is one row per
    * bucket — proportional to corpus distinctness, never to pairs. At
    * scale, run update-mode into a KV sink; the gate uses complete-mode
    * into a memory sink and replays the whole relation in DuckDB from the
    * shared minhash constants.
    */
  def streamingLshRegistry(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      bands: Int = 4): DataFrame =
    lshBandKeys(stream, idCol, textCol, n, bands)
      .groupBy(col("band"), col("band_key"))
      .agg(min(col("id")).as("min_id"), count(lit(1)).as("n_docs"))

  /** Fixed MinHash permutation parameters (seeded once, hardcoded so the SQL
    * oracle can replicate them): h_i(x) = (A(i)*x + B(i)) mod P.
    */
  val MinhashP = 1000000007L
  val MinhashA: Seq[Long] = Seq(472882049L, 741895923L, 183624417L,
    910391749L, 562090211L, 354879673L, 639364277L, 87534581L, 805306457L,
    232792561L, 433494437L, 715827883L, 97546891L, 512927377L, 679938767L,
    322147223L)
  val MinhashB: Seq[Long] = Seq(268435459L, 522133279L, 57885161L, 782715677L,
    377211941L, 611603069L, 148102319L, 923456789L, 43112609L, 700417303L,
    296065411L, 835153489L, 174440041L, 498537509L, 66600049L, 753377617L)

  /** MinHash signature (k = MinhashA.length) of a hashed-shingle array
    * column; empty shingle sets get P as a sentinel min. Native codegen'd
    * single pass (see [[org.apache.spark.sql.graft.MinhashSigF]]).
    */
  def minhashSignature(hashedShingles: Column): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      org.apache.spark.sql.graft.MinhashSigF(
        org.apache.spark.sql.graft.ColumnShim.expression(hashedShingles),
        MinhashA,
        MinhashB,
        MinhashP))

  /** The HOF formulation (kept as the portable reference implementation for
    * [[minhashSignature]]; asserted equal in the spec).
    */
  def minhashSignatureHof(hashedShingles: Column): Column =
    array(MinhashA.indices.map { i =>
      coalesce(
        array_min(
          transform(
            hashedShingles,
            h => (lit(MinhashA(i)) * (h % MinhashP) + MinhashB(i)) % MinhashP)),
        lit(MinhashP))
    }: _*)

  /** MinHash + banded LSH near-dup pairs, verified by exact Jaccard.
    *
    * Pipeline (all deterministic, so oracle-reproducible):
    *   1. distinct n-gram shingles → portable 60-bit hashes (cached: both
    *      the signature pass and the verify join read them),
    *   2. k minhashes (fixed permutations) → per-row signature via the
    *      codegen'd [[org.apache.spark.sql.graft.MinhashSigF]] — one pass,
    *      no explode, no signature shuffle,
    *   3. `bands` bands of `k/bands` rows: band key = signature slice,
    *   4. band-bucket self-join on (band index, band key) → candidate pairs
    *      within equal buckets (the ONLY shuffle that moves documents, and
    *      buckets are tiny for non-duplicate data),
    *   5. distinct candidate pairs → semi-join-narrowed exact Jaccard
    *      verify ≥ `threshold`.
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val (sh, banded) = shinglesAndBands(df, idCol, textCol, n, bands)
    minhashPairsOf(sh, banded, threshold)
  }

  /** Candidate generation + semi-narrowed exact-Jaccard verify over a
    * cached shingle frame and its banded keys (shared by the word- and
    * char-shingle entry points).
    */
  private def minhashPairsOf(
      sh: DataFrame,
      banded: DataFrame,
      threshold: Double): DataFrame = {
    val candidates = bandCandidates(banded, banded, selfJoin = true)
    jaccardVerify(withShingles(candidates, sh, sh, narrow = true), threshold)
  }

  /** Estimator-accuracy audit of the MinHash signature itself: for every
    * LSH candidate pair (threshold-free — exactly the pairs the banding
    * surfaces, including sub-threshold collisions), the signature
    * agreement count against the EXACT Jaccard. `E[sig_agree/k] =
    * jaccard` is the MinHash guarantee (Broder 1997); this measures the
    * estimator's actual bias/spread on this corpus at this k — the
    * companion to [[lshRecallReport]] (which audits the BANDING, not the
    * estimate). Pipelines that skip exact verification and act on
    * estimated similarity read this before trusting the estimate.
    *
    * Output: (id_a, id_b, sig_agree, est_ppm = ⌊agree·10⁶/k⌋,
    * exact_ppm = ⌊i·10⁶/u⌋) — exact integers, hash-gateable.
    *
    * Scale posture = [[minhashLshPairs]]: the band-bucket join bounds the
    * pair space; signatures are recomputed only for the semi-narrowed
    * candidate ids (one codegen'd pass over their shingles).
    */
  def minhashEstimateReport(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      bands: Int = 4): DataFrame = {
    val (sh, banded) = shinglesAndBands(df, idCol, textCol, n, bands)
    val candidates = bandCandidates(banded, banded, selfJoin = true)
    val joined = withShingles(candidates, sh, sh, narrow = true, sig = true)
    val agree = size(filter(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
      b => b)).cast(LongType)
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast(LongType)
    val union = (size(col("sh_a")) + size(col("sh_b"))).cast(LongType) - inter
    joined.select(
      col("id_a"),
      col("id_b"),
      agree.as("sig_agree"),
      Sampling.divFloor(
        agree * lit(1000000L), lit(MinhashA.length.toLong)).as("est_ppm"),
      Sampling.divFloor(inter * lit(1000000L), union).as("exact_ppm"))
  }

  /** CHARACTER-shingle MinHash + LSH near-dup pairs — the variant for
    * unsegmented or whitespace-free text (CJK, Thai, URLs-as-text, OCR
    * output with lost spacing) where word shingles degenerate to whole
    * lines. Identical pipeline to [[minhashLshPairs]] (same fixed
    * permutations, banding, semi-narrowed exact verify) over distinct
    * n-CHARACTER shingles; Jaccard is over the char-shingle sets. The
    * standard n for char shingles is larger than for words (default 5 —
    * 3-char shingles of natural text are near-universal and bucket
    * everything together).
    *
    * Scale posture identical to [[minhashLshPairs]]; the duplication
    * caveat (m copies ⇒ m·(m−1)/2 true pairs) applies — exact-collapse
    * first at scale (P1).
    */
  def minhashLshPairsChars(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val (sh, banded) =
      shinglesAndBands(df, idCol, textCol, n, bands, chars = true)
    minhashPairsOf(sh, banded, threshold)
  }

  /** EXACT similarity join by prefix filtering (the AllPairs / PPJoin
    * family — Bayardo et al. WWW'07, Xiao et al. WWW'08): every pair of
    * documents with n-gram Jaccard ≥ `threshold`, with NO approximation.
    * Unlike MinHash+LSH (recall < 1 by construction: a qualifying pair can
    * land in no shared band) the prefix filter is a LOSSLESS candidate
    * generator, so the output is identical to the naive all-pairs join it
    * replaces — the right tool when a dedup pass must be auditable
    * ("we removed exactly the ≥0.8 pairs", no sampling caveats).
    *
    * Why it scales: order the corpus's shingle vocabulary rarest-first
    * (corpus document frequency asc, hash asc — a deterministic total
    * order). Each doc keeps only its PREFIX: the first
    * |d| − ⌈t·|d|⌉ + 1 of its |d| shingles in that order. Any qualifying
    * pair shares ≥ ⌈t·|d|⌉ shingles, and its minimum common shingle in the
    * global order provably sits inside BOTH prefixes (all |d|−i smaller
    * doc-local shingles fit before it), so joining prefixes on the shingle
    * finds every pair. The inverted index this builds is over the RAREST
    * shingles — bucket sizes are bounded by rare-shingle document
    * frequency, not corpus size, which is what kills the O(m²) blowup.
    * Hot shingles ("of the and") never enter any prefix unless a doc
    * consists almost entirely of them.
    *
    * Candidates are cut further map-side before the distinct:
    *   - length filter: J ≥ t ⇒ t·max(|a|,|b|) ≤ min(|a|,|b|);
    *   - positional filter: for the shared shingle at (1-based) sorted
    *     positions p_a, p_b, the overlap can be at most
    *     1 + min(|a|−p_a, |b|−p_b), which must reach the Jaccard-implied
    *     minimum ⌈t/(1+t)·(|a|+|b|)⌉. The min-common-shingle row always
    *     satisfies it, so no qualifying pair is lost.
    *
    * Shuffles: shingle-frequency histogram (partial-agg), frequency join
    * back to the exploded stream (skew-safe hot/tail via
    * [[SkewJoin.hotTailEquiJoin]] — the hottest shingles carry the most
    * stream mass and would otherwise pile on one partition), one per-doc
    * regroup, candidate distinct (bounded by index selectivity), verify
    * join-back. All ceil()s are ε-guarded in the SAFE direction: an FP
    * error can only lengthen a prefix or weaken a filter (extra
    * candidates), never drop a qualifying pair.
    *
    * Duplication caveat (true of ANY pair-semantics op, LSH included): m
    * exact copies of one doc are m·(m−1)/2 genuine jaccard-1 pairs, so the
    * OUTPUT is quadratic in the duplication factor. At scale run exact
    * dedup (P1, linear) first and prefix-join the distinct contents — the
    * ScaleSmoke step proves the composition reproduces the uncollapsed
    * corpus's pairs exactly at 100× duplication within a fixed shuffle
    * ceiling.
    */
  def prefixJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5,
      hotK: Int = 1024): DataFrame = {
    prefixJaccardPairsOf(nonEmpty(shingleFrame(Par.fan(df), idCol, textCol, n)),
      threshold, hotK)
  }

  /** Core of [[prefixJaccardPairs]] over a prebuilt (cached) hashed-
    * shingle frame `(id, sh)` with empty shingle sets already dropped —
    * shared with [[lshRecallReport]], whose banding reads the same frame.
    */
  private def prefixJaccardPairsOf(
      sh: DataFrame,
      threshold: Double,
      hotK: Int): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val ordered = rarestFirst(sh, hotK)
    val plen = (col("len") - ceil(col("len") * threshold - lit(1e-9)) + 1)
      .cast(IntegerType)
    val minOverlap = ceil(
      (col("len_a") + col("len_b")) * (threshold / (1.0d + threshold)) -
        lit(1e-9))
    val candidates = ranked(ordered, "_a", Some(plen))
      .join(ranked(ordered, "_b", Some(plen)), "tok")
      .filter(col("id_a") < col("id_b"))
      .filter(col("len_b") >= col("len_a") * threshold - lit(1e-9))
      .filter(col("len_a") >= col("len_b") * threshold - lit(1e-9))
      .filter(
        lit(1) + least(
          col("len_a") - col("pos_a"),
          col("len_b") - col("pos_b")) >= minOverlap)
      .select(col("id_a"), col("id_b"))
      .distinct()
    jaccardVerify(withShingles(candidates, sh, sh, narrow = false), threshold)
  }

  /** Pair-recall audit of a candidate-pair stage against an exact truth
    * set: one row `(n_true, n_found, n_hit, n_missed, recall_ppm)` with
    * `recall_ppm = ⌊n_hit·10⁶/n_true⌋` (10⁶ when the truth set is empty —
    * nothing to miss). Both inputs are `(id_a, id_b)` relations; duplicate
    * pair rows are collapsed before counting so malformed inputs cannot
    * inflate the hit count past the truth count.
    *
    * Scale posture: one pair-keyed aggregate over the union of both
    * relations tags each pair with the sides it appears on (and collapses
    * duplicate rows), then one 1-row aggregate counts the tags — no join,
    * one pass over relations the caller already built.
    */
  def pairRecallReport(truth: DataFrame, found: DataFrame): DataFrame = {
    def tagged(df: DataFrame, t: Int) =
      df.select(col("id_a"), col("id_b"), lit(t).as("t"), lit(1 - t).as("f"))
    tagged(truth, 1).union(tagged(found, 0))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("t")).as("t"), max(col("f")).as("f"))
      .agg(
        count(when(col("t") === 1, 1)).as("n_true"),
        count(when(col("f") === 1, 1)).as("n_found"),
        count(when(col("t") === 1 && col("f") === 1, 1)).as("n_hit"))
      .select(
        col("n_true"),
        col("n_found"),
        col("n_hit"),
        (col("n_true") - col("n_hit")).as("n_missed"),
        when(col("n_true") === 0, lit(1000000L))
          .otherwise(
            Sampling.divFloor(col("n_hit") * lit(1000000L), col("n_true")))
          .as("recall_ppm"))
  }

  /** Recall of the banded-MinHash near-dup pipeline ([[minhashLshPairs]])
    * against the LOSSLESS exact-Jaccard truth ([[prefixJaccardPairs]]) at
    * the same shingle size and threshold — the "is my band/row config good
    * enough" audit a dedup run reports before trusting LSH at scale. What
    * it measures is how many true pairs never collided in any band (the
    * classic S-curve miss probability — `1 − (1 − j^rows)^bands` at
    * jaccard j).
    *
    * LSH verifies its band candidates with the truth side's exact Jaccard
    * (same threshold, same shingle sets), and the prefix filter is
    * lossless, so the LSH pairs are exactly the band candidates that are
    * true pairs: `n_found = n_hit`, with no second verify join.
    */
  def lshRecallReport(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val (sh, banded) = shinglesAndBands(df, idCol, textCol, n, bands)
    pairRecallReport(
      prefixJaccardPairsOf(sh, threshold, 1024),
      bandCandidates(banded, banded, selfJoin = true))
      .withColumn("n_found", col("n_hit"))
  }

  /** Exact n-gram CONTAINMENT similarity join — the directional companion
    * of [[prefixJaccardPairs]]: emit (id_a → id_b) when
    * `|S(A) ∩ S(B)| / |S(A)| ≥ t`, i.e. most of A's shingles appear in B.
    * Jaccard misses doc-in-doc duplication by construction (a page quoted
    * inside a 100× larger page has jaccard ≈ |A|/|B| ≈ 0.01 at containment
    * 1.0); this is the operator that catches excerpts, quotations, and
    * wrapped boilerplate around stolen bodies. Directional: an exact-dup
    * pair appears in both directions.
    *
    * Same lossless candidate machinery, adapted to the asymmetric bound:
    * overlap must reach `α(A) = ⌈t·|A|⌉` (exact integers:
    * `⌈x·t_ppm/10⁶⌉`), so A needs only its `|A| − α + 1` globally RAREST
    * shingles indexed (prefix filter for overlap joins), while B must be
    * indexed in FULL — containment admits no length-ratio pruning on B
    * beyond `|B| ≥ α`. Both sides keep the canonical (df asc, tok asc)
    * rank so the positional upper bound
    * `1 + min(|A|−pos_a, |B|−pos_b) ≥ α` is valid. The verify-back
    * recomputes the exact intersection. The B-side index is linear in
    * corpus shingles, and a candidate's cost is bounded by the df of A's
    * rare prefix shingles — with the standard exact-collapse prefilter
    * (P1) in front, duplicated content indexes once.
    *
    * Output: (id_a, id_b, inter, len_a, containment_ppm) — all exact
    * integers, `containment_ppm = ⌊inter·10⁶/len_a⌋`.
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      thresholdPpm: Long = 800000L,
      hotK: Int = 1024): DataFrame = {
    require(
      thresholdPpm > 0 && thresholdPpm <= 1000000L,
      "thresholdPpm must be in (0, 1e6]")
    val sh = nonEmpty(shingleFrame(Par.fan(df), idCol, textCol, n))
    val ordered = Par.cached(rarestFirst(sh, hotK))

    // α = ⌈len · t_ppm / 10⁶⌉ as exact integers
    def alpha(len: Column): Column =
      RangeJoin.floorDiv(len.cast(LongType) * thresholdPpm + 999999L, 1000000L)

    // A side: the len − α + 1 rarest shingles; B side: all, with rank
    val aLen = (col("len") - alpha(col("len")) + 1).cast(IntegerType)
    val candidates = ranked(ordered, "_a", Some(aLen))
      .join(ranked(ordered, "_b", None), "tok")
      .filter(col("id_a") =!= col("id_b"))
      .filter(col("len_b") >= alpha(col("len_a")))
      .filter(
        lit(1) + least(
          col("len_a") - col("pos_a"),
          col("len_b") - col("pos_b")) >= alpha(col("len_a")))
      .select(col("id_a"), col("id_b"))
      .distinct()

    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast(LongType)
    withShingles(candidates, sh, sh, narrow = false)
      .select(
        col("id_a"),
        col("id_b"),
        inter.as("inter"),
        size(col("sh_a")).cast(LongType).as("len_a"))
      .filter(col("inter") >= alpha(col("len_a")))
      .withColumn(
        "containment_ppm", Sampling.divFloor(col("inter") * 1000000L, col("len_a")))
  }

  /** Connected components over a near-dup pair graph: every document in a
    * component gets the component's minimum doc id as `cluster_id` — the
    * canonical "keep one per duplicate cluster" step after pair generation.
    *
    * Algorithm: min-label propagation to fixpoint. Each iteration joins the
    * EDGE LIST only (near-dup pairs ≪ corpus — at web scale the pair graph
    * is orders of magnitude smaller than the documents it came from), one
    * shuffle per iteration, and converges in O(component diameter)
    * iterations — duplicate clusters are near-cliques from banded LSH, so
    * diameters are tiny (2-3). The corpus itself is never re-scanned.
    *
    * The driver loop is bounded (`maxIters`) and checks convergence with a
    * single count per iteration; labels live in a DataFrame, not driver
    * memory. Each iteration `localCheckpoint`s the new labels — iterative
    * plans otherwise NEST the previous iteration's logical plan (caching
    * only substitutes at physical planning), growing the tree exponentially;
    * checkpointing truncates lineage to a constant-size plan per iteration,
    * the same pattern GraphFrames' connected components uses. (On a real
    * cluster with flaky executors, swap for reliable `checkpoint` to a
    * checkpoint dir — same shape.) Deterministic: min over longs.
    *
    * Output: (doc_id, cluster_id) for every document that appears in at
    * least one pair, cluster_id = min doc id reachable via pairs.
    */
  def nearDupClusters(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIters: Int = 20): DataFrame = {
    // Undirected edge list, both directions: (node, neighbor). The forward
    // projection is what gets cached: both union branches then read one
    // materialization of the (possibly expensive) pair pipeline instead of
    // re-deriving it per branch.
    val fwd = Par.cached(pairs.select(col(idA).as("n"), col(idB).as("m")))
    val edges = fwd.union(fwd.select(col("m").as("n"), col("n").as("m")))
    // label(n) starts as min(n, min neighbor). r17 (the r16 p_cc_star
    // fusion, guide §1.2 fixed overhead): checkpoints are LAZY and the
    // convergence probe is a FULL-partition count(when(moved)) aggregate —
    // one action per round materializes the round's checkpoint AND reads
    // the convergence state, instead of an eager-checkpoint job plus a
    // separate limit-probe job. The full-scan-first-action invariant
    // (see ConnectedComponents.signature) holds: the count aggregate
    // computes every partition of `next`, and round 1's shuffle reads
    // every partition of the initial labels frame.
    var labels = edges
      .groupBy(col("n"))
      .agg(least(min(col("m")), col("n")).as("lbl"))
      .localCheckpoint(false)
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      it += 1
      // propagate: my next label = min(my label, neighbors' labels); the
      // `moved` flag rides along so the convergence check is a filter over
      // the just-checkpointed result, not another join against old labels
      val next = edges
        .join(labels.select(col("n").as("m"), col("lbl")), "m")
        .groupBy(col("n"))
        .agg(min(col("lbl")).as("nlbl"))
        .join(labels, "n")
        .select(
          col("n"),
          least(col("lbl"), col("nlbl")).as("lbl"),
          (col("nlbl") < col("lbl")).as("moved"))
        .localCheckpoint(false)
      val changed =
        next.agg(count(when(col("moved"), 1))).head().getLong(0)
      labels = next.select(col("n"), col("lbl"))
      converged = changed == 0L
    }
    labels.select(col("n").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** One-call near-dup dedup — minhash pairs → transitive closure →
    * keep-min — with an EXACT-COLLAPSE prefilter that makes it safe for
    * corpora with extreme copy counts: 100 identical copies of a page
    * would otherwise meet in every band bucket and contribute ~100²/2
    * candidate pairs (measured: the 100×-duplicated scale smoke pushes
    * the plain pipeline's band join to ~6 GB shuffle + spill, while this
    * variant stays at the distinct-content volume).
    *
    * Result-IDENTICAL to
    * `keepOnePerCluster(df, minhashLshPairs(df, ...))` (gated against the
    * same recursive-closure oracle):
    *   - exact copies have Jaccard 1 ≥ any threshold, so each exact group
    *     lands in one cluster with its representative; the representative
    *     is the group's MIN id, so cluster minima are unchanged;
    *   - docs too short to shingle (< n words) never generate pairs in
    *     the plain pipeline — every copy survives — so they bypass the
    *     collapse here too.
    *
    * Scale shape: one narrow (id, content-hash) shuffle picks the
    * representatives, the full-width corpus takes one semi join on id
    * (broadcast when duplication is high — the rep-id list is the
    * distinct-content count), and minhash runs on representatives only.
    *
    * Trade-off: on a corpus with NO exact duplicates the collapse pass is
    * pure overhead (~1.5× at small scale); it exists for the web-crawl
    * case, where exact duplication is always heavy (C4 dropped ~30% of
    * pages on exact content alone) and the plain pipeline's band join
    * grows with the square of the copy count (measured 100×: 5.74 GB →
    * 0.06 GB). A corpus known duplicate-free can keep composing
    * [[minhashLshPairs]] + [[keepOnePerCluster]] directly.
    */
  def nearDupSurvivors(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    // r16 (guide §1.2): the shingleability flag and the representative
    // frame are each consumed by MULTIPLE downstream passes (the rep
    // election, the minhash pipeline, the survivor anti-join, the short
    // union) — uncached, the corpus scan plus the words() split re-ran
    // per consumer. One flagged cache + one reps cache; values unchanged.
    val flagged = Par.cached(
      df.withColumn("__has_sh", size(TextFunctions.words(col(textCol))) >= n))
    val shingled = flagged.filter(col("__has_sh")).drop("__has_sh")
    val short = flagged.filter(!col("__has_sh")).drop("__has_sh")
    val repIds = shingled
      .select(col(idCol), md5(col(textCol)).as("__fp"))
      .groupBy(col("__fp"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    val reps = Par.cached(shingled.join(repIds, Seq(idCol), "left_semi"))
    val survivors = keepOnePerCluster(
      reps,
      idCol,
      minhashLshPairs(reps, idCol, textCol, n, bands, threshold))
    survivors.unionByName(short)
  }

  /** One-call near-dup removal: pairs → [[nearDupClusters]] → anti-join,
    * keeping each cluster's representative (its min id — the propagated
    * label) and every unclustered document.
    *
    * {{{
    * val pairs = Dedup.minhashLshPairs(docs, "doc_id", col("text"))
    * val deduped = Dedup.keepOnePerCluster(docs, "doc_id", pairs)
    * }}}
    *
    * Scale posture: the anti-join's build side is the clustered
    * NON-representatives — duplicate volume, not corpus volume. AQE
    * broadcasts it when small; on dup-heavy corpora it is a doc-id shuffle
    * whose build side is still only the duplicates.
    */
  def keepOnePerCluster(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIters: Int = 20): DataFrame = {
    val drop = nearDupClusters(pairs, idA, idB, maxIters)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** 16-bit SimHash over the distinct word set (portable md5-derived word
    * hashes; bit i set when the ±1 votes of that bit across words sum
    * positive). 16 bits keeps the oracle SQL tractable while exercising the
    * real bit-vote structure; widen by changing `SimhashBits`.
    */
  val SimhashBits = 16

  def simhash(text: Column): Column = {
    // Single-evaluation pipeline (interpreted HOF lambdas re-evaluate any
    // referenced subtree, so naive per-bit aggregates would md5 every word
    // SimhashBits times): hash each distinct word once, expand each hash to
    // its ±1 bit-vote vector, sum the vote vectors, then assemble the
    // signature from vote signs.
    val votesPerWord = transform(
      transform(TextFunctions.wordSet(text), w => TextFunctions.hash61(w)),
      h =>
        array((0 until SimhashBits).map(i =>
          shiftright(h, i).bitwiseAND(1L) * 2L - 1L): _*))
    val votes = aggregate(
      votesPerWord,
      array_repeat(lit(0L), SimhashBits),
      (acc, bits) => zip_with(acc, bits, (a, b) => a + b))
    val powers = array((0 until SimhashBits).map(i => lit(1L << i)): _*)
    aggregate(
      zip_with(votes, powers, (v, p) => when(v > 0, p).otherwise(lit(0L))),
      lit(0L),
      (acc, x) => acc + x)
  }

  /** SimHash near-dup pairs within blocking buckets: hamming distance ≤
    * `maxHamming` via `bit_count(xor)`.
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[String],
      maxHamming: Int = 2): DataFrame = {
    val withSig = Par.fan(df).select(
      (col(idCol).as("id") +: blockCols.map(col)) :+
        simhash(col(textCol)).as("sig"): _*)
    val a = withSig.select(
      col("id").as("id_a") +: col("sig").as("sig_a") +: blockCols.map(col): _*)
    val b = withSig.select(
      col("id").as("id_b") +: col("sig").as("sig_b") +: blockCols.map(col): _*)
    a.join(b, blockCols)
      .filter(col("id_a") < col("id_b"))
      .withColumn(
        "hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03): minimum
    * shingle-hash per sliding window of `w` hashes; the distinct minima are
    * the document's fingerprints. Implemented with posexplode + a bounded
    * following window — shuffles once on the document id.
    */
  def winnowingFingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      w: Int = 4): DataFrame = {
    // Shuffle-free: the sliding-window minima are per-document, so they are
    // pure array expressions — no explode, no window sort, no exchange. The
    // hash array is materialized into one column first (single md5 pass);
    // the slice/min pass then reads it w times per position in codegen.
    val hs = Par.cached(Par.fan(df).select(
      col(idCol).as(idCol),
      TextFunctions.shingleHashes(col(textCol), n).as("__hs")))
    val wmins = transform(
      sequence(lit(1), size(col("__hs"))),
      i => array_min(slice(col("__hs"), i, lit(w))))
    hs.select(
      col(idCol),
      size(array_distinct(wmins)).cast(LongType).as("n_fingerprints"),
      array_min(wmins).as("min_fingerprint"))
      .filter(size(col("__hs")) > 0)
  }

  /** Maximal duplicated-span detection — exact substring dedup at word
    * granularity (the Lee et al. 2022 "Deduplicating Training Data Makes
    * Language Models Better" operation, re-expressed relationally instead
    * of via suffix arrays): every `k`-word sliding window whose 60-bit hash
    * occurs in at least `minDocs` DISTINCT documents is a duplicated
    * window; overlapping duplicated windows within a document merge into
    * MAXIMAL spans by gaps-and-islands (island id = position − rank, so
    * consecutive positions share an island). One row per maximal span:
    * (`idCol`, `span_start`, `span_end`, `n_windows`), word positions
    * 1-based inclusive.
    *
    * This differs from [[dedupSegments]]/[[dropFrequentSegments]] (fixed
    * disjoint segments) exactly where Lee et al. differs from segment
    * dedup: a duplicated passage that straddles segment boundaries, or is
    * longer than one segment, is recovered in full as one span because
    * EVERY position is a window start.
    *
    * Scale posture: the occurrence stream is corpus × ~words/doc rows but
    * only (id, pos, hash) wide; the duplicated-hash set collapses to one
    * row per doc per hash map-side (`distinct` partial agg) before the
    * per-hash count, so a page-internal chorus contributes one row past
    * the map side. The back-join probes with a 61-bit key against a
    * one-row-per-hash build side — AQE's skew-join split handles a
    * boilerplate window shared by millions of docs (probe-side-only skew,
    * the case AQE splits). The islands window is partitioned by document,
    * bounded by document length.
    */
  def duplicatedSpans(
      df: DataFrame,
      idCol: String,
      text: Column,
      k: Int,
      minDocs: Int = 2): DataFrame = {
    require(k >= 2, s"window length k must be >= 2 (got $k)")
    require(minDocs >= 2, s"minDocs must be >= 2 (got $minDocs)")
    // r17 (guide §1.2): the occurrence stream feeds BOTH the
    // duplicated-hash build side and the back-join probe — uncached, the
    // corpus was word-split, windowed and md5-hashed twice per run. The
    // cached frame is (long, int, long)-narrow, proportional to corpus
    // word count (MEMORY_AND_DISK spills rather than recomputes at scale).
    val occ = Par.cached(Par.fan(df).select(
      col(idCol).as("__id"),
      posexplode(TextFunctions.shingles(TextFunctions.words(text), k))
        .as(Seq("__pos", "__win")))
      .select(
        col("__id"),
        col("__pos"),
        TextFunctions.hash61(col("__win")).as("__h")))
    val dup = occ
      .select(col("__h"), col("__id"))
      .distinct()
      .groupBy(col("__h"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__h"))
    val perDoc = Window.partitionBy(col("__id")).orderBy(col("__pos"))
    occ.join(dup, Seq("__h"), "left_semi")
      .withColumn("__isl", col("__pos") - row_number().over(perDoc))
      .groupBy(col("__id"), col("__isl"))
      .agg(
        min(col("__pos")).as("__s"),
        max(col("__pos")).as("__e"),
        count(lit(1)).as("n_windows"))
      .select(
        col("__id").as(idCol),
        (col("__s") + 1).cast(LongType).as("span_start"),
        (col("__e") + lit(k)).cast(LongType).as("span_end"),
        col("n_windows"))
  }

  /** [[duplicatedSpans]] with an exact-collapse prefilter — the scale path
    * for duplication-heavy corpora (same trade as `nearDupSurvivors`'s
    * fast mode): collapse to one representative per DISTINCT TEXT first
    * and carry the copy count, then window only the representatives.
    * Result-identical to [[duplicatedSpans]] because spans are a pure
    * function of text, and the distinct-document window count is exactly
    * recovered by weighting each representative's windows with its
    * multiplicity (a window repeated inside one doc still counts once per
    * doc: occurrences collapse to (window, rep) before the weighted sum).
    *
    * At c× duplication the window stream shrinks c× — the 100× smoke
    * measures the collapse — for one extra (pre-collapsed) shuffle on the
    * content hash plus a narrow map-back join, which is why the plain
    * variant remains the default for low-duplication corpora.
    */
  def duplicatedSpansCollapsed(
      df: DataFrame,
      idCol: String,
      text: Column,
      k: Int,
      minDocs: Int = 2): DataFrame = {
    require(k >= 2, s"window length k must be >= 2 (got $k)")
    require(minDocs >= 2, s"minDocs must be >= 2 (got $minDocs)")
    // r17 (guide §1.2): withT feeds three passes (rep election, rep join,
    // map-back) and occ feeds two (dup build + back-join probe); repInfo
    // feeds two joins. Cached, each evaluates once per run — previously
    // the corpus text re-scanned and the rep windows re-hashed per pass.
    val withT = Par.cached(
      Par.fan(df).select(col(idCol).as("__oid"), text.as("__t")))
    // LONG rep ids (min original id per content) so every downstream
    // shuffle — the (h, rep) distinct, the weighted count, the islands
    // window, the map-back join — carries an 8-byte key instead of the
    // md5 string (the nearDupSurvivors collapse shape)
    val repInfo = Par.cached(withT
      .groupBy(md5(col("__t")).as("__fp"))
      .agg(min(col("__oid")).as("__rid"), count(lit(1)).as("__mult")))
    val reps = withT
      .join(
        repInfo.select(col("__rid"), col("__mult")),
        col("__oid") === col("__rid"),
        "inner")
    val occ = Par.cached(reps
      .select(
        col("__rid"),
        col("__mult"),
        posexplode(TextFunctions.shingles(TextFunctions.words(col("__t")), k))
          .as(Seq("__pos", "__win")))
      .select(
        col("__rid"),
        col("__mult"),
        col("__pos"),
        TextFunctions.hash61(col("__win")).as("__h")))
    val dup = occ
      .select(col("__h"), col("__rid"), col("__mult"))
      .distinct()
      .groupBy(col("__h"))
      .agg(sum(col("__mult")).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__h"))
    val perRep = Window.partitionBy(col("__rid")).orderBy(col("__pos"))
    val spans = occ.join(dup, Seq("__h"), "left_semi")
      .withColumn("__isl", col("__pos") - row_number().over(perRep))
      .groupBy(col("__rid"), col("__isl"))
      .agg(
        min(col("__pos")).as("__s"),
        max(col("__pos")).as("__e"),
        count(lit(1)).as("n_windows"))
    withT
      .select(col("__oid"), md5(col("__t")).as("__fp2"))
      .join(
        repInfo.select(col("__fp").as("__fp2"), col("__rid")),
        Seq("__fp2"))
      .join(spans, Seq("__rid"))
      .select(
        col("__oid").as(idCol),
        (col("__s") + 1).cast(LongType).as("span_start"),
        (col("__e") + lit(k)).cast(LongType).as("span_end"),
        col("n_windows"))
  }

  /** Remove every maximal duplicated span found by [[duplicatedSpans]] from
    * the text: rebuild each document from the words NOT covered by any
    * span. Output shape matches the segment-dedup family: (`idCol`,
    * `clean_text`, `n_kept`, `n_dropped`) for every input row — a document
    * that is entirely duplicated material comes back empty, a document
    * shorter than `k` words (no windows) comes back untouched.
    *
    * Scale posture: spans collapse to one small array per affected doc
    * (`collect_list` bounded by words/doc ÷ 1), the join back to the corpus
    * is on the doc id, and the word filter is a per-row codegen'd HOF —
    * the reconstruction never explodes the corpus a second time.
    */
  def removeDuplicatedSpans(
      df: DataFrame,
      idCol: String,
      text: Column,
      k: Int,
      minDocs: Int = 2,
      sep: String = " "): DataFrame = {
    val spans = duplicatedSpans(df, idCol, text, k, minDocs)
      .groupBy(col(idCol))
      .agg(collect_list(
        struct(col("span_start"), col("span_end"))).as("__spans"))
    Par.fan(df)
      .withColumn("__ws", TextFunctions.words(text))
      .join(spans, Seq(idCol), "left")
      .withColumn(
        "__kept",
        filter(col("__ws"), (_, i) =>
          not(coalesce(
            exists(col("__spans"), sp =>
              (i + 1) >= sp.getField("span_start") &&
                (i + 1) <= sp.getField("span_end")),
            lit(false)))))
      .select(
        col(idCol),
        array_join(col("__kept"), sep).as("clean_text"),
        size(col("__kept")).cast(LongType).as("n_kept"),
        (size(col("__ws")) - size(col("__kept")))
          .cast(LongType).as("n_dropped"))
  }

  /** Exact edit-distance (Levenshtein) similarity join over a SHORT-string
    * column — titles, author names, normalized headlines, product codes:
    * the near-dup signal for fields where a one-character typo IS the
    * duplication (n-gram Jaccard needs word overlap; edit distance catches
    * `"spark sql"` vs `"spark sqk"`). Emits (`id_a`, `id_b`, `dist`) for
    * every pair with `dist ≤ maxDist`, `id_a < id_b`.
    *
    * LOSSLESS candidates without an all-pairs join: the FastSS / SymSpell
    * deletion neighborhood (Bocek et al. 2007, "Fast Similarity Search in
    * Large Dictionaries"). If `ed(a,b) ≤ k` then deleting the ≤k edited
    * positions from each side yields a COMMON ≤k-deletion variant, so
    * pairs sharing any variant are a complete candidate superset; the
    * exact `levenshtein` verify (both engines run the classic integer DP)
    * then keeps only true pairs. Variants build per-row from codegen'd
    * array HOFs — no UDF, no driver state.
    *
    * Scale posture: a string of length L contributes O(L^k) variant rows
    * (L+1 at k=1), each at most L chars, so the index is
    * corpus × (L+1)^k rows of short strings; the candidate join shuffles
    * on the variant key only and pairs are bounded by variant-bucket
    * sizes. Degenerate-hot variants come from strings shorter than ~2k
    * chars (everything collapses toward the empty string) — filter those
    * upstream or exact-match them (they're cheap to compare directly).
    * Duplication caveat as [[prefixJaccardPairs]]: m identical strings
    * are m·(m−1)/2 genuine distance-0 pairs, so at scale exact-collapse
    * to one representative per distinct string first (P1) and join the
    * representatives — the gate runs exactly that composition.
    */
  def editDistancePairs(
      df: DataFrame,
      idCol: String,
      title: Column,
      maxDist: Int = 1): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      s"maxDist must be 1 or 2 (got $maxDist): the deletion index grows " +
        "as L^k and the verify DP is quadratic — larger radii want a " +
        "different blocking scheme")
    val base = Par.cached(
      Par.fan(df)
        .select(col(idCol).as("__eid"), title.as("__t"))
        .filter(col("__t").isNotNull))
    // deletion-at-i as a codegen expression; sequence(1, 0) would yield
    // [1, 0] (Spark infers step -1 when start > stop), so empty strings
    // contribute no deletions explicitly
    def dels(v: Column): Column =
      when(length(v) === 0, array().cast("array<string>"))
        .otherwise(
          transform(
            sequence(lit(1), length(v)),
            i =>
              concat(
                v.substr(lit(1), i - 1),
                v.substr(i + 1, length(v)))))
    var variants = array(col("__t"))
    for (_ <- 1 to maxDist)
      variants = array_distinct(
        concat(variants, flatten(transform(variants, v => dels(v)))))
    val vrows = base.select(
      col("__eid"), length(col("__t")).as("__len"),
      explode(variants).as("__v"))
    val candidates = vrows
      .select(col("__eid").as("id_a"), col("__len").as("len_a"), col("__v"))
      .join(
        vrows.select(
          col("__eid").as("id_b"), col("__len").as("len_b"), col("__v")),
        "__v")
      .filter(col("id_a") < col("id_b"))
      // ed(a,b) >= ||a|-|b||: cheap map-side cut before the distinct
      .filter(abs(col("len_a") - col("len_b")) <= maxDist)
      .select(col("id_a"), col("id_b"))
      .distinct()
    candidates
      .join(base.select(col("__eid").as("id_a"), col("__t").as("__ta")), "id_a")
      .join(base.select(col("__eid").as("id_b"), col("__t").as("__tb")), "id_b")
      .select(
        col("id_a"),
        col("id_b"),
        levenshtein(col("__ta"), col("__tb")).as("dist"))
      .filter(col("dist") <= maxDist)
  }
}
