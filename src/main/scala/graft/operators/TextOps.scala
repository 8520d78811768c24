package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Portable

/** Text-analysis operators for a training-data pipeline: token statistics,
  * quality scoring, n-gram-heuristic language ID, and rolling-hash document
  * fingerprints. All single-pass projections/aggregations — each document is
  * scored independently, so the operators are embarrassingly parallel and the
  * plan is one scan regardless of corpus size.
  */
object TextOps {

  /** Register natives, fan the scan out, and materialize the token array via
    * the native [[graft.plans.Tokens]] (`graft_tokens`) — value-identical to
    * the portable HOF chain (PortableParitySpec) but one flat loop per
    * evaluation instead of an interpreted per-element lambda, which matters
    * because projection collapse re-inlines `toks` into every consumer. */
  /** Tokenized view of `docs`. A frame already carrying `toks` (e.g. a
    * checkpointed intermediate a composed pipeline tokenized ONCE) is passed
    * through untouched — re-tokenizing a 100 TB corpus per consuming stage
    * is exactly the repeated projection cost the checkpoint existed to
    * avoid. FRESHNESS CONTRACT: a passed-through `toks` must be the
    * tokenization of the CURRENT `text` column — a caller that rewrites
    * `text` after tokenizing must drop `toks` first. The type guard below
    * rejects the coincidental-name case (a user `toks` column of another
    * type) loudly instead of silently producing wrong token stats; content
    * staleness is the caller's contract, same class as ZOrder.withZValue's
    * clobber guard. */
  private def withToks(docs: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(docs.sparkSession)
    if (docs.columns.contains("toks")) {
      val t = docs.schema("toks").dataType
      require(t == org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, containsNull = false) ||
        t == org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, containsNull = true),
        s"'toks' passthrough column must be array<string> (tokenizer output); got ${t.sql}. " +
          "Rename or drop the conflicting column before calling TextOps.")
      docs
    }
    else Scale.fanOutScan(docs).withColumn("toks", expr("graft_tokens(text)"))
  }

  /** Token-COUNT passthrough, the slim sibling of [[withToks]]: consumers
    * that need only `n_tokens` (budget sampling, packing) accept a
    * precomputed integer column instead of re-tokenizing the corpus — a
    * chained pipeline computes the count once per rewrite of `text` and the
    * downstream stages ride it. Carrying the LONG is nothing like carrying
    * the token ARRAYS through checkpoints (the measured CLAUDE.md negative);
    * content staleness stays the caller's contract, as with `toks`. */
  private def withNTokens(docs: DataFrame): DataFrame = {
    if (docs.columns.contains("n_tokens")) {
      val t = docs.schema("n_tokens").dataType
      require(t == org.apache.spark.sql.types.LongType ||
        t == org.apache.spark.sql.types.IntegerType,
        s"'n_tokens' passthrough column must be int/bigint (token count); got ${t.sql}. " +
          "Rename or drop the conflicting column before calling TextOps.")
      docs.withColumn("n_tokens", col("n_tokens").cast("bigint"))
    } else withToks(docs)
      .withColumn("n_tokens", size(col("toks")).cast("bigint")).drop("toks")
  }

  /** Per-document token statistics + polynomial fingerprint of the raw text.
    * Counts are exact integers; the average is one int/int double division. */
  def tokenStats(docs: DataFrame): DataFrame = {
    withToks(docs)
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct_tokens"),
        expr("aggregate(transform(toks, x -> cast(length(x) as bigint)), cast(0 as bigint), (a, x) -> a + x)")
          .as("n_token_chars"),
        // BPE-ish subword estimate: ceil(len/4) per token, summed
        expr("aggregate(transform(toks, x -> cast(ceil(length(x) / 4.0) as bigint)), cast(0 as bigint), (a, x) -> a + x)")
          .as("n_subword_est"),
        length(col("text")).as("n_chars_text"),
        expr("graft_phash(text)").as("fingerprint"))
      .withColumn("avg_token_len",
        when(col("n_tokens") > 0,
          col("n_token_chars").cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)))
  }

  /** Appends r_en/r_es/r_de/r_fr stopword ratios + argmax `lang_pred` to a
    * tokenized frame — a pure projection shared by [[languageId]] and
    * [[curationDecisions]] (which fuses it with the quality projection into
    * one corpus scan). */
  private def withLangScores(tokenized: DataFrame): DataFrame =
    tokenized
      .withColumn("r_en", expr(Portable.stopRatioSpark("toks", Portable.StopEn)))
      .withColumn("r_es", expr(Portable.stopRatioSpark("toks", Portable.StopEs)))
      .withColumn("r_de", expr(Portable.stopRatioSpark("toks", Portable.StopDe)))
      .withColumn("r_fr", expr(Portable.stopRatioSpark("toks", Portable.StopFr)))
      .withColumn("lang_pred", expr(
        """CASE
          |  WHEN r_en = 0 AND r_es = 0 AND r_de = 0 AND r_fr = 0 THEN 'unknown'
          |  WHEN r_en >= r_es AND r_en >= r_de AND r_en >= r_fr THEN 'en'
          |  WHEN r_es >= r_de AND r_es >= r_fr THEN 'es'
          |  WHEN r_de >= r_fr THEN 'de'
          |  ELSE 'fr'
          |END""".stripMargin))

  /** Stopword-ratio language scores + argmax prediction (deterministic
    * left-biased tie-break: en > es > de > fr > unknown). */
  def languageId(docs: DataFrame): DataFrame =
    withLangScores(withToks(docs))
      .select("doc_id", "lang_pred", "r_en", "r_es", "r_de", "r_fr")

  /** Appends the quality metric columns through `quality_score` to a
    * tokenized frame — pure projection, shared by [[qualityScore]] and
    * [[curationDecisions]]. */
  private def withQualityCols(tokenized: DataFrame): DataFrame =
    tokenized
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_distinct", size(array_distinct(col("toks"))))
      .withColumn("stop_ratio", expr(Portable.stopRatioSpark("toks", Portable.StopEn)))
      .withColumn("alpha_chars", length(regexp_replace(col("text"), "[^a-z ]", "")))
      .withColumn("alpha_ratio",
        when(length(col("text")) > 0,
          col("alpha_chars").cast("double") / length(col("text"))).otherwise(lit(0.0)))
      .withColumn("diversity",
        when(col("n_tokens") > 0,
          col("n_distinct").cast("double") / col("n_tokens")).otherwise(lit(0.0)))
      .withColumn("quality_score",
        (when(col("n_tokens").between(20, 1000), lit(1.0)).otherwise(lit(0.0))) +
        (when(col("stop_ratio") > 0, lit(1.0)).otherwise(lit(0.0))) +
        col("diversity") + col("alpha_ratio"))

  /** Heuristic quality score in [0, 4]: length window + stopword presence +
    * lexical diversity + alpha-space purity. Integer comparisons and single
    * double divisions only, so the score is engine-portable. */
  def qualityScore(docs: DataFrame): DataFrame =
    withQualityCols(withToks(docs))
      .select("doc_id", "n_tokens", "n_distinct", "stop_ratio", "alpha_ratio",
        "diversity", "quality_score")

  /** (doc_id, toks, y = ±1) with the label distilled INLINE from
    * [[qualityScore]]'s formula — the whole label chain is one projection,
    * so a consumer that also needs the tokens (the classifier's feature
    * build) gets labels AND the already-computed token array in the SAME
    * corpus scan: no second scan, no doc_id join, no re-tokenization.
    * (Reusing toks here is same-scan projection sharing, NOT the measured
    * negative of carrying token arrays through a checkpoint.) */
  def qualityLabels(docs: DataFrame, thr: Double): DataFrame =
    withQualityCols(withToks(docs))
      .select(col("doc_id"), col("toks"),
        when(col("quality_score") >= thr, lit(1L)).otherwise(lit(-1L)).as("y"))

  /** Corpus rollup by source: doc counts, token totals, mean quality. */
  def corpusStats(docs: DataFrame): DataFrame = {
    val q = qualityScore(docs)
    docs.select("doc_id", "source")
      .join(q, "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("bigint")).as("total_tokens"),
        sum(col("n_distinct").cast("bigint")).as("total_distinct_tokens"),
        min(col("quality_score")).as("min_quality"),
        max(col("quality_score")).as("max_quality"))
  }

  /** Deterministic train/test split — the assignment every training pipeline
    * needs: a hash of the stable document id (NOT random numbers, so the
    * split is reproducible across runs, engines, and re-partitioning). The
    * bucket is [[Portable.splitBucketSpark]] — a polynomial mix of the id's
    * decimal digits, NOT a multiplicative `(id * c) % 100` (which reduces to
    * `(id * (c % 100)) % 100`, so sequential ids cycle through residues and
    * any id-correlated corpus property leaks into the split).
    * One projection + one aggregate; at 100 TB the split column costs
    * nothing and the assignment never needs to be stored. */
  def trainTestSplit(docs: DataFrame, pctTrain: Int = 90): DataFrame = {
    withToks(docs)
      .withColumn("split",
        when(expr(Portable.splitBucketSpark("doc_id")) < pctTrain, lit("train"))
          .otherwise(lit("test")))
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(col("toks")).cast("bigint")).as("total_tokens"))
  }

  /** Stratified twin of [[trainTestSplit]]: the SAME deterministic digit-mix
    * bucket assignment, reported per stratum (source/language/domain) with
    * each split's share of its stratum — the skew question the global report
    * cannot answer (did the small sources land near 90/10 too, or does one
    * stratum leak?). Because the bucket hash is id-only, the global and
    * stratified views describe one consistent assignment — stratifying is a
    * reporting choice, not a re-split. Same scale shape: one projection, one
    * aggregate keyed by (stratum, split), share via a window over the
    * 2-rows-per-stratum aggregate. */
  def trainTestSplitBy(docs: DataFrame, by: String = "source",
                       pctTrain: Int = 90): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    withToks(docs)
      .withColumn("split",
        when(expr(Portable.splitBucketSpark("doc_id")) < pctTrain, lit("train"))
          .otherwise(lit("test")))
      .groupBy(col(by), col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(col("toks")).cast("bigint")).as("total_tokens"))
      .withColumn("stratum_share",
        col("n_docs").cast("double") /
          sum(col("n_docs")).over(Window.partitionBy(by)).cast("double"))
  }

  /** Train/test contamination detection: pairs of (test doc, train doc) that
    * share at least one word n-gram, with the size of the shared n-gram set —
    * the leakage check every benchmark/eval pipeline runs before training.
    * Reuses the deterministic [[trainTestSplit]] assignment, so no split
    * materialization is needed.
    *
    * Shape at scale: one corpus scan per side producing (shingle, doc) rows,
    * an equi-join on the shingle string, and a count aggregate — the same
    * bucketed-candidates pattern as the dedup family. Long n-grams (n=8) are
    * near-unique, so the join carries no hot keys (measured max df = 3 on the
    * corpus); for short n a shingle shared by a test docs and b train docs
    * emits a*b join rows, so the df-cap-with-exact-restore from
    * [[Dedup.ngramJaccardPairs]] is applied: shingles with document frequency
    * > `dfCap` are dropped from candidate generation, and their contribution
    * to each emitted pair's shared-n-gram count is restored exactly from
    * bounded per-document hot-shingle sets. Contract (same as the Jaccard
    * operator): output equals the exact join on any corpus where every
    * contaminated pair shares at least one shingle with df <= dfCap; a pair
    * sharing exclusively boilerplate above the cap is missed, and the trim is
    * logged when it happens. `dfCap <= 0` disables the guard. */
  def contamination(docs: DataFrame, n: Int = 8, pctTrain: Int = 90,
                    dfCap: Int = 1000): DataFrame = {
    graft.plans.GraftFunctions.register(docs.sparkSession)
    val sh = Scale.fanOutScan(docs)
      .withColumn("split",
        when(expr(Portable.splitBucketSpark("doc_id")) < pctTrain, lit("train"))
          .otherwise(lit("test")))
      .select(col("doc_id"), col("split"),
        explode(expr(s"graft_shingles(text, $n)")).as("s"))
      // lazy localCheckpoint, not persist: the returned plan references the
      // shingle stream through three consumers, so an in-function unpersist
      // is never safe, and a bare persist pins one cache entry per call in a
      // long-lived session (r7 ADVICE class). Checkpointed blocks are freed
      // by the ContextCleaner when the frame becomes unreachable.
      .localCheckpoint(false)
    val hot = (
      if (dfCap <= 0) sh.limit(0).select("s")
      else sh.groupBy("s").agg(count(lit(1)).as("df"))
        .filter(col("df") > dfCap).select("s")
    ).localCheckpoint(false)
    if (dfCap > 0) Dedup.warnOnTrim("contamination", hot, dfCap)
    val rare = sh.join(broadcast(hot), Seq("s"), "left_anti")
    val sharedRare = rare.filter(col("split") === "test")
      .select(col("s"), col("doc_id").as("test_doc"))
      .join(rare.filter(col("split") === "train")
        .select(col("s"), col("doc_id").as("train_doc")), "s")
      .groupBy("test_doc", "train_doc")
      .agg(count(lit(1)).as("n_rare"))
    // exact hot contribution: each doc carries its (few) capped shingles as a
    // bounded array; the pairwise intersect is O(cap list) per emitted pair
    val hotByDoc = sh.join(broadcast(hot), Seq("s"))
      .groupBy("doc_id").agg(collect_set(col("s")).as("hs"))
    sharedRare
      .join(hotByDoc.select(col("doc_id").as("test_doc"), col("hs").as("ht")),
        Seq("test_doc"), "left")
      .join(hotByDoc.select(col("doc_id").as("train_doc"), col("hs").as("hr")),
        Seq("train_doc"), "left")
      .withColumn("n_shared_ngrams", col("n_rare") +
        coalesce(size(array_intersect(col("ht"), col("hr"))), lit(0)).cast("long"))
      .select("test_doc", "train_doc", "n_shared_ngrams")
  }

  /** Sequence packing (concat-and-chunk): lay the corpus out as fixed
    * token-budget training sequences and report, per document, the byte-range
    * analogue in token space — offset within its packing stream and the first/
    * last sequence ids it lands in. This is the standard "concatenate then
    * chunk every `budget` tokens" layout LLM loaders use.
    *
    * Packing is inherently sequential, so the scale unit is the packing
    * STREAM: documents are sharded deterministically (doc_id mod `shards`)
    * within each language, and each (lang, shard) stream packs independently
    * under one ordered window. Streams ≈ shards x languages tasks, each a
    * sorted scan — the window never sees more than one shard's tokens, and
    * `shards` scales with the cluster. Empty documents carry no tokens and
    * are excluded. */
  def packSequences(docs: DataFrame, budget: Int = 2048, shards: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    withNTokens(docs)
      .filter(col("n_tokens") > 0)
      .withColumn("shard", col("doc_id") % shards)
      .withColumn("tok_offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("first_pack", expr(s"tok_offset div $budget"))
      .withColumn("last_pack", expr(s"(tok_offset + n_tokens - 1) div $budget"))
      .select("doc_id", "lang", "shard", "n_tokens", "tok_offset",
        "first_pack", "last_pack")
  }

  /** Best-fit-decreasing sequence packing — the padding-minimizing layout
    * production loaders use when documents must NOT be split across
    * sequences (contrast [[packSequences]]' concat-and-chunk, which splits):
    * within each (lang, doc_id % `shards`) stream, documents are taken in
    * (n_tokens DESC, doc_id) order and each is placed into the open bin with
    * the SMALLEST remaining capacity that still fits (tie: lowest bin id);
    * no fit opens a new bin. The open-bin pool is BOUNDED at `maxOpen`:
    * opening a bin beyond that closes the pool's smallest-remainder bin (the
    * least useful one — classic bounded-space best-fit), so per-stream state
    * is O(maxOpen) regardless of corpus size. Documents longer than `budget`
    * get a dedicated bin each (`oversize` = true) and never enter the pool —
    * the loader chunks those separately.
    *
    * Fully deterministic (total order per stream, unique tie-breaks), so the
    * DuckDB oracle replays the identical fit per shard as a recursive CTE
    * and the gate is bitwise.
    *
    * Scale shape: one corpus projection for token counts, one exchange to
    * co-locate each stream, Spark's spillable sort within partitions, then a
    * streaming single pass with O(maxOpen) state per stream — the same
    * bounded-sequential-unit shape as [[packSequences]]' windows, with
    * `shards` scaling to the cluster. */
  def bestFitPack(docs: DataFrame, budget: Int = 2048, shards: Int = 16,
                  maxOpen: Int = 8): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(shards > 0, "shards must be positive")
    require(maxOpen > 0, "maxOpen must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val base = withNTokens(docs)
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("lang"),
        (col("doc_id") % shards).as("shard"), col("n_tokens"))
    // co-locate each (lang, shard) stream, then sort so groups are
    // contiguous and each group arrives in best-fit-DECREASING order
    val parted = base
      .repartition(col("lang"), col("shard"))
      .sortWithinPartitions(col("lang"), col("shard"),
        col("n_tokens").desc, col("doc_id"))
      .as[(Long, String, Long, Long)]
    parted.mapPartitions { it =>
      var curLang: String = null
      var curShard = Long.MinValue
      var nextId = 0L
      val pool = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)] // (rem, id)
      def minIdx(p: scala.collection.mutable.ArrayBuffer[(Long, Long)],
                 fitAtLeast: Long): Int = {
        var best = -1
        var i = 0
        while (i < p.length) {
          if (p(i)._1 >= fitAtLeast &&
              (best < 0 || p(i)._1 < p(best)._1 ||
                (p(i)._1 == p(best)._1 && p(i)._2 < p(best)._2))) best = i
          i += 1
        }
        best
      }
      it.map { case (docId, lang, shard, n) =>
        if (lang != curLang || shard != curShard) {
          curLang = lang; curShard = shard; nextId = 0L; pool.clear()
        }
        val oversize = n > budget
        val bin: Long =
          if (oversize) { val b = nextId; nextId += 1L; b }
          else {
            val bi = minIdx(pool, n)
            if (bi >= 0) {
              val (rem, id) = pool(bi)
              if (rem == n) pool.remove(bi) else pool(bi) = (rem - n, id)
              id
            } else {
              val id = nextId; nextId += 1L
              val rem = budget.toLong - n
              if (rem > 0L) {
                pool += ((rem, id))
                // bounded pool: past maxOpen, close the least-useful bin
                // (smallest remainder, tie lowest id — possibly this one)
                if (pool.length > maxOpen) pool.remove(minIdx(pool, 0L))
              }
              id
            }
          }
        (docId, lang, shard, n, bin, oversize)
      }
    }.toDF("doc_id", "lang", "shard", "n_tokens", "bin", "oversize")
  }

  /** Per-stream padding-waste report over a [[bestFitPack]] output — the
    * padding-efficiency metric training teams track: docs, bins, token
    * totals, oversize count, and `padded_tokens` (capacity minus fill over
    * the regular bins; oversize bins carry their doc verbatim and pad
    * nothing). All-BIGINT so the gate hash-compares. Two chained hash
    * aggregates (per-bin, then per-stream) — no multi-COUNT(DISTINCT)
    * Expand, report-sized output. */
  def packingWasteReport(packed: DataFrame, budget: Int = 2048): DataFrame = {
    val perBin = packed.groupBy("lang", "shard", "bin", "oversize")
      .agg(count(lit(1)).cast("bigint").as("docs"),
        sum(col("n_tokens")).cast("bigint").as("toks"))
    perBin.groupBy("lang", "shard")
      .agg(
        sum(col("docs")).cast("bigint").as("n_docs"),
        count(lit(1)).cast("bigint").as("n_bins"),
        sum(col("toks")).cast("bigint").as("total_tokens"),
        sum(when(col("oversize"), 1L).otherwise(0L)).cast("bigint").as("n_oversize"),
        sum(when(col("oversize"), 0L).otherwise(lit(budget.toLong) - col("toks")))
          .cast("bigint").as("padded_tokens"))
  }

  /** BM25 keyword scoring over the corpus — the retrieval primitive data
    * curation uses to find topical documents at scale. One explode + one
    * per-doc hash aggregate (term frequencies and doc length in a single
    * shuffle), a one-row corpus-stats aggregate broadcast back, then a pure
    * projection and top-k (TakeOrderedAndProject: per-partition heaps, no
    * global sort). Cost is linear in corpus tokens regardless of |terms|.
    *
    * Scoring uses the rational-idf BM25 ([[Portable.bm25Term]]) so the gate
    * stays bitwise across engines; all intermediate sums are integer-valued
    * doubles (exact under any accumulation order). */
  /** Integer-exact TF-IDF retrieval — [[bm25Search]]'s engine-exact sibling:
    * idf is the BIT WIDTH of N/df (floor-log2 + 1, the same integer
    * formulation as the surprisal scorers — transcendental ln is not
    * bitwise-portable), so score = Σ tf_t · idfbits_t is pure BIGINT
    * arithmetic and the ranking hash-checks against the oracle. Shape is
    * the scale-right retrieval topology: one token scan with wide
    * conditional counts (map-side combined), a one-row stats aggregate
    * broadcast back, TakeOrdered top-k — no per-term joins, no shuffle
    * beyond the per-doc aggregate. Terms absent from the corpus (df = 0)
    * contribute zero instead of dividing by it. */
  def tfidfSearch(docs: DataFrame, terms: Seq[String], topK: Int = 50): DataFrame = {
    require(terms.nonEmpty && terms.forall(_.matches("[A-Za-z0-9_]+")),
      "terms must be non-empty identifiers")
    graft.plans.GraftFunctions.register(docs.sparkSession)
    val tok = Scale.fanOutScan(docs).select(col("doc_id"),
      explode(expr("graft_tokens(text)")).as("t"))
    val tfAggs = terms.map(t =>
      count(when(col("t") === t, lit(1))).cast("bigint").as(s"tf_$t"))
    val perDoc = tok.groupBy("doc_id").agg(tfAggs.head, tfAggs.tail: _*)
    val dfAggs = terms.map(t =>
      sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).cast("bigint").as(s"df_$t"))
    val stats = perDoc.agg(count(lit(1)).cast("bigint").as("n"), dfAggs: _*)
    val score = terms.map(t =>
      s"(CASE WHEN df_$t > 0 THEN tf_$t * " +
        s"length(conv(CAST(n DIV df_$t AS STRING), 10, 2)) ELSE 0 END)")
      .mkString(" + ")
    perDoc.crossJoin(broadcast(stats))
      .withColumn("score", expr(score).cast("bigint"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
      .select(col("doc_id") +: terms.map(t => col(s"tf_$t")) :+ col("score"): _*)
  }

  def bm25Search(docs: DataFrame, terms: Seq[String],
                 k1: Double = 1.5, b: Double = 0.75, topK: Int = 50): DataFrame = {
    require(terms.nonEmpty && terms.forall(_.matches("[A-Za-z0-9_]+")),
      "terms must be non-empty identifiers")
    graft.plans.GraftFunctions.register(docs.sparkSession)
    val tok = Scale.fanOutScan(docs).select(col("doc_id"),
      explode(expr("graft_tokens(text)")).as("t"))
    val tfAggs = terms.map(t =>
      count(when(col("t") === t, lit(1))).cast("double").as(s"tf_$t"))
    val perDoc = tok.groupBy("doc_id")
      .agg(count(lit(1)).cast("double").as("dl"), tfAggs: _*)
    val dfAggs = (sum(col("dl")) / count(lit(1))).as("avgdl") +:
      terms.map(t => sum(when(col(s"tf_$t") > 0, 1).otherwise(0))
        .cast("double").as(s"df_$t"))
    val stats = perDoc.agg(count(lit(1)).cast("double").as("n"), dfAggs: _*)
    val score = terms.map(t => Portable.bm25Term(s"tf_$t", s"df_$t", k1, b))
      .mkString(" + ")
    perDoc.crossJoin(broadcast(stats))
      .withColumn("score", expr(score))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
      .select(col("doc_id") +: col("dl") +:
        terms.map(t => col(s"tf_$t")) :+ col("score"): _*)
  }

  /** Sentence segmentation with stable offsets: one row per sentence-boundary
    * segment with its index and token count — the unit-of-text primitive for
    * per-sentence filters and span labeling. A boundary is any character of
    * `boundaryClass` (default `[.?!]` — period, question, exclamation)
    * followed by one whitespace character; the class is a plain character
    * class, not a sentence model, so Spark's Java regex and DuckDB's RE2
    * split identically. Both engines keep trailing empties (Spark split
    * default limit -1 ≡ DuckDB string_split_regex) and empty segments are
    * filtered in both. A pure explode — linear in corpus bytes, no
    * shuffle. */
  def segmentSentences(docs: DataFrame,
                       boundaryClass: String = "[.?!]"): DataFrame = {
    graft.plans.GraftFunctions.register(docs.sparkSession)
    Scale.fanOutScan(docs)
      .select(col("doc_id"),
        // SQL-level '\\s' reaches the regex engine as \s
        posexplode(expr(s"split(text, '$boundaryClass\\\\s')"))
          .as(Seq("sent_idx", "sentence")))
      .filter(col("sentence") =!= "")
      .withColumn("n_tokens", size(expr("graft_tokens(sentence)")))
      .select("doc_id", "sent_idx", "sentence", "n_tokens")
  }

  /** Deterministic mixture sampling — the data-mixing step of a training
    * corpus build: each source is kept at its own rate (e.g. wiki 1.0, web
    * 0.3), decided per document by a stable hash bucket, NOT an RNG, so the
    * mixture is reproducible across runs, engines, and repartitioning, and
    * any document's membership can be audited after the fact. The sampling
    * bucket hashes a salted id ([[Portable.sampleBucketSpark]]) so it is
    * independent of the train/test split bucket. A pure filter — at 100 TB
    * the mixture costs one scan, no shuffle. */
  def mixtureSample(docs: DataFrame, rates: Map[String, Double],
                    defaultRate: Double = 0.0): DataFrame = {
    require(rates.values.forall(r => r >= 0 && r <= 1) &&
      defaultRate >= 0 && defaultRate <= 1, "rates must be in [0, 1]")
    // Rates resolve to INTEGER bucket thresholds in units of 1/10000 before
    // any engine sees them: comparing `bucket < rate * 10000` in floating
    // point invites engines that evaluate the product differently (double
    // here, exact DECIMAL in an oracle) to disagree on one boundary bucket.
    // The rounding is driver-side Scala, so both dialects inherit the SAME
    // integer and the comparison is int-vs-int everywhere.
    def threshold(r: Double): Int = math.round(r * 10000).toInt
    graft.plans.GraftFunctions.register(docs.sparkSession)
    val thrCol = rates.toSeq.sortBy(_._1).foldRight(lit(threshold(defaultRate))) {
      case ((src, r), els) => when(col("source") === src, lit(threshold(r))).otherwise(els)
    }
    docs
      .withColumn("__thr", thrCol)
      .filter(expr(Portable.sampleBucketSpark("doc_id")) < col("__thr"))
      .select("doc_id", "source")
  }

  /** Token-budget corpus sampling: per source, keep documents in a
    * deterministic shuffled order (salted hash bucket, then doc_id — the
    * order a mixer uses to avoid temporal/positional bias) until the
    * cumulative token count reaches `budgetPerSource` — the "take N tokens
    * of each source" step that turns mixture WEIGHTS into an actual corpus.
    *
    * Scale shape: the naive form is one unbounded running-sum window per
    * source, which serializes a 100 TB source through one task. Here the
    * prefix sum is TWO-PHASE: per-(source, bucket) partial sums roll up
    * map-side, a tiny window over the ≤10k bucket rows per source computes
    * each bucket's exclusive prefix, and row-level cumulation happens only
    * WITHIN a bucket (~1/10000th of a source per window partition). Output
    * is identical to the naive window — the oracle states the semantics in
    * one SUM OVER — but no task ever scans a whole source. */
  def tokenBudgetSample(docs: DataFrame, budgetPerSource: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgetPerSource > 0, "budget must be positive")
    val t = withNTokens(docs).select(col("doc_id"), col("source"),
      col("n_tokens"),
      expr(Portable.sampleBucketSpark("doc_id")).as("bkt"))
    val bucketAgg = t.groupBy("source", "bkt").agg(sum(col("n_tokens")).as("b_sum"))
    val wBuckets = Window.partitionBy("source").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bounds = bucketAgg.withColumn("cum_before",
      coalesce(sum(col("b_sum")).over(wBuckets), lit(0L)))
    val wInBucket = Window.partitionBy("source", "bkt").orderBy("doc_id")
    t.join(bounds.select("source", "bkt", "cum_before"), Seq("source", "bkt"))
      .withColumn("cum_tokens",
        col("cum_before") + sum(col("n_tokens")).over(wInBucket))
      .filter(col("cum_tokens") <= budgetPerSource)
      .select("doc_id", "source", "n_tokens", "cum_tokens")
  }

  /** Repetition-based quality signals (the Gopher-style filters — Rae et
    * al., "Scaling Language Models: ... Gopher", arXiv 2112.11446 §A1.1,
    * public paper): per document, the duplicate-token fraction, the most
    * frequent token's share, and the most frequent word-bigram's share —
    * machine-generated and boilerplate text tips these long before a human
    * reads it. `is_repetitive` applies the thresholds.
    *
    * Scale shape (r12): the statistics are PER-DOCUMENT by definition, so
    * they are one native projection ([[graft.plans.RepetitionStats]]: one
    * pass over each row's token array yielding total/distinct/top counts
    * for unigrams and adjacent bigrams) — ZERO shuffles, where the portable
    * explode → (doc, term) aggregate → per-doc aggregate → join formulation
    * (which the DuckDB oracle still replays) ships every token occurrence
    * of the corpus through two shuffles. The derived fractions divide the
    * same integers in the same order, so the gate stays bitwise. */
  def repetitionScore(docs: DataFrame,
                      topTokenMax: Double = 0.2,
                      topBigramMax: Double = 0.18): DataFrame = {
    graft.plans.GraftFunctions.register(docs.sparkSession)
    withToks(docs).select(col("doc_id"), col("toks"))
      .filter(size(col("toks")) > 0)
      .withColumn("__st", expr("graft_rep_stats(toks)"))
      .select(
        col("doc_id"),
        col("__st.n_uni").cast("bigint").as("n_tokens"),
        ((col("__st.n_uni") - col("__st.d_uni")).cast("double") / col("__st.n_uni"))
          .as("dup_token_frac"),
        (col("__st.top_uni").cast("double") / col("__st.n_uni")).as("top_token_frac"),
        when(col("__st.n_bi") > 0,
            col("__st.top_bi").cast("double") / col("__st.n_bi"))
          .otherwise(lit(0.0)).as("top_bigram_frac"))
      .withColumn("is_repetitive",
        col("top_token_frac") > topTokenMax || col("top_bigram_frac") > topBigramMax)
  }

  /** Deterministic corpus shuffle + shard assignment — the training-order
    * permutation a dataloader consumes: every document gets a (shard,
    * pos_in_shard) slot ordered by a salted polynomial hash of its id, NOT by
    * an RNG, so the order is reproducible across runs, engines, and
    * repartitioning, and independent of both the train/test split and the
    * mixture sample (distinct hash salts). Ties (hash collisions) break by
    * doc_id, so the permutation is total.
    *
    * Scale shape: the hash is a projection; the rank is a per-shard window —
    * parallelism = nShards, so size nShards to the cluster (a few thousand
    * for 100 TB: each shard sorts corpus/nShards rows, and shard files are
    * what the dataloader wants anyway). No global sort, no single-reducer
    * bottleneck. */
  def shuffleShards(docs: DataFrame, nShards: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.plans.GraftFunctions.register(docs.sparkSession)
    val w = Window.partitionBy("shard").orderBy(col("shuffle_key"), col("doc_id"))
    Scale.fanOutScan(docs)
      .withColumn("shuffle_key", expr(Portable.shuffleKeySpark("doc_id")))
      .withColumn("shard", expr(s"cast(shuffle_key % $nShards as int)"))
      .withColumn("pos_in_shard", row_number().over(w).cast("bigint"))
      .select("doc_id", "shard", "pos_in_shard")
  }

  /** End-to-end corpus curation: one row per document with a keep/drop
    * decision and the FIRST failing filter as the reason, in the fixed
    * priority order every curation pipeline needs to make drop attribution
    * deterministic: exact_dup > lang > quality > repetition > keep.
    *
    * Scale shape: the language, quality, AND repetition signals are pure
    * projections fused into ONE corpus scan ([[withLangScores]],
    * [[withQualityCols]], [[withRepetitive]] on the same frame — no
    * self-join); the one inherently aggregating signal (md5 keep-first
    * dedup) joins back by key. Total cost: one projection scan + one
    * 128-bit-key hash aggregate — each already proven at corpus scale by
    * its standalone gate. Documents that tokenize to nothing are never
    * repetitive and predict 'unknown', so they fall out at the `lang`
    * stage. */
  def curationDecisions(docs: DataFrame, targetLangs: Seq[String] = Seq("en"),
                        minQuality: Double = 2.0): DataFrame = {
    val keepers = docs.groupBy(md5(col("text")).as("k"))
      .agg(min(col("doc_id")).as("keep_doc_id"))
    val ex = docs.select(col("doc_id"), md5(col("text")).as("k"))
      .join(keepers, "k")
      .select(col("doc_id"), (col("doc_id") =!= col("keep_doc_id")).as("is_exact_dup"))
    val perDoc = withRepetitive(withQualityCols(withLangScores(withToks(docs))))
      .select("doc_id", "lang_pred", "quality_score", "is_repetitive")
    perDoc
      .join(ex, "doc_id")
      .withColumn("reason",
        when(col("is_exact_dup"), lit("exact_dup"))
          .when(!col("lang_pred").isin(targetLangs: _*), lit("lang"))
          .when(col("quality_score") < minQuality, lit("quality"))
          .when(col("is_repetitive"), lit("repetition"))
          .otherwise(lit("keep")))
      .select(col("doc_id"), (col("reason") === "keep").as("keep"), col("reason"))
  }

  /** Appends `is_repetitive` to a tokenized frame as a pure projection — the
    * per-row twin of [[repetitionScore]]'s thresholds, fused into the same
    * corpus scan as the lang/quality columns so the curation deciders pay no
    * separate repetition scan + doc_id join. Token-less docs have NO row in
    * [[repetitionScore]] (its `coalesce(is_repetitive, false)` left join),
    * so here they are `false` directly — value-identical. */
  private def withRepetitive(tokenized: DataFrame,
                             topTokenMax: Double = 0.2,
                             topBigramMax: Double = 0.18): DataFrame =
    tokenized
      .withColumn("__rs", expr("graft_rep_stats(toks)"))
      .withColumn("is_repetitive",
        size(col("toks")) > 0 &&
          ((col("__rs.top_uni").cast("double") / col("__rs.n_uni")) > topTokenMax ||
            when(col("__rs.n_bi") > 0,
                col("__rs.top_bi").cast("double") / col("__rs.n_bi"))
              .otherwise(lit(0.0)) > topBigramMax))
      .drop("__rs")

  /** [[curationDecisions]] with NEAR-duplicates folded into the attribution —
    * the [[graft.operators.Dedup.dedupSurvivorsBy]] quality-keeper families
    * (exact md5 star edges + banded MinHash near-dup pairs, closed by
    * connected components; keeper = highest quality_score, tie lowest
    * doc_id) decide who survives deduplication, and every non-keeper family
    * member gets a first-failing-filter reason: 'exact_dup' when it has a
    * byte-identical twin, 'near_dup' otherwise. With `decontamPctTrain` <
    * 100, eval-set decontamination joins the chain at priority
    * exact_dup > contaminated > near_dup > lang > quality > repetition:
    * any TRAIN-split doc (deterministic split-bucket holdout) with a
    * verified cross-split near-dup drops as 'contaminated' — keeper or not
    * (its whole family is leaked, so surviving copies must not reach the
    * budget stage). Keepers then run the lang > quality > repetition chain
    * exactly as before — a family keeper is the kept COPY, not a kept
    * document.
    *
    * Scale shape: everything rides proven paths — the decision frame is one
    * corpus projection scan (lang + quality fused), families come from the
    * banded near-dup path + O(rounds) component folding, and the keeper fold
    * is one map-side-combined max_by over the unique (quality, -doc_id) key. */
  def curationDecisionsFamilies(docs: DataFrame,
                                targetLangs: Seq[String] = Seq("en"),
                                minQuality: Double = 2.0,
                                n: Int = 3, tau: Double = 0.5,
                                bands: Int = 42, rowsPerBand: Int = 3,
                                decontamPctTrain: Int = 100): DataFrame = {
    require(decontamPctTrain >= 1 && decontamPctTrain <= 100,
      "decontamPctTrain must be in [1, 100] (100 = decontamination off)")
    val perDoc = withRepetitive(withQualityCols(withLangScores(withToks(docs))))
      .select("doc_id", "lang_pred", "quality_score", "is_repetitive")
    // the verified near-dup pair table is computed ONCE; with decontamination
    // on it has TWO consumers (the family closure's edges and the cross-split
    // contamination scan), so it is lazily localCheckpointed — candidate
    // generation + exact Jaccard verification never run twice. NOT a bare
    // persist: that would pin one CacheManager entry per call in a long
    // session (the r7 ADVICE class banned at the shingle/hot checkpoints
    // above); checkpointed blocks drop when the frame goes unreachable
    val nearPairs0 = Dedup.minhashLshPairs(docs, n, bands, rowsPerBand, tau)
    val decontam = decontamPctTrain < 100
    val nearPairs =
      if (decontam) nearPairs0.localCheckpoint(false)
      else nearPairs0
    // referenced by the keeper fold AND the decision join: materialize once.
    // The family graph itself is the SHARED Dedup.dedupFamiliesFromPairs —
    // this operator and dedupSurvivorsBy are both oracle-gated on
    // byte-equivalent family semantics, so the graph is defined exactly
    // once. is_repetitive rides the same projection scan (one boolean per
    // row in the checkpoint), replacing the pre-r13 separate repetition scan
    // + corpus-keyed left join downstream of it.
    // A/B'd r13: dropping this checkpoint (letting both consumers recompute
    // the post-CC remainder) was a wash at gate scale (7.1 vs 7.4 s probe,
    // +3 AQE stages) and pays a SECOND full corpus projection + md5-agg at
    // 100 TB — the checkpoint stays.
    val fam = perDoc
      .join(Dedup.dedupFamiliesFromPairs(docs, nearPairs), "doc_id")
      .localCheckpoint(false)
    val keepers = fam.groupBy("family")
      .agg(max_by(col("doc_id"),
        struct(col("quality_score"), (-col("doc_id")))).as("keep_doc_id"))
    // Decontamination (the GPT-3 appendix-C step, run IN-chain): with a
    // deterministic holdout at `decontamPctTrain` (the split-bucket hash —
    // the repo's eval-set stand-in, [[trainTestSplit]]'s convention), every
    // TRAIN doc with a verified cross-split near-dup pair is dropped as
    // 'contaminated'. The pair population is exactly the family edges' —
    // same tau, same banding — so the stage re-reads the persisted pair
    // table and adds zero corpus work: one pair-table projection + a
    // candidate-bounded semi-join into the decision.
    val base = fam.join(keepers, "family")
    val withContam =
      if (!decontam) base.withColumn("is_contam", lit(false))
      else {
        val contamIds = nearPairs
          .select(col("doc_a"), col("doc_b"),
            (expr(Portable.splitBucketSpark("doc_a")) < decontamPctTrain).as("at"),
            (expr(Portable.splitBucketSpark("doc_b")) < decontamPctTrain).as("bt"))
          .filter(col("at") =!= col("bt"))
          .select(when(col("at"), col("doc_a")).otherwise(col("doc_b")).as("doc_id"))
          .distinct()
          .withColumn("is_contam", lit(true))
        base.join(contamIds, Seq("doc_id"), "left")
          .withColumn("is_contam", coalesce(col("is_contam"), lit(false)))
      }
    withContam
      .withColumn("reason",
        when(col("doc_id") =!= col("keep_doc_id") && col("kc") > 1, lit("exact_dup"))
          .when(col("is_contam"), lit("contaminated"))
          .when(col("doc_id") =!= col("keep_doc_id"), lit("near_dup"))
          .when(!col("lang_pred").isin(targetLangs: _*), lit("lang"))
          .when(col("quality_score") < minQuality, lit("quality"))
          .when(col("is_repetitive"), lit("repetition"))
          .otherwise(lit("keep")))
      .select(col("doc_id"), (col("reason") === "keep").as("keep"), col("reason"))
  }

  /** The Gopher quality-rule battery (Rae et al., "Scaling Language Models:
    * Methods, Analysis & Insights from Training Gopher", arXiv:2112.11446
    * Appendix A1.1 — the public heuristic filter set most later pipelines
    * cite): per document, each rule as its own flag plus the conjunction —
    * word count in [minWords, maxWords], mean word length in [3, 10],
    * symbol-to-word ratio (# and ellipsis) <= 0.1, <= 10% of lines
    * bullet-started, <= 30% ellipsis-ended, >= 80% of words carrying an
    * alphabetic character, and >= 2 distinct required stop words present.
    *
    * Engine-exactness: every ratio threshold is cross-multiplied to an
    * INTEGER comparison (3n <= Σlen <= 10n, 10·sym <= words, 10·bullets <=
    * lines, 10·ellipsis <= 3·lines, 5·alpha >= 4·words) — no float ever
    * crosses the comparator, so the gate hashes bitwise. Words are the
    * engine's whitespace tokens over newline-flattened text; lines split on
    * newline. Scale shape: ONE projection scan, no joins, no aggregates —
    * the cheapest possible 100 TB pass (the per-row HOFs are the
    * qualityScore class: a single un-collapsed projection). */
  def gopherRules(docs: DataFrame, minWords: Long = 50L,
                  maxWords: Long = 100000L): DataFrame = {
    val toksE = "filter(split(translate(text, '\\n', ' '), ' '), x -> x <> '')"
    val linesE = "split(text, '\\n')"
    Scale.fanOutScan(docs)
      .withColumn("__w", expr(toksE))
      .withColumn("__l", expr(linesE))
      .withColumn("n_words", size(col("__w")).cast("bigint"))
      .withColumn("__sumlen",
        expr("aggregate(__w, 0L, (a, x) -> a + length(x))"))
      .withColumn("__sym",
        ((length(col("text")) - length(expr("replace(text, '#', '')"))) +
          (length(col("text")) - length(expr("replace(text, '...', '')"))) / 3)
          .cast("bigint"))
      .withColumn("__nl", size(col("__l")).cast("bigint"))
      .withColumn("__bul",
        expr("size(filter(__l, l -> l like '- %' or l like '* %'))").cast("bigint"))
      .withColumn("__ell",
        expr("size(filter(__l, l -> l like '%...'))").cast("bigint"))
      .withColumn("__alpha",
        expr("size(filter(__w, t -> t rlike '[a-z]'))").cast("bigint"))
      .withColumn("__stops",
        GopherStops.map(s => when(array_contains(col("__w"), s), lit(1L)).otherwise(lit(0L)))
          .reduce(_ + _))
      .select(col("doc_id"), col("n_words"),
        (col("n_words") >= minWords && col("n_words") <= maxWords).as("word_count_ok"),
        (lit(3L) * col("n_words") <= col("__sumlen") &&
          col("__sumlen") <= lit(10L) * col("n_words")).as("mean_word_len_ok"),
        (lit(10L) * col("__sym") <= col("n_words")).as("symbol_ratio_ok"),
        (lit(10L) * col("__bul") <= col("__nl")).as("bullet_ok"),
        (lit(10L) * col("__ell") <= lit(3L) * col("__nl")).as("ellipsis_ok"),
        (lit(5L) * col("__alpha") >= lit(4L) * col("n_words")).as("alpha_ok"),
        (col("__stops") >= 2L).as("stop_ok"))
      .withColumn("keep",
        col("word_count_ok") && col("mean_word_len_ok") && col("symbol_ratio_ok") &&
          col("bullet_ok") && col("ellipsis_ok") && col("alpha_ok") && col("stop_ok"))
  }

  /** The Gopher required-stop-word set (2112.11446 A1.1: a document must
    * contain at least two of these). */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** C4-style line/page cleaning (Raffel et al., "Exploring the Limits of
    * Transfer Learning with a Unified Text-to-Text Transformer",
    * arXiv:1910.10683 §2.2 — the public rule set): keep only lines ending
    * in terminal punctuation (. ! ? ") with at least three words and no
    * 'javascript'; drop whole pages containing 'lorem ipsum' or a curly
    * brace, or whose cleaned text carries fewer than `minSentences`
    * sentence-terminal marks. Returns per page the cleaned text, kept /
    * dropped line counts, the sentence count, the page verdict, and the
    * first-failing page reason.
    *
    * Engine-exactness: line membership is LIKE/pattern logic, counts are
    * integers, the sentence count is length-difference arithmetic after a
    * global regexp strip — no floats. Scale shape: one projection scan
    * (the [[gopherRules]] class); the line fold is per-row bounded work. */
  def c4Clean(docs: DataFrame, minSentences: Long = 5L): DataFrame = {
    val keptE =
      "filter(__l, l -> " +
        "(l like '%.' or l like '%!' or l like '%?' or l like '%\"') " +
        "and size(filter(split(l, ' '), w -> w <> '')) >= 3 " +
        "and not l like '%javascript%')"
    Scale.fanOutScan(docs)
      // one split of the page shared by the keep-filter and the line count
      // (r16: the line count re-split the text — a second full split pass)
      .withColumn("__l", expr("split(text, '\\n')"))
      .withColumn("__k", expr(keptE))
      .withColumn("__nl", size(col("__l")).cast("bigint"))
      .withColumn("clean_text", array_join(col("__k"), "\n"))
      .withColumn("n_lines_kept", size(col("__k")).cast("bigint"))
      .withColumn("n_lines_dropped", col("__nl") - col("n_lines_kept"))
      .withColumn("n_sentences",
        (length(col("clean_text")) -
          length(regexp_replace(col("clean_text"), "[.!?]", ""))).cast("bigint"))
      .withColumn("page_reason",
        when(col("text").contains("lorem ipsum"), lit("lorem_ipsum"))
          .when(col("text").contains("{"), lit("brace"))
          .when(col("n_sentences") < minSentences, lit("few_sentences"))
          .otherwise(lit("keep")))
      .select(col("doc_id"), col("clean_text"), col("n_lines_kept"),
        col("n_lines_dropped"), col("n_sentences"),
        (col("page_reason") === "keep").as("page_keep"), col("page_reason"))
  }

  /** Per-shard provenance / composition report — the datasheet practice
    * public training pipelines document (Gebru et al., "Datasheets for
    * Datasets", arXiv:1803.09010; Dolma's per-source accounting,
    * arXiv:2402.00159 §4): given the corpus, a curation DECISION table
    * ((doc_id, reason) — [[curationDecisions]] / [[curationDecisionsFamilies]]
    * output), and the kept set's shuffle-shard assignment
    * ([[shuffleShards]]), emit one row per (shard, source, lang, stage):
    * kept docs report under their real shard with stage 'kept'; dropped
    * docs report under the pseudo-shard -1 with their first-failing-filter
    * stage (exact_dup / contaminated / near_dup / lang / quality /
    * repetition) — so the report answers both datasheet questions at once:
    * what is IN each shard, and where did the rest GO. `shard_token_share`
    * is each row's token fraction of its shard (attrition rows share the
    * -1 pool).
    *
    * Scale shape: one corpus projection scan (token counts fused into the
    * meta projection), two corpus-keyed equi-joins (decision, shard), then
    * ONE map-side-combined hash aggregate down to the report-sized
    * (shard × source × lang × stage) frame; the per-shard total is a second
    * aggregate OF THE REPORT and broadcasts back. Nothing after the first
    * aggregate is corpus-sized. */
  def shardProvenance(docs: DataFrame, decisions: DataFrame,
                      shards: DataFrame): DataFrame =
    provenanceReport(
      provenanceMeta(docs).join(decisions.select(col("doc_id"), col("reason")), "doc_id")
        .join(shards.select(col("doc_id"), col("shard")), Seq("doc_id"), "left")
        .select(coalesce(col("shard"), lit(-1)).cast("int").as("shard"),
          col("source"), col("lang"),
          when(col("reason") === "keep", lit("kept")).otherwise(col("reason")).as("stage"),
          col("n_toks")))

  /** [[shardProvenance]] for the common case where a kept document's shard
    * is a PURE per-row function of doc_id (the [[shuffleShards]] key
    * arithmetic — every hash-sharded layout): the kept-set left join is
    * replaced by `when(keep, shardOf).otherwise(-1)` inside the decision
    * projection, deleting one corpus-keyed equi-join (its exchange at scale,
    * plus a rescan of the decision checkpoint the gate's `shards` frame was
    * derived from) — guide §2.4, remove shuffles outright. Row-for-row
    * identical to the join form: `shards` there contains exactly the kept
    * ids, so the left-join miss → -1 IS the otherwise branch. */
  def shardProvenance(docs: DataFrame, decisions: DataFrame,
                      shardOf: org.apache.spark.sql.Column): DataFrame =
    provenanceReport(
      provenanceMeta(docs).join(decisions.select(col("doc_id"), col("reason")), "doc_id")
        .select(
          when(col("reason") === "keep", shardOf).otherwise(lit(-1))
            .cast("int").as("shard"),
          col("source"), col("lang"),
          when(col("reason") === "keep", lit("kept")).otherwise(col("reason")).as("stage"),
          col("n_toks")))

  private def provenanceMeta(docs: DataFrame): DataFrame =
    withToks(docs).select(col("doc_id"), col("source"), col("lang"),
      size(col("toks")).cast("bigint").as("n_toks"))

  private def provenanceReport(lab: DataFrame): DataFrame = {
    val g = lab.groupBy("shard", "source", "lang", "stage")
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(col("n_toks")).cast("bigint").as("n_tokens"))
    val tot = g.groupBy("shard")
      .agg(sum(col("n_tokens")).cast("bigint").as("shard_tokens"))
    g.join(broadcast(tot), "shard")
      .withColumn("shard_token_share",
        when(col("shard_tokens") === 0L, lit(0.0))
          .otherwise(col("n_tokens").cast("double") / col("shard_tokens")))
      .select("shard", "source", "lang", "stage", "n_docs", "n_tokens",
        "shard_token_share")
  }

  /** Corpus vocabulary heavy hitters: the `k` most frequent terms with their
    * total and document frequencies — the vocabulary/stopword-discovery pass
    * every corpus build runs. One explode + one hash aggregate (map-side
    * partial combine makes the shuffle |vocab|-sized, not |tokens|-sized) +
    * TakeOrderedAndProject. At 100 TB this is the cheapest full-corpus
    * statistic there is; the exact form needs no sketch until |vocab|
    * itself stops fitting a reducer, at which point the same plan runs on a
    * (term-hash salted) two-phase aggregate via [[Scale.saltedAggregate]]. */
  def heavyHitterTerms(docs: DataFrame, k: Int = 50): DataFrame = {
    graft.plans.GraftFunctions.register(docs.sparkSession)
    Scale.fanOutScan(docs)
      .select(col("doc_id"), explode(expr("graft_tokens(text)")).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("tf"),
        countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("term").asc)
      .limit(k)
  }

  /** Quantile-gated quality filtering: keep documents whose quality score is
    * at or above the corpus `pct` quantile, report survivors per source.
    * The threshold is an exact interpolated percentile (bitwise-equal to
    * DuckDB quantile_cont) broadcast back over one corpus scan. */
  def qualityFilter(docs: DataFrame, pct: Double = 0.25): DataFrame = {
    val q = qualityScore(docs)
    val thr = q.agg(expr(s"percentile(quality_score, $pct)").as("thr"))
    q.join(docs.select("doc_id", "source"), "doc_id")
      .crossJoin(broadcast(thr))
      .filter(col("quality_score") >= col("thr"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs_kept"),
        min(col("quality_score")).as("min_quality_kept"),
        max(col("quality_score")).as("max_quality_kept"))
  }

  /** PER-DOMAIN quantile-normalized quality filtering: each domain keeps its
    * own top (1 − pct) by quality score, against its OWN `pct` quantile —
    * not the corpus-global cutoff of [[qualityFilter]]. The global cutoff
    * systematically starves domains whose score distribution sits
    * structurally lower (code, tables, non-prose), which is why per-source
    * curation pipelines threshold within the source (the per-subset
    * filtering discipline the public corpus reports document — e.g. Penedo
    * et al., FineWeb, arXiv:2406.17557; Soldaini et al., Dolma,
    * arXiv:2402.00159 — and the data-selection survey's quantile
    * normalization, Albalak et al., arXiv:2402.16827 §4).
    *
    * Output: one row per domain with its threshold and kept-range stats.
    * Scale: thresholds are exact interpolated percentiles (bitwise ==
    * DuckDB `quantile_cont`) — per-group agg state holds the group's
    * scores, the [[qualityFilter]] caveat; at 100 TB swap for
    * `approx_percentile` per group. The threshold table is |domains|-sized
    * and broadcasts back over one scan. */
  def qualityFilterByDomain(docs: DataFrame, pct: Double = 0.25,
                            by: String = "source"): DataFrame = {
    val q = qualityScore(docs).join(docs.select(col("doc_id"), col(by)), "doc_id")
    val thr = q.groupBy(by)
      .agg(expr(s"percentile(quality_score, $pct)").as("thr"))
    q.join(broadcast(thr), by)
      .filter(col("quality_score") >= col("thr"))
      .groupBy(by)
      .agg(
        min(col("thr")).as("domain_threshold"),
        count(lit(1)).as("n_docs_kept"),
        min(col("quality_score")).as("min_quality_kept"),
        max(col("quality_score")).as("max_quality_kept"))
  }

  /** Line-level exact dedup (the CCNet/C4 boilerplate-removal pass — Wenzek et
    * al. 2020 §3.1, Raffel et al. 2020 §2.2, both public methods): split each
    * document into newline-delimited lines, count each distinct line's document
    * frequency across the corpus, drop lines appearing in more than `maxDf`
    * documents (navigation chrome, disclaimers, cookie banners), and reassemble
    * the surviving lines in original order.
    *
    * Scale shape, two regimes switched on the measured size of the BAD-line
    * set (lines with df > maxDf — the hot boilerplate, usually a tiny
    * fraction of distinct lines). The gate is the bad set's total BYTE size
    * (`broadcastBadBytes`, default 64 MB), not its row count: boilerplate
    * lines are frequently long (cookie banners, license blocks), and 100k
    * multi-KB rows would be a multi-hundred-MB array shipped into every
    * task — row count bounds the wrong resource.
    *
    *  - broadcast regime (bad set bytes <= `broadcastBadBytes`): one posexplode +
    *    one |distinct lines|-sized hash aggregate derive the bad set, which
    *    collapses to a single broadcast row; the output is then ONE scan over
    *    the documents filtering each line array in place — no join back, no
    *    per-doc reassembly aggregate, and original line order is preserved by
    *    construction instead of by sort. The membership probe is a linear
    *    array scan per line, which is why the regime is capped.
    *  - join regime (pathological corpora with a huge bad set): the original
    *    many-to-one equi-join back (AQE splits the hot boilerplate keys; each
    *    probe row matches one build row, so there is no fan-out) plus a
    *    per-doc `collect_list` reassembly bounded by document size.
    *
    * Both regimes produce bitwise-identical output. Docs whose every line is
    * boilerplate survive with empty `clean_text`, so downstream filters see
    * them rather than silently losing rows. */
  def dedupLines(docs: DataFrame, maxDf: Int = 5,
                 broadcastBadBytes: Long = 64L << 20,
                 carry: Seq[String] = Seq.empty): DataFrame = {
    // `carry` columns ride the output untouched (provenance like source/
    // lang), so chained pipelines need no meta re-join after this stage
    val src = Scale.fanOutScan(docs)
    val lines = src
      .select(col("doc_id"), posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
      .filter(col("line") =!= "")
    // localCheckpoint, NOT persist: the returned plan still references the
    // bad set, so an in-function unpersist can never be safe, and a persist
    // is pinned by the CacheManager until one — repeated calls in a long
    // session would accumulate cached blocks (r7 ADVICE). Checkpoint blocks
    // are freed by the ContextCleaner once the plan is unreachable. LAZY:
    // the byte probe below is the first action, so the checkpoint
    // materializes inside it instead of paying a separate eager job.
    val badDf = lines.groupBy("line")
      .agg(countDistinct(col("doc_id")).as("line_df"))
      .filter(col("line_df") > maxDf)
      .localCheckpoint(false)
    val badBytes = badDf.agg(coalesce(sum(octet_length(col("line"))), lit(0L)))
      .collect()(0).getLong(0)
    if (badBytes <= broadcastBadBytes) {
      // the probe just bounded the set at broadcastBadBytes, so holding it
      // on the driver is safe — shipped as ONE literal array (the ANN
      // probe-cell pattern), so the output is a pure projection over the
      // source scan: no collect_set subquery stage, no broadcast exchange,
      // and the scan fuses straight into the consuming chain's DAG
      val badArr = badDf.select("line").collect().map(_.getString(0)).toSeq
      val bad = typedLit(badArr)
      src
        .withColumn("__ne", filter(split(col("text"), "\n"), l => l =!= ""))
        .filter(size(col("__ne")) > 0)
        .withColumn("__kept", filter(col("__ne"), l => not(array_contains(bad, l))))
        .select(col("doc_id") +: carry.map(col) :+
          size(col("__ne")).cast("bigint").as("n_lines") :+
          size(col("__kept")).cast("bigint").as("n_lines_kept") :+
          array_join(col("__kept"), "\n").as("clean_text"): _*)
    } else {
      val kept = lines.join(badDf.select("line"), Seq("line"), "left_anti")
      // totals stay the explode + aggregate shape (the CLAUDE.md hot-path
      // rule: no interpreted HOF chains over corpus-sized rows — a
      // projection-collapsed filter(split(...)) would inline the lambda per
      // consumer); carry columns join back from a slim doc projection — this
      // regime is the pathological huge-bad-set fallback, already join-bound
      val totals0 = lines.groupBy("doc_id")
        .agg(count(lit(1)).cast("bigint").as("n_lines"))
      val totals =
        if (carry.isEmpty) totals0
        else totals0
          .join(src.select(col("doc_id") +: carry.map(col): _*), "doc_id")
          .select(col("doc_id") +: carry.map(col) :+ col("n_lines"): _*)
      val reassembled = kept.groupBy("doc_id").agg(
        count(lit(1)).cast("bigint").as("n_lines_kept"),
        expr("array_join(transform(array_sort(collect_list(struct(pos, line))), s -> s.line), '\\n')")
          .as("clean_text"))
      totals.join(reassembled, Seq("doc_id"), "left")
        .select(col("doc_id") +: carry.map(col) :+ col("n_lines") :+
          coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept") :+
          coalesce(col("clean_text"), lit("")).as("clean_text"): _*)
    }
  }

  /** Unigram-LM surprisal quality signal — the corpus-frequency filtering of
    * CCNet (Wenzek et al. 2020, arXiv:1911.00359 — public method), made
    * engine-exact: a token's surprisal is the INTEGER bit width
    * floor(log2(total_tokens / token_count)) instead of -ln(p), because
    * transcendental ln is not bitwise portable across engines (measured:
    * DuckDB's ln and the JVM's Math.log disagree by 1 ULP on ~5e-5 of
    * inputs), while the integer-division + bit-length formulation is exact
    * in both. Every aggregate is then an integer sum (associative,
    * order-independent); the mean is one double division on identical
    * operands.
    *
    * Scale shape: one token-frequency aggregate (vocabulary-sized result,
    * broadcast back), one exploded-token join against it, one per-doc
    * aggregate with map-side combine — no stage holds more than the
    * vocabulary in memory, and the corpus is scanned twice. */
  def unigramSurprisal(docs: DataFrame): DataFrame = {
    val tok = withToks(docs)
      .select(col("doc_id"), explode(col("toks")).as("t"))
    val tf = tok.groupBy("t").agg(count(lit(1)).as("cnt"))
    val total = tf.agg(sum(col("cnt")).as("total"))
    tok.join(broadcast(tf), "t")
      .crossJoin(broadcast(total))
      .withColumn("bits",
        (length(conv(expr("CAST(total div cnt AS STRING)"), 10, 2)) - 1).cast("bigint"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("bigint").as("n_tokens"),
        sum(col("bits")).cast("bigint").as("sum_surprisal_bits"),
        max(col("bits")).cast("bigint").as("max_surprisal_bits"))
      .withColumn("mean_surprisal_bits",
        col("sum_surprisal_bits").cast("double") / col("n_tokens"))
  }

  /** DSIR-style importance resampling scores (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling", arXiv:2302.03169 — public
    * method): featurize every document as hashed n-gram (unigram + bigram)
    * bucket counts, fit bag-of-buckets unigram models on a small "target"
    * (high-quality) slice and on the raw pool, and score each document by its
    * estimated log-likelihood ratio under the two models — documents that look
    * like the target distribution score high and get `selected` for training.
    *
    * Engine-exactness: the per-bucket log ratio uses INTEGER floor-log2 bit
    * widths (`floor(log2(p_b+1)) - floor(log2(p_tot+B)) - floor(log2(q_b+1)) +
    * floor(log2(q_tot+B))`, add-1/add-B smoothing) instead of transcendental
    * `ln` — the same formulation as [[unigramSurprisal]], exact and identical
    * in both engines, and free of the BIGINT overflow a cross-multiplied
    * `log2(p_b * q_tot)` would hit at corpus scale. The difference form never
    * multiplies counts.
    *
    * Scale shape: the feature explode is token-count sized and immediately
    * hash-aggregated per (doc, bucket) with map-side combine; both language
    * models and the log-ratio table are at most `buckets` rows — a broadcast,
    * never a shuffle; scoring is one broadcast join + one per-doc hash agg.
    * The selection threshold is an exact percentile here (one single-node agg
    * buffer of per-doc scores) — at 100 TB swap for `approx_percentile`, the
    * same caveat as [[qualityFilter]].
    *
    * `isTarget` must be a deterministic predicate on the input columns (a
    * provenance flag, a quality gate, or a hash split) — never a random
    * sample, or the scores stop being reproducible. */
  def dsirScores(docs: DataFrame, isTarget: org.apache.spark.sql.Column,
                 buckets: Int = 512, keepPct: Double = 0.75): DataFrame = {
    def bw(e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      length(conv(e.cast("string"), 10, 2)).cast("int") - 1
    val base = withToks(docs).select(col("doc_id"), col("toks"), isTarget.as("is_target"))
    val feats = base.select(col("doc_id"), col("is_target"),
        explode(expr(s"concat(toks, ${Portable.shinglesSpark("toks", 2)})")).as("f"))
      .withColumn("b", pmod(expr("graft_phash(f)"), lit(buckets)))
    // lazy localCheckpoint (not persist): materialized once on first action,
    // shared by both downstream branches, and freed by the ContextCleaner
    // when unreachable — a persist here leaks one cache pin per call
    // (measured NEGATIVE, do not retry: folding these per-doc bucket counts
    // into a native per-row map projection ran 1.6 -> 2.0 s on the gate —
    // the codegen'd explode + map-side-combined hash aggregate beats an
    // interpreted per-row fold; same lesson as the literal-array ADC gather)
    val docBucket = feats.groupBy("doc_id", "is_target", "b")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    // both models in ONE bucket aggregate (a FILTER-style conditional sum):
    // same result set as separate target/raw aggs full-outer-joined on b,
    // with one shuffle instead of two plus a join
    val counts = docBucket.groupBy("b").agg(
      sum(when(col("is_target"), col("c")).otherwise(0L)).cast("bigint").as("p_cnt"),
      sum(when(!col("is_target"), col("c")).otherwise(0L)).cast("bigint").as("q_cnt"))
    val tots = counts.agg(
      sum(col("p_cnt")).cast("bigint").as("p_tot"),
      sum(col("q_cnt")).cast("bigint").as("q_tot"))
    val llr = counts.crossJoin(broadcast(tots))
      .select(col("b"),
        (bw(col("p_cnt") + 1) - bw(col("p_tot") + buckets)
          - bw(col("q_cnt") + 1) + bw(col("q_tot") + buckets)).as("llr"))
    val scored = docBucket.join(broadcast(llr), "b")
      .groupBy("doc_id")
      .agg(
        sum(col("c")).cast("bigint").as("n_feats"),
        sum(col("c") * col("llr")).cast("bigint").as("dsir_score"))
    val thr = scored.agg(expr(s"percentile(dsir_score, $keepPct)").as("thr"))
    scored.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("n_feats"), col("dsir_score"),
        (col("dsir_score").cast("double") >= col("thr")).as("selected"))
  }

  /** The full curation pipeline COMPOSED end to end — the shape every corpus
    * build actually runs (the reference's own lifecycle is a strict ordered
    * chain, tools/cleaning.py:3-14): line-level boilerplate dedup, then exact
    * substring excision, then DSIR importance selection, then the
    * first-failing-filter curation decision (family dedup + in-chain
    * eval-set decontamination — `decontamPctTrain` holds out a deterministic
    * split-bucket slice and drops train docs with verified cross-split
    * near-dups as 'contaminated'; 100 disables), then per-source
    * token-budget sampling, then sequence packing, then deterministic
    * shuffle sharding.
    * Each stage re-reads the PREVIOUS stage's cleaned text, so column-contract
    * drift between stages (the classic composition bug the standalone gates
    * cannot see) breaks this gate immediately.
    *
    * Output: one row per fully-surviving document with its post-cleaning
    * token count, budget position, pack assignment, and final shard/position —
    * integer/string columns only, every one oracle-comparable.
    *
    * Scale shape: the composition adds nothing beyond its stages — each is
    * individually scale-proven; the two text-rewriting intermediates (post-
    * excision, post-curation) are lazily localCheckpointed because 4+
    * downstream consumers would otherwise re-run the whole upstream chain
    * per reference (a cluster job would land them to storage between stages
    * for the same reason). */
  def curationPipeline(docs: DataFrame,
                       targetSources: Seq[String],
                       lineMaxDf: Int = 5, substrWindow: Int = 8,
                       dsirBuckets: Int = 512, dsirKeepPct: Double = 0.75,
                       targetLangs: Seq[String] = Seq("en"),
                       minQuality: Double = 2.0,
                       budgetPerSource: Long = 1000L,
                       packBudget: Int = 2048, packShards: Int = 16,
                       nShards: Int = 16,
                       nearN: Int = 3, nearTau: Double = 0.5,
                       nearBands: Int = 42, nearRowsPerBand: Int = 3,
                       decontamPctTrain: Int = 90): DataFrame = {
    // 0. right-size a tiny corpus so the chain's ~70 stages schedule a few
    //    full tasks instead of defaultParallelism slivers each; at real
    //    corpus sizes this is a no-op (see Scale.rightSizeForChain)
    val docs0 = Scale.rightSizeForChain(docs)
    // 1. line-level boilerplate dedup -> text v1; (source, lang) CARRY
    //    through both text-rewriting stages, so the chain pays no per-stage
    //    meta re-join (two corpus-sized joins in the pre-r12 shape)
    //    d1 stays UNcheckpointed although excision scans it twice (window
    //    hashing + the excise join back): A/B'd r13, the text-only
    //    checkpoint write+read LOST to recomputing the line-filter chain
    //    (min-of-6 probe 6.5 -> 6.8 s) — the projection is cheaper than the
    //    materialization at any scale where the corpus rewrite is I/O-bound
    val d1 = TextOps.dedupLines(docs0, lineMaxDf, carry = Seq("source", "lang"))
      .select(col("doc_id"), col("source"), col("lang"), col("clean_text").as("text"))
    // 2. exact substring excision -> text v2 (checkpoint: 5 downstream
    //    scans). Deliberately WITHOUT a materialized toks column: carrying
    //    the token arrays through both checkpoints was measured ~10% slower
    //    than re-running the codegen'd tokenizer per consuming stage — the
    //    checkpoint write/read of corpus-sized arrays costs more than the
    //    projection it saves (withToks still passes a toks-carrying frame
    //    through untouched, for callers whose economics differ).
    val d2 = Dedup.exactSubstrExcise(d1, substrWindow, carry = Seq("source", "lang"))
      .select(col("doc_id"), col("source"), col("lang"), col("clean_text").as("text"))
      .localCheckpoint(false)
    // 3. DSIR importance selection on the cleaned text (token-less docs have
    //    no features, hence no score row — they fall out here by construction)
    val sel = dsirScores(d2, col("source").isin(targetSources: _*),
        dsirBuckets, dsirKeepPct)
      .filter(col("selected")).select("doc_id")
    // checkpoint: the family decision scans d3 FOUR ways (md5 keys, minhash
    // signatures, lang/quality projection, repetition) and the survivor join
    // makes five — uncheckpointed, each re-runs the DSIR selection join
    // (measured 4.1 -> 21.3 s on the e2e gate when stage 4 went family-level)
    val d3 = d2.join(sel, "doc_id").localCheckpoint(false)
    // 4. first-failing-filter curation decision, at the FAMILY level: the
    //    dedupSurvivorsBy quality-keeper families fold near-duplicates into
    //    the attribution, so a near-copy that slipped past exact dedup drops
    //    here as 'near_dup' instead of surviving to the budget stage — and
    //    (r15) eval-set DECONTAMINATION runs inside the same stage: train
    //    docs with a verified near-dup across the deterministic holdout
    //    boundary drop as 'contaminated' (the GPT-3 appendix-C step every
    //    public pipeline runs in-chain), re-reading the family stage's own
    //    persisted pair table so the chain pays no second band/verify pass
    val keep = curationDecisionsFamilies(d3, targetLangs, minQuality, nearN, nearTau,
        nearBands, nearRowsPerBand, decontamPctTrain)
      .filter(col("keep")).select("doc_id")
    // n_tokens rides the checkpoint as ONE long per row (NOT the token
    // arrays — the measured CLAUDE.md negative), so the budget and packing
    // stages' withNTokens passthrough skips two more corpus tokenizations.
    // The checkpoint is NARROW — text is dropped before the write: no
    // downstream consumer (budget, packing, shuffle shards, the final
    // joins) ever reads text again, so checkpointing it would write the
    // whole surviving corpus once more for nothing.
    val d4 = d3.join(keep, "doc_id")
      .withColumn("n_tokens", size(expr("graft_tokens(text)")).cast("bigint"))
      .select("doc_id", "source", "lang", "n_tokens")
      .localCheckpoint(false)
    // 5. per-source token-budget sampling. tb has THREE consumers (both d5
    //    scans + the final cum_tokens join) and d5 has TWO (packing,
    //    shuffle-shards) — uncheckpointed, the bucket-prefix-sum chain would
    //    re-execute per reference (the CLAUDE.md gained-a-consumer rule).
    //    d5 drops `text` first: the packing/shard stages consume only
    //    (doc_id, source, lang, n_tokens), so the checkpoint writes narrow
    //    rows, not the selected corpus — cheap even at 100 TB.
    val tb = tokenBudgetSample(d4, budgetPerSource).localCheckpoint(false)
    val d5 = d4.join(tb.select("doc_id"), "doc_id")
      .localCheckpoint(false)
    // 6. sequence packing + 7. deterministic shuffle shards, both over the
    //    final surviving set
    val pk = packSequences(d5, packBudget, packShards)
    val sh = shuffleShards(d5, nShards)
    pk.select(col("doc_id"), col("lang"), col("n_tokens"),
        col("shard").as("pack_shard"), col("tok_offset"),
        col("first_pack"), col("last_pack"))
      .join(tb.select("doc_id", "source", "cum_tokens"), "doc_id")
      .join(sh, "doc_id")
      .select(col("doc_id"), col("source"), col("lang"), col("n_tokens"),
        col("cum_tokens"), col("pack_shard"), col("tok_offset"),
        col("first_pack"), col("last_pack"), col("shard"), col("pos_in_shard"))
  }

  /** Distributed BPE vocabulary training (Sennrich et al., "Neural Machine
    * Translation of Rare Words with Subword Units", arXiv 1508.07909 §3.2 —
    * the public byte-pair-encoding merge-learning algorithm): learn `nMerges`
    * subword merges from the corpus, returning the merge table (rank, left,
    * right, merged, pair_freq) — the artifact a tokenizer ships.
    *
    * Shape per iteration: (1) explode adjacent symbol pairs of the WORD
    * TABLE weighted by word frequency → one hash aggregate → the pair-count
    * table; (2) take the argmax pair (count desc, then lexicographic — a
    * DETERMINISTIC tie-break, so training is reproducible run-to-run and
    * cluster-to-cluster); (3) rewrite each word's symbol array with a
    * single greedy left-to-right non-overlapping replacement of that pair.
    *
    * Scale shape: everything after the first token count runs on the
    * DISTINCT-WORD table (vocabulary-sized, millions of rows at 100 TB —
    * not corpus-sized; frequencies carry the weight), so the per-iteration
    * cost is a vocab-scan + one shuffle of distinct pairs. The argmax is a
    * 1-row TakeOrdered collected to the driver to become a literal in the
    * next plan — the same bounded-probe pattern as the ANN index serve
    * (probe cells) — and each round localCheckpoints the small word table to
    * truncate the `nMerges`-deep lineage. The pair rewrite is an interpreted
    * HOF fold, deliberately: it runs on the vocab table only, never on the
    * corpus (the CLAUDE.md hot-path rule), and word arrays are short.
    * Training stops early if fewer distinct pairs remain than merges asked.
    *
    * Returns (merge table, trained word table (word, freq, syms)) — the
    * second is the corpus segmentation [[bpeSegment]] joins against. */
  def bpeTrain(docs: DataFrame, nMerges: Int): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(nMerges > 0 && nMerges <= 10000, "nMerges must be in [1, 10000]")
    def esc(s: String) = s.replace("\\", "\\\\").replace("'", "\\'")
    // the only corpus-sized pass: word frequencies
    var vocab = withToks(docs)
      .select(explode(col("toks")).as("word"))
      .groupBy("word").agg(count(lit(1)).cast("bigint").as("freq"))
      .withColumn("syms", expr(
        "transform(sequence(1, length(word)), i -> substr(word, i, 1))"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var rank = 1L
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      val best = vocab
        .select(col("freq"), explode(expr(
          "CASE WHEN size(syms) >= 2 THEN transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b)) " +
            "ELSE array() END")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).cast("bigint").as("pair_freq"))
        .orderBy(col("pair_freq").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, f) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        val ab = a + b
        merges += ((rank, a, b, ab, f))
        val (ea, eb, eab) = (esc(a), esc(b), esc(ab))
        // greedy left-to-right non-overlapping single-pair replacement: the
        // freshly merged symbol is emitted, not re-held as pending, so it
        // cannot chain within the same iteration (Sennrich semantics)
        vocab = vocab.withColumn("syms", expr(
          s"""aggregate(syms,
             |  named_struct('out', cast(array() as array<string>), 'pend', cast(null as string)),
             |  (s, x) -> CASE
             |    WHEN s.pend IS NULL THEN named_struct('out', s.out, 'pend', x)
             |    WHEN s.pend = '$ea' AND x = '$eb'
             |      THEN named_struct('out', concat(s.out, array('$eab')), 'pend', cast(null as string))
             |    ELSE named_struct('out', concat(s.out, array(s.pend)), 'pend', x) END,
             |  s -> CASE WHEN s.pend IS NULL THEN s.out
             |       ELSE concat(s.out, array(s.pend)) END)""".stripMargin))
          .localCheckpoint(true)
        rank += 1
      }
    }
    (merges.toSeq.toDF("rank", "left", "right", "merged", "pair_freq"), vocab)
  }

  /** Segment the corpus with a trained BPE vocabulary: re-runs [[bpeTrain]]'s
    * word-table construction, replays nothing — the trained word table IS the
    * segmentation (every in-corpus token appears in it), so application is
    * one equi-join of the exploded corpus tokens against the vocab-sized
    * table. Out-of-vocabulary words (when segmenting a DIFFERENT corpus than
    * the one trained on) fall back to character symbols — the same behavior
    * an on-line BPE encoder has before any merge applies. Returns per-doc
    * subword statistics. */
  def bpeSegment(docs: DataFrame, trained: DataFrame): DataFrame = {
    val tok = withToks(docs).select(col("doc_id"), explode(col("toks")).as("word"))
    tok.join(trained.select(col("word"), col("syms")), Seq("word"), "left")
      .withColumn("syms", coalesce(col("syms"),
        expr("transform(sequence(1, length(word)), i -> substr(word, i, 1))")))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("bigint").as("n_tokens"),
        sum(size(col("syms"))).cast("bigint").as("n_subwords"),
        max(size(col("syms"))).cast("bigint").as("max_subwords_per_token"))
      .withColumn("subwords_per_token",
        col("n_subwords").cast("double") / col("n_tokens"))
  }

  /** Segment a corpus given a FROZEN BPE merge list — the general
    * application path ([[bpeSegment]] replays the training word table and so
    * only covers the training corpus; this applies the merge rules to ANY
    * corpus, OOV words included, exactly like an on-line BPE encoder with a
    * shipped merges.txt). Semantics per word: wrap every character in
    * sentinel delimiters (U+001E sym U+001F — never in text), then for each
    * merge (a, b) in rank order run ONE greedy left-to-right non-overlapping
    * replace of the adjacent pair — the same single-pass-per-rank rule
    * [[bpeTrain]] uses within an iteration (Sennrich semantics; a freshly
    * merged symbol cannot chain within its own rank, only at later ranks).
    * Plain string `replace` implements that scan identically in both
    * engines, which is what makes the operator ORACLE-GATED: the DuckDB twin
    * replays the identical replace chain (gate `text_bpe_segment`).
    *
    * Scale shape: the replace fold runs over the DISTINCT-WORD table
    * (vocab-sized, like the unigram LM), which then broadcast-joins back to
    * the exploded token stream — the corpus pays one tokenize + one
    * broadcast join, never the per-rank fold. */
  def bpeSegmentMerges(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val S = "\u001E"; val E = "\u001F" // RS/US sentinels, never in text
    val tok = withToks(docs).select(col("doc_id"), explode(col("toks")).as("word"))
    val wrapped = regexp_replace(col("word"), "(.)", s"$S$$1$E")
    val enc = merges.foldLeft(wrapped) { case (e, (a, b)) =>
      replace(e, lit(s"$S$a$E$S$b$E"), lit(s"$S$a$b$E"))
    }
    val segWords = tok.select("word").distinct()
      .select(col("word"),
        (length(enc) - length(replace(enc, lit(S), lit("")))).cast("bigint").as("n_sub"))
    tok.join(broadcast(segWords), Seq("word"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("bigint").as("n_tokens"),
        sum(col("n_sub")).cast("bigint").as("n_subwords"),
        max(col("n_sub")).cast("bigint").as("max_subwords_per_token"))
      .withColumn("subwords_per_token",
        col("n_subwords").cast("double") / col("n_tokens"))
  }

  /** WordPiece greedy longest-match-first segmentation stats against a
    * FROZEN vocabulary — the other major subword inference algorithm next
    * to [[bpeSegmentMerges]]' merge replay (Devlin et al., BERT,
    * arXiv:1810.04805 §4.3's tokenizer; the greedy maximal-munch algorithm
    * as published in Song et al., "Fast WordPiece Tokenization",
    * arXiv:2012.15524 §2). Per word, repeatedly take the LONGEST vocab
    * piece matching at the cursor; a word with an unmatchable position
    * becomes one [UNK] (BERT's whole-word fallback). Distinct from BPE by
    * construction: BPE replays merge RANKS, munch takes longest pieces —
    * the two disagree whenever a long piece spans a low-rank merge
    * boundary.
    *
    * Engine-exactness: the munch is a single integer-packed fold
    * ([[Portable.wordpieceStateSpark]]/-Duck — same arithmetic, two
    * dialects), so the gate hash-checks. Scale shape: the fold runs on the
    * DISTINCT-WORD table only (vocabulary-sized — the [[bpeTrain]] rule for
    * interpreted HOFs), then broadcast-joins back to the exploded token
    * stream; the corpus pays one scan + one map-side-combined per-doc
    * aggregate. */
  def wordpieceSegment(docs: DataFrame, vocab: Seq[String]): DataFrame = {
    require(vocab.nonEmpty && vocab.forall(_.nonEmpty), "vocab pieces must be non-empty")
    val tok = withToks(docs).select(col("doc_id"), explode(col("toks")).as("word"))
    val segWords = tok.select("word").distinct()
      .withColumn("__st", expr(Portable.wordpieceStateSpark("word", vocab)))
      .select(col("word"),
        expr(Portable.wordpiecePiecesSpark("__st")).as("n_pieces"),
        expr(Portable.wordpieceUnkSpark("__st")).as("is_unk"))
    tok.join(broadcast(segWords), Seq("word"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("bigint").as("n_tokens"),
        sum(col("n_pieces")).cast("bigint").as("n_pieces"),
        sum(col("is_unk")).cast("bigint").as("n_unk_tokens"),
        max(col("n_pieces")).cast("bigint").as("max_pieces_per_token"))
      .withColumn("pieces_per_token",
        col("n_pieces").cast("double") / col("n_tokens"))
  }

  /** Unigram-LM Viterbi segmentation stats against a FROZEN weighted
    * vocabulary — the third major subword family next to [[bpeSegmentMerges]]
    * (merge replay) and [[wordpieceSegment]] (greedy maximal munch): Kudo,
    * "Subword Regularization" (arXiv:1804.10959 §3), the SentencePiece
    * inference algorithm. Per word, the lattice Viterbi picks the GLOBALLY
    * cheapest piece path under integer fixed-point piece costs (a scaled
    * -log p, transcendental-free — the surprisal scorers' formulation), with
    * piece count as tie-break; a word no piece path covers becomes one
    * [UNK]. Distinct from munch by construction: greedy commits to the
    * longest piece at each cursor and can strand the suffix (or pay a dear
    * long piece), while Viterbi minimizes the whole word — the two disagree
    * exactly where subword quality matters (TextOpsSpec pins a word munch
    * UNKs but Viterbi segments).
    *
    * Engine-exactness: the DP is the integer-packed array fold
    * [[Portable.unigramStateSpark]]/-Duck — same arithmetic, two dialects —
    * so the gate hash-checks. Scale shape: identical to [[wordpieceSegment]]
    * — the fold runs on the DISTINCT-WORD table only (vocabulary-sized, the
    * [[bpeTrain]] rule for interpreted HOFs), broadcast-joins back to the
    * exploded token stream, and the corpus pays one scan + one
    * map-side-combined per-doc aggregate. */
  def unigramSegment(docs: DataFrame, vocab: Seq[(String, Long)]): DataFrame = {
    require(vocab.nonEmpty && vocab.forall(_._1.nonEmpty),
      "vocab pieces must be non-empty")
    require(vocab.forall(p => p._2 >= 0L && p._2 <= 1000000L),
      "piece costs must be integer fixed-point in [0, 10^6] (the packing contract)")
    val tok = withToks(docs).select(col("doc_id"), explode(col("toks")).as("word"))
    val segWords = tok.select("word").distinct()
      .withColumn("__st", expr(Portable.unigramStateSpark("word", vocab)))
      .select(col("word"),
        expr(Portable.unigramPiecesSpark("__st")).as("n_pieces"),
        expr(Portable.unigramCostSpark("__st")).as("cost"),
        expr(Portable.unigramUnkSpark("__st")).as("is_unk"))
    tok.join(broadcast(segWords), Seq("word"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("bigint").as("n_tokens"),
        sum(col("n_pieces")).cast("bigint").as("n_pieces"),
        sum(col("is_unk")).cast("bigint").as("n_unk_tokens"),
        sum(col("cost")).cast("bigint").as("total_cost"),
        max(col("n_pieces")).cast("bigint").as("max_pieces_per_token"))
      .withColumn("pieces_per_token",
        col("n_pieces").cast("double") / col("n_tokens"))
  }

  /** The driver-side mirror of the packed Viterbi DP, with backtrace: the
    * piece-index path of the cheapest segmentation, None when unreachable.
    * Same packed objective (`cost * 10^4 + pieces`, integer MIN) as
    * [[Portable.unigramStateSpark]], ties between piece paths of equal
    * packed value resolved to the lowest piece index — deterministic, so
    * training counts are reproducible run-to-run. */
  private[operators] def unigramViterbiPath(word: String,
      vocab: Array[(String, Long)]): Option[Seq[Int]] = {
    val n = word.length
    val UN = Long.MaxValue
    val best = Array.fill(n + 1)(UN); best(0) = 0L
    val back = Array.fill(n + 1)(-1)
    var j = 1
    while (j <= n) {
      var k = 0
      while (k < vocab.length) {
        val p = vocab(k)._1; val len = p.length
        if (len <= j && best(j - len) != UN &&
            word.regionMatches(j - len, p, 0, len)) {
          val cand = best(j - len) + vocab(k)._2 * 10000L + 1L
          if (cand < best(j)) { best(j) = cand; back(j) = k }
        }
        k += 1
      }
      j += 1
    }
    if (best(n) == UN) None
    else {
      var pos = n
      var path = List.empty[Int]
      while (pos > 0) { path = back(pos) :: path; pos -= vocab(back(pos))._1.length }
      Some(path)
    }
  }

  /** Unigram-LM vocabulary TRAINING — the hard-EM (Viterbi-count) variant of
    * Kudo's EM + pruning loop (arXiv:1804.10959 §3.2; SentencePiece's
    * trainer seeds a large candidate set and alternates
    * fit-then-prune-worst until the target size — hard EM replaces the
    * forward-backward expectation with the Viterbi path's counts, the
    * standard simplification). Returns the shipped artifact: the frozen
    * (piece, cost) vocabulary [[unigramSegment]] applies, costs the integer
    * bit width floor(log2(total_usage / piece_usage)) — the same
    * transcendental-free fixed point the surprisal gates proved bitwise.
    *
    * Algorithm: (1) ONE corpus pass builds the frequency-weighted
    * DISTINCT-WORD table; (2) seed = the `4 x vocabSize` highest-weight
    * substrings up to `maxPieceLen` chars (counted on the word table,
    * weights = word frequencies) plus every single character (coverage: no
    * trained vocab may UNK its own training corpus); (3) each round derives
    * integer costs from current usage, Viterbi-resegments the WORD TABLE
    * (the per-word DP runs inside a flatMap over vocab-sized data — the
    * [[bpeTrain]] distinct-word rule; the vocab itself is a broadcast
    * driver literal, bounded at 10^4 entries), re-counts piece usage, and
    * prunes to 3/4 of the previous size (never below `vocabSize`, single
    * chars never pruned); (4) the final vocab is the top `vocabSize` pieces
    * by (usage desc, piece asc) with single chars force-included, costs
    * from the final counts.
    *
    * Iterative argmax-style training is spec-gated, not SQL-expressible —
    * the [[bpeTrain]] class; INFERENCE against the result is the
    * oracle-gated [[unigramSegment]]. */
  def unigramTrain(docs: DataFrame, vocabSize: Int, rounds: Int = 3,
                   maxPieceLen: Int = 6): Seq[(String, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(vocabSize >= 1 && vocabSize <= 10000, "vocabSize must be in [1, 10000]")
    require(rounds >= 1 && rounds <= 50, "rounds must be in [1, 50]")
    require(maxPieceLen >= 1 && maxPieceLen <= 32, "maxPieceLen must be in [1, 32]")
    // the only corpus-sized pass: word frequencies
    val words = withToks(docs)
      .select(explode(col("toks")).as("word"))
      .groupBy("word").agg(count(lit(1)).cast("bigint").as("freq"))
      .as[(String, Long)]
      .localCheckpoint(true)
    val maxL = maxPieceLen
    // seed candidates: substring weights on the word table (vocab-sized)
    val subWeights = words.flatMap { case (w, f) =>
      for {
        i <- 0 until w.length
        l <- 1 to math.min(maxL, w.length - i)
      } yield (w.substring(i, i + l), f)
    }.toDF("piece", "w").groupBy("piece").agg(sum(col("w")).cast("bigint").as("usage"))
    val seedTop = subWeights.filter(length(col("piece")) > 1)
      .orderBy(col("usage").desc, col("piece")).limit(4 * vocabSize)
    val singles = subWeights.filter(length(col("piece")) === 1)
    var vocab: Array[(String, Long)] = seedTop.unionByName(singles)
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (p, u) => (-u, p) }
    val singleSet = vocab.collect { case (p, _) if p.length == 1 => p }.toSet
    def costsOf(v: Array[(String, Long)]): Array[(String, Long)] = {
      val total = v.map(_._2).sum
      v.map { case (p, u) =>
        (p, (63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, total / math.max(1L, u)))).toLong)
      }
    }
    var target = vocab.length
    for (_ <- 1 to rounds) {
      val withCosts = costsOf(vocab)
      val bc = spark.sparkContext.broadcast(withCosts)
      // hard E-step: Viterbi piece counts over the word table
      val usage = words.flatMap { case (w, f) =>
        unigramViterbiPath(w, bc.value).toSeq.flatten.map(k => (k, f))
      }.toDF("k", "f").groupBy("k").agg(sum(col("f")).cast("bigint").as("u"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      bc.destroy()
      // M-step: prune to 3/4 (never below vocabSize); single chars stay with
      // a usage floor of 1 so their costs remain finite
      target = math.max(vocabSize, (target * 3) / 4)
      val counted = withCosts.zipWithIndex.map { case ((p, _), k) =>
        (p, usage.getOrElse(k, 0L))
      }
      val kept = counted.filter { case (p, u) => u > 0 || singleSet(p) }
        .map { case (p, u) => (p, if (u == 0L && singleSet(p)) 1L else u) }
        .sortBy { case (p, u) => (-u, p) }
      val (forced, rest) = kept.partition { case (p, _) => singleSet(p) }
      vocab = (forced ++ rest.take(math.max(0, target - forced.length)))
        .sortBy { case (p, u) => (-u, p) }
    }
    val (forced, rest) = vocab.partition { case (p, _) => singleSet(p) }
    val fin = (forced ++ rest.take(math.max(0, vocabSize - forced.length)))
      .sortBy { case (p, u) => (-u, p) }
    costsOf(fin).toSeq
  }

  /** Bigram-LM conditional surprisal per document (the CCNet/KenLM-style
    * perplexity filter one model order up from [[unigramSurprisal]]: Wenzek et
    * al., "CCNet", arXiv 1911.00359 uses LM perplexity as its quality axis —
    * public method). The LM is the corpus itself: p(w2 | w1) = c(w1 w2) /
    * c_ctx(w1), where c_ctx sums bigram counts by first token, and per-bigram
    * surprisal is the INTEGER bit width floor(log2(c_ctx / c(w1 w2))) — the
    * same transcendental-free formulation the unigram gate proved bitwise
    * across engines. Repetitive/boilerplate text scores near 0 bits;
    * incoherent token soup scores high — thresholding mean bits is the
    * filter.
    *
    * Scale shape: unlike the unigram LM (vocab-sized, broadcast), the bigram
    * table is DISTINCT-BIGRAM-sized — far too big to broadcast at corpus
    * scale — so scoring joins the exploded bigram stream against it with a
    * plain shuffle equi-join on the bigram key (both sides hash-partition;
    * AQE handles the head of the Zipf curve via skew split). The context
    * table IS vocab-sized (it is a group-by of the bigram table on the first
    * token) and broadcasts. One explode, two hash aggregates, one shuffle
    * join, one broadcast join, one per-doc aggregate — corpus scanned once,
    * token stream shuffled once. Documents with fewer than two tokens have
    * no bigrams and produce no row, in both engines by construction. */
  def bigramSurprisal(docs: DataFrame): DataFrame = {
    val bg = withToks(docs)
      .select(col("doc_id"), explode(expr(Portable.shinglesSpark("toks", 2))).as("bg"))
    val bf = bg.groupBy("bg").agg(count(lit(1)).cast("bigint").as("cnt"))
    val ctx = bf
      .withColumn("w1", expr("element_at(split(bg, ' '), 1)"))
      .groupBy("w1").agg(sum(col("cnt")).cast("bigint").as("ctx_cnt"))
    bg.join(bf, "bg")
      .withColumn("w1", expr("element_at(split(bg, ' '), 1)"))
      .join(broadcast(ctx), "w1")
      .withColumn("bits",
        (length(conv(expr("CAST(ctx_cnt div cnt AS STRING)"), 10, 2)) - 1).cast("bigint"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("bigint").as("n_bigrams"),
        sum(col("bits")).cast("bigint").as("sum_surprisal_bits"),
        max(col("bits")).cast("bigint").as("max_surprisal_bits"))
      .withColumn("mean_surprisal_bits",
        col("sum_surprisal_bits").cast("double") / col("n_bigrams"))
  }

  /** Trigram-LM conditional surprisal — [[bigramSurprisal]] promoted one
    * order, to the n-gram depth common practice actually filters at (CCNet's
    * KenLM scorer is order-5; order-3 is the first rank where local syntax —
    * not just word adjacency — shows up in the score): p(w3 | w1 w2) =
    * c(w1 w2 w3) / c_ctx(w1 w2), per-trigram surprisal the same INTEGER bit
    * width floor(log2(c_ctx / c)) formulation proven bitwise across engines.
    *
    * Scale shape: one order deeper changes which side can broadcast — the
    * CONTEXT table is now distinct-bigram-sized (it was vocab-sized for the
    * bigram LM), far too big to broadcast at corpus scale, so BOTH the
    * frequency join and the context join are plain shuffle equi-joins on
    * their gram keys (AQE splits the Zipf head). One explode, two hash
    * aggregates, two shuffle joins, one per-doc aggregate — corpus scanned
    * once. Documents with fewer than three tokens produce no row, in both
    * engines by shingle construction. */
  def trigramSurprisal(docs: DataFrame): DataFrame = {
    val tg = withToks(docs)
      .select(col("doc_id"), explode(expr(Portable.shinglesSpark("toks", 3))).as("tg"))
    val tf = tg.groupBy("tg").agg(count(lit(1)).cast("bigint").as("cnt"))
    val ctx = tf
      .withColumn("c2", expr("concat_ws(' ', slice(split(tg, ' '), 1, 2))"))
      .groupBy("c2").agg(sum(col("cnt")).cast("bigint").as("ctx_cnt"))
    tg.join(tf, "tg")
      .withColumn("c2", expr("concat_ws(' ', slice(split(tg, ' '), 1, 2))"))
      .join(ctx, "c2")
      .withColumn("bits",
        (length(conv(expr("CAST(ctx_cnt div cnt AS STRING)"), 10, 2)) - 1).cast("bigint"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("bigint").as("n_trigrams"),
        sum(col("bits")).cast("bigint").as("sum_surprisal_bits"),
        max(col("bits")).cast("bigint").as("max_surprisal_bits"))
      .withColumn("mean_surprisal_bits",
        col("sum_surprisal_bits").cast("double") / col("n_trigrams"))
  }

  /** Overlapping token-window chunking — the context-window slicer every
    * RAG/embedding/training-data pipeline runs between cleaning and encoding:
    * each document becomes ceil-covering windows of `chunkSize` tokens
    * advancing by `stride` (overlap = chunkSize - stride), with stable
    * 0-based chunk ids and 1-based token offsets so a chunk can always be
    * traced back to its source span. The last window is the only short one;
    * a document shorter than one window is a single chunk; empty documents
    * produce none.
    *
    * Scale shape: pure per-row work — one projection computing the chunk
    * count arithmetic, one posexplode over a `sequence` of that length, one
    * `slice` per chunk. No shuffle, no window function, no state; chunk
    * output size is input tokens x (chunkSize/stride) and streams through
    * whole-stage codegen. */
  def chunkWindows(docs: DataFrame, chunkSize: Int = 64, stride: Int = 48): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize, got chunkSize=$chunkSize stride=$stride")
    withToks(docs)
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("bigint").as("n"))
      .filter(col("n") > 0)
      .withColumn("n_chunks",
        when(col("n") <= chunkSize, lit(1L))
          .otherwise(expr(s"1 + ((n - $chunkSize + ${stride - 1}) div $stride)")))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(expr("sequence(0, n_chunks - 1)")).as("chunk_idx"))
      .select(
        col("doc_id"),
        col("chunk_idx").cast("bigint").as("chunk_idx"),
        (col("chunk_idx") * stride + 1).cast("bigint").as("tok_start"),
        least(lit(chunkSize.toLong), col("n") - col("chunk_idx") * stride)
          .cast("bigint").as("n_chunk_toks"),
        expr(s"concat_ws(' ', slice(toks, cast(chunk_idx * $stride + 1 as int), $chunkSize))")
          .as("chunk_text"))
  }

  /** Temperature-scaled domain sampling (the multilingual-corpus rebalancing
    * rule — p_d proportional to c_d^alpha with alpha = 1/2, as in public
    * multilingual-pretraining recipes, e.g. Conneau & Lample, arXiv
    * 1901.07291 §3.1): per-domain quotas quota_d = floor(N * w_d / sum(w)),
    * w_d = isqrt(c_d), computed with EXACT integer arithmetic
    * ([[Portable.isqrtSpark]] — floating sqrt re-anchored by two integer
    * comparisons), then the first quota_d documents of each domain in a
    * deterministic salted-hash order. Down-weights head domains, up-weights
    * tail domains, fully reproducible — no RNG anywhere.
    *
    * Scale shape: the quota table is |domains|-sized (a broadcast). The
    * per-domain rank would naively be one row_number window per domain = one
    * reducer per 100 TB domain; instead the rank is TWO-PHASE like
    * [[tokenBudgetSample]]: documents bucket by a salted hash ([0, 10000)),
    * per-(domain, bucket) counts roll up map-side, a tiny window over bucket
    * rows yields each bucket's exclusive prefix, and row_number runs only
    * WITHIN a bucket (1/10000th of a domain per window partition). The
    * resulting rank equals row_number over (bucket, key, doc_id) — exactly
    * the order the oracle states in one window. */
  /** Multiplicative-weights domain-mixture learning — the reweighting step a
    * DoReMi-style pipeline runs between proxy evaluation and sampling (Xie
    * et al. 2023, "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    * Pretraining", arXiv:2305.10429 §3, with the update rule in its public
    * textbook form: Arora, Hazan, Kale, "The Multiplicative Weights Update
    * Method", Theory of Computing 2012). Domains with ABOVE-average proxy
    * loss get upweighted each round, below-average domains shrink, so the
    * learned mixture shifts sampling toward the domains the reference model
    * finds hardest — the published heuristic for mixture search without
    * grid-training one model per candidate mixture.
    *
    * The proxy loss here is the engine-exact integer surprisal of
    * [[unigramSurprisal]] aggregated per domain: `loss_fp = sum_bits *
    * scale div n_tokens` (mean bits per token, fixed-point; DoReMi's
    * trained proxy-model loss plugs into the same slot when one exists —
    * the update is loss-source-agnostic). All arithmetic is BIGINT: round t
    * computes the weighted mean loss `lbar = Σ w·loss div Σ w`, each
    * domain's multiplier `max(1, (W·etaDen + (loss - lbar)·etaNum) div
    * etaDen)` (the negative-numerator arm short-circuits to 1 BEFORE any
    * division — Spark `div` truncates toward zero while DuckDB `//` floors,
    * so a negative operand must never be evaluated — and the positive arm
    * floors at 1 too, covering 0 < numerator < etaDen), then renormalizes to
    * a constant total mass. Every round is therefore bitwise-replayable as
    * an unrolled SQL CTE, the classifier-trajectory precedent.
    *
    * Scale shape: ONE corpus pass builds the per-domain loss table
    * (vocabulary-broadcast surprisal join, map-side-combined per-domain
    * aggregate); every round after that runs on the |domains|-sized weight
    * frame — two one-row broadcast aggregates and a projection per round,
    * no corpus access, no per-round driver action (the pageRank regime).
    * Returns the FULL trajectory (round 0 = uniform): (round, source,
    * weight, share), ordered by the caller's gate. Overflow headroom:
    * `sum_bits * scale` must stay under 2^63 — at 10^13 corpus tokens drop
    * `scale` a decade; every later product is bounded by the renormalized
    * total mass (~nDomains·W·loss_fp ≈ 2^54 here). */
  def domainMixtureWeights(docs: DataFrame, iters: Int = 5,
                           etaNum: Long = 8L, etaDen: Long = 1L,
                           by: String = "source"): DataFrame = {
    require(iters >= 0 && iters <= 50, s"iters must be in [0, 50], got $iters")
    require(etaNum >= 0 && etaDen > 0, "need etaNum >= 0, etaDen > 0")
    val W = MixtureW
    val loss = mixtureLoss(docs, by)
    val nDom = loss.count()
    require(nDom > 0, "domainMixtureWeights needs a non-empty corpus")
    val mass = nDom * W // conserved total weight, and the share denominator
    if (nDom <= MixtureFoldMaxDomains)
      mixtureRoundsFolded(loss, iters, etaNum, etaDen, W, mass)
    else
      mixtureRoundsLoop(loss, iters, etaNum, etaDen, W, mass)
  }

  /** Weight mass per domain at round 0 (fixed-point). */
  private[graft] val MixtureW = 1000000L

  /** [[domainMixtureWeights]]' one corpus pass: the per-domain proxy loss
    * frame (source, loss_fp), lazily checkpointed (every round + the domain
    * count read it). */
  private[graft] def mixtureLoss(docs: DataFrame, by: String): DataFrame = {
    val S = 1000000L // fixed-point units per surprisal bit
    val tok = withToks(docs)
      .select(col(by).as("source"), explode(col("toks")).as("t"))
    val tf = tok.groupBy("t").agg(count(lit(1)).as("cnt"))
    val total = tf.agg(sum(col("cnt")).as("total"))
    val loss = tok.join(broadcast(tf), "t")
      .crossJoin(broadcast(total))
      .withColumn("bits",
        (length(conv(expr("CAST(total div cnt AS STRING)"), 10, 2)) - 1).cast("bigint"))
      .groupBy("source")
      .agg(count(lit(1)).cast("bigint").as("n_tokens"),
        sum(col("bits")).cast("bigint").as("sum_bits"))
      .select(col("source"), expr(s"sum_bits * ${S}L div n_tokens").as("loss_fp"))
      .localCheckpoint(false) // referenced every round + the domain count
    loss
  }

  /** Domain-count gate for the one-pass trajectory fold: up to this many
    * domains, ALL rounds fold inside one mapPartitions over the
    * single-partition loss frame (the bounded-sequential-unit class
    * [[bestFitPack]] uses) — replacing iters x (two one-row aggregates +
    * join + lazy checkpoint) of pure stage floor with one task. Real
    * corpora have tens-to-thousands of domains; past the gate the
    * round-loop regime keeps the arithmetic distributed (the
    * connectedComponents size-gate precedent). A/B at sf0.1 (MixtureProbe
    * in CLAUDE.md's probe lessons, min-of-6, steal-clean window): trajectory
    * shape 1.40 -> 0.49 s, the learn-then-apply composition 1.23 -> 0.58 s.
    * TextOpsSpec pins the two regimes equal on trajectory and weights. */
  private val MixtureFoldMaxDomains = 65536L

  /** One-pass trajectory fold: every round is closed-form over the
    * |domains|-row loss frame, and 64-bit integer addition is associative
    * and commutative, so the fold replays the EXACT integer arithmetic of
    * the distributed loop (`div` on non-negative operands = Scala `/`) —
    * bitwise-equal output, ~10 fewer stage jobs. The trajectory stays a
    * PLAN (mapPartitions, not a driver collect), so the learn-then-apply
    * composition gate still consumes the final round in-plan. */
  private[graft] def mixtureRoundsFolded(loss: DataFrame, iters: Int, etaNum: Long,
                                  etaDen: Long, W: Long, mass: Long): DataFrame = {
    val spark = loss.sparkSession
    import spark.implicits._
    val it = iters
    loss.coalesce(1).as[(String, Long)].mapPartitions { rows =>
      val doms = rows.toArray.sortBy(_._1)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long, Double)]
      val w = Array.fill(doms.length)(W)
      def emit(round: Int): Unit = {
        var i = 0
        while (i < doms.length) {
          out += ((round, doms(i)._1, w(i), w(i).toDouble / mass.toDouble))
          i += 1
        }
      }
      emit(0)
      var r = 1
      while (r <= it) {
        var swl = 0L; var sw = 0L
        var i = 0
        while (i < doms.length) { swl += w(i) * doms(i)._2; sw += w(i); i += 1 }
        val lbar = swl / sw
        val w1 = new Array[Long](doms.length)
        var s1 = 0L
        i = 0
        while (i < doms.length) {
          val mn = W * etaDen + (doms(i)._2 - lbar) * etaNum
          val mult = if (mn <= 0L) 1L else math.max(1L, mn / etaDen)
          w1(i) = w(i) * mult / W
          s1 += w1(i)
          i += 1
        }
        i = 0
        while (i < doms.length) { w(i) = w1(i) * mass / s1; i += 1 }
        emit(r)
        r += 1
      }
      out.iterator
    }.toDF("round", "source", "weight", "share")
  }

  /** The distributed round-loop regime (above the size gate): per round two
    * one-row aggregates + a broadcast join over the |domains|-sized frame,
    * lazily checkpointed (two consumers next round). */
  private[graft] def mixtureRoundsLoop(loss: DataFrame, iters: Int, etaNum: Long,
                                etaDen: Long, W: Long, mass: Long): DataFrame = {
    def withShare(df: DataFrame, round: Int): DataFrame =
      df.select(lit(round).as("round"), col("source"), col("weight"),
        (col("weight").cast("double") / mass.toDouble).as("share"))
    var w = loss.select(col("source"), lit(W).as("weight")).localCheckpoint(false)
    val traj = scala.collection.mutable.ArrayBuffer(withShare(w, 0))
    var i = 1
    while (i <= iters) {
      val wl = w.join(loss, "source")
        .agg(sum(expr("weight * loss_fp")).cast("bigint").as("swl"),
          sum(col("weight")).cast("bigint").as("sw"))
      val up = w.join(loss, "source")
        .crossJoin(broadcast(wl))
        .withColumn("lbar", expr("swl div sw"))
        .withColumn("mn",
          expr(s"${W}L * ${etaDen}L + (loss_fp - lbar) * ${etaNum}L"))
        .withColumn("mult",
          when(col("mn") <= 0, lit(1L))
            .otherwise(greatest(lit(1L), expr(s"mn div ${etaDen}L"))))
        .withColumn("w1", expr(s"weight * mult div ${W}L"))
      val s1 = up.agg(sum(col("w1")).cast("bigint").as("s1"))
      w = up.crossJoin(broadcast(s1))
        .select(col("source"), expr(s"w1 * ${mass}L div s1").as("weight"))
        .localCheckpoint(false) // two consumers next round (agg + join)
      traj += withShare(w, i)
      i += 1
    }
    traj.reduce(_ unionByName _)
  }

  /** Applies a LEARNED mixture — the read side of
    * [[domainMixtureWeights]]: per-domain keep rates derived IN-PLAN from a
    * (source, weight) frame (max-normalized: the heaviest domain keeps
    * everything, the rest keep weight/max), resolved to integer 1/10000
    * bucket thresholds with BIGINT arithmetic so both engines compare the
    * same integers (the [[mixtureSample]] rule, without the driver-side
    * literal map — the weights stay data). Composition contract: feeding
    * [[domainMixtureWeights]]' final round through this is the full
    * learn-then-apply loop of a DoReMi-style pipeline, all inside one plan.
    *
    * Scale shape: the weight/threshold table is |domains|-sized (broadcast);
    * the corpus pays one scan + one integer comparison per row. */
  def mixtureSampleByWeights(docs: DataFrame, weights: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(docs.sparkSession)
    val mx = weights.agg(max(col("weight")).cast("bigint").as("wmax"))
    val thr = weights.crossJoin(broadcast(mx))
      .select(col("source"), expr("weight * 10000L div wmax").as("__thr"))
    docs.join(broadcast(thr), Seq("source"))
      .filter(expr(Portable.sampleBucketSpark("doc_id")) < col("__thr"))
      .select("doc_id", "source")
  }

  def temperatureSample(docs: DataFrame, targetDocs: Long,
                        by: String = "source"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(targetDocs > 0, "targetDocs must be positive")
    graft.plans.GraftFunctions.register(docs.sparkSession)
    val t = docs.select(col("doc_id"), col(by).as("dom"),
      expr(Portable.sampleBucketSpark("doc_id")).as("bkt"),
      expr(Portable.tempKeySpark("doc_id")).as("tk"))
    val cnts = t.groupBy("dom").agg(count(lit(1)).cast("bigint").as("c"))
      .withColumn("w", expr(Portable.isqrtSpark("c")))
    val tot = cnts.agg(sum(col("w")).cast("bigint").as("tw"))
    val quota = cnts.crossJoin(broadcast(tot))
      .select(col("dom"), expr(s"CAST(($targetDocs * w) div tw AS BIGINT)").as("quota"))
    val bucketAgg = t.groupBy("dom", "bkt").agg(count(lit(1)).as("b_cnt"))
    val wBuckets = Window.partitionBy("dom").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bounds = bucketAgg.withColumn("rank_before",
      coalesce(sum(col("b_cnt")).over(wBuckets), lit(0L)))
    val wInBucket = Window.partitionBy("dom", "bkt").orderBy(col("tk"), col("doc_id"))
    t.join(bounds.select("dom", "bkt", "rank_before"), Seq("dom", "bkt"))
      .withColumn("dom_rank",
        (col("rank_before") + row_number().over(wInBucket)).cast("bigint"))
      .join(broadcast(quota), "dom")
      .filter(col("dom_rank") <= col("quota"))
      .select(col("doc_id"), col("dom").as(by), col("dom_rank"), col("quota"))
  }
}
