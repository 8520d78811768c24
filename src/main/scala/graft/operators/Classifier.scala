package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Trainable text-quality classification — the fastText-style linear
  * classifier every production curation stack distills its heuristics into
  * (CCNet trains wiki-vs-crawl, GPT-3 WebText-vs-crawl; Joulin et al.,
  * "Bag of Tricks for Efficient Text Classification", arXiv 1607.01759 —
  * public method): hashed bag-of-words features into a fixed bucket space,
  * a linear model trained by iterative updates, margins as quality scores.
  *
  * The trainer is the INTEGER batch perceptron rather than logistic SGD,
  * deliberately: every update is y·count arithmetic on BIGINTs (no
  * learning-rate float, no sigmoid — `exp` is not bitwise-portable), so
  * training is exactly reproducible run-to-run, cluster-to-cluster, and
  * ENGINE-to-engine — the whole training trajectory (per-epoch weight
  * vectors) hash-checks against an unrolled SQL replay of the same epochs.
  */
object Classifier {

  /** Batch-perceptron training over hashed bag-of-words features.
    *
    * Input `labeled`: (doc_id, text, y) with y ∈ {+1, −1} (BIGINT) — or
    * (doc_id, toks, y) with the tokens precomputed (see [[features]]).
    * Features
    * x_{d,b} = count of document d's tokens hashing into bucket b
    * (portable polynomial hash mod `buckets`). Per epoch, over the WHOLE
    * batch (classic batch perceptron): margin m_d = Σ_b x_{d,b}·w_b; every
    * doc with y·m ≤ 0 is misclassified (w = 0 start ⇒ epoch 1 updates on
    * every doc); w += Σ_misclassified y·x. Fixed `epochs`, no convergence
    * test — determinism over asymptotics.
    *
    * Output: one row per bucket with the weight AFTER each epoch
    * (bucket, w1 … wE) — the full training trajectory, report-sized.
    *
    * Scale shape: the doc-level feature table — (doc_id, y,
    * feats: array<(b, x)>), ≤ `buckets` entries each — is ONE corpus
    * projection scan (the native [[graft.plans.BucketCounts]] histogram —
    * ZERO shuffles; the pre-r15 build paid an explode → corpus-token hash
    * aggregate plus a corpus-sized collect_list exchange for the same rows)
    * and persisted. Each epoch is then a SINGLE scan of that doc-level cache
    * with no join and no second fx read: the margin folds the per-doc array
    * against the weight vector inlined as a codegen'd literal-array lookup
    * (`buckets` longs — driver-sized by construction), misclassified docs'
    * features explode into a map-side-combined `buckets`-row delta
    * aggregate, and only those deltas reach the driver (the BPE-argmax
    * bounded-probe pattern). The interpreted HOF fold is per-doc over a
    * ≤`buckets`-entry array — bounded work per row, evaluated once (the
    * margin feeds only the filter), not a corpus-token hot path. A/B'd vs
    * the broadcast-join two-read epoch: 2× faster per epoch, bitwise equal
    * (ClassifierProbe in CLAUDE.md's probe lessons). Docs whose tokens hash
    * nowhere (empty text) carry no features: they update nothing and are
    * consistently absent from both engines' margin tables. */
  def trainPerceptron(labeled: DataFrame, buckets: Int = 64,
                      epochs: Int = 3): DataFrame = {
    require(buckets > 0 && buckets <= 65536, "buckets must be in [1, 65536]")
    require(epochs > 0 && epochs <= 16, "epochs must be in [1, 16]")
    val spark = labeled.sparkSession
    graft.plans.GraftFunctions.register(spark)
    // One row per doc as a PURE PROJECTION: the per-doc bucket histogram is
    // per-row data (graft_bucket_counts — the graft_rep_stats precedent), so
    // the doc-level feature cache costs zero shuffles. The pre-r15 build ran
    // an explode → corpus-token hash aggregate → corpus-sized
    // collect_list exchange for the same rows. Feature-less docs (empty
    // text) update nothing in any epoch, so they are dropped here — same
    // absence the aggregate formulation produced.
    val fd0 = withFeats(labeled, buckets)
      .select("doc_id", "y", "feats")
      .filter(size(col("feats")) > 0)
    // right-size the cache the epoch loop re-scans `epochs` times: a tiny
    // corpus otherwise persists defaultParallelism sliver partitions and
    // every epoch pays their task floor (Scale.rightSizeForChain's rationale;
    // the repartition moves ≤ buckets-entry rows, and at real corpus sizes
    // rightSizeWidth is None so nothing is shuffled at all)
    val fd = graft.operators.Scale.rightSizeWidth(labeled)
      .map(fd0.repartition(_)).getOrElse(fd0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val w = Array.fill(buckets)(0L)
    val history = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    try {
      (1 to epochs).foreach { _ =>
        // ONE array literal, not a CreateArray with `buckets` children: at
        // the upper bucket bounds a 65536-child expression tree would blow
        // codegen's method-size limit and stall the analyzer; a single
        // typed literal is a constant reference at any bucket count
        val wlit = typedlit(w.toSeq)
        fd.withColumn("m", aggregate(col("feats"), lit(0L),
            (acc, f) => acc + f.getField("x") *
              element_at(wlit, f.getField("b").cast("int") + 1)))
          .filter(col("y") * col("m") <= 0)
          .select(col("y"), explode(col("feats")).as("f"))
          .groupBy(col("f.b").as("b")).agg(sum(col("y") * col("f.x")).as("dw"))
          .collect().foreach(r => w(r.getLong(0).toInt) += r.getLong(1))
        history += w.clone()
      }
    } finally fd.unpersist()
    val schema = StructType(StructField("bucket", LongType, nullable = false) +:
      (1 to epochs).map(e => StructField(s"w$e", LongType, nullable = false)))
    val rows = (0 until buckets).map(b =>
      Row.fromSeq(b.toLong +: history.map(_(b)).toSeq))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Score documents with a trained weight table (bucket, w): per-doc margin
    * and keep/drop prediction — the serve side, ONE corpus projection scan,
    * zero shuffles and zero joins: the weight table is `buckets` rows
    * (driver-sized by the same construction the trainer relies on), so it
    * folds into the plan as a codegen'd literal-array lookup exactly like
    * the trainer's epoch margins; the per-doc feature histogram is the
    * [[graft.plans.BucketCounts]] projection. Docs with no features score
    * margin 0 (pred = false). */
  def scorePerceptron(docs: DataFrame, weights: DataFrame,
                      buckets: Int = 64): DataFrame = {
    graft.plans.GraftFunctions.register(docs.sparkSession)
    // a weight table trained in a different bucket space would silently
    // score against the wrong buckets — fail loudly instead (the table is
    // weights-sized, so the collect is a report-sized probe)
    // cast keeps the old join-based path's tolerance for int-typed columns
    // (join keys coerced; Row.getLong alone would ClassCastException)
    val wrows = weights
      .select(col("bucket").cast("long"), col("w").cast("long")).collect()
    require(wrows.length == buckets,
      s"weight table has ${wrows.length} rows but scorePerceptron was given " +
        s"buckets=$buckets — score with the bucket count the model was trained with")
    val w = new Array[Long](buckets)
    val seen = new Array[Boolean](buckets)
    wrows.foreach { r =>
      require(!r.isNullAt(0), "weight table has a null bucket id")
      val b = r.getLong(0).toInt
      require(b >= 0 && b < buckets,
        s"weight table bucket $b outside [0, $buckets)")
      require(!seen(b), s"weight table has duplicate rows for bucket $b")
      seen(b) = true
      w(b) = if (r.isNullAt(1)) 0L else r.getLong(1)
    }
    val wlit = typedlit(w.toSeq)
    withFeats(docs, buckets)
      .withColumn("margin", coalesce(
        aggregate(col("feats"), lit(0L),
          (acc, f) => acc + f.getField("x") *
            element_at(wlit, f.getField("b").cast("int") + 1)),
        lit(0L)))
      .withColumn("pred", col("margin") > 0)
      .select("doc_id", "margin", "pred")
  }

  /** The quality-classifier wrapper ([[trainPerceptron]] with labels
    * DISTILLED from the portable heuristic): y = +1 iff
    * [[TextOps.qualityScore]] ≥ `thr` — the standard bootstrap when no human
    * labels exist (train on a trusted signal, serve the cheap linear model).
    * Both the label chain and the training are bitwise-portable, so the
    * full trajectory is oracle-checked. */
  def qualityPerceptron(docs: DataFrame, buckets: Int = 64, epochs: Int = 3,
                        thr: Double = 2.0): DataFrame =
    // labels arrive inline ([[TextOps.qualityLabels]] is a pure projection):
    // one corpus scan feeds both the label and the feature build — no
    // second scan, no doc_id join
    trainPerceptron(TextOps.qualityLabels(docs, thr), buckets, epochs)

  /** Appends the hashed bag-of-words histogram `feats`
    * (array<struct<b, x>>, ≤ `buckets` entries) as a pure projection — the
    * native [[graft.plans.BucketCounts]], whose bucket hash is pinned
    * bitwise to the portable explode → pmod(graft_phash) → count chain the
    * DuckDB oracle replays (`PortableParitySpec`); same formulation as the
    * DSIR bucket hash. A `toks` column (the tokenizer's output, e.g. from
    * [[TextOps.qualityLabels]]'s label projection) passes through instead of
    * re-tokenizing `text` — same-scan projection sharing. */
  private def withFeats(src0: DataFrame, buckets: Int): DataFrame = {
    // a toks passthrough means the frame already went through the label
    // projection's fanOutScan — fanning out AGAIN would re-shuffle the
    // materialized token arrays corpus-wide for nothing (fanOutScan only
    // inspects the file-scan leaf width, so it cannot see the upstream
    // repartition)
    val src =
      if (src0.columns.contains("toks")) src0
      else Scale.fanOutScan(src0).withColumn("toks", expr("graft_tokens(text)"))
    src.withColumn("feats", expr(s"graft_bucket_counts(toks, $buckets)"))
  }
}
