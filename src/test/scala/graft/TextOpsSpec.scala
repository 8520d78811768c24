package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextOps

/** Semantics the gates can't pin: the short-n contamination df-cap. The gate
  * corpus at n=8 has max shingle df 3, so the cap never fires there; this
  * spec builds a corpus with a boilerplate 3-gram shared by EVERY document
  * (df 40 >> cap) and proves the capped run still reports exact shared-n-gram
  * counts for every pair inside the operator's contract.
  */
class TextOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Local twin of graft_phash / Portable.phashDuck: seed 7, acc*131+c mod P
    * over the id's decimal digits — recomputed here so the expected split
    * comes from arithmetic independent of the Spark plan under test. */
  private def phash(s: String): Long =
    s.foldLeft(7L)((acc, c) => (acc * 131L + c.toInt) % 1000000007L)
  private def split(id: Long, pctTrain: Int): String =
    if (phash(id.toString) % 100 < pctTrain) "train" else "test"

  // pair k = docs (k, 1000+k) — distant ids so the hash split mixes within
  // pairs (consecutive ids land in adjacent buckets). 7 tokens -> five 3-gram
  // shingles per doc: "alpha beta gamma" df=40 (hot), three pair-local
  // shingles df=2 (rare), one unique-suffix shingle df=1
  private val pairs: Seq[(Long, Long)] = (0L until 20L).map(k => (k, 1000L + k))
  private def corpus = {
    import spark.implicits._
    pairs.zipWithIndex.flatMap { case ((a, b), k) =>
      Seq(a, b).map(i => (i, s"alpha beta gamma p$k q$k r$k u$i"))
    }.toDF("doc_id", "text")
  }

  test("contamination df-cap: hot shingle excluded from the join, counts exact") {
    val pct = 50
    val got = TextOps.contamination(corpus, n = 3, pctTrain = pct, dfCap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // contract: pairs sharing >= 1 rare shingle — exactly the within-pair
    // (test, train) combos; each shares 3 rare + the 1 hot = 4 n-grams, with
    // the hot contribution restored exactly despite its exclusion from the join
    val expected = pairs.flatMap { case (a, b) =>
      (split(a, pct), split(b, pct)) match {
        case ("test", "train") => Some((a, b) -> 4L)
        case ("train", "test") => Some((b, a) -> 4L)
        case _                 => None
      }
    }.toMap
    assert(expected.nonEmpty, "the hash split must mix within at least one pair")
    assert(got == expected)
  }

  test("dedupLines: boilerplate dropped, order kept, all-boilerplate doc survives empty") {
    import spark.implicits._
    val docs = Seq(
      (1L, "only in one\nSHARED EVERYWHERE\nPAIR LINE\ntail one"),
      (2L, "different body\nSHARED EVERYWHERE\nPAIR LINE\n"),
      (3L, "SHARED EVERYWHERE")
    ).toDF("doc_id", "text")
    val got = TextOps.dedupLines(docs, maxDf = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // SHARED df=3 > 2 dropped; PAIR df=2 kept; trailing empty line in doc 2
    // never counted; doc 3 keeps nothing but still appears
    assert(got(1L) == ((4L, 3L, "only in one\nPAIR LINE\ntail one")))
    assert(got(2L) == ((3L, 2L, "different body\nPAIR LINE")))
    assert(got(3L) == ((1L, 0L, "")))
    assert(got.size == 3)
    // regime parity: forcing the join path (broadcastBadBytes = 0) must be
    // bitwise-identical to the broadcast path taken above
    val joined = TextOps.dedupLines(docs, maxDf = 2, broadcastBadBytes = 0L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(joined == got)
  }

  test("dedupLines regime gate is BYTE-sized: few-but-huge bad lines take the join arm") {
    import spark.implicits._
    // ONE bad line (row count 1) of 2 MB — a row-count gate would broadcast
    // it; the byte gate must route to the anti-join regime and still produce
    // the identical result
    val banner = "C" * (2 << 20)
    val docs = Seq(
      (1L, s"unique alpha\n$banner\nend one"),
      (2L, s"$banner\nunique beta"),
      (3L, s"unique gamma\n$banner")
    ).toDF("doc_id", "text")
    val viaJoin = TextOps.dedupLines(docs, maxDf = 2, broadcastBadBytes = 1L << 20)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(viaJoin(1L) == ((3L, 2L, "unique alpha\nend one")))
    assert(viaJoin(2L) == ((2L, 1L, "unique beta")))
    assert(viaJoin(3L) == ((2L, 1L, "unique gamma")))
    // a roomy byte budget takes the broadcast arm; results bitwise-equal
    val viaBroadcast = TextOps.dedupLines(docs, maxDf = 2, broadcastBadBytes = 64L << 20)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(viaBroadcast == viaJoin)
  }

  test("split bucket hash has no residue structure over sequential ids") {
    // the multiplicative (id * 2654435761) % 100 form this replaced satisfies
    // bucket(i) == bucket(i + 100) for EVERY i — any id-correlated corpus
    // property (ingest time, source batching) would pattern into the split.
    // The digit-polynomial hash must break that periodicity and stay roughly
    // uniform over a sequential id range.
    val n = 10000
    val buckets = (0 until n).map(i => (phash(i.toString) % 100).toInt)
    val periodic = (0 until n - 100).count(i => buckets(i) == buckets(i + 100))
    assert(periodic < n / 20, s"period-100 collisions: $periodic (multiplicative form: all)")
    val hist = buckets.groupBy(identity).view.mapValues(_.size)
    assert(hist.size == 100, "every bucket hit over 10k sequential ids")
    assert(hist.values.max < 3 * n / 100, s"worst bucket ${hist.values.max} of expected ${n / 100}")
    // and the Spark column agrees with the local twin (same arithmetic)
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    val got = (0L until 500L).toDF("doc_id")
      .selectExpr(graft.functions.Portable.splitBucketSpark("doc_id") + " as b")
      .collect().map(_.getLong(0).toInt).toSeq
    assert(got == (0 until 500).map(i => (phash(i.toString) % 100).toInt))
  }

  test("contamination dfCap=0 (guard off) keeps boilerplate-only pairs") {
    val pct = 50
    val ids = pairs.flatMap { case (a, b) => Seq(a, b) }
    val test = ids.filter(split(_, pct) == "test").toSet
    val train = ids.filter(split(_, pct) == "train").toSet
    val samePair = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    val got = TextOps.contamination(corpus, n = 3, pctTrain = pct, dfCap = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // every (test, train) combo shares at least the boilerplate shingle
    assert(got.size == test.size * train.size)
    got.foreach { case ((a, b), n) =>
      assert(test(a) && train(b))
      assert(n == (if (samePair((a, b))) 4L else 1L))
    }
  }

  test("tokenBudgetSample: two-phase prefix sum equals the naive window; boundary kept") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // 400 docs in one hot source + 20 in a small one; token counts vary by id
    val docs = ((0L until 400L).map(i => (i, "hot", ("tok " * ((i % 7) + 1).toInt).trim)) ++
      (1000L until 1020L).map(i => (i, "cold", ("tok " * 3).trim)))
      .toDF("doc_id", "source", "text")
    val got = TextOps.tokenBudgetSample(docs, 100L)
    // naive single-window formulation = the oracle's semantics
    val t = docs.withColumn("n_tokens",
        size(org.apache.spark.sql.functions.split(col("text"), " ")).cast("bigint"))
      .withColumn("bkt", expr(graft.functions.Portable.sampleBucketSpark("doc_id")))
    val naive = t.withColumn("cum_tokens", sum(col("n_tokens")).over(
        Window.partitionBy("source").orderBy("bkt", "doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum_tokens") <= 100L)
      .select("doc_id", "source", "n_tokens", "cum_tokens")
    assert(got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty)
    // every source's kept prefix lands within one doc of the budget
    val cold = got.filter(col("source") === "cold")
      .agg(max("cum_tokens"), count(lit(1))).head
    assert(cold.getLong(0) <= 100L && cold.getLong(1) > 0)
  }

  test("n_tokens passthrough: precomputed count rides budget/pack; wrong type fails loudly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.plans.GraftFunctions.register(spark)
    val docs = Seq((1L, "web", "en", "a b c"), (2L, "web", "en", "d e"),
      (3L, "api", "en", "f")).toDF("doc_id", "source", "lang", "text")
    val pre = docs.withColumn("n_tokens", expr("size(graft_tokens(text))").cast("bigint"))
    // identical output with and without the precomputed column
    for ((a, b) <- Seq(
        (TextOps.tokenBudgetSample(docs, 100L), TextOps.tokenBudgetSample(pre, 100L)),
        (TextOps.packSequences(docs, 4, 2), TextOps.packSequences(pre, 4, 2))))
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // a conflicting non-integer n_tokens column must fail loudly, not
    // silently order the budget by garbage
    val bad = docs.withColumn("n_tokens", lit("many"))
    val e = intercept[IllegalArgumentException](TextOps.tokenBudgetSample(bad, 100L))
    assert(e.getMessage.contains("n_tokens"))
  }

  test("repetitionScore: exact fractions on a hand corpus, thresholds flag spam") {
    import spark.implicits._
    val docs = Seq(
      // 10 distinct tokens: dup 0, top 1/10, top bigram 1/9 — under both
      // thresholds (the fractions are length-sensitive: a 5-token doc's top
      // bigram is already 1/4, which is WHY these filters target long docs)
      (1L, "one two three four five six seven eight nine ten"),
      // "spam spam spam spam ham": dup 3/5, top 4/5, bigram "spam spam" 3/4
      (2L, "spam spam spam spam ham"),
      // single token: no bigrams -> bigram frac 0, top 1/1 trips threshold
      (3L, "solo")
    ).toDF("doc_id", "text")
    val m = TextOps.repetitionScore(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getLong(1) == 10 && m(1L).getDouble(2) == 0.0)
    assert(m(1L).getDouble(3) == 0.1 && m(1L).getDouble(4) == 1.0 / 9 &&
      !m(1L).getBoolean(5))
    assert(m(2L).getDouble(2) == 0.6 && m(2L).getDouble(3) == 0.8)
    assert(m(2L).getDouble(4) == 0.75 && m(2L).getBoolean(5))
    assert(m(3L).getLong(1) == 1 && m(3L).getDouble(4) == 0.0 && m(3L).getBoolean(5))
  }

  test("unigram surprisal: exact integer bit widths, rarer tokens score higher") {
    import spark.implicits._
    // total = 10 tokens; 'common' cnt 8 -> 10 div 8 = 1 -> 0 bits;
    // 'rare' cnt 2 -> 10 div 2 = 5 -> floor(log2 5) = 2 bits
    val docs = Seq(
      (1L, "common common common common common common common common"),
      (2L, "rare rare")
    ).toDF("doc_id", "text")
    val r = TextOps.unigramSurprisal(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getAs[Long]("n_tokens") == 8)
    assert(r(1L).getAs[Long]("sum_surprisal_bits") == 0)
    assert(r(1L).getAs[Long]("max_surprisal_bits") == 0)
    assert(r(1L).getAs[Double]("mean_surprisal_bits") == 0.0)
    assert(r(2L).getAs[Long]("n_tokens") == 2)
    assert(r(2L).getAs[Long]("sum_surprisal_bits") == 4)
    assert(r(2L).getAs[Long]("max_surprisal_bits") == 2)
    assert(r(2L).getAs[Double]("mean_surprisal_bits") == 2.0)
  }

  test("shuffle shards: total deterministic permutation, contiguous positions") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, s"doc number $i")).toDF("doc_id", "text")
    val a = TextOps.shuffleShards(docs, 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val b = TextOps.shuffleShards(docs, 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(a.sortBy(_._1).sameElements(b.sortBy(_._1)), "permutation is deterministic")
    assert(a.length == 200 && a.map(_._1).distinct.length == 200)
    assert(a.forall(t => t._2 >= 0 && t._2 < 8))
    // positions within each shard are exactly 1..n
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.sameElements(1L to rows.length))
    }
    // the order is a real shuffle, not identity: doc_ids in (shard, pos) order
    // must not be globally ascending
    val ordered = a.sortBy(t => (t._2, t._3)).map(_._1)
    assert(!ordered.sameElements(ordered.sorted), "hash order differs from id order")
  }

  test("curation decisions: first failing filter wins in priority order") {
    import spark.implicits._
    val goodEn = "the quick brown fox jumps over a lazy dog while many other " +
      "plain words appear here and there with steady variety throughout this text"
    val docs = Seq(
      (1L, goodEn),                                                   // keep
      (2L, goodEn),                                                   // exact_dup of 1
      (3L, "el perro corre y los gatos duermen se ven por la noche"), // lang (es)
      // short + two-token vocabulary + digits: no length point, diversity and
      // alpha both low -> score < 2 (quality outranks the repetition it also has)
      (4L, "the the the the the the the the the the 9999999999999999999999999999999999999"),
      // in the length window and diverse overall, but one token at 6/25 > 0.2
      (5L, "the quick brown fox spam spam spam spam spam spam jumps over lazy " +
        "dogs while many other words appear here now then soon later often")
    ).toDF("doc_id", "text")
    val r = TextOps.curationDecisions(docs).collect()
      .map(x => x.getLong(0) -> (x.getBoolean(1), x.getString(2))).toMap
    assert(r(1L) == (true, "keep"))
    assert(r(2L) == (false, "exact_dup"))
    assert(r(3L) == (false, "lang"))
    assert(r(4L) == (false, "quality"))
    assert(r(5L) == (false, "repetition"))
  }

  test("family curation: in-chain decontamination fires, priority exact_dup > contaminated > near_dup") {
    import spark.implicits._
    // ids picked by the INDEPENDENT split arithmetic: trains land under
    // bucket 90, tests at or above — so the expectations below do not reuse
    // the Spark expression under test
    val ids = (1L to 400L)
    val trains = ids.filter(split(_, 90) == "train")
    val tests = ids.filter(split(_, 90) == "test")
    val (tr1, tr4) = (trains(0), trains(1))
    val (te1, te2) = (tests(0), tests(1))
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val trio = "one two three four five six seven eight nine ten"
    // byte-identical trio straddling the split (kc = 3): the keeper is the
    // MIN id, so pick both train copies ABOVE te2 — the keeper is then a
    // TEST doc and both train copies are exact_dup non-keepers AND
    // contaminated -> exact_dup must win the attribution
    val trioTrainA = trains.find(_ > te2).get
    val trioTrainB = trains.find(_ > trioTrainA).get
    val docs2 = Seq(
      // near-dup pair ACROSS the split (J = 8/9 over trigrams, not
      // identical): the train side is eval-leaked -> 'contaminated'
      // (outranks near_dup)
      (tr1, base), (te1, base + " lambda"),
      (te2, trio), (trioTrainA, trio), (trioTrainB, trio),
      // isolated train doc: no cross-split pair -> never contaminated
      (tr4, "solo isolated document with some plain words inside it")
    ).toDF("doc_id", "text")
    val r = TextOps.curationDecisionsFamilies(docs2, decontamPctTrain = 90)
      .collect().map(x => x.getLong(0) -> x.getString(2)).toMap
    assert(r(tr1) == "contaminated", s"train near-dup must drop contaminated: $r")
    assert(r(te1) != "contaminated", s"test-side docs are never contaminated: $r")
    // priority pin: exact-dup NON-keepers stay 'exact_dup' even though both
    // are contaminated train copies of a test doc
    assert(r(trioTrainA) == "exact_dup" && r(trioTrainB) == "exact_dup",
      s"exact_dup outranks contaminated: $r")
    assert(r(te2) != "contaminated" && r(te2) != "exact_dup",
      s"the test-side keeper runs the normal chain: $r")
    assert(r(tr4) != "contaminated", s"isolated train doc untouched: $r")
    // decontamination off (the default): same corpus, no 'contaminated' at all
    val off = TextOps.curationDecisionsFamilies(docs2)
      .collect().map(x => x.getLong(0) -> x.getString(2)).toMap
    assert(!off.values.exists(_ == "contaminated"), s"default must be off: $off")
    assert(off(trioTrainA) == "exact_dup" && off(tr1) != "contaminated")
  }

  test("bestFitPack: hand-computed fit, bin close, oversize, bounded-pool eviction") {
    import spark.implicits._
    def txt(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    // budget 10, one shard, maxOpen 2. Decreasing order: d6(12, oversize),
    // d1(7), d2(6), d3(4), d4(3), d5(3).
    // d6 -> bin 0 (oversize). d1 -> new bin 1 (rem 3). d2 -> no fit, new
    // bin 2 (rem 4). d3 -> best fit is bin 2 (rem 4 >= 4), closes it.
    // d4 -> bin 1 (rem 3), closes it. d5 -> pool empty, new bin 3.
    val docs = Seq(
      (1L, "en", txt(7)), (2L, "en", txt(6)), (3L, "en", txt(4)),
      (4L, "en", txt(3)), (5L, "en", txt(3)), (6L, "en", txt(12))
    ).toDF("doc_id", "lang", "text")
    val r = TextOps.bestFitPack(docs, budget = 10, shards = 1, maxOpen = 2)
      .collect().map(x => x.getLong(0) -> (x.getLong(4), x.getBoolean(5))).toMap
    assert(r == Map(6L -> (0L, true), 1L -> (1L, false), 2L -> (2L, false),
      3L -> (2L, false), 4L -> (1L, false), 5L -> (3L, false)), r.toString)

    // bounded pool: maxOpen 1 closes the least-useful bin on overflow —
    // a(9) -> bin 0 (rem 1); b(8) -> new bin 1 (rem 2), pool over cap,
    // bin 0 (smallest rem) evicted; c(2) still fits bin 1.
    val docs2 = Seq((1L, "en", txt(9)), (2L, "en", txt(8)), (3L, "en", txt(2)))
      .toDF("doc_id", "lang", "text")
    val r2 = TextOps.bestFitPack(docs2, budget = 10, shards = 1, maxOpen = 1)
      .collect().map(x => x.getLong(0) -> x.getLong(4)).toMap
    assert(r2 == Map(1L -> 0L, 2L -> 1L, 3L -> 1L), r2.toString)

    // waste report: streams (en, 0): bins 0(9)/1(10 full) -> padded 1;
    // oversize-free, 3 docs, 19 tokens
    val w = TextOps.packingWasteReport(
      TextOps.bestFitPack(docs2, budget = 10, shards = 1, maxOpen = 1), 10)
      .collect().map(x => (x.getString(0), x.getLong(1)) ->
        (x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5), x.getLong(6))).toMap
    assert(w == Map(("en", 0L) -> (3L, 2L, 19L, 0L, 1L)), w.toString)
  }

  test("dsirScores: target-like docs outscore off-distribution docs, selection deterministic") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // target slice (ids 0-4) speaks "quality prose"; raw pool is half
    // target-like (ids 10-14) and half spam (ids 20-24). DSIR must rank the
    // target-like raw docs above the spam ones — that is the whole point of
    // the importance weight.
    val docs = (
      (0L to 4L).map(i => (i, s"the quick brown fox jumps over fence $i", "tgt")) ++
      (10L to 14L).map(i => (i, s"the quick brown fox walks past fence $i", "raw")) ++
      (20L to 24L).map(i => (i, s"buy cheap pills now click here win $i", "raw"))
    ).toDF("doc_id", "text", "source")
    val out = TextOps.dsirScores(docs, col("source") === "tgt", buckets = 64, keepPct = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    val proseScores = (10L to 14L).map(out(_)._1)
    val spamScores  = (20L to 24L).map(out(_)._1)
    assert(proseScores.min > spamScores.max,
      s"target-like raw docs must outscore spam: $proseScores vs $spamScores")
    // with a top-half cut over 15 docs, the 5 spam docs all fall below it
    assert((20L to 24L).forall(i => !out(i)._2), s"spam selected: $out")
    // determinism: a second run produces identical scores
    val again = TextOps.dsirScores(docs, col("source") === "tgt", buckets = 64, keepPct = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(again == out)
  }

  test("chunkWindows: ceil coverage, stride offsets, short last window, empty doc dropped") {
    import spark.implicits._
    // token counts chosen around the arithmetic's corners for (C=8, S=6):
    // 0 (dropped), 3 (< C: one short chunk), 8 (== C: exactly one), 9 (first
    // boundary crossing: two), 14 (last window exactly reaches the end), 20
    // (three windows, short tail)
    val docs = Seq(0, 3, 8, 9, 14, 20).zipWithIndex.map { case (n, i) =>
      (i.toLong, (1 to n).map(j => s"t$j").mkString(" "))
    }.toDF("doc_id", "text")
    val rows = TextOps.chunkWindows(docs, chunkSize = 8, stride = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val byDoc = rows.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(!byDoc.contains(0L), "empty doc must produce no chunks")
    assert(byDoc(1L).map(c => (c._3, c._4)) sameElements Array((1L, 3L)))
    assert(byDoc(2L).map(c => (c._3, c._4)) sameElements Array((1L, 8L)))
    assert(byDoc(3L).map(c => (c._3, c._4)) sameElements Array((1L, 8L), (7L, 3L)))
    assert(byDoc(4L).map(c => (c._3, c._4)) sameElements Array((1L, 8L), (7L, 8L)))
    assert(byDoc(5L).map(c => (c._3, c._4)) sameElements
      Array((1L, 8L), (7L, 8L), (13L, 8L)))
    // reconstruction: chunk 0's tokens ++ each later chunk's tokens past the
    // overlap reproduce the document exactly — no token lost or duplicated
    for ((doc, chunks) <- byDoc) {
      val n = Seq(0, 3, 8, 9, 14, 20)(doc.toInt)
      val rebuilt = chunks.head._5.split(' ').toSeq ++
        chunks.tail.toSeq.flatMap(c => c._5.split(' ').drop(8 - 6).toSeq)
      assert(rebuilt == (1 to n).map(j => s"t$j"), s"doc $doc reconstruction")
    }
    // chunk text matches its declared offset/length window
    for ((doc, chunks) <- byDoc; c <- chunks)
      assert(c._5.split(' ').toSeq ==
        (c._3.toInt until c._3.toInt + c._4.toInt).map(j => s"t$j"))
  }

  test("temperatureSample: sqrt-flattened quotas, exact rank cut, deterministic") {
    import spark.implicits._
    // two domains, 90:10 — alpha=1/2 narrows the draw ratio to 3:1
    val docs = ((1L to 900L).map(i => (i, "head")) ++ (1001L to 1100L).map(i => (i, "tail")))
      .toDF("doc_id", "dom")
    val out = TextOps.temperatureSample(docs, targetDocs = 100L, by = "dom")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val byDom = out.groupBy(_._2)
    // w_head = isqrt(900) = 30, w_tail = isqrt(100) = 10, tw = 40:
    // quota_head = 100*30/40 = 75, quota_tail = 100*10/40 = 25
    assert(byDom("head").length == 75 && byDom("tail").length == 25, s"${byDom.view.mapValues(_.length).toMap}")
    assert(out.forall(r => r._3 <= r._4), "every kept rank must be within quota")
    // ranks are exactly 1..quota with no gaps (the two-phase prefix sum is a
    // true per-domain row_number, not an approximation)
    assert(byDom("head").map(_._3).sorted.toSeq == (1L to 75L))
    assert(byDom("tail").map(_._3).sorted.toSeq == (1L to 25L))
    val again = TextOps.temperatureSample(docs, targetDocs = 100L, by = "dom")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(again.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq)
  }

  test("bigramSurprisal: predictable continuations score 0 bits, surprising ones > 0") {
    import spark.implicits._
    // "a b" occurs wherever a occurs as context in docs 0-3 (p(b|a)=1 -> 0
    // bits); doc 4 breaks the pattern with "a z", making BOTH continuations
    // of 'a' uncertain there and in every other a-bigram
    val certain = (0L to 3L).map(i => (i, "a b c d"))
    val docs = (certain :+ (4L, "a z c d")).toDF("doc_id", "text")
    val out = TextOps.bigramSurprisal(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toList
    val byDoc = out.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // every doc has 3 bigrams; "c d" and "b c" are deterministic; "a b" has
    // ctx 5, cnt 4 -> floor(log2(5/4 as int div)) = floor(log2(1)) = 0 bits;
    // "a z" ctx 5 cnt 1 -> floor(log2(5)) = 2 bits
    assert(out.forall(_._2 == 3L))
    assert(byDoc(0L) == ((3L, 0L, 0L)), s"got ${byDoc(0L)}")
    assert(byDoc(4L)._2 == 2L && byDoc(4L)._3 == 2L, s"got ${byDoc(4L)}")
    // single-token and empty docs produce no row
    val degenerate = Seq((10L, "solo"), (11L, "")).toDF("doc_id", "text")
    assert(TextOps.bigramSurprisal(degenerate).count() == 0)
  }

  test("bpeTrain: classic merge sequence, deterministic ties, greedy non-overlap") {
    import spark.implicits._
    // the textbook corpus: l+o and o+w tie at 5, lexicographic break picks
    // (l,o); the freq-1 tail exercises both tie-break levels
    val docs = Seq((0L, "low low low lower lowest")).toDF("doc_id", "text")
    val (merges, vocab) = TextOps.bpeTrain(docs, 5)
    val m = merges.orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSeq
    assert(m == Seq(
      ("l", "o", "lo", 5L), ("lo", "w", "low", 5L), ("low", "e", "lowe", 2L),
      ("lowe", "r", "lower", 1L), ("lowe", "s", "lowes", 1L)), s"merges: $m")
    val seg = vocab.collect().map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    assert(seg("low") == Seq("low"))
    assert(seg("lower") == Seq("lower"))
    assert(seg("lowest") == Seq("lowes", "t"))
    // segmentation stats: 5 tokens -> low x3 = 3 subwords + lower = 1 +
    // lowest = 2; max per token 2
    val st = TextOps.bpeSegment(docs, vocab).collect()(0)
    assert(st.getLong(1) == 5L && st.getLong(2) == 6L && st.getLong(3) == 2L, st.toString)
    // out-of-vocab word falls back to characters (2 for 'zq'), known word joins
    val oov = TextOps.bpeSegment(Seq((1L, "zq low")).toDF("doc_id", "text"), vocab)
      .collect()(0)
    assert(oov.getLong(1) == 2L && oov.getLong(2) == 3L, oov.toString)
    // greedy left-to-right NON-OVERLAPPING: 'aaaa' under merge (a,a) becomes
    // [aa, aa], never [aa, a, a] or a chained [aaa, a]
    val (m2, v2) = TextOps.bpeTrain(Seq((0L, "aaaa")).toDF("doc_id", "text"), 1)
    assert(m2.collect()(0).getString(3) == "aa")
    assert(v2.collect()(0).getSeq[String](2) == Seq("aa", "aa"))
  }

  test("tfidfSearch: bit-width idf ranks rarer terms higher; df=0 contributes zero") {
    import spark.implicits._
    // 8 docs: 'common' in all (idf bits of 8/8=1 -> 1), 'rare' in one
    // (bits of 8/1=8 -> 4); 'ghost' never occurs (df=0 -> zero, not an error)
    val docs = (0 until 8).map { i =>
      (i.toLong, if (i == 0) "rare common filler" else "common filler pad")
    }.toDF("doc_id", "text")
    val got = TextOps.tfidfSearch(docs, Seq("rare", "common", "ghost"), topK = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    // doc 0: 1*4 (rare) + 1*1 (common) + 0 = 5; others: 1*1 = 1
    assert(got(0L) == 5L, s"doc 0 score ${got(0L)}")
    assert((1 to 7).forall(i => got(i.toLong) == 1L), got.toString)
  }

  test("Portable.isqrtSpark is exact at perfect-square boundaries past 2^52") {
    import graft.functions.Portable
    // k^2-1, k^2, k^2+1 for k around and beyond the double-precision cliff
    // (2^26, 2^27), plus small values — floor(sqrt(.)) must be k-1, k, k
    val ks = Seq(2L, 3L, 10L, (1L << 26) - 1, 1L << 26, (1L << 27) + 9)
    val cases = ks.flatMap(k => Seq((k * k - 1, k - 1), (k * k, k), (k * k + 1, k))) :+
      ((0L, 0L)) :+ ((1L, 1L)) :+ ((2L, 1L))
    val sql = cases.map { case (c, _) => Portable.isqrtSpark(c.toString) }
      .mkString("SELECT ", ", ", "")
    val row = spark.sql(sql).head()
    cases.zipWithIndex.foreach { case ((c, want), i) =>
      assert(row.getLong(i) == want, s"isqrt($c): got ${row.getLong(i)}, want $want")
    }
  }

  test("wordpieceSegment: maximal munch, whole-word UNK, disagrees with BPE where it must") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "thescan able zzz rowable"), // the|scan, able, z|z|z, row|able
      (1L, "x!y abc"),                  // [UNK] (no '!' piece), abc (vocab hit)
      (2L, "abc"))                      // munch-vs-BPE disagreement probe
      .toDF("doc_id", "text")
    val vocab = Seq("the", "able", "scan", "row", "abc", "bc") ++
      ('a' to 'z').map(_.toString)
    val rows = TextOps.wordpieceSegment(corpus, vocab)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // doc 0: 4 tokens -> 2 + 1 + 3 + 2 = 8 pieces, no unk, max 3
    assert(rows(0L) == ((4L, 8L, 0L, 3L)), s"doc0: ${rows(0L)}")
    // doc 1: x!y is one whole-word [UNK]; abc matches the 'abc' piece
    assert(rows(1L) == ((2L, 2L, 1L, 1L)), s"doc1: ${rows(1L)}")
    // disagreement with BPE on the same word: munch takes the longest piece
    // ('abc' -> 1), BPE replays merge ranks ((b,c) -> a|bc -> 2)
    assert(rows(2L)._2 == 1L, s"munch must take the longest piece: ${rows(2L)}")
    val bpe = TextOps.bpeSegmentMerges(corpus.filter(org.apache.spark.sql.functions.col("doc_id") === 2L),
        Seq(("b", "c"))).head()
    assert(bpe.getAs[Long]("n_subwords") == 2L,
      "BPE merge replay must split abc as a|bc — the algorithms are distinct")
    // out-of-contract guard (r15 ADVICE): a 10^4+-char unbroken token must
    // become ONE explicit [UNK] — unguarded, the packed fold overflows its
    // pieces field silently and identically in both engines
    val longWord = "a" * 10000
    val guarded = TextOps.wordpieceSegment(
        Seq((0L, s"$longWord abc")).toDF("doc_id", "text"), vocab)
      .head()
    assert(guarded.getAs[Long]("n_tokens") == 2L &&
        guarded.getAs[Long]("n_pieces") == 2L &&
        guarded.getAs[Long]("n_unk_tokens") == 1L,
      s"10^4-char word must be one [UNK], not an overflowed fold: $guarded")
    // just inside the contract: 9999 single-char pieces, not [UNK]
    val inside = TextOps.wordpieceSegment(
        Seq((0L, "a" * 9999)).toDF("doc_id", "text"), vocab).head()
    assert(inside.getAs[Long]("n_pieces") == 9999L &&
        inside.getAs[Long]("n_unk_tokens") == 0L,
      s"9999-char word is in contract and must still munch: $inside")
  }

  test("unigramSegment: Viterbi global optimum disagrees with greedy munch where it must") {
    import spark.implicits._
    // the classic greedy-stranding case: munch on 'abc' grabs 'ab' and
    // strands 'c' (no such piece) -> whole-word [UNK]; Viterbi routes
    // a|bc and segments it
    val corpus = Seq((0L, "abc")).toDF("doc_id", "text")
    val uniVocab = Seq(("ab", 1L), ("bc", 1L), ("a", 3L))
    val uni = TextOps.unigramSegment(corpus, uniVocab).head()
    assert(uni.getAs[Long]("n_pieces") == 2L &&
        uni.getAs[Long]("n_unk_tokens") == 0L &&
        uni.getAs[Long]("total_cost") == 4L,
      s"Viterbi must find a|bc (cost 3+1): $uni")
    val munch = TextOps.wordpieceSegment(corpus, uniVocab.map(_._1)).head()
    assert(munch.getAs[Long]("n_unk_tokens") == 1L,
      s"greedy munch must strand the suffix and UNK the word: $munch")
    // cost optimality beats piece-greed: with a dear long piece, Viterbi
    // takes more pieces at lower total cost
    val v2 = Seq(("abcd", 9L), ("ab", 1L), ("cd", 1L))
    val uni2 = TextOps.unigramSegment(Seq((0L, "abcd")).toDF("doc_id", "text"), v2).head()
    assert(uni2.getAs[Long]("n_pieces") == 2L && uni2.getAs[Long]("total_cost") == 2L,
      s"Viterbi must prefer ab|cd (cost 2) over abcd (cost 9): $uni2")
    // unreachable word -> one [UNK], cost excluded from the total
    val uni3 = TextOps.unigramSegment(Seq((0L, "xyz abc")).toDF("doc_id", "text"),
        uniVocab).head()
    assert(uni3.getAs[Long]("n_tokens") == 2L &&
        uni3.getAs[Long]("n_unk_tokens") == 1L &&
        uni3.getAs[Long]("n_pieces") == 3L &&
        uni3.getAs[Long]("total_cost") == 4L,
      s"uncoverable word is one [UNK] with no path cost: $uni3")
    // field-width contract guard, as for wordpiece
    val long = TextOps.unigramSegment(
        Seq((0L, "a" * 10000)).toDF("doc_id", "text"), Seq(("a", 1L))).head()
    assert(long.getAs[Long]("n_unk_tokens") == 1L && long.getAs[Long]("n_pieces") == 1L,
      s"10^4-char word must guard to [UNK]: $long")
    // costs at the top of the [0, 10^6] contract must not overflow either
    // dialect's packed arithmetic (the r16 review finding: a bare INTEGER
    // cost literal overflowed INT32 at cost * 10^4 in DuckDB)
    val big = TextOps.unigramSegment(Seq((0L, "abc")).toDF("doc_id", "text"),
        Seq(("ab", 250000L), ("c", 300000L))).head()
    assert(big.getAs[Long]("total_cost") == 550000L &&
        big.getAs[Long]("n_pieces") == 2L,
      s"top-of-contract costs must pack cleanly: $big")
  }

  test("unigramTrain: hard-EM learns the frequent long piece, covers its corpus, prunes junk") {
    import spark.implicits._
    // 'sparkle' dominates the corpus; a trained unigram vocab must carry a
    // long frequent piece covering it cheaply, and the result must never
    // UNK the training corpus (single-char coverage guarantee)
    val corpus = (0 until 40).map(i => (i.toLong, "sparkle sparkle sparkle zen"))
      .toDF("doc_id", "text")
    val vocab = TextOps.unigramTrain(corpus, vocabSize = 12, rounds = 3, maxPieceLen = 7)
    assert(vocab.size <= 12, s"vocab must respect the size budget: ${vocab.size}")
    val pieces = vocab.map(_._1).toSet
    assert(vocab.forall(p => p._2 >= 0L && p._2 <= 1000000L),
      "costs must stay in the packing contract")
    assert(pieces.exists(_.length >= 4),
      s"training must keep a long high-usage piece: $pieces")
    // the learned artifact composes with the oracle-gated applier and covers
    // the training corpus without [UNK]
    val applied = TextOps.unigramSegment(corpus, vocab)
      .agg(org.apache.spark.sql.functions.sum("n_unk_tokens")).head().getLong(0)
    assert(applied == 0L, "a trained vocab must never UNK its own training corpus")
    // the frequent word segments in few pieces (the long piece is used)
    val perWord = TextOps.unigramSegment(Seq((0L, "sparkle")).toDF("doc_id", "text"), vocab)
      .head().getAs[Long]("n_pieces")
    assert(perWord <= 3L, s"'sparkle' must segment via learned long pieces, got $perWord")
  }

  test("qualityFilterByDomain thresholds within each source, not globally") {
    val docs = graft.core.Tables.documents(spark, TestSpark.sfDir)
    val rows = TextOps.qualityFilterByDomain(docs, 0.25).collect()
    assert(rows.nonEmpty)
    val bySource = rows.map(r => r.getString(0) ->
      (r.getDouble(1), r.getLong(2))).toMap
    // every source keeps roughly the top 75% of ITS OWN docs — a global
    // threshold would skew kept-counts across sources with lower score
    // distributions; here each source's keep-rate is pinned by construction
    val counts = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    bySource.foreach { case (src, (thr, kept)) =>
      val n = counts(src)
      assert(kept <= n && kept >= (3 * n) / 4 - 1,
        s"$src kept $kept of $n — per-domain quantile should keep ~75%")
      assert(!thr.isNaN)
    }
    // and the thresholds genuinely differ across sources (they are local)
    assert(bySource.values.map(_._1).toSet.size > 1,
      "all domain thresholds identical — looks like a global cutoff")
  }

  test("gopherRules: every rule trips on its constructed page, a good page passes all") {
    import spark.implicits._
    val good = ("the quick brown fox jumps over and over " * 8).trim // 64 words, stops, alpha
    val pages = Seq(
      (0L, good),                                          // passes everything
      (1L, "word " * 30),                                  // word count < 50
      (2L, good + " " + ("xx " * 40).trim),                // still alpha/stops fine
      (3L, ("- item\n" * 9) + good),                       // 9 of 10 lines bulleted
      (4L, (good + " dots...\n") * 5 + good),              // 5 of 6 lines ellipsis-ended
      (5L, good + " " + ("# " * 20).trim),                 // 20 symbols vs 84 words
      (6L, ("99 " * 60).trim),                             // numeric: alpha+stops+meanlen fail
      (7L, ("aaa " * 30 + "the be quick " * 10).trim))     // in-range again
      .toDF("doc_id", "text")
    val r = TextOps.gopherRules(pages).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(0L).getBoolean(9), s"good page must keep: ${r(0L)}")
    assert(!r(1L).getBoolean(2), "30 words must fail word_count")
    assert(!r(3L).getBoolean(5), "bullet-dominated page must fail bullet rule")
    assert(!r(4L).getBoolean(6), "ellipsis-dominated page must fail ellipsis rule")
    assert(!r(5L).getBoolean(4), "symbol-heavy page must fail symbol ratio")
    assert(!r(6L).getBoolean(7) && !r(6L).getBoolean(8) && !r(6L).getBoolean(3),
      "numeric page must fail alpha, stop-word, and mean-word-length rules")
    assert(r(7L).getBoolean(9), s"mixed but in-range page must keep: ${r(7L)}")
  }

  test("c4Clean: line rules and page verdicts on hand-built pages") {
    import spark.implicits._
    val pages = Seq(
      (0L, "a good first sentence here.\nno terminal punct line\nshort.\nplease enable javascript now.\nanother full closing sentence right here!"),
      (1L, "lorem ipsum dolor sit amet.\ngood sentence one two three."),
      (2L, "object { nested } stuff.\ngood sentence one two three."),
      (3L, "one full sentence right here.\nsecond full sentence is fine.\nthird full sentence closes it."))
      .toDF("doc_id", "text")
    val r = TextOps.c4Clean(pages, minSentences = 3L).collect()
      .map(x => x.getLong(0) -> x).toMap
    // doc 0: kept = line1 + line5 (line2 no punct, line3 <3 words, line4 js)
    assert(r(0L).getLong(2) == 2L && r(0L).getLong(3) == 3L, s"doc0: ${r(0L)}")
    assert(r(0L).getString(6) == "few_sentences", "2 sentences < 3 drops the page")
    assert(r(1L).getString(6) == "lorem_ipsum")
    assert(r(2L).getString(6) == "brace")
    assert(r(3L).getBoolean(5) && r(3L).getLong(4) == 3L, s"doc3 keeps: ${r(3L)}")
  }

  test("shardProvenance: kept rows under real shards, attrition pooled at -1, shares sum to 1") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, TestSpark.sfDir)
    val dec = TextOps.curationDecisionsFamilies(docs, decontamPctTrain = 90)
      .localCheckpoint(false)
    val kept = docs.join(dec.filter(col("keep")).select("doc_id"), "doc_id")
    val shards = TextOps.shuffleShards(kept)
    val rep = TextOps.shardProvenance(docs, dec, shards).collect()
    assert(rep.nonEmpty)
    val byShard = rep.groupBy(_.getInt(0))
    // kept rows carry real shards with stage 'kept'; everything else pools
    // under -1 with a drop stage
    byShard.foreach { case (sh, rows) =>
      if (sh >= 0) assert(rows.forall(_.getString(3) == "kept"),
        s"shard $sh carries non-kept stages: ${rows.map(_.getString(3)).toSet}")
      else assert(rows.forall(_.getString(3) != "kept"),
        "pseudo-shard -1 must hold only attrition rows")
    }
    assert(byShard.contains(-1) && byShard.keys.exists(_ >= 0))
    // the report is an exhaustive partition of the corpus: doc counts sum up
    val nDocs = docs.count()
    assert(rep.map(_.getLong(4)).sum == nDocs,
      s"report rows must partition the corpus: ${rep.map(_.getLong(4)).sum} vs $nDocs")
    // kept doc count matches the decision table
    val keptDocs = rep.filter(_.getInt(0) >= 0).map(_.getLong(4)).sum
    assert(keptDocs == dec.filter(col("keep")).count())
    // token shares sum to ~1 within every shard with tokens
    byShard.foreach { case (sh, rows) =>
      val share = rows.map(_.getDouble(6)).sum
      if (rows.map(_.getLong(5)).sum > 0)
        assert(math.abs(share - 1.0) < 1e-9, s"shard $sh shares sum to $share")
    }
    // the decontaminating decision exposes multiple attrition stages
    val stages = rep.filter(_.getInt(0) == -1).map(_.getString(3)).toSet
    assert(stages.size >= 2, s"expected several drop stages, got $stages")
  }

  test("domainMixtureWeights upweights the high-surprisal domain, conserves mass") {
    import spark.implicits._
    // 'hard' docs are all-unique tokens (max surprisal); 'easy' docs repeat
    // one corpus-dominating token (min surprisal)
    val hard = (0 until 10).map(i =>
      (i.toLong, "hard", (0 until 20).map(j => s"rare_${i}_$j").mkString(" ")))
    val easy = (10 until 20).map(i =>
      (i.toLong, "easy", Seq.fill(20)("common").mkString(" ")))
    val corpus = (hard ++ easy).toDF("doc_id", "source", "text")
    val traj = TextOps.domainMixtureWeights(corpus, iters = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    val byRound = traj.groupBy(_._1)
    assert(byRound.keySet == Set(0, 1, 2, 3))
    // round 0 is uniform
    byRound(0).foreach { case (_, _, w) => assert(w == 1000000L) }
    // mass conserved up to the renormalization floor (one unit per domain)
    val mass = 2L * 1000000L
    byRound.values.foreach { rows =>
      val s = rows.map(_._3).sum
      assert(s <= mass && s >= mass - rows.length, s"mass $s drifted from $mass")
    }
    // hard strictly gains weight round over round, easy strictly loses
    def w(r: Int, d: String) = byRound(r).find(_._2 == d).get._3
    // monotone per round until the floor/saturation fixpoint (easy can pin
    // at 0, at which point renormalization caps hard at the full mass)
    (1 to 3).foreach { r =>
      assert(w(r, "hard") >= w(r - 1, "hard"), s"round $r: hard shrank")
      assert(w(r, "easy") <= w(r - 1, "easy"), s"round $r: easy grew")
    }
    assert(w(3, "easy") < 1000000L && w(3, "hard") > 1000000L,
      s"no separation: easy ${w(3, "easy")}, hard ${w(3, "hard")}")
    // learn-then-apply: the max-normalized sampler keeps every doc of the
    // heaviest domain and (here, with easy floored at 0) none of the other.
    // PIN the precondition the second half depends on — if an eta/corpus
    // tweak ever leaves easy above 0, the kept-set assertions must be
    // rewritten against the actual keep rate, not silently drift
    assert(w(3, "easy") == 0L,
      s"precondition moved: easy weight ${w(3, "easy")} (expected the 0 floor)")
    val weights = TextOps.domainMixtureWeights(corpus, iters = 3)
      .filter(org.apache.spark.sql.functions.col("round") === 3)
      .select("source", "weight")
    val kept = TextOps.mixtureSampleByWeights(corpus, weights)
      .collect().map(_.getString(1))
    assert(kept.count(_ == "hard") == 10, "heaviest domain keeps all docs")
    assert(!kept.contains("easy"), "zero-weight domain keeps nothing")
  }

  test("domainMixtureWeights: the round-loop and the one-pass fold agree bitwise") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // production folds below its domain gate, so the loop is only reached
    // on huge domain counts: force both regimes on one small corpus of four
    // domains at graded surprisal, at the default step (three domains floor
    // to weight 0 by round 2) and at a gentle one (weights move over rounds)
    val corpus = (0 until 48).map { i =>
      val d = i % 4
      val toks = (0 until 12).map(j => if (j % 4 < d) s"rare_${i}_$j" else s"w${j % 3}")
      (i.toLong, s"dom$d", toks.mkString(" "))
    }.toDF("doc_id", "source", "text")
    val iters = 5
    val loss = TextOps.mixtureLoss(corpus, "source")
    val mass = loss.count() * TextOps.MixtureW
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    Seq((8L, 1L), (1L, 4L)).foreach { case (etaNum, etaDen) =>
      def traj(fold: Boolean) =
        if (fold) TextOps.mixtureRoundsFolded(loss, iters, etaNum, etaDen, TextOps.MixtureW, mass)
        else TextOps.mixtureRoundsLoop(loss, iters, etaNum, etaDen, TextOps.MixtureW, mass)
      val loopTraj = rows(traj(fold = false))
      assert(loopTraj == rows(traj(fold = true)), s"eta $etaNum/$etaDen: trajectories disagree")
      assert(loopTraj.length == 4 * (iters + 1))
      // the learned weights, applied: the same docs survive either regime
      def learned(fold: Boolean) = TextOps.mixtureSampleByWeights(corpus,
        traj(fold).filter(col("round") === iters).select("source", "weight"))
      val loopKept = rows(learned(fold = false))
      assert(loopKept == rows(learned(fold = true)), s"eta $etaNum/$etaDen: samples disagree")
      assert(loopKept.nonEmpty && loopKept.length < 48,
        s"eta $etaNum/$etaDen: sampler should keep some but not all docs, kept ${loopKept.length}")
    }
  }
}
