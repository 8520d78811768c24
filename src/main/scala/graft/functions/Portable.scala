package graft.functions

/** Cross-engine-deterministic expression builders.
  *
  * The driver's correctness gate hash-compares Spark results against DuckDB
  * bit-for-bit, so every numeric path in an oracle-checked query must evaluate
  * identically in both engines. This object is the single source of truth: each
  * primitive has a Spark-SQL text form and a DuckDB-SQL text form generated from
  * the same Scala code (same constants, same association order), so the query
  * and its oracle cannot drift apart.
  *
  * Verified bitwise-equal on this corpus (see tools/parity.py history):
  * polynomial codepoint hash, fixed-order float→double dot products,
  * single-space tokenization, Spark `percentile` vs DuckDB `quantile_cont`,
  * and JSON field extraction.
  *
  * Scale note: the polynomial hash is a Spark higher-order `aggregate` (not
  * codegen'd). That is fine for shingle-level hashing at bench scale; a 100 TB
  * deployment that does not need a DuckDB oracle should swap `phashSpark` for
  * the codegen'd `xxhash64` — every operator in [[graft.operators]] takes the
  * hash as a plugged expression for exactly that reason.
  */
object Portable {
  /** Modulus: largest common prime < 2^30 keeps every intermediate product
    * (mult * acc, a * h + b) far below 2^63 in BOTH engines — DuckDB BIGINT
    * overflow *throws*, it does not wrap. */
  val P    = 1000000007L
  val Mult = 131L
  val Seed = 7L
  /** Second independent 30-bit hash for the 60-bit simhash: h2 = (a*h1+b) mod P. */
  val H2A = 479L
  val H2B = 88007L
  /** Embedding dimension of the test corpus (embeddings.parquet). */
  val Dim = 64
  /** Bits taken from each 30-bit hash for the simhash fingerprint halves. */
  val SimBits = 30

  // ---- tokenization --------------------------------------------------------
  /** Single-space split, empties dropped. Deliberately NOT a regex: Java and
    * RE2 regex dialects differ; a literal split is identical everywhere. */
  def tokensSpark(c: String): String = s"filter(split($c, ' '), x -> x <> '')"
  def tokensDuck(c: String): String  = s"list_filter(string_split($c, ' '), x -> x <> '')"

  // ---- polynomial rolling hash over codepoints -----------------------------
  /** The JVM-side evaluation of the same hash — THE single definition every
    * native expression calls (StringPolyHash, ShingleHashes, SimHash,
    * BucketCounts). The hash is the bitwise contract all oracle gates ride
    * on; one shared loop makes divergence between expressions impossible. */
  def phashJvm(s: String): Long = {
    var acc = Seed
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * Mult + cp) % P
      i += Character.charCount(cp)
    }
    acc
  }

  /** NOTE the empty-string guard: Spark's `sequence(1, 0)` is DESCENDING
    * ([1, 0]), not empty, so the unguarded fold would hash two phantom chars. */
  def phashSpark(s: String): String =
    s"CASE WHEN length($s) = 0 THEN cast($Seed as bigint) ELSE " +
      s"aggregate(transform(sequence(1, length($s)), i -> ascii(substr($s, i, 1))), " +
      s"cast($Seed as bigint), (acc, c) -> (acc * $Mult + c) % $P) END"
  def phashDuck(s: String): String =
    s"list_reduce(list_prepend($Seed::BIGINT, [unicode($s[i:i]) for i in range(1, length($s)+1)]), " +
      s"(acc, c) -> (acc * $Mult + c) % $P)"

  // ---- word n-gram shingles (array of space-joined n-grams) ----------------
  def shinglesSpark(toks: String, n: Int): String =
    s"CASE WHEN size($toks) >= $n THEN transform(sequence(1, size($toks) - ${n - 1}), " +
      s"i -> concat_ws(' ', slice($toks, i, $n))) ELSE slice($toks, 1, 0) END"
  def shinglesDuck(toks: String, n: Int): String =
    s"[array_to_string($toks[i:i+${n - 1}], ' ') for i in range(1, len($toks) - ${n - 2})]"

  // ---- fixed-order vector math (left-assoc chain => identical fp rounding) -
  def dotSpark(a: String, b: String): String =
    (1 to Dim).map(i => s"cast(element_at($a, $i) as double) * cast(element_at($b, $i) as double)")
      .mkString(" + ")

  // ---- Johnson-Lindenstrauss random projection (dense ±1 sign matrix) ------
  /** Deterministic ±1 sign matrix for the JL projection: `outDim` output
    * components, each a signed sum over the `Dim` input components
    * (Achlioptas, "Database-friendly random projections", JCSS 2003 — the
    * ±1 variant satisfies the JL lemma with the same distortion bound as
    * Gaussian matrices). scala.util.Random's LCG sequence is specified, so
    * the signs embedded into both dialects are identical across builds.
    * The conventional 1/sqrt(outDim) scale factor is DROPPED: cosine is
    * scale-invariant, so the factor cancels in every consumer and omitting
    * it keeps each component an exact signed float sum. */
  def rpSigns(outDim: Int): IndexedSeq[IndexedSeq[Int]] = {
    val rng = new scala.util.Random(4242)
    IndexedSeq.fill(outDim, Dim)(if (rng.nextBoolean()) 1 else -1)
  }

  /** One projected component: a left-associated `+/-` chain over the input
    * components in ascending order (identical fp rounding both engines),
    * cast back to FLOAT so projected vectors live in the same array<float>
    * world as raw embeddings (graft_dot, norms, the top-k folds all apply
    * verbatim). IEEE double->float rounding is deterministic in both
    * engines. */
  private def rpComponent(signs: IndexedSeq[Int], term: Int => String): String = {
    // leading negative is a unary minus (same text, same parse, same bits in
    // both dialects — a `0.0 - x` seed would parse as DECIMAL in DuckDB)
    val chain = (1 until Dim).foldLeft(
      (if (signs(0) < 0) "- " else "") + term(1)) { (acc, i) =>
      acc + (if (signs(i) < 0) " - " else " + ") + term(i + 1)
    }
    s"CAST(($chain) AS FLOAT)"
  }
  def rpProjectSpark(emb: String, outDim: Int): String =
    rpSigns(outDim).map(row =>
        rpComponent(row, i => s"cast(element_at($emb, $i) as double)"))
      .mkString("array(", ", ", ")")
  def rpProjectDuck(emb: String, outDim: Int): String =
    rpSigns(outDim).map(row =>
        rpComponent(row, i => s"CAST($emb[$i] AS DOUBLE)"))
      .mkString("[", ", ", "]")

  /** [[dotDuck]] generalized to the first `n` components — the oracle-side
    * cosine for PROJECTED (n < Dim) vectors. Same left-assoc chain. */
  def dotDuckN(a: String, b: String, n: Int): String =
    (1 to n).map(i => s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)").mkString(" + ")
  def normDuckN(a: String, n: Int): String = s"sqrt(${dotDuckN(a, a, n)})"

  // ---- WordPiece greedy longest-match-first segmentation -------------------
  /** Maximal-munch fold state for one word against a LITERAL vocabulary,
    * packed into ONE BIGINT (`unk * 10^9 + pos * 10^4 + n_pieces`) because
    * DuckDB's `list_reduce` requires accumulator and element types to match
    * (the [[phashDuck]] seed-prepend trick, integer state instead of a
    * struct). Per position: if not finished, take the LONGEST vocab piece
    * matching at `pos` (list_max over a filtered literal list — NULL when
    * nothing matches → the whole word is one [UNK], BERT's behavior).
    * Both dialects run the same integer arithmetic; pieces and positions
    * stay < 10^4 so the packing never collides. Words of 10^4+ chars would
    * overflow the pieces field (and at 10^5+, the pos field into the unk
    * flag) — SILENTLY, identically in both engines, so no parity check
    * would catch it — hence both dialects guard them to one explicit [UNK]
    * up front (the r15 ADVICE finding): a pathological unbroken token is
    * exactly what [UNK] is for, and the packed state never sees it. */
  // per-dialect string-literal escapes: Spark's parser processes backslash
  // escapes inside single quotes (the CLAUDE.md double-escape trap), DuckDB
  // treats backslash literally and doubles quotes — escaping each dialect
  // its own way keeps the EFFECTIVE vocab identical in both engines
  private def wordpieceEscSpark(p: String) =
    p.replace("\\", "\\\\").replace("'", "\\'")
  private def wordpieceEscDuck(p: String) = p.replace("'", "''")
  def wordpieceStateSpark(word: String, vocab: Seq[String]): String = {
    val arr = vocab.map(p => s"'${wordpieceEscSpark(p)}'").mkString("array(", ", ", ")")
    // sequence(1, 0) is DESCENDING, so the empty word guards to the seed;
    // 10^4+-char words guard to [UNK] before the fold (field-width contract)
    s"CASE WHEN length($word) = 0 THEN 10000L WHEN length($word) >= 10000 THEN 1000000000L " +
      s"ELSE aggregate(sequence(1, length($word)), 10000L, " +
      s"(acc, x) -> CASE WHEN acc div 1000000000L = 1 OR (acc div 10000L) % 100000L > length($word) THEN acc " +
      s"ELSE coalesce(((acc div 10000L) % 100000L + array_max(transform(filter($arr, " +
      s"p -> substring($word, cast((acc div 10000L) % 100000L as int), length(p)) = p), " +
      s"p -> cast(length(p) as bigint)))) * 10000L + (acc % 10000L) + 1L, 1000000000L) END) END"
  }
  def wordpieceStateDuck(word: String, vocab: Seq[String]): String = {
    val arr = vocab.map(p => s"'${wordpieceEscDuck(p)}'").mkString("[", ", ", "]")
    s"CASE WHEN length($word) >= 10000 THEN 1000000000 " +
      s"ELSE list_reduce(list_prepend(10000::BIGINT, [CAST(i AS BIGINT) for i in range(1, length($word) + 1)]), " +
      s"(acc, x) -> CASE WHEN acc // 1000000000 = 1 OR (acc // 10000) % 100000 > length($word) THEN acc " +
      s"ELSE coalesce(((acc // 10000) % 100000 + list_max([length(p) for p in $arr " +
      s"if substr($word, CAST((acc // 10000) % 100000 AS INT), length(p)) = p])) * 10000 " +
      s"+ (acc % 10000) + 1, 1000000000) END) END"
  }
  /** Decode of the packed state: piece count (an [UNK] word is ONE piece)
    * and the unk flag. `st` must be a BIGINT column/expression. */
  def wordpiecePiecesSpark(st: String): String =
    s"CASE WHEN $st div 1000000000L = 1 THEN 1L ELSE $st % 10000L END"
  def wordpiecePiecesDuck(st: String): String =
    s"CASE WHEN $st // 1000000000 = 1 THEN 1 ELSE $st % 10000 END"
  def wordpieceUnkSpark(st: String): String =
    s"CASE WHEN $st div 1000000000L = 1 THEN 1L ELSE 0L END"
  def wordpieceUnkDuck(st: String): String =
    s"CASE WHEN $st // 1000000000 = 1 THEN 1 ELSE 0 END"

  // ---- Unigram-LM Viterbi segmentation -------------------------------------
  /** Sentinel for an unreachable Viterbi cell / unsegmentable word. Far above
    * any in-contract packed value (cost <= 10^6 per piece x < 10^4 pieces
    * packs below 10^14) and far below BIGINT overflow even after the decode
    * arithmetic. */
  val UnigramUnreach = 100000000000000000L // 10^17

  /** Viterbi best-segmentation state for one word against a LITERAL weighted
    * vocabulary (Kudo, "Subword Regularization", arXiv:1804.10959 §3 — the
    * unigram-LM tokenizer SentencePiece ships; inference is the classic
    * lattice Viterbi). Each vocab piece carries an INTEGER cost (a
    * fixed-point -log p, e.g. the [[unigramSurprisal]]-style bit width), and
    * the DP minimizes total cost with piece count as the packed tie-break:
    * cell[j] = min over pieces p ending at j of cell[j - |p|] + cost(p)*10^4
    * + 1, cells packed as `cost * 10^4 + n_pieces` so one integer MIN is the
    * lexicographic (cost, pieces) objective. Fold state is the whole cell
    * ARRAY (seed `[0]`, one append per position — in DuckDB the fold
    * elements are single-element lists so accumulator and element types
    * match, the [[wordpieceStateSpark]] packing trick one level up); the
    * returned scalar is the final cell, [[UnigramUnreach]] when no piece
    * path covers the word (one whole-word [UNK], BERT/SentencePiece
    * fallback) or the word breaks the <10^4-char field contract.
    * Contract (enforced by [[graft.operators.TextOps.unigramSegment]]):
    * pieces non-empty, costs in [0, 10^6]. Both dialects run identical
    * integer arithmetic, so the state is engine-exact. */
  def unigramStateSpark(word: String, vocab: Seq[(String, Long)]): String = {
    val v = vocab.size
    val ps = vocab.map(p => s"'${wordpieceEscSpark(p._1)}'").mkString("array(", ", ", ")")
    val ls = vocab.map(_._1.length).mkString("array(", ", ", ")")
    val cs = vocab.map(p => s"${p._2}L").mkString("array(", ", ", ")")
    s"CASE WHEN length($word) = 0 THEN 0L WHEN length($word) >= 10000 THEN ${UnigramUnreach}L " +
      s"ELSE element_at(aggregate(sequence(1, length($word)), array(0L), (acc, j) -> concat(acc, array(" +
      s"coalesce(array_min(transform(filter(sequence(1, $v), k -> " +
      s"j >= element_at($ls, k) " +
      s"AND element_at(acc, j - element_at($ls, k) + 1) < ${UnigramUnreach}L " +
      s"AND substring($word, j - element_at($ls, k) + 1, element_at($ls, k)) = element_at($ps, k)), " +
      s"k -> element_at(acc, j - element_at($ls, k) + 1) + element_at($cs, k) * 10000L + 1L)), " +
      s"${UnigramUnreach}L)))), length($word) + 1) END"
  }
  def unigramStateDuck(word: String, vocab: Seq[(String, Long)]): String = {
    val v = vocab.size
    val ps = vocab.map(p => s"'${wordpieceEscDuck(p._1)}'").mkString("[", ", ", "]")
    val ls = vocab.map(_._1.length).mkString("[", ", ", "]")
    val cs = vocab.map(_._2).mkString("[", ", ", "]")
    s"CASE WHEN length($word) = 0 THEN 0 WHEN length($word) >= 10000 THEN $UnigramUnreach " +
      s"ELSE list_reduce(list_prepend([0::BIGINT], [[CAST(j AS BIGINT)] for j in range(1, length($word) + 1)]), " +
      s"(acc, x) -> list_append(acc, coalesce(list_min(" +
      // the cost literal must multiply as BIGINT: a bare INTEGER literal
      // overflows INT32 at cost * 10^4 for in-contract costs >= 214749
      s"[acc[CAST(x[1] - ($ls)[k] + 1 AS INT)] + CAST(($cs)[k] AS BIGINT) * 10000 + 1 for k in range(1, ${v + 1}) " +
      s"if x[1] >= ($ls)[k] " +
      s"and acc[CAST(x[1] - ($ls)[k] + 1 AS INT)] < $UnigramUnreach " +
      s"and substr($word, CAST(x[1] - ($ls)[k] + 1 AS INT), ($ls)[k]) = ($ps)[k]]), " +
      s"$UnigramUnreach)))[length($word) + 1] END"
  }
  /** Decode of the packed Viterbi cell: piece count (an [UNK] word is ONE
    * piece), total integer cost (0 for [UNK] — its cost is not a path cost),
    * and the unk flag. `st` must be a BIGINT column/expression. */
  def unigramPiecesSpark(st: String): String =
    s"CASE WHEN $st >= ${UnigramUnreach}L THEN 1L ELSE $st % 10000L END"
  def unigramPiecesDuck(st: String): String =
    s"CASE WHEN $st >= $UnigramUnreach THEN 1 ELSE $st % 10000 END"
  def unigramCostSpark(st: String): String =
    s"CASE WHEN $st >= ${UnigramUnreach}L THEN 0L ELSE $st div 10000L END"
  def unigramCostDuck(st: String): String =
    s"CASE WHEN $st >= $UnigramUnreach THEN 0 ELSE $st // 10000 END"
  def unigramUnkSpark(st: String): String =
    s"CASE WHEN $st >= ${UnigramUnreach}L THEN 1L ELSE 0L END"
  def unigramUnkDuck(st: String): String =
    s"CASE WHEN $st >= $UnigramUnreach THEN 1 ELSE 0 END"
  def dotDuck(a: String, b: String): String =
    (1 to Dim).map(i => s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)").mkString(" + ")
  def normDuck(a: String): String  = s"sqrt(${dotDuck(a, a)})"

  // ---- subspace squared-L2 (product quantization) --------------------------
  /** Fixed-order squared L2 between `len` components of two vectors starting
    * at 1-based offset `off+1` — the PQ subspace distance. Left-associated
    * chain of (a_i-b_i)*(a_i-b_i), identical fp rounding in both engines. */
  def subL2Spark(a: String, b: String, off: Int, len: Int): String =
    (1 to len).map { i =>
      val (x, y) = (s"cast(element_at($a, ${off + i}) as double)",
        s"cast(element_at($b, ${off + i}) as double)")
      s"($x - $y) * ($x - $y)"
    }.mkString(" + ")
  def subL2Duck(a: String, b: String, off: Int, len: Int): String =
    (1 to len).map { i =>
      val (x, y) = (s"CAST($a[${off + i}] AS DOUBLE)", s"CAST($b[${off + i}] AS DOUBLE)")
      s"($x - $y) * ($x - $y)"
    }.mkString(" + ")

  // ---- minhash hash family (fixed pseudo-random coefficients) --------------
  /** (a_i, b_i) pairs for h_i(x) = (a_i*x + b_i) mod P. java.util.Random's LCG
    * sequence is specified, so these literals are stable across builds; they
    * are embedded verbatim into any oracle SQL that needs them. */
  def hashFamily(k: Int): IndexedSeq[(Long, Long)] = {
    val rng = new scala.util.Random(42)
    IndexedSeq.fill(k)((math.floorMod(rng.nextLong(), P - 1) + 1,
      math.floorMod(rng.nextLong(), P - 1) + 1))
  }

  // ---- simhash -------------------------------------------------------------
  /** Count-weighted bit sums: for token hash column h with weight w,
    * s_j = sum(w * (2*bit_j(h) - 1)) — the oracle side of `graft_simhash`,
    * which replays the identical integer math natively. */
  def simBitSumDuck(h: String, w: String, j: Int): String =
    s"sum($w * (2 * (($h >> $j) & 1) - 1))"
  /** Fingerprint from the 30 per-bit sums s_0..s_29 (column name prefix). */
  def simFingerprintDuck(pfx: String): String =
    (0 until SimBits).map(j =>
      s"(CASE WHEN ${pfx}$j > 0 THEN ${1L << j}::BIGINT ELSE 0::BIGINT END)").mkString(" + ")

  /** 15-bit chunks of the two fingerprint halves — pigeonhole-complete blocking
    * for hamming <= 3 over 60 bits (4 chunks; 3 flipped bits leave >= 1 chunk
    * untouched, so every qualifying pair shares a (chunk_idx, value) key). */
  def simChunksSpark(fp1: String, fp2: String): Seq[String] = Seq(
    s"$fp1 & 32767", s"shiftright($fp1, 15) & 32767",
    s"$fp2 & 32767", s"shiftright($fp2, 15) & 32767")

  def hammingSpark(a1: String, b1: String, a2: String, b2: String): String =
    s"bit_count($a1 ^ $b1) + bit_count($a2 ^ $b2)"
  def hammingDuck(a1: String, b1: String, a2: String, b2: String): String =
    s"bit_count(xor($a1, $b1)) + bit_count(xor($a2, $b2))"

  // ---- random-hyperplane LSH (fixed LCG planes) ----------------------------
  /** Hyperplane entry for plane `p` (= table*nBits + bit), dimension `d`:
    * `lcg(p,d)/2^30 - 1` in [-1, 1). Every value is a dyadic rational with
    * denominator 2^30 — h.toDouble, the division, and the subtraction are all
    * EXACT in IEEE double — so any engine evaluating the generating formula
    * reproduces the planes bit-for-bit, and the bucket sign bits (dot >= 0)
    * agree across engines as long as the dot accumulates left-to-right. */
  def lshPlane(p: Int, d: Int): Double = {
    val h = math.floorMod(1103515245L * (p * 131L + d * 31L + 17L) + 12345L, 1L << 31)
    h.toDouble / (1L << 30).toDouble - 1.0
  }

  /** DuckDB CTE list computing `buckets(vec_id, tbl, bucket)` for every row of
    * an `embeddings` view — the oracle twin of the `graft_lsh_buckets` native
    * expression ([[graft.plans.LshBucketIds]]). The plane formula is inlined
    * ((h % 2^31) - 2^30) / 2^30, algebraically and bitwise identical to
    * [[lshPlane]] because every step is exact. */
  def lshBucketsDuckCtes(nTables: Int, nBits: Int): String =
    s"""pl AS (SELECT CAST(p // $nBits AS BIGINT) AS tbl, CAST(p % $nBits AS BIGINT) AS bit,
       |  [((1103515245 * (p * 131 + d * 31 + 17) + 12345) % 2147483648 - 1073741824)::DOUBLE
       |     / 1073741824.0 for d in range(0, $Dim)] AS plane
       |  FROM range(0, ${nTables * nBits}) r(p)),
       |dots AS (SELECT v.vec_id, pl.tbl, pl.bit,
       |  list_reduce(list_prepend(0.0::DOUBLE,
       |    [CAST(v.embedding[d + 1] AS DOUBLE) * pl.plane[d + 1] for d in range(0, $Dim)]),
       |    (a, x) -> a + x) AS dot
       |  FROM embeddings v CROSS JOIN pl),
       |buckets AS MATERIALIZED (SELECT vec_id, tbl,
       |  CAST(SUM(CASE WHEN dot >= 0 THEN (1::BIGINT << bit) ELSE 0::BIGINT END) AS BIGINT) AS bucket
       |  FROM dots GROUP BY vec_id, tbl)""".stripMargin

  // ---- silver-layer cleaning twins (DuckDB side) ---------------------------
  /** DuckDB text of Spark's `initcap` semantics: split on single space, first
    * char upper, rest lower, empties preserved. Bitwise-proven by the
    * clean_customer_pipeline gate since round 1. */
  def initcapDuck(x: String): String =
    s"array_to_string(list_transform(string_split(lower($x), ' '), w -> upper(w[1:1]) || w[2:]), ' ')"

  /** Multi-format timestamp dispatch table shared by BOTH engines:
    * (dispatch regex, Spark pattern, DuckDB strptime pattern). The reference's
    * seven DATE_FORMATS (silver/spark_procedures/users.sql:14-22 — ISO,
    * yyyy/MM/dd, MM/dd/yyyy, MM-dd-yyyy and the three month-name forms) plus
    * the dotted-European and compact forms. Prefixes are MUTUALLY EXCLUSIVE
    * by construction (4-digit-year lead vs 1-2-digit lead vs 8-digit compact
    * vs month-name lead, separator disambiguates within each group; the
    * abbreviated and full month-name forms differ by the comma after the
    * day), so a regex dispatch selects the ONLY format that can parse — equal
    * to first-parse-wins COALESCE at ≤1 expensive parse per value. Both
    * [[graft.operators.Cleaning.parseTimestampMulti]] (Spark CASE/rlike) and
    * [[tsMultiDuck]] (DuckDB CASE/regexp_matches) are generated from THIS
    * table, so the two engines accept and reject identical strings — the
    * dispatch itself cannot drift cross-engine. Single-letter Spark fields
    * (M/d/H) accept padded and unpadded values, matching DuckDB %m/%d/%H
    * tolerance; month names are canonical English in both (date_format MMM /
    * strftime %b ↔ "Jan", MMMM / %B ↔ "January"). */
  val TsDispatch: Seq[(String, String, String)] = Seq(
    ("^[0-9]{4}-",             "yyyy-M-d H:m:s",     "%Y-%m-%d %H:%M:%S"),
    ("^[0-9]{4}/",             "yyyy/M/d H:m:s",     "%Y/%m/%d %H:%M:%S"),
    ("^[0-9]{1,2}/",           "M/d/yyyy H:m:s",     "%m/%d/%Y %H:%M:%S"),
    ("^[0-9]{1,2}-",           "M-d-yyyy H:m:s",     "%m-%d-%Y %H:%M:%S"),
    ("^[0-9]{1,2}\\.",         "d.M.yyyy H:m:s",     "%d.%m.%Y %H:%M:%S"),
    ("^[0-9]{8} ",             "yyyyMMdd HH:mm:ss",  "%Y%m%d %H:%M:%S"),
    ("^[A-Za-z]+ [0-9]{1,2} ", "MMM d yyyy H:m:s",   "%b %d %Y %H:%M:%S"),
    ("^[0-9]{1,2} [A-Za-z]",   "d MMM yyyy H:m:s",   "%d %b %Y %H:%M:%S"),
    ("^[A-Za-z]+ [0-9]{1,2},", "MMMM d, yyyy H:m:s", "%B %d, %Y %H:%M:%S"))
  /** DuckDB twin of Cleaning.parseTimestampMulti: same dispatch, same order. */
  def tsMultiDuck(x: String): String =
    "CAST((CASE " + TsDispatch.map { case (re, _, duck) =>
      s"WHEN regexp_matches(trim($x), '$re') THEN try_strptime(trim($x), '$duck') "
    }.mkString + "ELSE NULL END) AS TIMESTAMP)"

  /** DATE twin of [[TsDispatch]] (the reference's standardize_date formats):
    * mutually exclusive prefixes (4-digit-year-dash vs 1-2-digit-slash vs
    * dotted vs bare-8-digit), so the regex dispatch evaluates at most ONE
    * expensive parse per value — COALESCE semantics at a quarter the cost,
    * and both engines' parsers are generated from THIS table. */
  val DateDispatch: Seq[(String, String, String)] = Seq(
    ("^[0-9]{4}-",     "yyyy-MM-dd", "%Y-%m-%d"),
    ("^[0-9]{1,2}/",   "M/d/yyyy",   "%-m/%-d/%Y"),
    ("^[0-9]{1,2}\\.", "dd.MM.yyyy", "%d.%m.%Y"),
    ("^[0-9]{8}$",     "yyyyMMdd",   "%Y%m%d"))
  /** DuckDB twin of Cleaning.parseDateMulti: same dispatch, same order. */
  def dateMultiDuck(x: String): String =
    "CAST((CASE " + DateDispatch.map { case (re, _, duck) =>
      s"WHEN regexp_matches($x, '$re') THEN try_strptime($x, '$duck') "
    }.mkString + "ELSE NULL END) AS DATE)"

  // ---- train/test split bucket ---------------------------------------------
  /** Split-assignment bucket in [0, 100): polynomial mix of the id's decimal
    * string. A multiplicative form like (id * 2654435761) % 100 reduces to
    * (id * 61) % 100 — sequential ids cycle through residues with period 100,
    * so any id-correlated corpus property (ingest time, source batching)
    * leaks into the split pattern. Hashing the DIGITS through the polynomial
    * mixer breaks that structure and stays bitwise-portable (same primitives
    * as [[phashSpark]]/[[phashDuck]], proven by the fingerprint gates).
    * Spark side uses the codegen'd native twin (graft_phash, pinned bitwise
    * to the portable chain by PortableParitySpec). */
  def splitBucketSpark(id: String): String =
    s"(graft_phash(cast($id as string)) % 100)"
  def splitBucketDuck(id: String): String =
    s"(${phashDuck(s"CAST($id AS VARCHAR)")} % 100)"

  // ---- mixture-sampling bucket ---------------------------------------------
  /** Per-row sampling bucket in [0, 10000), INDEPENDENT of the train/test
    * split bucket: hashing 'mix-<id>' instead of '<id>' decorrelates the two
    * selections (reusing [[splitBucketSpark]] would make a 50% sample a
    * strict subset of the training split). Same polynomial primitives, same
    * cross-engine bitwise guarantee. */
  def sampleBucketSpark(id: String): String =
    s"(graft_phash(concat('mix-', cast($id as string))) % 10000)"
  def sampleBucketDuck(id: String): String =
    s"(${phashDuck(s"('mix-' || CAST($id AS VARCHAR))")} % 10000)"

  // ---- corpus-shuffle key --------------------------------------------------
  /** Full-range deterministic shuffle key, independent of both the train/test
    * and mixture buckets ('shuf-' salt): the training-order permutation must
    * not correlate with either selection. Values stay < 2^30 (non-negative),
    * so `%` and pmod agree in both engines. */
  def shuffleKeySpark(id: String): String =
    s"graft_phash(concat('shuf-', cast($id as string)))"
  def shuffleKeyDuck(id: String): String =
    phashDuck(s"('shuf-' || CAST($id AS VARCHAR))")

  // ---- temperature-sampling key --------------------------------------------
  /** Per-row order key for temperature-scaled domain sampling, independent of
    * the split / mixture / shuffle selections ('temp-' salt — same
    * decorrelation argument as [[sampleBucketSpark]]). Values < 2^30. */
  def tempKeySpark(id: String): String =
    s"graft_phash(concat('temp-', cast($id as string)))"
  def tempKeyDuck(id: String): String =
    phashDuck(s"('temp-' || CAST($id AS VARCHAR))")

  // ---- HLL scramble --------------------------------------------------------
  /** Two affine rounds (H2A*h + H2B mod P) on top of the polynomial hash.
    * The polynomial is LINEAR in the key's digits: ids sharing a prefix land
    * in a band a few 2^25 wide, so its top bits (an HLL rank source) and its
    * low residues (a 256-way register) are both badly structured. Each
    * multiply-wrap round re-spreads a band across [0, P); two rounds measured
    * sufficient for register uniformity and geometric ranks on sequential-id
    * corpora (tools history — 1 round under-estimated 2x). No overflow:
    * 479 * (P-1) + 88007 < 2^39. */
  def hllScrambleSpark(h: String): String =
    s"(($H2A * (($H2A * ($h) + $H2B) % $P) + $H2B) % $P)"
  def hllScrambleDuck(h: String): String =
    s"(($H2A * (($H2A * ($h) + $H2B) % $P) + $H2B) % $P)"

  // ---- exact integer square root -------------------------------------------
  /** floor(sqrt(c)) for a non-negative BIGINT, EXACT in both engines: IEEE
    * sqrt is correctly rounded, but floor(correctly-rounded-sqrt(k^2 - 1)) can
    * land on k once k^2 crosses 2^52 (the double ulp at k exceeds 1/(2k)), so
    * the candidate from floating sqrt is re-anchored with two integer
    * comparisons — a branchless Newton clamp. Valid for any c whose (w+1)^2
    * stays under 2^63 (c < ~8.5e37 is irrelevant; counts are < 2^62). */
  def isqrtSpark(c: String): String = {
    val w = s"cast(floor(sqrt(cast(($c) as double))) as bigint)"
    s"($w + (case when ($w + 1) * ($w + 1) <= ($c) then 1 else 0 end)" +
      s" - (case when $w * $w > ($c) then 1 else 0 end))"
  }
  def isqrtDuck(c: String): String = {
    val w = s"CAST(FLOOR(SQRT(CAST(($c) AS DOUBLE))) AS BIGINT)"
    s"($w + (CASE WHEN ($w + 1) * ($w + 1) <= ($c) THEN 1 ELSE 0 END)" +
      s" - (CASE WHEN $w * $w > ($c) THEN 1 ELSE 0 END))"
  }

  // ---- stopword lexica for the language-ID heuristic -----------------------
  val StopEn: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")
  val StopEs: Seq[String] = Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "por")
  val StopDe: Seq[String] = Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "zu", "ein")
  val StopFr: Seq[String] = Seq("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour")

  /** One BM25 term's score contribution, as arithmetic both engines parse
    * identically. Expects DOUBLE columns `$tf`, `$df`, `dl`, `avgdl`, `n` in
    * scope. The idf factor is the RATIONAL core (n - df + 0.5)/(df + 0.5)
    * without the textbook log: ln() is not IEEE correctly-rounded (unlike
    * sqrt), so Spark's Math.log and DuckDB's libm log can differ in the last
    * ulp and break the bitwise gate. The rational form is strictly monotone
    * in the log form, preserving every per-term ordering. */
  def bm25Term(tf: String, df: String, k1: Double, b: Double): String =
    s"(($tf * ${k1 + 1.0}) / ($tf + $k1 * (${1.0 - b} + $b * (dl / avgdl)))) * " +
      s"(((n - $df) + 0.5) / ($df + 0.5))"

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")
  /** Fraction of tokens found in `words`; NULL-safe for empty docs. */
  def stopRatioSpark(toks: String, words: Seq[String]): String =
    s"CASE WHEN size($toks) > 0 THEN cast(size(filter($toks, t -> t IN ${inList(words)})) as double) / size($toks) ELSE cast(0 as double) END"
  def stopRatioDuck(toks: String, words: Seq[String]): String =
    s"CASE WHEN len($toks) > 0 THEN len(list_filter($toks, t -> t IN ${inList(words)}))::DOUBLE / len($toks) ELSE 0::DOUBLE END"

  // ---- z-order curve (bit-interleaved multi-column clustering key) ---------
  /** Min/max-linear bucket of a numeric column into [0, 2^bits): identical
    * IEEE sub/mul/div/floor in both engines (same operand order), so the
    * bucket — and therefore the z-value — is bitwise portable. Degenerate
    * range (min = max) maps everything to bucket 0. NULL stays NULL. */
  def zBucketSpark(x: String, min: String, max: String, bits: Int): String = {
    require(bits >= 1 && bits <= 62, s"zBucket bits must be in [1, 62], got $bits")
    s"CASE WHEN $max > $min THEN CAST(floor((CAST($x AS DOUBLE) - CAST($min AS DOUBLE)) * " +
      s"CAST(${(1L << bits) - 1} AS DOUBLE) / (CAST($max AS DOUBLE) - CAST($min AS DOUBLE))) AS BIGINT) " +
      s"ELSE CAST(0 AS BIGINT) END"
  }
  def zBucketDuck(x: String, min: String, max: String, bits: Int): String = {
    require(bits >= 1 && bits <= 62, s"zBucket bits must be in [1, 62], got $bits")
    s"CASE WHEN $max > $min THEN CAST(floor((CAST($x AS DOUBLE) - CAST($min AS DOUBLE)) * " +
      s"CAST(${(1L << bits) - 1} AS DOUBLE) / (CAST($max AS DOUBLE) - CAST($min AS DOUBLE))) AS BIGINT) " +
      s"ELSE CAST(0 AS BIGINT) END"
  }

  /** Round-robin bit interleave of k bucket expressions, `bits` bits each:
    * bit i of bucket j lands at position i*k + j. Pure integer shift/mask
    * arithmetic — codegen'd on Spark, vectorized on DuckDB; k*bits must stay
    * under 63 so the z-value fits a BIGINT. */
  def zInterleaveSpark(buckets: Seq[String], bits: Int): String =
    buckets.zipWithIndex.flatMap { case (b, j) =>
      (0 until bits).map(i => s"shiftleft(shiftright($b, $i) & 1, ${i * buckets.size + j})")
    }.mkString(" + ")
  def zInterleaveDuck(buckets: Seq[String], bits: Int): String =
    buckets.zipWithIndex.flatMap { case (b, j) =>
      (0 until bits).map(i => s"(((($b) >> $i) & 1) << ${i * buckets.size + j})")
    }.mkString(" + ")

  // ---- integer-grid vector quantization (k-means clustering) ---------------
  /** Power-of-two scale for snapping float embeddings onto an integer grid:
    * v*1024 is EXACT in double (exponent shift, no mantissa rounding), +0.5
    * and floor are exact, so the BIGINT grid coordinate is bitwise portable —
    * and everything downstream (distances, sums) is pure integer arithmetic,
    * immune to float association order entirely. */
  val QuantScale = 1024L

  /** BIGINT array of grid coordinates for a float vector column. Unrolled
    * (codegen'd on Spark, no interpreted lambda in the hot path). */
  def quantVecSpark(a: String): String =
    (1 to Dim).map(i =>
      s"CAST(floor(CAST(element_at($a, $i) AS DOUBLE) * $QuantScale + 0.5) AS BIGINT)")
      .mkString("array(", ", ", ")")
  def quantVecDuck(a: String): String =
    (1 to Dim).map(i =>
      s"CAST(floor(CAST($a[$i] AS DOUBLE) * $QuantScale + 0.5) AS BIGINT)")
      .mkString("[", ", ", "]")

  /** Squared L2 between two BIGINT grid vectors — a pure-integer unrolled
    * chain, so the value (not just its rounding) is identical in any engine
    * and any evaluation order. Coordinates are bounded by |v|<=1 ⇒ |q|<=1025,
    * so the 64-term sum stays below 2^33 — no BIGINT overflow on either side
    * (DuckDB throws; Spark ANSI throws). */
  def qL2Spark(a: String, b: String): String =
    (1 to Dim).map { i =>
      val (x, y) = (s"element_at($a, $i)", s"element_at($b, $i)")
      s"($x - $y) * ($x - $y)"
    }.mkString(" + ")
  def qL2Duck(a: String, b: String): String =
    (1 to Dim).map { i =>
      val (x, y) = (s"$a[$i]", s"$b[$i]")
      s"($x - $y) * ($x - $y)"
    }.mkString(" + ")

  /** Integer-grid centroid component: nearest grid point to sx/cnt. The
    * division is one IEEE double op on exactly-representable BIGINTs (|sx| <
    * 2^33 · corpus count), so floor(sx/cnt + 0.5) lands on the same integer
    * in both engines. */
  def qMeanSpark(sx: String, cnt: String): String =
    s"CAST(floor(CAST($sx AS DOUBLE) / CAST($cnt AS DOUBLE) + 0.5) AS BIGINT)"
  def qMeanDuck(sx: String, cnt: String): String =
    s"CAST(floor(CAST($sx AS DOUBLE) / CAST($cnt AS DOUBLE) + 0.5) AS BIGINT)"

  // ---- int8 scalar quantization (SQ8 compressed embeddings) ----------------
  /** Per-dim corpus MIN/MAX aggregate list (`mn_j`/`mx_j`, doubles) — the
    * train step of SQ8. MIN/MAX are order-independent, so the stats row is
    * trivially portable. */
  def sq8StatsSpark(a: String): Seq[String] =
    (1 to Dim).flatMap(j => Seq(
      s"min(CAST(element_at($a, $j) AS DOUBLE)) AS mn_$j",
      s"max(CAST(element_at($a, $j) AS DOUBLE)) AS mx_$j"))
  def sq8StatsDuck(a: String): Seq[String] =
    (1 to Dim).flatMap(j => Seq(
      s"MIN(CAST($a[$j] AS DOUBLE)) AS mn_$j",
      s"MAX(CAST($a[$j] AS DOUBLE)) AS mx_$j"))

  /** One SQ8 code: nearest of 256 evenly-spaced levels on [mn_j, mx_j]. The
    * affine map is a fixed-order IEEE chain, the rounding a floor, the clamp
    * least/greatest — identical in both engines; degenerate ranges code 0. */
  private def sq8Code(vj: String, j: Int): String =
    s"CASE WHEN mx_$j > mn_$j THEN least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT), " +
      s"CAST(floor(($vj - mn_$j) * CAST(255 AS DOUBLE) / (mx_$j - mn_$j) + 0.5) AS BIGINT))) " +
      s"ELSE CAST(0 AS BIGINT) END"
  def sq8VecSpark(a: String): String =
    (1 to Dim).map(j => sq8Code(s"CAST(element_at($a, $j) AS DOUBLE)", j))
      .mkString("array(", ", ", ")")
  def sq8VecDuck(a: String): String =
    (1 to Dim).map(j => sq8Code(s"CAST($a[$j] AS DOUBLE)", j))
      .mkString("[", ", ", "]")
}
