package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Literal, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: fixed-order dot product of two float vectors in
  * double precision.
  *
  * Semantically identical (bitwise) to the 64-term left-associated SQL chain
  * `cast(a[1] as double)*cast(b[1] as double) + ...` that
  * [[graft.functions.Portable.dotSpark]] emits — a sequential `s += a_i*b_i`
  * loop performs the same left-assoc double additions — so swapping it into an
  * oracle-checked plan does not move a single result bit. The win is physical:
  * one tight codegen'd loop instead of a ~380-node expression tree, which keeps
  * janino compile time flat and the per-row cost at memory bandwidth. This is
  * the similarity-search hot path at 100 TB scale.
  */
case class ArrayDotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects two array<float> arguments, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression: fixed-order squared L2 between two float
  * vectors in double precision. Bitwise-equal to the left-associated
  * [[graft.functions.Portable.subL2Spark]] full-dimension chain: the loop adds
  * the same `(a_i-b_i)*(a_i-b_i)` terms in the same order, every term is
  * >= +0.0 so the 0.0 seed add is exact. One codegen'd loop instead of a
  * ~450-node expression tree — this is the exact-refinement hot path of the
  * PQ/SQ8 shortlists, and the tree size was a measurable driver-side
  * analysis/codegen cost per query. */
case class ArrayL2(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l2"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_l2 expects two array<float> arguments, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = ((double) $a.getFloat($i)) - ((double) $b.getFloat($i));
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression: polynomial rolling hash over Unicode code
  * points, `acc = (acc*131 + cp) mod 1e9+7` starting from 7.
  *
  * Bitwise-equal to [[graft.functions.Portable.phashSpark]]'s higher-order
  * `aggregate(transform(sequence(...)))` chain (Spark `substr`/`ascii` index
  * by code point, as does this loop) and to the DuckDB `list_reduce` oracle
  * form — but evaluated as one codegen'd loop instead of materializing a
  * per-character int array per row. This is the MinHash/SimHash shingle-hash
  * hot path: at 100 TB every token of the corpus passes through it.
  */
case class StringPolyHash(child: Expression) extends UnaryExpression {
  import graft.functions.Portable

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_phash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_phash expects a string argument, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    Portable.phashJvm(input.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val s = ctx.freshName("s")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val cp = ctx.freshName("cp")
      s"""
         |String $s = $a.toString();
         |long $acc = ${Portable.Seed}L;
         |int $i = 0;
         |while ($i < $s.length()) {
         |  int $cp = $s.codePointAt($i);
         |  $acc = ($acc * ${Portable.Mult}L + $cp) % ${Portable.P}L;
         |  $i += Character.charCount($cp);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native expression: distinct word-n-gram shingle hashes of a text column,
  * `array<bigint>`. Semantically `array_distinct(shingles(tokens(text), n))`
  * mapped through [[StringPolyHash]] — but in one pass over the string with no
  * intermediate token/shingle arrays, which removes the dominant cost of the
  * MinHash signature path (interpreted higher-order-function lambdas).
  *
  * Hash-distinct equals string-distinct up to 1e9+7 collisions; the MinHash
  * signature (min over hashes) is insensitive to that, and exact Jaccard
  * verification still runs on true string shingles, so the oracle-checked
  * output is unaffected.
  */
case class ShingleHashes(child: Expression, n: Int)
  extends UnaryExpression with codegen.CodegenFallback {
  import graft.functions.Portable

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_hashes expects (string, n>=1), got $other / n=$n")
  }

  private def phash(s: String): Long = Portable.phashJvm(s)

  override def nullSafeEval(input: Any): Any = {
    val toks = input.toString.split(' ').filter(_.nonEmpty)
    if (toks.length < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val seen = new java.util.LinkedHashSet[java.lang.Long]
    var i = 0
    val sb = new java.lang.StringBuilder
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(phash(sb.toString))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native expression: distinct word-n-gram shingle STRINGS of a text column,
  * `array<string>`, first-occurrence order. One pass, no intermediate
  * token/shingle arrays — replaces the interpreted higher-order-function
  * pipeline (`transform(sequence(...), concat_ws(slice(...)))`) whose
  * expression tree gets inlined multiple times by projection collapse and
  * dominates every shingle-consuming operator. Output is identical to
  * `array_distinct(Portable.shinglesSpark(tokens, n))`.
  */
case class ShingleStrings(child: Expression, n: Int)
  extends UnaryExpression with codegen.CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_shingles expects (string, n>=1), got $other / n=$n")
  }

  override def nullSafeEval(input: Any): Any = {
    val toks = input.toString.split(' ').filter(_.nonEmpty)
    if (toks.length < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[org.apache.spark.unsafe.types.UTF8String])
    val seen = new java.util.LinkedHashSet[String]
    var i = 0
    val sb = new java.lang.StringBuilder
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[AnyRef](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) {
      out(k) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next())
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native expression: single-space tokenization, empties dropped —
  * `array<string>` per row, value-identical to the portable HOF chain
  * `filter(split(s, ' '), x -> x <> '')` (leading/interior/trailing empties
  * all vanish under the filter, so Java's trailing-empty-dropping split
  * agrees; pinned by PortableParitySpec). The HOF chain evaluates an
  * interpreted lambda per array element and gets INLINED per consumer by
  * projection collapse — a query touching `toks` four times tokenized four
  * times through the interpreter. This is one flat JVM loop per evaluation.
  */
case class Tokens(child: Expression)
  extends UnaryExpression with codegen.CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_tokens"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_tokens expects a string, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val toks = input.toString.split(' ')
    var n = 0
    var i = 0
    while (i < toks.length) { if (toks(i).nonEmpty) n += 1; i += 1 }
    val out = new Array[AnyRef](n)
    i = 0; var k = 0
    while (i < toks.length) {
      if (toks(i).nonEmpty) {
        out(k) = org.apache.spark.unsafe.types.UTF8String.fromString(toks(i))
        k += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native expression: per-document repetition statistics in ONE pass over
  * the token array — `struct<n_uni, d_uni, top_uni, n_bi, d_bi, top_bi>`
  * (total / distinct / max-frequency for unigrams and adjacent bigrams, all
  * BIGINT). The statistics are per-document by definition, so computing
  * them as two explode → (doc_id, term) hash-aggregates → per-doc
  * re-aggregates → join (the portable formulation the oracle replays) ships
  * every token of the corpus through TWO shuffles to produce one row per
  * document; this is a projection — zero shuffles — and the fractions
  * derived from these integers divide identically in both engines, so the
  * gate stays bitwise. A doc with < 2 tokens reports n_bi = 0 (the
  * aggregate twin has NO bigram row there; callers coalesce the fraction
  * to 0 either way). */
case class RepetitionStats(child: Expression)
  extends UnaryExpression with codegen.CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("n_uni", LongType, nullable = false),
    StructField("d_uni", LongType, nullable = false),
    StructField("top_uni", LongType, nullable = false),
    StructField("n_bi", LongType, nullable = false),
    StructField("d_bi", LongType, nullable = false),
    StructField("top_bi", LongType, nullable = false)))
  override def prettyName: String = "graft_rep_stats"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_rep_stats expects array<string>, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = arr.numElements()
    val uni = new java.util.HashMap[String, Long]()
    val bi = new java.util.HashMap[String, Long]()
    var prev: String = null
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i).toString
      uni.merge(t, 1L, (a, b) => a + b)
      if (prev != null) bi.merge(prev + " " + t, 1L, (a, b) => a + b)
      prev = t
      i += 1
    }
    def top(m: java.util.HashMap[String, Long]): Long = {
      var mx = 0L
      val it = m.values().iterator()
      while (it.hasNext) { val v = it.next(); if (v > mx) mx = v }
      mx
    }
    org.apache.spark.sql.catalyst.InternalRow(
      n.toLong, uni.size.toLong, top(uni),
      math.max(0L, n.toLong - 1L), bi.size.toLong, top(bi))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native expression: per-document hashed bag-of-words histogram in ONE pass
  * over the token array — `array<struct<b: bigint, x: bigint>>` (bucket id,
  * token count), ascending bucket order, zero-count buckets absent. Bucket id
  * is `graft_phash(tok) % buckets` (phash is non-negative, so `%` ≡ pmod and
  * agrees across engines) — value-identical AS A SET to the aggregate
  * formulation the DuckDB oracle replays (explode toks → pmod(phash) bucket →
  * per-(doc, bucket) count). The histogram is per-document by definition, so
  * computing it as an explode + hash aggregate ships every corpus token
  * through a shuffle (plus a second corpus-sized collect_list exchange to get
  * back to doc-level rows) to produce ≤ `buckets` entries per doc; this is a
  * projection — zero shuffles, the [[RepetitionStats]] precedent. Downstream
  * consumers (perceptron margins, weight deltas) are order-independent
  * integer sums, so the ascending order is a determinism convenience, not a
  * contract. Null tokens are skipped (graft_tokens never emits them). */
case class BucketCounts(child: Expression, buckets: Int)
  extends UnaryExpression with codegen.CodegenFallback {
  import graft.functions.Portable

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("b", LongType, nullable = false),
    StructField("x", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_bucket_counts"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) if buckets >= 1 && buckets <= 65536 =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_bucket_counts expects (array<string>, buckets in [1, 65536]), " +
        s"got $other / buckets=$buckets")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = arr.numElements()
    // a flat long array is the fast path at the practical bucket counts; a
    // sorted map avoids a 512 KB per-row allocation at the 65536 upper bound
    if (buckets <= 8192) {
      val counts = new Array[Long](buckets)
      var nz = 0
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val b = (phash(arr.getUTF8String(i).toString) % buckets).toInt
          if (counts(b) == 0L) nz += 1
          counts(b) += 1L
        }
        i += 1
      }
      val out = new Array[AnyRef](nz)
      var b = 0
      var k = 0
      while (b < buckets) {
        if (counts(b) > 0L) {
          out(k) = org.apache.spark.sql.catalyst.InternalRow(b.toLong, counts(b))
          k += 1
        }
        b += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    } else {
      val m = new java.util.TreeMap[java.lang.Long, java.lang.Long]()
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val b = phash(arr.getUTF8String(i).toString) % buckets
          m.merge(b, 1L, (a, c) => a + c)
        }
        i += 1
      }
      val out = new Array[AnyRef](m.size)
      val it = m.entrySet().iterator()
      var k = 0
      while (it.hasNext) {
        val e = it.next()
        out(k) = org.apache.spark.sql.catalyst.InternalRow(
          e.getKey.longValue(), e.getValue.longValue())
        k += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  private def phash(s: String): Long = Portable.phashJvm(s)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native expression: `graft_span_filter(toks, spans)` keeps the tokens whose
  * 0-based index is NOT covered by any `[s, e)` span — the excision step of
  * exact-substring dedup ([[graft.operators.Dedup.exactSubstrExcise]]).
  *
  * The portable formulation is `filter(toks, (t, i) -> NOT exists(spans,
  * sp -> i >= sp.s AND i < sp.e))` — two nested interpreted higher-order
  * lambdas invoked per corpus TOKEN (the CLAUDE.md hot-path class: HOFs
  * never codegen, and projection collapse re-inlines them per consumer).
  * This is one merge pass instead: spans arrive sorted by `s` (sort_array
  * over merged maximal spans upstream), so a single forward pointer decides
  * every token in O(tokens + spans) with no per-element closures. Correct
  * for any sorted-by-s span list, overlapping or not: the pointer advances
  * only past spans with e <= i, so the first remaining span has e > i and
  * covers i iff its s <= i (later spans start no earlier). Value-identical
  * to the HOF chain, so the oracle SQL is untouched. */
case class SpanFilterTokens(left: Expression, right: Expression)
  extends BinaryExpression with codegen.CodegenFallback {

  // element nullability follows the INPUT array: a null token that survives
  // the index filter stays null in the output (declaring containsNull=false
  // over a nullable input would let downstream codegen elide null checks)
  override def dataType: DataType = left.dataType match {
    case ArrayType(et, cn) => ArrayType(et, cn)
    case other => other
  }
  override def prettyName: String = "graft_span_filter"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(_: StringType, _),
          ArrayType(StructType(Array(a, b)), _))
      if a.dataType == IntegerType && b.dataType == IntegerType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_span_filter expects (array<string>, array<struct<int, int>>), got $other")
  }

  override def nullSafeEval(toksAny: Any, spansAny: Any): Any = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val toks = toksAny.asInstanceOf[ArrayData]
    val spans = spansAny.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val m = spans.numElements()
    // the merge pointer requires spans sorted by s; the function is
    // registered session-wide, so UNSORTED input from SQL callers must not
    // silently mis-filter — verify once (spans are per-document, tiny) and
    // fall back to the order-insensitive scan when violated
    var sorted = true
    var v = 1
    while (sorted && v < m) {
      if (spans.getStruct(v, 2).getInt(0) < spans.getStruct(v - 1, 2).getInt(0))
        sorted = false
      v += 1
    }
    val kept = new Array[AnyRef](n)
    var k = 0
    var j = 0
    var i = 0
    while (i < n) {
      val covered =
        if (sorted) {
          while (j < m && spans.getStruct(j, 2).getInt(1) <= i) j += 1
          j < m && spans.getStruct(j, 2).getInt(0) <= i
        } else {
          var c = false
          var s = 0
          while (!c && s < m) {
            val sp = spans.getStruct(s, 2)
            c = sp.getInt(0) <= i && i < sp.getInt(1)
            s += 1
          }
          c
        }
      if (!covered) {
        kept(k) = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
        k += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(kept, k).asInstanceOf[Array[Any]])
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native expression: full MinHash signature (k minima over the affine hash
  * family) from an array of shingle hashes — `array<bigint>[k]` per row.
  *
  * This turns MinHash signatures into a PROJECTION: the per-document shingle
  * hash array is already one row, so there is no explode and no 126-column
  * aggregation. The aggregation formulation generated a ~6.5 MiB task binary
  * and 20s of codegen+JIT warmup per JVM; this is one flat loop.
  * Coefficients come from [[Portable.hashFamily]], the same family any
  * external reimplementation would embed.
  */
case class MinHashSignature(child: Expression, k: Int)
  extends UnaryExpression with codegen.CodegenFallback {
  import graft.functions.Portable

  private lazy val fam: IndexedSeq[(Long, Long)] = Portable.hashFamily(k)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if k >= 1 => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash expects (array<bigint>, k>=1), got $other / k=$k")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Long](k)
    var i = 0
    while (i < k) {
      val (a, b) = fam(i)
      var best = Long.MaxValue
      var j = 0
      while (j < n) {
        val h = (a * arr.getLong(j) + b) % Portable.P
        if (h < best) best = h
        j += 1
      }
      out(i) = best
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native expression: all LSH band keys of a MinHash signature in one loop —
  * `array<bigint>[bands]` where key j is the polynomial fold of rows
  * `sig[j*rowsPerBand ..]`: acc = sig[first]; acc = (acc*Mult + next) % P —
  * EXACTLY the `Dedup.bandKeyCols` expression chain (and the DuckDB oracle's
  * replay), term for term.
  *
  * Motive (r16): the 42-column `array(bandKeyCols…)` projection was a
  * 42-wide nested expression tree that every downstream Dataset
  * transformation re-analyzed — measured at 0.33-0.44 s of DRIVER-side
  * construction per banded-gate run, ~20-25% of warm wall (PlanCostProbe in
  * CLAUDE.md's probe lessons), on top of the per-row cost of 42 codegen'd
  * fold chains. One flat loop per row, one function node in the plan.
  * Signature minima sit in [0, P), so acc*Mult + m < 2^38 — no overflow. */
case class BandKeys(child: Expression, bands: Int, rowsPerBand: Int)
  extends UnaryExpression with codegen.CodegenFallback {
  import graft.functions.Portable

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_band_keys"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if bands >= 1 && rowsPerBand >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_band_keys expects (array<bigint>, bands>=1, rowsPerBand>=1), " +
        s"got $other / bands=$bands rows=$rowsPerBand")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    require(arr.numElements() >= bands * rowsPerBand,
      s"graft_band_keys: signature has ${arr.numElements()} elements, " +
        s"need ${bands * rowsPerBand}")
    val out = new Array[Long](bands)
    var j = 0
    while (j < bands) {
      var acc = arr.getLong(j * rowsPerBand)
      var r = 1
      while (r < rowsPerBand) {
        acc = (acc * Portable.Mult + arr.getLong(j * rowsPerBand + r)) % Portable.P
        r += 1
      }
      out(j) = acc
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native expression: the Johnson-Lindenstrauss ±1 random projection of an
  * `array<float>` embedding to `outDim` components, as ONE plan node —
  * arithmetic term-for-term identical to [[Portable.rpProjectSpark]]'s
  * expression chain (and the DuckDB oracle's [[Portable.rpProjectDuck]]):
  * component j is the LEFT-ASSOCIATED signed double sum over the first
  * [[Portable.Dim]] input components with the [[Portable.rpSigns]] sign row
  * (leading negative = IEEE unary minus), cast back to FLOAT.
  *
  * Motive (r16): the SQL form is an `array(...)` of outDim CAST chains with
  * Dim `element_at` casts each — a ~2,000-node tree for 16×42 that every
  * downstream transformation re-analyzes. `embed_rp_recall` was measured
  * spending ~0.85 s/run in a DRIVER gap right after the scan (plan
  * construction + codegen of the tree), ~45% of warm wall (GateJobProbe in
  * CLAUDE.md's probe lessons). Same class as [[BandKeys]]. */
case class RpProject(child: Expression, outDim: Int)
  extends UnaryExpression with codegen.CodegenFallback {
  import graft.functions.Portable

  private lazy val signs: Array[Array[Int]] =
    Portable.rpSigns(outDim).map(_.toArray).toArray

  // containsNull mirrors the input's: every component chain reads all Dim
  // elements, so ONE null element nulls every component — exactly what the
  // portable element_at CAST chain yields. Declaring containsNull=false
  // over a nullable-element input was a silent native-vs-portable
  // divergence risk (r16 ADVICE; unreachable on the current corpus, where
  // embeddings are non-null, but the expression must not depend on that).
  override def dataType: DataType = ArrayType(FloatType,
    containsNull = child.dataType match {
      case ArrayType(_, n) => n
      case _               => true
    })
  override def prettyName: String = "graft_rp_project"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if outDim >= 1 && outDim <= Portable.Dim =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_rp_project expects (array<float>, 1<=outDim<=${Portable.Dim}), " +
        s"got $other / outDim=$outDim")
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    require(v.numElements() >= Portable.Dim,
      s"graft_rp_project: embedding has ${v.numElements()} elements, " +
        s"need ${Portable.Dim}")
    // null-element pre-pass: the portable chain's left-assoc +/- over a null
    // element is null, and every component reads all Dim elements
    var p = 0
    while (p < Portable.Dim) {
      if (v.isNullAt(p))
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Array.fill[Any](outDim)(null))
      p += 1
    }
    val out = new Array[Float](outDim)
    var j = 0
    while (j < outDim) {
      val row = signs(j)
      // leading negative is IEEE unary minus, then strict left-assoc +/- —
      // the exact rounding order of the SQL chain in both dialects
      var acc = if (row(0) < 0) -v.getFloat(0).toDouble else v.getFloat(0).toDouble
      var i = 1
      while (i < Portable.Dim) {
        val e = v.getFloat(i).toDouble
        acc = if (row(i) < 0) acc - e else acc + e
        i += 1
      }
      out(j) = acc.toFloat
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Identity wrapper DECLARED non-deterministic — a PLACEMENT FENCE for an
  * expensive deterministic expression (optimization guide §4.4): the
  * optimizer may not push a filter through the projection that computes the
  * wrapped value, may not duplicate it into a join condition, and may not
  * inline it into downstream consumers — so the value is evaluated exactly
  * once per row where the query placed it. Before r17, the banded dedup
  * verify evaluated `size(array_intersect(sa, sb))` THREE times per
  * candidate pair (twice inside the pushed-down join condition, once in the
  * output projection) and editDistancePairs ran the Levenshtein DP twice —
  * the plan's own `Join condition: (1.0 - levenshtein(...)...)` line was the
  * evidence. Runtime is the child VERBATIM: eval and codegen both delegate,
  * so values, types, and nullability are untouched; only planner placement
  * changes (every consumer is oracle-gated, re-proven bitwise at both SFs).
  * Use ONLY on genuinely deterministic children — the flag is a fence, not
  * a semantics change. */
case class OpaqueEval(child: Expression) extends UnaryExpression {
  override lazy val deterministic: Boolean = false
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_opaque"
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native expression: nearest-centroid assignment on the integer grid —
  * the argmin over a LITERAL centroid table of the exact unrolled BIGINT
  * squared L2 ([[graft.functions.Portable.qL2Spark]]), ties to the lowest
  * cell id; returns `struct(cell bigint, dist bigint)`.
  *
  * Motive (r16): [[graft.operators.Clustering]]'s Lloyd assignment was
  * `crossJoin(broadcast(cent))` + a groupBy(vec_id) argmin fold — a
  * corpus-sized hash EXCHANGE per iteration whose only job was picking the
  * per-row minimum of k broadcast rows. With the k×Dim centroid grid (k·Dim
  * BIGINTs — driver-bounded, the |domains|-sized-frame class) inlined as
  * literals, the argmin is one per-row fold inside a projection: ZERO
  * exchanges per iteration (guide §2.1, remove shuffles outright — the
  * standard map-side k-means assignment). Pure integer arithmetic, so the
  * value is evaluation-order independent and the assignment is bit-identical
  * to the aggregate twin (PortableParitySpec pins it; the `(dist, cell)`
  * lexicographic tie rule is the `topKPerKey(dist asc, cell asc, k=1)`
  * order). Bounded per-row work: k·Dim multiplies, |q|≤1025 per coordinate
  * so the 64-term sum stays under 2^33 — no overflow on either side. */
case class QL2Argmin(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression with codegen.CodegenFallback {
  import graft.functions.Portable

  override def dataType: DataType = StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("dist", LongType, nullable = false)))
  override def prettyName: String = "graft_ql2_argmin"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(ArrayType(LongType, _), _),
            ArrayType(LongType, _)) if second.foldable && third.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        "graft_ql2_argmin expects (array<bigint>, foldable array<array<bigint>>, " +
          s"foldable array<bigint>), got $other")
    }

  // the literal centroid table, materialized once per task, not per row
  private lazy val cents: Array[Array[Long]] = {
    val a = second.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(a.numElements()) { i =>
      val c = a.getArray(i)
      require(c.numElements() >= Portable.Dim,
        s"graft_ql2_argmin: centroid $i has ${c.numElements()} dims, need ${Portable.Dim}")
      c.toLongArray()
    }
  }
  private lazy val cells: Array[Long] =
    third.eval(null).asInstanceOf[ArrayData].toLongArray()

  override def nullSafeEval(q: Any, c: Any, l: Any): Any = {
    val v = q.asInstanceOf[ArrayData]
    require(v.numElements() >= Portable.Dim,
      s"graft_ql2_argmin: vector has ${v.numElements()} dims, need ${Portable.Dim}")
    require(cents.length == cells.length && cents.nonEmpty,
      s"graft_ql2_argmin: ${cents.length} centroids vs ${cells.length} cells")
    var bestDist = Long.MaxValue
    var bestCell = Long.MaxValue
    var j = 0
    while (j < cents.length) {
      val cent = cents(j)
      var dist = 0L
      var i = 0
      while (i < Portable.Dim) {
        val d = v.getLong(i) - cent(i)
        dist += d * d
        i += 1
      }
      val cell = cells(j)
      if (dist < bestDist || (dist == bestDist && cell < bestCell)) {
        bestDist = dist; bestCell = cell
      }
      j += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(bestCell, bestDist)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Native expression: count-weighted 60-bit SimHash fingerprint of a text
  * column as `array<bigint>[2]` (the two 30-bit halves). Identical integer
  * math to the exploded token/sum-aggregate formulation (and the DuckDB
  * oracle): token weights are occurrence counts, bit sums are
  * `w * (2*bit(h) - 1)`, a fingerprint bit is set when its sum > 0.
  */
case class SimHashFingerprint(child: Expression)
  extends UnaryExpression with codegen.CodegenFallback {
  import graft.functions.Portable

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_simhash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash expects a string argument, got $other")
  }

  private def phash(s: String): Long = Portable.phashJvm(s)

  override def nullSafeEval(input: Any): Any = {
    val toks = input.toString.split(' ').filter(_.nonEmpty)
    val counts = new java.util.HashMap[String, Long]
    toks.foreach(t => counts.merge(t, 1L, _ + _))
    val s1 = new Array[Long](Portable.SimBits)
    val s2 = new Array[Long](Portable.SimBits)
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val w = e.getValue
      val h1 = phash(e.getKey)
      val h2 = (h1 * Portable.H2A + Portable.H2B) % Portable.P
      var j = 0
      while (j < Portable.SimBits) {
        s1(j) += w * (2 * ((h1 >> j) & 1) - 1)
        s2(j) += w * (2 * ((h2 >> j) & 1) - 1)
        j += 1
      }
    }
    var fp1 = 0L
    var fp2 = 0L
    var j = 0
    while (j < Portable.SimBits) {
      if (s1(j) > 0) fp1 |= (1L << j)
      if (s2(j) > 0) fp2 |= (1L << j)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(fp1, fp2))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native expression: random-hyperplane LSH bucket ids of a float vector,
  * `array<bigint>[nTables]` — bucket b of table t sets bit b when the dot
  * product against plane t*nBits+b is >= 0.
  *
  * Planes come from [[Portable.lshPlane]] (fixed LCG, exact dyadic values), so
  * the DuckDB oracle regenerates them from the same formula and the bucket ids
  * match bit-for-bit ([[Portable.lshBucketsDuckCtes]]). Replaces the former
  * `udf { (v: Seq[Float]) => ... }` hot path, which boxed every vector into a
  * Seq per row — this reads the columnar ArrayData directly.
  */
case class LshBucketIds(child: Expression, nTables: Int, nBits: Int)
  extends UnaryExpression with codegen.CodegenFallback {
  import graft.functions.Portable

  private lazy val planes: Array[Array[Double]] =
    Array.tabulate(nTables * nBits, Portable.Dim)((p, d) => Portable.lshPlane(p, d))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_lsh_buckets"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if nTables >= 1 && nBits >= 1 && nBits <= 62 =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_lsh_buckets expects (array<float>, nTables>=1, 1<=nBits<=62), got $other / $nTables / $nBits")
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var bucket = 0L
      var b = 0
      while (b < nBits) {
        val p = planes(t * nBits + b)
        var dot = 0.0
        var i = 0
        val n = math.min(v.numElements(), p.length)
        while (i < n) { dot += v.getFloat(i).toDouble * p(i); i += 1 }
        if (dot >= 0) bucket |= (1L << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native expression: full product-quantization encode — all `m` subspace
  * argmins plus the quantization error in ONE pass over the vector, against a
  * codebook carried as a query-constant array argument (the 1-row
  * `collect_list(struct(j, emb_c))` cross-joined in broadcast).
  *
  * Bitwise-equal to the former formulation (corpus crossJoin x ksub codebook
  * rows, then `min_by(j, struct(d2_mm, j))` hash aggregates over the
  * [[graft.functions.Portable.subL2Spark]] chains): the subspace distance here
  * is the same left-associated double chain (every term is >= +0.0, so the
  * 0.0-seeded loop reproduces the chain bit-for-bit), ties go to the lowest
  * centroid id (ascending-j scan with strict `<`), and `qerr` accumulates the
  * m subspace minima in subspace order exactly like the `reduce(_ + _)`
  * column fold. What changes is physical: the x-ksub row amplification and the
  * m+1 hash aggregates behind it disappear — encode is a projection, the
  * 100 TB shape (DEMO.md:204-248 persisted-embedding search is built on this
  * encode).
  *
  * The codebook argument must be QUERY-CONSTANT (same value on every row —
  * guaranteed by the broadcast-1-row cross join): it is decoded once on first
  * eval and cached for the task's lifetime.
  */
case class PqEncode(left: Expression, right: Expression, m: Int)
  extends BinaryExpression with codegen.CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("codes", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("qerr", DoubleType, nullable = false)))
  override def prettyName: String = "graft_pq_encode"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _),
          ArrayType(StructType(Array(StructField(_, LongType, _, _),
                                     StructField(_, ArrayType(FloatType, _), _, _))), _))
      if m >= 1 => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_pq_encode expects (array<float>, array<struct<bigint, array<float>>>, m>=1), got $other / m=$m")
  }

  @transient private var cbIds: Array[Long] = _
  @transient private var cbVec: Array[Array[Double]] = _

  /** Decode + j-sort the codebook once per task; codes are the j VALUES (not
    * positions), so non-contiguous ids stay correct. */
  private def decode(arr: ArrayData): Unit = {
    val ksub = arr.numElements()
    require(ksub >= 1, "graft_pq_encode: empty codebook")
    val tmp = new Array[(Long, Array[Double])](ksub)
    var j = 0
    while (j < ksub) {
      val row = arr.getStruct(j, 2)
      val e = row.getArray(1)
      val d = new Array[Double](e.numElements())
      var i = 0
      while (i < d.length) { d(i) = e.getFloat(i).toDouble; i += 1 }
      tmp(j) = (row.getLong(0), d)
      j += 1
    }
    val sorted = tmp.sortBy(_._1)
    cbIds = sorted.map(_._1)
    cbVec = sorted.map(_._2)
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    if (cbVec == null) decode(b.asInstanceOf[ArrayData])
    val dim = v.numElements()
    val sub = dim / m
    val codes = new Array[Long](m)
    var qerr = 0.0
    var mm = 0
    while (mm < m) {
      val off = mm * sub
      var best = Double.PositiveInfinity
      var bestJ = 0L
      var jj = 0
      while (jj < cbVec.length) {
        val c = cbVec(jj)
        var d2 = 0.0
        var i = 0
        while (i < sub) {
          val diff = v.getFloat(off + i).toDouble - c(off + i)
          d2 += diff * diff
          i += 1
        }
        if (d2 < best) { best = d2; bestJ = cbIds(jj) }
        jj += 1
      }
      codes(mm) = bestJ
      qerr += best
      mm += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](new org.apache.spark.sql.catalyst.util.GenericArrayData(codes), qerr))
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native expression: SQ8 scalar-quantization encode — every dimension snapped
  * to the nearest of 256 levels on its corpus [mn_j, mx_j] range, in one loop.
  *
  * Bitwise-equal to the unrolled [[graft.functions.Portable.sq8VecSpark]]
  * chain: per dimension the affine map is the same fixed-order IEEE chain
  * `((v - mn) * 255.0) / (mx - mn) + 0.5`, floor, clamp to [0, 255] (Java
  * double→long truncation equals the SQL CAST on these in-range non-negative
  * integrals), degenerate ranges (mx <= mn) code 0. Replaces a ~64x-unrolled
  * CASE/least/greatest expression tree whose size forced a localCheckpoint
  * barrier to keep projection collapse from re-evaluating it per (row, query)
  * pair — one flat loop needs no barrier.
  *
  * The `mns`/`mxs` arguments must be QUERY-CONSTANT (the broadcast 1-row
  * min/max aggregate) — decoded once on first eval, cached per task.
  */
case class Sq8Encode(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression with codegen.CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_sq8_encode"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_sq8_encode expects (array<float>, array<double>, array<double>), got $other")
    }

  @transient private var mns: Array[Double] = _
  @transient private var mxs: Array[Double] = _

  override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    if (mns == null) {
      mns = b.asInstanceOf[ArrayData].toDoubleArray()
      mxs = c.asInstanceOf[ArrayData].toDoubleArray()
    }
    val n = math.min(v.numElements(), mns.length)
    val out = new Array[Long](n)
    var j = 0
    while (j < n) {
      val mn = mns(j)
      val mx = mxs(j)
      if (mx > mn) {
        val code = Math.floor((v.getFloat(j).toDouble - mn) * 255.0 / (mx - mn) + 0.5).toLong
        out(j) = Math.min(255L, Math.max(0L, code))
      } // else 0
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** Native aggregate: elementwise min/max of a float-vector column as one
  * struct(mns array<double>, mxs array<double>) — the SQ8 train statistics in
  * a single buffer pass instead of 2 x dim scalar MIN/MAX aggregates (a
  * ~800-node tree whose analysis + codegen was a measurable per-query driver
  * cost). Min/max are order-independent, so the result is bitwise-identical
  * to the scalar-aggregate formulation and to the DuckDB oracle. NaN inputs
  * are ignored per element (the corpus contract has none; Spark's scalar
  * MIN/MAX order NaN greatest, which only differs on all-NaN columns). NULL
  * rows are skipped; an empty input evaluates to NULL. */
case class ArrayMinMaxAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Double]]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  override def dataType: DataType = StructType(Seq(
    StructField("mns", ArrayType(DoubleType, containsNull = false)),
    StructField("mxs", ArrayType(DoubleType, containsNull = false))))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minmax_arr"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minmax_arr expects array<float>, got $other")
  }

  override def createAggregationBuffer(): Array[Double] = Array.empty

  override def update(buf: Array[Double], input: org.apache.spark.sql.catalyst.InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v == null) return buf
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    val b =
      if (buf.length == 2 * n) buf
      else {
        require(buf.isEmpty, s"graft_minmax_arr: ragged vector lengths (${buf.length / 2} vs $n)")
        val fresh = new Array[Double](2 * n)
        java.util.Arrays.fill(fresh, 0, n, Double.PositiveInfinity)
        java.util.Arrays.fill(fresh, n, 2 * n, Double.NegativeInfinity)
        fresh
      }
    var j = 0
    while (j < n) {
      val x = a.getFloat(j).toDouble
      if (x < b(j)) b(j) = x
      if (x > b(n + j)) b(n + j) = x
      j += 1
    }
    b
  }

  override def merge(b1: Array[Double], b2: Array[Double]): Array[Double] = {
    if (b1.isEmpty) return b2
    if (b2.isEmpty) return b1
    require(b1.length == b2.length, "graft_minmax_arr: ragged merge")
    val n = b1.length / 2
    var j = 0
    while (j < n) {
      if (b2(j) < b1(j)) b1(j) = b2(j)
      if (b2(n + j) > b1(n + j)) b1(n + j) = b2(n + j)
      j += 1
    }
    b1
  }

  override def eval(buf: Array[Double]): Any = {
    if (buf.isEmpty) return null
    val n = buf.length / 2
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      new org.apache.spark.sql.catalyst.util.GenericArrayData(java.util.Arrays.copyOfRange(buf, 0, n)),
      new org.apache.spark.sql.catalyst.util.GenericArrayData(java.util.Arrays.copyOfRange(buf, n, 2 * n))))
  }

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    bb.asDoubleBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val out = new Array[Double](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asDoubleBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ArrayMinMaxAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ArrayMinMaxAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): ArrayMinMaxAgg =
    copy(child = newChild)
}

/** Native expression: ADC (asymmetric-distance) score of one PQ-coded vector
  * against one query's lookup table — `graft_pq_adc(lut, code_0, ..., code_m1)`
  * where `lut` is the query's `array_sort(collect_list(struct(j, q_0..q_m1)))`
  * row (ksub structs, position == centroid id j by construction of the
  * stride-sampled codebook) and each code argument selects that subspace's
  * table entry.
  *
  * Bitwise-equal to the former 8-broadcast-hash-join chain + left-associated
  * `((q0 + q1) + ...)` addition: the gathered entries are the SAME doubles the
  * lut frame computed, accumulated in the same subspace order from a 0.0 seed
  * (every entry is a sum of squares >= +0.0, so the seed add is exact). The
  * physical win is structural, not per-row: ONE broadcast build of the
  * 20-row pivoted LUT instead of m separate broadcast exchanges whose slice
  * projections each re-evaluated the query-scan x codebook subplan.
  */
case class PqAdc(children: Seq[Expression])
  extends Expression with codegen.CodegenFallback {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "graft_pq_adc"

  override def checkInputDataTypes(): TypeCheckResult = children.map(_.dataType) match {
    case ArrayType(StructType(fields), _) +: codes
      if codes.nonEmpty && codes.size == fields.length - 1 &&
        fields.head.dataType == LongType &&
        fields.tail.forall(_.dataType == DoubleType) &&
        codes.forall(_ == LongType) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_pq_adc expects (array<struct<bigint, m x double>>, m x bigint), got $other")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val lutAny = children.head.eval(input)
    if (lutAny == null) return null
    val lut = lutAny.asInstanceOf[ArrayData]
    val m = children.size - 1
    var dist = 0.0
    var mm = 0
    while (mm < m) {
      val c = children(mm + 1).eval(input)
      if (c == null) return null
      var idx = c.asInstanceOf[Long].toInt
      var row = lut.getStruct(idx, m + 1)
      if (row.getLong(0) != idx) { // non-contiguous ids: fall back to search
        var p = 0
        while (p < lut.numElements() && lut.getStruct(p, m + 1).getLong(0) != c.asInstanceOf[Long]) p += 1
        require(p < lut.numElements(), s"graft_pq_adc: code $c not in lut")
        idx = p
        row = lut.getStruct(idx, m + 1)
      }
      dist += row.getDouble(1 + mm)
      mm += 1
    }
    dist
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** Native expression: squared L2 between two BIGINT grid/code vectors — the
  * pure-integer pair distance of the SQ8 and k-means paths. Integer addition
  * is associative, so ANY evaluation order is bit-identical to the unrolled
  * [[graft.functions.Portable.qL2Spark]] chain; this is one codegen'd loop
  * instead of a 64-term element_at tree, and it runs once per candidate PAIR
  * (the O(corpus x queries) hot path). */
case class ArrayQL2(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_ql2"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_ql2 expects two array<bigint> arguments, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $d = $a.getLong($i) - $b.getLong($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native bounded-state per-group top-k aggregate:
  * `graft_top_k(struct(...), k, 'DA...')` keeps only the `k` first rows of the
  * group under the struct's lexicographic order (per-field direction from the
  * flag string: 'D' descending, anything else ascending; fields past the
  * string's length sort ascending) and evaluates to the sorted
  * `array<struct>`.
  *
  * This is the scale-right twin of `ROW_NUMBER() OVER (PARTITION BY key
  * ORDER BY ...) <= k`: the window form SORTS every group in full — at 100 TB
  * that is a whole-corpus shuffle + per-partition sort whose cost is
  * O(N log N) in the group size — while this aggregate's partial state is
  * capped at `k` rows per group on every map task (map-side combine keeps the
  * shuffle k-rows-per-key-per-task) and the merge is a k-bounded sorted-list
  * merge. Same contract as Spark's own `TakeOrderedAndProject`, generalized
  * from the global limit to per-key.
  *
  * DETERMINISM CONTRACT: the struct's ordered prefix must reach a unique
  * column (e.g. end in the row id) — equal-keyed rows would otherwise keep an
  * arbitrary subset, exactly as the window twin would return an arbitrary
  * row_number assignment. NULL structs are skipped; an empty group evaluates
  * to an empty array. Field comparisons use Catalyst's own SortOrder
  * semantics (Descending = NULLS LAST, Ascending = NULLS FIRST — mirror any
  * NULLS clause into the oracle when a sort column is nullable).
  */
case class TopKAgg(
    child: Expression,
    k: Int,
    dirFlags: String,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.catalyst.expressions.UnsafeRow]]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Descending, InterpretedOrdering, SortOrder, UnsafeProjection, UnsafeRow}
  import scala.collection.mutable.ArrayBuffer

  require(k >= 1, s"graft_top_k needs k >= 1, got $k")

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_top_k"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case s: StructType
      if org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(s) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_top_k expects a struct of orderable fields, got $other")
  }

  @transient private lazy val structType = child.dataType.asInstanceOf[StructType]
  @transient private lazy val toUnsafe = UnsafeProjection.create(structType)
  @transient private lazy val ord: Ordering[InternalRow] = {
    val sos = structType.fields.toSeq.zipWithIndex.map { case (f, i) =>
      val dir = if (i < dirFlags.length && dirFlags.charAt(i) == 'D') Descending else Ascending
      SortOrder(BoundReference(i, f.dataType, f.nullable), dir)
    }
    new InterpretedOrdering(sos)
  }

  override def createAggregationBuffer(): ArrayBuffer[UnsafeRow] = ArrayBuffer.empty

  /** Binary-search insertion point: first index whose row sorts AFTER `row`
    * (stable: equal rows keep arrival order, irrelevant under the unique-
    * suffix contract). */
  private def insertAt(buf: ArrayBuffer[UnsafeRow], row: InternalRow): Int = {
    var lo = 0
    var hi = buf.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ord.compare(buf(mid), row) <= 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  override def update(buf: ArrayBuffer[UnsafeRow], input: InternalRow): ArrayBuffer[UnsafeRow] = {
    val v = child.eval(input)
    if (v == null) return buf
    val row = toUnsafe(v.asInstanceOf[InternalRow])
    // full buffer + row not better than the current worst: no copy, no shift
    if (buf.length >= k && ord.compare(buf.last, row) <= 0) return buf
    buf.insert(insertAt(buf, row), row.copy())
    if (buf.length > k) buf.remove(k)
    buf
  }

  override def merge(b1: ArrayBuffer[UnsafeRow], b2: ArrayBuffer[UnsafeRow]): ArrayBuffer[UnsafeRow] = {
    if (b2.isEmpty) return b1
    if (b1.isEmpty) return b2
    // k-bounded merge of two sorted runs (rows in both are already owned copies)
    val out = new ArrayBuffer[UnsafeRow](math.min(k, b1.length + b2.length))
    var i = 0
    var j = 0
    while (out.length < k && (i < b1.length || j < b2.length)) {
      if (j >= b2.length || (i < b1.length && ord.compare(b1(i), b2(j)) <= 0)) {
        out += b1(i); i += 1
      } else { out += b2(j); j += 1 }
    }
    out
  }

  override def eval(buf: ArrayBuffer[UnsafeRow]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buf.toArray[Any])

  override def serialize(buf: ArrayBuffer[UnsafeRow]): Array[Byte] = {
    var total = 4
    buf.foreach(r => total += 4 + r.getSizeInBytes)
    val bb = java.nio.ByteBuffer.allocate(total)
    bb.putInt(buf.length)
    buf.foreach { r => bb.putInt(r.getSizeInBytes); bb.put(r.getBytes) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[UnsafeRow] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val out = new ArrayBuffer[UnsafeRow](n)
    var i = 0
    while (i < n) {
      val len = bb.getInt()
      val arr = new Array[Byte](len)
      bb.get(arr)
      val row = new UnsafeRow(structType.size)
      row.pointTo(arr, len)
      out += row
      i += 1
    }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TopKAgg =
    copy(child = newChild)
}

/** Registration for graft's native expressions.
  *
  * Two paths to the same registry entry:
  *  - [[GraftExtensions]] for `spark.sql.extensions=graft.plans.GraftExtensions`
  *    (cluster-config style);
  *  - [[GraftFunctions.register]] for programmatic, idempotent registration on
  *    an existing session (operators call it themselves so any session works).
  */
object GraftFunctions {
  val dotInfo = new ExpressionInfo(classOf[ArrayDotProduct].getName, "graft_dot")
  val dotBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => ArrayDotProduct(a, b)
    case other => throw new IllegalArgumentException(
      s"graft_dot takes exactly 2 arguments, got ${other.size}")
  }

  val phashInfo = new ExpressionInfo(classOf[StringPolyHash].getName, "graft_phash")
  val phashBuilder: Seq[Expression] => Expression = {
    case Seq(a) => StringPolyHash(a)
    case other => throw new IllegalArgumentException(
      s"graft_phash takes exactly 1 argument, got ${other.size}")
  }

  val shingleInfo = new ExpressionInfo(classOf[ShingleHashes].getName, "graft_shingle_hashes")
  val shingleBuilder: Seq[Expression] => Expression = {
    case Seq(a, Literal(n: Int, IntegerType)) => ShingleHashes(a, n)
    case other => throw new IllegalArgumentException(
      s"graft_shingle_hashes takes (col, int literal), got $other")
  }

  val shingleStrInfo = new ExpressionInfo(classOf[ShingleStrings].getName, "graft_shingles")
  val shingleStrBuilder: Seq[Expression] => Expression = {
    case Seq(a, Literal(n: Int, IntegerType)) => ShingleStrings(a, n)
    case other => throw new IllegalArgumentException(
      s"graft_shingles takes (col, int literal), got $other")
  }

  val minhashInfo = new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash")
  val minhashBuilder: Seq[Expression] => Expression = {
    case Seq(a, Literal(k: Int, IntegerType)) => MinHashSignature(a, k)
    case other => throw new IllegalArgumentException(
      s"graft_minhash takes (col, int literal), got $other")
  }

  val bandKeysInfo = new ExpressionInfo(classOf[BandKeys].getName, "graft_band_keys")
  val bandKeysBuilder: Seq[Expression] => Expression = {
    case Seq(a, Literal(b: Int, IntegerType), Literal(r: Int, IntegerType)) =>
      BandKeys(a, b, r)
    case other => throw new IllegalArgumentException(
      s"graft_band_keys takes (col, int literal, int literal), got $other")
  }

  val rpProjectInfo = new ExpressionInfo(classOf[RpProject].getName, "graft_rp_project")
  val rpProjectBuilder: Seq[Expression] => Expression = {
    case Seq(a, Literal(d: Int, IntegerType)) => RpProject(a, d)
    case other => throw new IllegalArgumentException(
      s"graft_rp_project takes (col, int literal), got $other")
  }

  val ql2ArgminInfo = new ExpressionInfo(classOf[QL2Argmin].getName, "graft_ql2_argmin")
  val ql2ArgminBuilder: Seq[Expression] => Expression = {
    case Seq(a, b, c) => QL2Argmin(a, b, c)
    case other => throw new IllegalArgumentException(
      s"graft_ql2_argmin takes (col, array<array<bigint>>, array<bigint>), got $other")
  }

  val simhashInfo = new ExpressionInfo(classOf[SimHashFingerprint].getName, "graft_simhash")
  val simhashBuilder: Seq[Expression] => Expression = {
    case Seq(a) => SimHashFingerprint(a)
    case other => throw new IllegalArgumentException(
      s"graft_simhash takes exactly 1 argument, got ${other.size}")
  }

  val tokensInfo = new ExpressionInfo(classOf[Tokens].getName, "graft_tokens")
  val tokensBuilder: Seq[Expression] => Expression = {
    case Seq(a) => Tokens(a)
    case other => throw new IllegalArgumentException(
      s"graft_tokens takes exactly 1 argument, got ${other.size}")
  }

  val repStatsInfo = new ExpressionInfo(classOf[RepetitionStats].getName, "graft_rep_stats")
  val repStatsBuilder: Seq[Expression] => Expression = {
    case Seq(a) => RepetitionStats(a)
    case other => throw new IllegalArgumentException(
      s"graft_rep_stats takes exactly 1 argument, got ${other.size}")
  }

  val bucketCountsInfo = new ExpressionInfo(classOf[BucketCounts].getName, "graft_bucket_counts")
  val bucketCountsBuilder: Seq[Expression] => Expression = {
    case Seq(a, Literal(b: Int, IntegerType)) => BucketCounts(a, b)
    case other => throw new IllegalArgumentException(
      s"graft_bucket_counts takes (col, int literal), got $other")
  }

  val spanFilterInfo = new ExpressionInfo(classOf[SpanFilterTokens].getName, "graft_span_filter")
  val spanFilterBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => SpanFilterTokens(a, b)
    case other => throw new IllegalArgumentException(
      s"graft_span_filter takes exactly 2 arguments, got ${other.size}")
  }

  val tsMultiInfo = new ExpressionInfo(classOf[MultiFormatTimestamp].getName, "graft_ts_multi")
  val tsMultiBuilder: Seq[Expression] => Expression = {
    case Seq(a) => MultiFormatTimestamp(a)
    case other => throw new IllegalArgumentException(
      s"graft_ts_multi takes exactly 1 argument, got ${other.size}")
  }

  val dateMultiInfo = new ExpressionInfo(classOf[MultiFormatDate].getName, "graft_date_multi")
  val dateMultiBuilder: Seq[Expression] => Expression = {
    case Seq(a) => MultiFormatDate(a)
    case other => throw new IllegalArgumentException(
      s"graft_date_multi takes exactly 1 argument, got ${other.size}")
  }

  val lshInfo = new ExpressionInfo(classOf[LshBucketIds].getName, "graft_lsh_buckets")
  val lshBuilder: Seq[Expression] => Expression = {
    case Seq(a, Literal(t: Int, IntegerType), Literal(b: Int, IntegerType)) => LshBucketIds(a, t, b)
    case other => throw new IllegalArgumentException(
      s"graft_lsh_buckets takes (col, int literal, int literal), got $other")
  }

  val pqEncodeInfo = new ExpressionInfo(classOf[PqEncode].getName, "graft_pq_encode")
  val pqEncodeBuilder: Seq[Expression] => Expression = {
    case Seq(a, b, Literal(m: Int, IntegerType)) => PqEncode(a, b, m)
    case other => throw new IllegalArgumentException(
      s"graft_pq_encode takes (col, codebook col, int literal), got $other")
  }

  val sq8EncodeInfo = new ExpressionInfo(classOf[Sq8Encode].getName, "graft_sq8_encode")
  val sq8EncodeBuilder: Seq[Expression] => Expression = {
    case Seq(a, b, c) => Sq8Encode(a, b, c)
    case other => throw new IllegalArgumentException(
      s"graft_sq8_encode takes exactly 3 arguments, got ${other.size}")
  }

  val minMaxArrInfo = new ExpressionInfo(classOf[ArrayMinMaxAgg].getName, "graft_minmax_arr")
  val minMaxArrBuilder: Seq[Expression] => Expression = {
    case Seq(a) => ArrayMinMaxAgg(a)
    case other => throw new IllegalArgumentException(
      s"graft_minmax_arr takes exactly 1 argument, got ${other.size}")
  }

  val l2Info = new ExpressionInfo(classOf[ArrayL2].getName, "graft_l2")
  val l2Builder: Seq[Expression] => Expression = {
    case Seq(a, b) => ArrayL2(a, b)
    case other => throw new IllegalArgumentException(
      s"graft_l2 takes exactly 2 arguments, got ${other.size}")
  }

  val pqAdcInfo = new ExpressionInfo(classOf[PqAdc].getName, "graft_pq_adc")
  val pqAdcBuilder: Seq[Expression] => Expression = {
    case args if args.size >= 2 => PqAdc(args)
    case other => throw new IllegalArgumentException(
      s"graft_pq_adc takes (lut col, m code cols), got ${other.size} args")
  }

  val topKInfo = new ExpressionInfo(classOf[TopKAgg].getName, "graft_top_k")
  val topKBuilder: Seq[Expression] => Expression = {
    case Seq(s, Literal(k: Int, IntegerType)) => TopKAgg(s, k, "")
    case Seq(s, Literal(k: Int, IntegerType), Literal(d: org.apache.spark.unsafe.types.UTF8String, StringType)) =>
      TopKAgg(s, k, d.toString)
    case other => throw new IllegalArgumentException(
      s"graft_top_k takes (struct col, int literal[, direction string literal]), got $other")
  }

  val opaqueInfo = new ExpressionInfo(classOf[OpaqueEval].getName, "graft_opaque")
  val opaqueBuilder: Seq[Expression] => Expression = {
    case Seq(a) => OpaqueEval(a)
    case other => throw new IllegalArgumentException(
      s"graft_opaque takes exactly 1 argument, got ${other.size}")
  }

  val ql2Info = new ExpressionInfo(classOf[ArrayQL2].getName, "graft_ql2")
  val ql2Builder: Seq[Expression] => Expression = {
    case Seq(a, b) => ArrayQL2(a, b)
    case other => throw new IllegalArgumentException(
      s"graft_ql2 takes exactly 2 arguments, got ${other.size}")
  }

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_dot", dotBuilder, "built-in")
    reg.createOrReplaceTempFunction("graft_phash", phashBuilder, "built-in")
    reg.createOrReplaceTempFunction("graft_shingle_hashes", shingleBuilder, "built-in")
    reg.createOrReplaceTempFunction("graft_shingles", shingleStrBuilder, "built-in")
    reg.createOrReplaceTempFunction("graft_minhash", minhashBuilder, "built-in")
    reg.createOrReplaceTempFunction("graft_band_keys", bandKeysBuilder, "built-in")
    reg.createOrReplaceTempFunction("graft_rp_project", rpProjectBuilder, "built-in")
    reg.createOrReplaceTempFunction("graft_ql2_argmin", ql2ArgminBuilder, "built-in")
    reg.createOrReplaceTempFunction("graft_simhash", simhashBuilder, "built-in")
    reg.createOrReplaceTempFunction("graft_tokens", tokensBuilder, "built-in")
    reg.createOrReplaceTempFunction("graft_lsh_buckets", lshBuilder, "built-in")
    reg.createOrReplaceTempFunction("graft_ts_multi", tsMultiBuilder, "built-in")
    reg.createOrReplaceTempFunction("graft_date_multi", dateMultiBuilder, "built-in")
    reg.createOrReplaceTempFunction("graft_pq_encode", pqEncodeBuilder, "built-in")
    reg.createOrReplaceTempFunction("graft_sq8_encode", sq8EncodeBuilder, "built-in")
    reg.createOrReplaceTempFunction("graft_l2", l2Builder, "built-in")
    reg.createOrReplaceTempFunction("graft_minmax_arr", minMaxArrBuilder, "built-in")
    reg.createOrReplaceTempFunction("graft_pq_adc", pqAdcBuilder, "built-in")
    reg.createOrReplaceTempFunction("graft_ql2", ql2Builder, "built-in")
    reg.createOrReplaceTempFunction("graft_top_k", topKBuilder, "built-in")
    reg.createOrReplaceTempFunction("graft_rep_stats", repStatsBuilder, "built-in")
    reg.createOrReplaceTempFunction("graft_span_filter", spanFilterBuilder, "built-in")
    reg.createOrReplaceTempFunction("graft_bucket_counts", bucketCountsBuilder, "built-in")
    reg.createOrReplaceTempFunction("graft_opaque", opaqueBuilder, "built-in")
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("graft_dot"), GraftFunctions.dotInfo, GraftFunctions.dotBuilder))
    ext.injectFunction((FunctionIdentifier("graft_phash"), GraftFunctions.phashInfo, GraftFunctions.phashBuilder))
    ext.injectFunction((FunctionIdentifier("graft_shingle_hashes"), GraftFunctions.shingleInfo, GraftFunctions.shingleBuilder))
    ext.injectFunction((FunctionIdentifier("graft_shingles"), GraftFunctions.shingleStrInfo, GraftFunctions.shingleStrBuilder))
    ext.injectFunction((FunctionIdentifier("graft_minhash"), GraftFunctions.minhashInfo, GraftFunctions.minhashBuilder))
    ext.injectFunction((FunctionIdentifier("graft_band_keys"), GraftFunctions.bandKeysInfo, GraftFunctions.bandKeysBuilder))
    ext.injectFunction((FunctionIdentifier("graft_rp_project"), GraftFunctions.rpProjectInfo, GraftFunctions.rpProjectBuilder))
    ext.injectFunction((FunctionIdentifier("graft_ql2_argmin"), GraftFunctions.ql2ArgminInfo, GraftFunctions.ql2ArgminBuilder))
    ext.injectFunction((FunctionIdentifier("graft_simhash"), GraftFunctions.simhashInfo, GraftFunctions.simhashBuilder))
    ext.injectFunction((FunctionIdentifier("graft_tokens"), GraftFunctions.tokensInfo, GraftFunctions.tokensBuilder))
    ext.injectFunction((FunctionIdentifier("graft_lsh_buckets"), GraftFunctions.lshInfo, GraftFunctions.lshBuilder))
    ext.injectFunction((FunctionIdentifier("graft_ts_multi"), GraftFunctions.tsMultiInfo, GraftFunctions.tsMultiBuilder))
    ext.injectFunction((FunctionIdentifier("graft_date_multi"), GraftFunctions.dateMultiInfo, GraftFunctions.dateMultiBuilder))
    ext.injectFunction((FunctionIdentifier("graft_pq_encode"), GraftFunctions.pqEncodeInfo, GraftFunctions.pqEncodeBuilder))
    ext.injectFunction((FunctionIdentifier("graft_sq8_encode"), GraftFunctions.sq8EncodeInfo, GraftFunctions.sq8EncodeBuilder))
    ext.injectFunction((FunctionIdentifier("graft_l2"), GraftFunctions.l2Info, GraftFunctions.l2Builder))
    ext.injectFunction((FunctionIdentifier("graft_minmax_arr"), GraftFunctions.minMaxArrInfo, GraftFunctions.minMaxArrBuilder))
    ext.injectFunction((FunctionIdentifier("graft_pq_adc"), GraftFunctions.pqAdcInfo, GraftFunctions.pqAdcBuilder))
    ext.injectFunction((FunctionIdentifier("graft_ql2"), GraftFunctions.ql2Info, GraftFunctions.ql2Builder))
    ext.injectFunction((FunctionIdentifier("graft_top_k"), GraftFunctions.topKInfo, GraftFunctions.topKBuilder))
    ext.injectFunction((FunctionIdentifier("graft_rep_stats"), GraftFunctions.repStatsInfo, GraftFunctions.repStatsBuilder))
    ext.injectFunction((FunctionIdentifier("graft_span_filter"), GraftFunctions.spanFilterInfo, GraftFunctions.spanFilterBuilder))
    ext.injectFunction((FunctionIdentifier("graft_bucket_counts"), GraftFunctions.bucketCountsInfo, GraftFunctions.bucketCountsBuilder))
    ext.injectFunction((FunctionIdentifier("graft_opaque"), GraftFunctions.opaqueInfo, GraftFunctions.opaqueBuilder))
  }
}
