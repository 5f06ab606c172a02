package graft.expressions

import java.security.MessageDigest
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for the sketching hot paths.
  *
  * The declarative formulations (nested `transform`/`aggregate` lambdas in
  * [[graft.functions.Hashing]] / [[graft.operators.Similarity]]) are
  * evaluated interpreted per element — k × |shingles| closure dispatches
  * per row. These expressions compute the IDENTICAL values (same md5-based
  * hash family, so the DuckDB oracle still reproduces them bit-for-bit) in
  * one tight primitive loop per row: no boxing, no per-element closures,
  * coefficients precomputed at plan time.
  *
  * Measured effect: q26 minhash at sf0.1 drops from 518 s (interpreted
  * lambdas, md5 re-derived per (i, shingle)) to seconds.
  *
  * `doGenCode` emits a call into the expression instance (via
  * `addReferenceObj`) rather than falling back to the interpreter — the
  * containing operator stays inside ONE WholeStageCodegen span, and the
  * per-row loop runs as monomorphic JVM code.
  */
object Sketches {

  def md5PrefixLong(s: String, hexChars: Int): Long = {
    val md = MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(hexChars), 16)
  }

  /** Same values as [[graft.functions.Hashing.coefA]]/[[coefB]]. */
  def coefficients(k: Int): (Array[Long], Array[Long]) = (
    Array.tabulate(k)(i => md5PrefixLong(s"a$i", 7) * 2 + 1),
    Array.tabulate(k)(i => md5PrefixLong(s"b$i", 7)))

  def minhashSig(hashes28: Column, k: Int): Column =
    GraftBridge.column(MinhashSigExpr(GraftBridge.expression(hashes28), k))

  /** md5-prefix hash of every string in an array — identical values to
    * mapping [[graft.functions.Hashing.h28]]/[[h60]] over the array, in
    * one digest loop instead of interpreted md5→hex→conv per element. */
  def md5PrefixArray(strings: Column, hexChars: Int): Column =
    GraftBridge.column(Md5PrefixArrayExpr(GraftBridge.expression(strings), hexChars))

  def simhash60(hashes60: Column): Column =
    GraftBridge.column(Simhash60Expr(GraftBridge.expression(hashes60)))

  /** Distinct word n-grams of a token array — identical values (content
    * AND first-occurrence order) to the declarative
    * `array_distinct(transform(sequence(...), i -> concat_ws(" ", ...)))`
    * reference formulation in TextAnalysisSpec, in one primitive pass
    * (spec-gated equality). */
  def wordNgrams(toks: Column, n: Int): Column =
    GraftBridge.column(WordNgramsExpr(GraftBridge.expression(toks), n))

  /** Mod-p k-gram fingerprints of a string — identical values (content AND
    * first-occurrence order) to the declarative
    * `array_distinct(filter(transform(sequence(1, greatest(len-k+1, 1)),
    * i -> h60(substr(text, i, k))), h -> pmod(h, p) = 0))` reference
    * formulation in TextAnalysisSpec, in one primitive pass
    * (spec-gated equality). */
  def fingerprints(text: Column, k: Int, modP: Int): Column =
    GraftBridge.column(FingerprintsExpr(GraftBridge.expression(text), k, modP))

  def srpSketch(vec: Column, signs: Array[Array[Int]]): Column =
    GraftBridge.column(SrpSketchExpr(GraftBridge.expression(vec),
      signs.map(_.toIndexedSeq).toIndexedSeq))

  def dotProduct(a: Column, b: Column): Column =
    GraftBridge.column(DotProductExpr(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Intersection count of two SORTED string arrays — same value as
    * `size(array_intersect(a, b))` on sorted inputs, one merge walk,
    * no per-call hash set or materialized intersection array. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    GraftBridge.column(SortedIntersectCountExpr(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** One-pass quality/langid counts struct over raw text — see
    * [[QualityCountsExpr]]; field stop_i counts multiset hits against
    * stopLists(i). */
  def qualityCounts(text: Column, stopLists: Seq[Seq[String]]): Column =
    GraftBridge.column(QualityCountsExpr(GraftBridge.expression(text), stopLists))

  /** Expose the sketch expressions to a LIVE session as temp functions —
    * the notebook/test twin of the `spark.sql.extensions=graft.
    * GraftExtensions` deployment path; both draw from the same
    * [[graft.GraftExtensions.functions]] list so the surfaces cannot
    * drift. Idempotent per session. */
  def registerSql(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    graft.GraftExtensions.functions.foreach { case (ident, _, builder) =>
      reg.createOrReplaceTempFunction(ident.funcName, builder, "scala_udf")
    }
  }
}

/** Ordered-fold dot product of two array<double> columns: Σ a[i]·b[i]
  * accumulated left to right from 0.0 — bit-identical to the declarative
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (acc,p) -> acc+p)` and to
  * DuckDB's `list_reduce([a[i]*b[i] ...], (x,y) -> x+y)`, so it is safe
  * inside oracle-checked queries. Length-mismatched inputs yield NULL —
  * exactly what the zip_with formulation gives (the shorter side pads
  * with null), so schema drift surfaces as missing scores rather than a
  * plausible-looking truncated similarity. */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true // null-element inputs → null

  override def nullSafeEval(a: Any, b: Any): Any = {
    val va = a.asInstanceOf[ArrayData]
    val vb = b.asInstanceOf[ArrayData]
    val n = va.numElements()
    if (vb.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (va.isNullAt(i) || vb.isNullAt(i)) return null
      acc += va.getDouble(i) * vb.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // loop emitted INLINE into the generated code: no boxed Double per row,
    // no megamorphic nullSafeEval dispatch — the accumulate stays a
    // primitive loop the JIT can vectorize within the WholeStageCodegen span
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val acc = ctx.freshName("acc")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      int $n = $a.numElements();
      double $acc = 0.0;
      if ($b.numElements() != $n) { ${ev.isNull} = true; }
      for (int $i = 0; !${ev.isNull} && $i < $n; $i++) {
        if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
        $acc += $a.getDouble($i) * $b.getDouble($i);
      }
      ${ev.value} = $acc;""")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Array-wide md5-prefix hashing: array<string> → array<long>, where each
  * element is the first `hexChars` hex digits of its md5 as an integer —
  * byte-identical to the SQL formulation `CAST(CONV(SUBSTRING(MD5(x),1,n),
  * 16,10) AS BIGINT)` used by the DuckDB oracle. */
case class Md5PrefixArrayExpr(child: Expression, hexChars: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  // null elements make the whole result null (documented; never occurs in
  // the engine's own pipelines, guards the SQL surface)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val md = MessageDigest.getInstance("MD5")
    val out = new Array[Long](n)
    val nibbles = hexChars // one hex char = 4 bits
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      md.reset()
      val digest = md.digest(arr.getUTF8String(i).getBytes)
      var v = 0L
      var j = 0
      while (j < nibbles) {
        val b = digest(j / 2) & 0xff
        val nib = if (j % 2 == 0) b >> 4 else b & 0xf
        v = (v << 4) | nib
        j += 1
      }
      out(i) = v
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("md5arr", this, classOf[Md5PrefixArrayExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      Object r = $ref.nullSafeEval($c);
      if (r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) r; }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct word n-grams over a token array: out[j] = toks[j] + " " + ... +
  * toks[j+n-1], first occurrence kept, in position order — the fused form
  * of `array_distinct(transform(sequence(1, size-(n-1)), i ->
  * concat_ws(" ", element_at(toks, i), ...)))`. One pass, one hash-set,
  * no per-gram closure dispatch or sequence materialization. Matches the
  * declarative form on every edge: null or sub-n input → EMPTY array (the
  * `when(...).otherwise(empty)` guard's value), null elements skipped by
  * the join exactly as concat_ws skips them. */
case class WordNgramsExpr(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(n >= 1, s"n-gram size must be >= 1, got $n")

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  private val Space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
  private val Empty = new GenericArrayData(Array.empty[Any])

  def compute(input: Any): ArrayData = {
    if (input == null) return Empty
    val arr = input.asInstanceOf[ArrayData]
    val cnt = arr.numElements()
    if (cnt < n) return Empty
    val seen = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String](cnt * 2)
    val win = new Array[org.apache.spark.unsafe.types.UTF8String](n)
    var i = 0
    while (i <= cnt - n) {
      var j = 0
      while (j < n) { win(j) = if (arr.isNullAt(i + j)) null else arr.getUTF8String(i + j); j += 1 }
      // concatWs skips null inputs — same null semantics as the
      // declarative concat_ws(" ", ...)
      seen.add(org.apache.spark.unsafe.types.UTF8String.concatWs(Space, win: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    compute(child.eval(input))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("ngrams", this, classOf[WordNgramsExpr].getName)
    val c = child.genCode(ctx)
    val value = ctx.freshName("ngramsOut")
    ev.copy(code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.util.ArrayData $value =
        $ref.compute(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral,
      value = org.apache.spark.sql.catalyst.expressions.codegen.JavaCode.variable(
        value, dataType))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Mod-p k-gram fingerprints: 60-bit md5-prefix hashes of every k-char
  * gram of `text` whose hash ≡ 0 (mod p), distinct, in first-occurrence
  * (= position) order. Fused form of the declarative
  * sequence→substring→md5→hex→conv→filter→array_distinct chain: that chain
  * runs INTERPRETED (higher-order functions are CodegenFallback) and
  * allocates, per gram, a substring copy, a 32-char hex string and a conv
  * parse — this walks the text's UTF-8 bytes once, digests each k-char
  * window in place, and keeps the winnowing survivors in one hash set.
  * The gram is char-addressed (SQL substr semantics), so multi-byte text
  * produces the same grams as the declarative form; a text shorter than k
  * chars yields ONE gram — the whole text (sequence(1, greatest(L-k+1, 1))
  * semantics), empty string included. Null text → EMPTY array, exactly as
  * the declarative chain: greatest(null-k+1, 1) SKIPS the null and yields
  * 1, substring(null,...) hashes to null, and filter's null predicate
  * drops the element — not the null-in/null-out one might expect. */
case class FingerprintsExpr(child: Expression, k: Int, modP: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(k >= 1, s"gram size must be >= 1, got $k")
  require(modP >= 1, s"modulus must be >= 1, got $modP")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  private val Empty = new GenericArrayData(Array.empty[Any])

  def compute(input: Any): ArrayData = {
    if (input == null) return Empty
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val bytes = s.getBytes // one copy; windows are (offset, len) views of it
    val nBytes = bytes.length
    // char-boundary byte offsets: charOff(c) = byte offset of char c
    val nChars = s.numChars()
    val charOff = new Array[Int](nChars + 1)
    var c = 0
    var off = 0
    while (c < nChars) {
      charOff(c) = off
      off += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte(bytes(off))
      c += 1
    }
    charOff(nChars) = nBytes
    // positions 1..max(L-k+1, 1): a sub-k text still yields one (short) gram
    val upper = math.max(nChars - (k - 1), 1)
    val md = MessageDigest.getInstance("MD5")
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i < upper) {
      val from = if (i <= nChars) charOff(i) else nBytes
      val until = if (i + k <= nChars) charOff(i + k) else nBytes
      md.reset()
      md.update(bytes, from, until - from)
      val digest = md.digest()
      // first 15 hex nibbles of the digest = the 60-bit value h60 builds
      // via md5→hex→conv; assembling it is trivial next to the digest
      var v = 0L
      var j = 0
      while (j < 15) { // 15 hex nibbles = 60 bits
        val b = digest(j / 2) & 0xff
        v = (v << 4) | (if (j % 2 == 0) b >> 4 else b & 0xf)
        j += 1
      }
      if (v % modP == 0) seen.add(v)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    compute(child.eval(input))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("fps", this, classOf[FingerprintsExpr].getName)
    val c = child.genCode(ctx)
    val value = ctx.freshName("fpsOut")
    ev.copy(code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.util.ArrayData $value =
        $ref.compute(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral,
      value = org.apache.spark.sql.catalyst.expressions.codegen.JavaCode.variable(
        value, dataType))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** k-element MinHash signature over an array of 28-bit shingle hashes:
  * sig[i] = min_h (a_i·h + b_i) mod (2^31-1). One pass over the hashes,
  * all k mins updated per element. Empty/absent input → null. */
case class MinhashSigExpr(child: Expression, k: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(LongType))

  private val P = 2147483647L
  private val Mask28 = (1L << 28) - 1
  @transient private lazy val (as, bs) = Sketches.coefficients(k)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  // empty or null-element inputs yield null regardless of child nullability
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    if (n == 0) return null
    val out = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < n) {
      if (hs.isNullAt(j)) return null
      // mask to 28 bits: no-op for the intended h28 inputs, keeps the
      // a_i*h multiply overflow-free for any input fed via SQL
      val h = hs.getLong(j) & Mask28
      var i = 0
      while (i < k) {
        val v = (as(i) * h + bs(i)) % P
        if (v < out(i)) out(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // coefficient arrays land in the references array once at plan time;
    // the k×n min-update loop itself is emitted inline — primitive longs
    // only, no boxed result, no per-row virtual dispatch
    val asRef = ctx.addReferenceObj("minhashAs", as, "long[]")
    val bsRef = ctx.addReferenceObj("minhashBs", bs, "long[]")
    val n = ctx.freshName("n")
    val out = ctx.freshName("out")
    val i = ctx.freshName("i")
    val j = ctx.freshName("j")
    val h = ctx.freshName("h")
    val v = ctx.freshName("v")
    nullSafeCodeGen(ctx, ev, c => s"""
      int $n = $c.numElements();
      if ($n == 0) { ${ev.isNull} = true; } else {
        long[] $out = new long[$k];
        java.util.Arrays.fill($out, Long.MAX_VALUE);
        for (int $j = 0; $j < $n; $j++) {
          if ($c.isNullAt($j)) { ${ev.isNull} = true; break; }
          long $h = $c.getLong($j) & ${Mask28}L;
          for (int $i = 0; $i < $k; $i++) {
            long $v = ($asRef[$i] * $h + $bsRef[$i]) % ${P}L;
            if ($v < $out[$i]) $out[$i] = $v;
          }
        }
        if (!${ev.isNull}) {
          ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
        }
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 60-bit SimHash over an array of 60-bit element hashes: bit j of the
  * result is set iff Σ_h (2·bit_j(h) − 1) >= 0. Empty input → null (like
  * [[MinhashSigExpr]]): the zero-count ties would otherwise set ALL 60
  * bits, parking every empty document at a plausible Hamming distance
  * from real fingerprints instead of forcing callers to filter it. */
case class Simhash60Expr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true // null-element/empty inputs → null

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    if (n == 0) return null
    val counts = new Array[Int](60)
    var i = 0
    while (i < n) {
      if (hs.isNullAt(i)) return null
      val h = hs.getLong(i)
      var j = 0
      while (j < 60) {
        if (((h >> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 60) {
      if (counts(j) >= 0) fp |= (1L << j)
      j += 1
    }
    fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhash", this, classOf[Simhash60Expr].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      Object r = $ref.nullSafeEval($c);
      if (r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ((java.lang.Long) r).longValue(); }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 16-bit sign-random-projection sketch over an array<double> embedding,
  * with the ±1 hyperplane matrix baked in at plan time. Components are
  * quantized to floor(x·1e6) so the sums are exact integers — identical
  * to the declarative/oracle formulation regardless of evaluation order.
  * NULL for null elements and for a vector whose length differs from the
  * hyperplane dimensionality (schema drift must not produce a plausible
  * sketch). `signs` is a Seq (not Array) so two identical instances are
  * structurally equal and Catalyst canonicalization/CSE can merge them. */
case class SrpSketchExpr(child: Expression, signs: IndexedSeq[IndexedSeq[Int]])
    extends UnaryExpression with ImplicitCastInputTypes {

  @transient private lazy val rows: Array[Array[Int]] = signs.map(_.toArray).toArray

  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dims = v.numElements()
    if (rows.nonEmpty && rows(0).length != dims) return null
    val q = new Array[Long](dims)
    var d = 0
    while (d < dims) {
      if (v.isNullAt(d)) return null
      q(d) = math.floor(v.getDouble(d) * 1000000L).toLong
      d += 1
    }
    var sketch = 0L
    var p = 0
    while (p < rows.length) {
      val row = rows(p)
      var acc = 0L
      var i = 0
      while (i < dims) {
        acc += row(i) * q(i)
        i += 1
      }
      if (acc >= 0) sketch |= (1L << p)
      p += 1
    }
    sketch
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("srp", this, classOf[SrpSketchExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      Object r = $ref.nullSafeEval($c);
      if (r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ((java.lang.Long) r).longValue(); }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Intersection COUNT of two SORTED string arrays — the same value as
  * `size(array_intersect(l, r))` (distinct common elements; a null
  * element in both sides counts once) whenever both inputs are sorted
  * ascending in Spark's string order (`sort_array` order = UTF8String
  * byte order, nulls first). Why not array_intersect: that expression
  * builds a hash set of one side and MATERIALIZES the intersection
  * array per call, only for `size` to throw it away — per candidate
  * pair in the set-similarity verification tier that is one hash-set
  * allocation plus string re-hashing for every element. This is one
  * branch-predictable merge walk: zero allocation, byte-wise compares,
  * duplicate elements skipped on both sides so distinctness of the
  * inputs is NOT assumed. Null input (either side) → null, exactly as
  * size(array_intersect(...)) under the non-legacy sizeOfNull. */
case class SortedIntersectCountExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val la = a.asInstanceOf[ArrayData]
    val rb = b.asInstanceOf[ArrayData]
    val nl = la.numElements()
    val nr = rb.numElements()
    var i = 0
    var j = 0
    var cnt = 0L
    while (i < nl && j < nr) {
      val ln = la.isNullAt(i)
      val rn = rb.isNullAt(j)
      val cmp =
        if (ln && rn) 0
        else if (ln) -1
        else if (rn) 1
        else la.getUTF8String(i).compareTo(rb.getUTF8String(j))
      if (cmp == 0) {
        cnt += 1
        // skip every copy of the matched value on both sides: intersect
        // semantics are DISTINCT-count, and inputs may carry duplicates
        if (ln) {
          while (i < nl && la.isNullAt(i)) i += 1
          while (j < nr && rb.isNullAt(j)) j += 1
        } else {
          val v = la.getUTF8String(i)
          while (i < nl && !la.isNullAt(i) && la.getUTF8String(i).equals(v)) i += 1
          while (j < nr && !rb.isNullAt(j) && rb.getUTF8String(j).equals(v)) j += 1
        }
      } else if (cmp < 0) i += 1
      else j += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sic", this, classOf[SortedIntersectCountExpr].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      ${ev.value} = ((java.lang.Long) $ref.nullSafeEval($a, $b)).longValue();""")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** One-pass text metrics for the curation quality gate and stopword
  * language ID: counts that the declarative forms pay three to five
  * separate passes for — `length(regexp_replace(text, "[^A-Za-z]", ""))`
  * (a regex pass ALLOCATING the stripped copy just to measure it),
  * `regexp_extract_all(text, "\w+")` (a regex pass allocating the token
  * array), and per stop list an interpreted higher-order
  * `filter(toks, array_contains(...))` (CodegenFallback closure dispatch
  * per token). This walks the UTF-8 bytes once:
  *
  *  - n_chars:      codepoints (= Spark `length`; non-continuation bytes)
  *  - alpha:        [A-Za-z] chars (= length of the stripped copy)
  *  - n_toks:       maximal `\w+` = [A-Za-z0-9_]+ runs (Java regex `\w`
  *                  is ASCII-only by default; any >= 0x80 byte breaks a
  *                  run exactly as the regex does)
  *  - tok_len_sum:  Σ token lengths (tokens are ASCII, chars = bytes)
  *  - stop_xx:      per [[graft.functions.TextAnalysis]] stop list, the
  *                  MULTISET count of tokens equal to a list word
  *
  * The quality/ratio doubles stay DECLARATIVE on top of these counts
  * (same cast/divide/least shapes as before), so scores are bit-identical
  * to the unfused formulation — spec-gated per field in TextAnalysisSpec.
  * Null text → null struct (each derived ratio then evaluates exactly as
  * the unfused null-propagation did). */
case class QualityCountsExpr(child: Expression, stopLists: Seq[Seq[String]])
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StructType(
    (Seq("n_chars", "alpha", "n_toks", "tok_len_sum") ++
      stopLists.indices.map(i => s"stop_$i"))
      .map(n => StructField(n, LongType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true

  @transient private lazy val stopBytes: Array[Array[Array[Byte]]] =
    stopLists.map(_.map(_.getBytes("UTF-8")).toArray).toArray

  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    val n = b.length
    val lists = stopBytes
    val hits = new Array[Long](lists.length)
    var nChars = 0L
    var alpha = 0L
    var nToks = 0L
    var tokLenSum = 0L
    var runStart = -1
    def endRun(endExcl: Int): Unit = {
      nToks += 1
      val len = endExcl - runStart
      tokLenSum += len
      var li = 0
      while (li < lists.length) {
        val words = lists(li)
        var wi = 0
        var matched = false
        while (wi < words.length && !matched) {
          val w = words(wi)
          if (w.length == len) {
            var k = 0
            while (k < len && b(runStart + k) == w(k)) k += 1
            if (k == len) { hits(li) += 1; matched = true }
          }
          wi += 1
        }
        li += 1
      }
      runStart = -1
    }
    var i = 0
    while (i < n) {
      val c = b(i)
      if ((c & 0xc0) != 0x80) nChars += 1
      val isAlpha = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')
      if (isAlpha) alpha += 1
      val isWord = isAlpha || (c >= '0' && c <= '9') || c == '_'
      if (isWord) { if (runStart < 0) runStart = i }
      else if (runStart >= 0) endRun(i)
      i += 1
    }
    if (runStart >= 0) endRun(n)
    val out = new Array[Any](4 + hits.length)
    out(0) = nChars; out(1) = alpha; out(2) = nToks; out(3) = tokLenSum
    var h = 0
    while (h < hits.length) { out(4 + h) = hits(h); h += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("qcounts", this, classOf[QualityCountsExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.nullSafeEval($c);""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
