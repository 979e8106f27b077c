package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, QuaternaryExpression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** JVM helpers invoked from generated code (static forwarders make
  * them callable as `graft.functions.NativeHelpers.parse(...)`). */
object NativeHelpers {

  /** Reference-exact numeric normalization (transformer_data.py:63-75);
    * shared by the interpreted path and generated code. */
  def parse(s: UTF8String): java.lang.Double = {
    if (s == null) return null
    val v = s.toString.trim
    if (v.isEmpty) return null
    var dots = 0; var commas = 0
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '.') dots += 1 else if (c == ',') commas += 1
      i += 1
    }
    val cleaned =
      if (dots > 0 && commas == 1 && v.lastIndexOf(',') > v.lastIndexOf('.'))
        v.replace(".", "").replace(',', '.')
      else if (commas > 0 && dots == 0) v.replace(",", "")
      else v
    try java.lang.Double.valueOf(cleaned)
    catch { case _: NumberFormatException => null }
  }

  /** State-machine single→double quote repair (SURVEY §0/§7.3): the
    * reference's blanket `replace("'", '"')` corrupts values like
    * "Lee's team"; here a quote converts ONLY when it's a delimiter —
    * i.e. not surrounded by letters/digits on both sides. A
    * regexp_replace cannot express this without lookaround pitfalls
    * across engines, hence the native helper. */
  def repairJson(s: UTF8String): UTF8String = {
    if (s == null) return null
    val v = s.toString
    if (v.indexOf('"') >= 0) return s // already double-quoted: leave as-is
    val sb = new java.lang.StringBuilder(v.length)
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '\'') {
        val prevAlnum = i > 0 && Character.isLetterOrDigit(v.charAt(i - 1))
        val nextAlnum = i + 1 < v.length && Character.isLetterOrDigit(v.charAt(i + 1))
        sb.append(if (prevAlnum && nextAlnum) '\'' else '"')
      } else sb.append(c)
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** Cosine similarity over two double arrays — numerically IDENTICAL
    * to the declarative `aggregate(zip_with(a,b,_*_), 0.0, _+_) /
    * (sqrt(·)*sqrt(·))` fold (same left-to-right accumulation), with
    * its exact null semantics mirrored: null element → null,
    * length mismatch → null (zip_with pads with nulls, which poison
    * the fold). One deliberate divergence: a zero-norm vector yields
    * null here, where the declarative form under ANSI (the Spark 4
    * default) throws DIVIDE_BY_ZERO — in a corpus scan an all-zero
    * embedding is data noise to skip, not a query error.
    * Exists because higher-order functions evaluate via interpreted
    * lambdas and break the whole-stage-codegen span right where the
    * ANN scans are hottest. */
  def cosine(a: ArrayData, b: ArrayData): java.lang.Double = {
    if (a == null || b == null) return null
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  /** Squared L2 distance over two double arrays — numerically
    * IDENTICAL to the declarative
    * `aggregate(zip_with(a,b,(x,y)->(x-y)*(x-y)), 0.0, _+_)` fold
    * (same left-to-right accumulation), with its exact null
    * semantics: null element → null, length mismatch → null
    * (zip_with pads with nulls, which poison the fold), empty
    * arrays → 0.0. The per-(vector, subspace, code) distance of the
    * PQ tier (encode, LUT, codebook training) — the HOF form runs an
    * interpreted lambda per candidate code and breaks the
    * whole-stage-codegen span exactly where the encode scan is
    * hottest. */
  def l2sq(a: ArrayData, b: ArrayData): java.lang.Double = {
    if (a == null || b == null) return null
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getDouble(i) - b.getDouble(i)
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** SQ8 scalar quantization to 1-byte codes — the arithmetic twin of
    * `Similarity.sq8Dequantize`'s code computation (w = (hi-lo)/256,
    * code = min(floor((x-lo)/w), 255), same IEEE ops in the same
    * order, so encode→decode reproduces the declarative dequantized
    * values bit-for-bit). Contract: bounds must come from the same
    * corpus (x ∈ [lo, hi]); codes clamp into [0, 255] regardless so a
    * drifted input can't wrap the byte. Null element / length
    * mismatch → null, like [[cosine]]. */
  def sq8Encode(v: ArrayData, los: ArrayData, his: ArrayData): Array[Byte] = {
    if (v == null || los == null || his == null) return null
    val n = v.numElements()
    if (los.numElements() != n || his.numElements() != n) return null
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i) || los.isNullAt(i) || his.isNullAt(i)) return null
      val lo = los.getDouble(i)
      val w = (his.getDouble(i) - lo) / 256.0
      val code = math.min(math.floor((v.getDouble(i) - lo) / w), 255.0)
      out(i) = math.max(code, 0.0).toInt.toByte
      i += 1
    }
    out
  }

  /** Cosine of a full-precision query against an SQ8-coded vector,
    * dequantizing on the fly (asymmetric distance) — the fused read
    * path of the persisted-codes index: the scan touches 1 byte per
    * component instead of 4 (float32) and never materializes the
    * decoded array. Accumulation order matches [[cosine]] over the
    * dequantized values exactly, so ranking from codes is
    * bit-identical to ranking from `sq8Dequantize`d vectors. */
  def sq8Cosine(q: ArrayData, codes: Array[Byte], los: ArrayData,
      his: ArrayData): java.lang.Double = {
    if (q == null || codes == null || los == null || his == null) return null
    val n = codes.length
    if (q.numElements() != n || los.numElements() != n || his.numElements() != n)
      return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (q.isNullAt(i) || los.isNullAt(i) || his.isNullAt(i)) return null
      val lo = los.getDouble(i)
      val w = (his.getDouble(i) - lo) / 256.0
      val y = lo + ((codes(i) & 0xff) + 0.5) * w
      val x = q.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  /** PQ Asymmetric Distance Computation: m ordered lookups into a
    * flattened per-query LUT — lut[s*codesPerSub + codes[s]] summed
    * sequentially over subspaces s = 0..m-1. Bit-identical to the
    * declarative `aggregate(zip_with(codes, sequence(0, m-1), (c, s)
    * => element_at(lut, s*codesPerSub+c+1)), 0.0, _+_)` fold (same
    * left-to-right accumulation; null input or null element → null).
    * One defensive divergence (the hyperplaneBucket pattern): an
    * out-of-range code — impossible past pqTopK's dense-code-space
    * guard — yields null here where the declarative form's element_at
    * throws under ANSI. Native because the ADC loop is the scan-side
    * hot path of the PQ tier: the HOF form evaluates interpreted
    * lambdas per corpus row, the pattern whose nativization bought
    * 86× on the MinHash tier. */
  def adcDistance(codes: ArrayData, lut: ArrayData, codesPerSub: Int,
      longCodes: Boolean): java.lang.Double = {
    if (codes == null || lut == null) return null
    val m = codes.numElements()
    val n = lut.numElements()
    var acc = 0.0
    var s = 0
    while (s < m) {
      if (codes.isNullAt(s)) return null
      val c = if (longCodes) codes.getLong(s).toInt else codes.getInt(s)
      if (c < 0 || c >= codesPerSub) return null
      val idx = s * codesPerSub + c
      if (idx >= n || lut.isNullAt(idx)) return null
      acc += lut.getDouble(idx)
      s += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** MinHash universe prime and per-hash-function coefficients — the
    * single source of truth (Dedup and the DuckDB oracle literals both
    * derive from here). */
  val MinhashP: Long = 1000000007L
  def minhashCoeffA(n: Int): Seq[Long] = (1 to n).map(i => (1103515245L * i + 12345L) % MinhashP)
  def minhashCoeffB(n: Int): Seq[Long] = (1 to n).map(i => (362437L * i + 1013904223L) % MinhashP)

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of md5 as a positive long — bit-identical to
    * `conv(substring(md5(s), 1, 15), 16, 10)`: 15 hex chars = the
    * digest's first 7.5 bytes = big-endian first-8-bytes >>> 4. */
  def hash60(s: UTF8String): Long = {
    val d = md5Local.get()
    d.reset()
    val dig = d.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (dig(i) & 0xffL); i += 1 }
    v >>> 4
  }

  private val Whitespace = java.util.regex.Pattern.compile("\\s+")

  /** Distinct word-n-gram shingle hashes mod P — bit-identical to the
    * declarative `transform(shingles(text, n), h => tokenHash60(h) % P)`
    * (tokens = split on \s+ with empties dropped; shingles distinct in
    * first-occurrence order; < n tokens → empty array). Native because
    * the declarative form evaluates an interpreted md5 chain per
    * shingle inside a higher-order lambda — the scan-side hot loop of
    * the MinHash tier. */
  def shingleHashes(text: UTF8String, n: Int, p: Long): ArrayData = {
    if (text == null) return null
    val raw = Whitespace.split(text.toString, -1)
    var nTok = 0
    var i = 0
    while (i < raw.length) { if (!raw(i).isEmpty) nTok += 1; i += 1 }
    if (nTok < n) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[String](nTok)
    var j = 0; i = 0
    while (i < raw.length) { if (!raw(i).isEmpty) { toks(j) = raw(i); j += 1 }; i += 1 }
    val seen = new java.util.LinkedHashSet[String]()
    i = 0
    while (i <= nTok - n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var k = 1
      while (k < n) { sb.append(' ').append(toks(i + k)); k += 1 }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = hash60(UTF8String.fromString(it.next())) % p; i += 1 }
    new GenericArrayData(out)
  }

  /** POSITIONAL word-n-gram hash60s at the given stride, NON-distinct,
    * in document order — the positional complement of [[shingleHashes]]
    * (which dedups for MinHash). stride=1 → every overlapping window
    * (q150 duplicated-span detection, q135 bigram LM); stride=n →
    * disjoint chunks (q117 chunk dedup). Bit-identical to the
    * declarative `transform(sequence(...), i -> tokenHash60(
    * array_join(slice(tokens, i*stride+1, n), ' ')))`; < n tokens →
    * empty array. Native because the declarative form runs an
    * interpreted md5 chain per window inside a HOF lambda — the
    * scan-side hot loop of the three slowest benchmark queries. */
  def ngramHashes(text: UTF8String, n: Int, stride: Int): ArrayData = {
    if (text == null) return null
    val raw = Whitespace.split(text.toString, -1)
    var nTok = 0
    var i = 0
    while (i < raw.length) { if (!raw(i).isEmpty) nTok += 1; i += 1 }
    if (nTok < n) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[String](nTok)
    var j = 0; i = 0
    while (i < raw.length) { if (!raw(i).isEmpty) { toks(j) = raw(i); j += 1 }; i += 1 }
    val m = (nTok - n) / stride + 1
    val out = new Array[Any](m)
    var g = 0
    i = 0
    while (g < m) {
      val sb = new java.lang.StringBuilder(toks(i))
      var k = 1
      while (k < n) { sb.append(' ').append(toks(i + k)); k += 1 }
      out(g) = hash60(UTF8String.fromString(sb.toString))
      g += 1
      i += stride
    }
    new GenericArrayData(out)
  }

  /** POSITIONAL word n-gram STRINGS, stride 1 (the Gopher repetition
    * signals need the gram text itself: char lengths and a
    * lexicographic tie-break, not just a hash). Bit-identical to the
    * declarative `transform(sequence(0, size(t)-n), i ->
    * array_join(slice(t, i+1, n), ' '))` over whitespace tokens;
    * < n tokens → empty array; null → null. Native for the same
    * reason as [[ngramHashes]]: the declarative form allocates a
    * slice array + runs an interpreted lambda per window inside the
    * corpus-sized explode. */
  def wordNgrams(text: UTF8String, n: Int): ArrayData = {
    if (text == null) return null
    val raw = Whitespace.split(text.toString, -1)
    var nTok = 0
    var i = 0
    while (i < raw.length) { if (!raw(i).isEmpty) nTok += 1; i += 1 }
    if (nTok < n) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[String](nTok)
    var j = 0; i = 0
    while (i < raw.length) { if (!raw(i).isEmpty) { toks(j) = raw(i); j += 1 }; i += 1 }
    val m = nTok - n + 1
    val out = new Array[Any](m)
    var g = 0
    while (g < m) {
      val sb = new java.lang.StringBuilder(toks(g))
      var k = 1
      while (k < n) { sb.append(' ').append(toks(g + k)); k += 1 }
      out(g) = UTF8String.fromString(sb.toString)
      g += 1
    }
    new GenericArrayData(out)
  }

  /** SimHash (32-bit majority vote over distinct-token hashes) —
    * bit-identical to the declarative nested-aggregate form: bit j of
    * h tested as ((h >>> j) & 1) (== `(h % 2^(j+1)) >= 2^j` for these
    * positive 60-bit hashes); empty token set → signature 0. */
  def simhash(text: UTF8String): Long = {
    if (text == null) return 0L // callers null-guard; matches nullSafeEval contract
    val raw = Whitespace.split(text.toString, -1)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < raw.length) { if (!raw(i).isEmpty) seen.add(raw(i)); i += 1 }
    val hs = new Array[Long](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { hs(i) = hash60(UTF8String.fromString(it.next())); i += 1 }
    var sig = 0L
    var j = 0
    while (j < 32) {
      var s = 0L
      var k = 0
      while (k < hs.length) {
        s += (if (((hs(k) >>> j) & 1L) == 1L) 1L else -1L)
        k += 1
      }
      if (s > 0) sig += (1L << j)
      j += 1
    }
    sig
  }

  /** Hyperplane weight tables, built once per (dim, bits) per JVM —
    * the weights are pure functions of the plane/component index, so
    * recomputing two mods + a divide per (row × plane × component) in
    * the hot loop would only burn cycles. */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()

  /** Deterministic pseudo-random plane component w[i] in (-0.5, 0.5)
    * for flat index i = j*dim + k: a = (i*2654435761) mod 1000003,
    * w = (a² mod 1000003)/1000003 - 0.5. The SQUARE is what makes the
    * planes independent: the plain Knuth multiplicative hash is an
    * arithmetic progression mod p, so consecutive components — and
    * whole planes, which are the same progression shifted by dim·s —
    * were strongly correlated. On clustered vectors that meant buckets
    * hundreds deep of mutually-DISSIMILAR vectors (sf1: 11.2M candidate
    * pairs where truly random planes give 0.6M). Squaring after the mod
    * makes the step between consecutive components depend on the value
    * itself (2aδ+δ² mod p), matching random-plane behavior. Integer
    * arithmetic only (a ≤ 1e6 so a² fits a long), reproducible in any
    * engine. */
  def planeWeight(i: Long): Double = {
    val a = i * 2654435761L % 1000003L
    (a * a % 1000003L).toDouble / 1000003.0 - 0.5
  }

  private def planes(dim: Int, bits: Int): Array[Double] =
    planeCache.computeIfAbsent((dim, bits), { case (d, b) =>
      Array.tabulate(b * d)(i => planeWeight(i.toLong))
    })

  /** Random-hyperplane LSH bucket id — bit-identical to the declarative
    * nested-aggregate form (same quadratic-hash plane components, same
    * left-to-right accumulation), incl. the null-element case: a null
    * component null-poisons every projection, so every bit tests false
    * and the bucket is 0. One defensive divergence: a vector SHORTER
    * than `dim` yields null here where the declarative form's
    * out-of-range element_at throws under ANSI. */
  def hyperplaneBucket(v: ArrayData, dim: Int, bits: Int): java.lang.Long = {
    if (v == null) return null
    if (v.numElements() < dim) return null
    var k = 0
    while (k < dim) { if (v.isNullAt(k)) return java.lang.Long.valueOf(0L); k += 1 }
    val w = planes(dim, bits)
    var acc = 0L
    var j = 0
    while (j < bits) {
      var proj = 0.0
      k = 0
      while (k < dim) {
        proj += v.getDouble(k) * w(j * dim + k)
        k += 1
      }
      if (proj > 0) acc += (1L << j)
      j += 1
    }
    java.lang.Long.valueOf(acc)
  }

  /** MinHash signature from shingle hashes — bit-identical to
    * `transform(sequence(0, n-1), i => array_min(transform(hs,
    * h => (a(i)*h + b(i)) % P)))` incl. the empty-input case
    * (array_min of empty → null per element). All values < 2^30, so
    * a*h stays far from long overflow. */
  def minhash(hs: ArrayData, a: Array[Long], b: Array[Long], p: Long): ArrayData = {
    if (hs == null) return null
    val m = hs.numElements()
    val out = new Array[Any](a.length)
    var i = 0
    while (i < a.length) {
      var min = Long.MaxValue; var found = false
      var j = 0
      while (j < m) {
        if (!hs.isNullAt(j)) {
          val v = (a(i) * hs.getLong(j) + b(i)) % p
          if (v < min) { min = v; found = true }
        }
        j += 1
      }
      out(i) = if (found) java.lang.Long.valueOf(min) else null
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Codegen'd scalar expression: `normalize_numeric_native(str)`.
  * Preference order per SURVEY §7.3: this is the (b) tier — a custom
  * Catalyst Expression with doGenCode, no UDF SerDe, registered in the
  * session FunctionRegistry so it's callable from SQL too. */
case class NormalizeNumericExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "normalize_numeric_native"

  override protected def nullSafeEval(input: Any): Any = {
    val r = NativeHelpers.parse(input.asInstanceOf[UTF8String])
    if (r == null) null else r.doubleValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    ev.copy(code =
      code"""
        ${childGen.code}
        boolean ${ev.isNull} = true;
        double ${ev.value} = 0.0;
        if (!${childGen.isNull}) {
          java.lang.Double r = graft.functions.NativeHelpers.parse(${childGen.value});
          if (r != null) { ${ev.isNull} = false; ${ev.value} = r.doubleValue(); }
        }
      """)
  }

  override protected def withNewChildInternal(newChild: Expression): NormalizeNumericExpr =
    copy(child = newChild)
}

/** Codegen'd quote-repair expression: `repair_json_native(str)`. */
case class RepairJsonExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "repair_json_native"

  override protected def nullSafeEval(input: Any): Any =
    NativeHelpers.repairJson(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NativeHelpers.repairJson($c)")

  override protected def withNewChildInternal(newChild: Expression): RepairJsonExpr =
    copy(child = newChild)
}

/** Codegen'd cosine similarity: `cosine_native(array<double>, array<double>)`.
  * The vector-math hot path of the ANN scans (q45/q56/q47 tier) —
  * see NativeHelpers.cosine for why this beats zip_with/aggregate. */
case class CosineSimilarityExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_native"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val r = NativeHelpers.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (r == null) null else r.doubleValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aGen = left.genCode(ctx)
    val bGen = right.genCode(ctx)
    ev.copy(code =
      code"""
        ${aGen.code}
        ${bGen.code}
        boolean ${ev.isNull} = true;
        double ${ev.value} = 0.0;
        if (!${aGen.isNull} && !${bGen.isNull}) {
          java.lang.Double r = graft.functions.NativeHelpers.cosine(${aGen.value}, ${bGen.value});
          if (r != null) { ${ev.isNull} = false; ${ev.value} = r.doubleValue(); }
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarityExpr =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd squared L2 distance: `l2sq_native(array<double>,
  * array<double>)` — the PQ tier's per-code distance (see
  * NativeHelpers.l2sq for the exact declarative-fold equivalence). */
case class L2SquaredExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "l2sq_native"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val r = NativeHelpers.l2sq(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (r == null) null else r.doubleValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aGen = left.genCode(ctx)
    val bGen = right.genCode(ctx)
    ev.copy(code =
      code"""
        ${aGen.code}
        ${bGen.code}
        boolean ${ev.isNull} = true;
        double ${ev.value} = 0.0;
        if (!${aGen.isNull} && !${bGen.isNull}) {
          java.lang.Double r = graft.functions.NativeHelpers.l2sq(${aGen.value}, ${bGen.value});
          if (r != null) { ${ev.isNull} = false; ${ev.value} = r.doubleValue(); }
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2SquaredExpr =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd SimHash: `simhash_native(text)` — see NativeHelpers.simhash. */
case class SimhashExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash_native"

  override protected def nullSafeEval(input: Any): Any =
    NativeHelpers.simhash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NativeHelpers.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression): SimhashExpr =
    copy(child = newChild)
}

/** Codegen'd hyperplane-LSH bucket id:
  * `hyperplane_bucket_native(array<double>, dim, bits)` — see
  * NativeHelpers.hyperplaneBucket. */
case class HyperplaneBucketExpr(child: Expression, dim: Int, bits: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "hyperplane_bucket_native"

  override protected def nullSafeEval(input: Any): Any = {
    val r = NativeHelpers.hyperplaneBucket(input.asInstanceOf[ArrayData], dim, bits)
    if (r == null) null else r.longValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    ev.copy(code =
      code"""
        ${childGen.code}
        boolean ${ev.isNull} = true;
        long ${ev.value} = 0L;
        if (!${childGen.isNull}) {
          java.lang.Long r = graft.functions.NativeHelpers.hyperplaneBucket(${childGen.value}, $dim, $bits);
          if (r != null) { ${ev.isNull} = false; ${ev.value} = r.longValue(); }
        }
      """)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucketExpr =
    copy(child = newChild)
}

/** Codegen'd distinct shingle-hash array: `shingle_hash_native(text, n)`
  * — see NativeHelpers.shingleHashes. */
case class ShingleHashExpr(child: Expression, n: Int, p: Long) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "shingle_hash_native"

  override protected def nullSafeEval(input: Any): Any =
    NativeHelpers.shingleHashes(input.asInstanceOf[UTF8String], n, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NativeHelpers.shingleHashes($c, $n, ${p}L)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashExpr =
    copy(child = newChild)
}

/** Codegen'd 60-bit md5 hash: `hash60_native(str)` — bit-identical to
  * the declarative `conv(substring(md5(s), 1, 15), 16, 10)::long`
  * (TextAnalysis.tokenHash60) without materializing the 32-char hex
  * string or re-parsing 15 chars of it; digest bytes go straight to
  * the long. NativizeHash60 rewrites the declarative shape here. */
case class Hash60Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "hash60_native"

  override protected def nullSafeEval(input: Any): Any =
    NativeHelpers.hash60(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NativeHelpers.hash60($c)")

  override protected def withNewChildInternal(newChild: Expression): Hash60Expr =
    copy(child = newChild)
}

/** Codegen'd positional n-gram hash array:
  * `ngram_hash_native(text, n, stride)` — see NativeHelpers.ngramHashes. */
case class NgramHashExpr(child: Expression, n: Int, stride: Int) extends UnaryExpression {
  // guard at construction (mirrors TopKPerKey's k > 0): stride = 0 is a
  // per-row divide-by-zero inside NativeHelpers.ngramHashes and n <= 0
  // walks past the token array — both must fail at plan time, not task time
  require(n >= 1, s"ngram_hash_native: n must be >= 1, got $n")
  require(stride >= 1, s"ngram_hash_native: stride must be >= 1, got $stride")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "ngram_hash_native"

  override protected def nullSafeEval(input: Any): Any =
    NativeHelpers.ngramHashes(input.asInstanceOf[UTF8String], n, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NativeHelpers.ngramHashes($c, $n, $stride)")

  override protected def withNewChildInternal(newChild: Expression): NgramHashExpr =
    copy(child = newChild)
}

/** Codegen'd positional n-gram STRING array:
  * `word_ngrams_native(text, n)` — see NativeHelpers.wordNgrams. */
case class WordNgramsExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"word_ngrams_native: n must be >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "word_ngrams_native"

  override protected def nullSafeEval(input: Any): Any =
    NativeHelpers.wordNgrams(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NativeHelpers.wordNgrams($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordNgramsExpr =
    copy(child = newChild)
}

/** Codegen'd MinHash signature: `minhash_native(array<long>, numHashes)`
  * — see NativeHelpers.minhash. */
case class MinhashSignatureExpr(child: Expression, coeffA: Seq[Long], coeffB: Seq[Long],
    p: Long) extends UnaryExpression {
  @transient private lazy val aArr = coeffA.toArray
  @transient private lazy val bArr = coeffB.toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_native"

  override protected def nullSafeEval(input: Any): Any =
    NativeHelpers.minhash(input.asInstanceOf[ArrayData], aArr, bArr, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashCoeffA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("minhashCoeffB", bArr, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NativeHelpers.minhash($c, $aRef, $bRef, ${p}L)")
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSignatureExpr =
    copy(child = newChild)
}

/** Codegen'd SQ8 encode: `sq8_encode_native(vec, los, his)` → binary
  * (1 byte per component). The write path of the persisted-codes ANN
  * index — see NativeHelpers.sq8Encode for the arithmetic contract. */
case class Sq8EncodeExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "sq8_encode_native"

  override protected def nullSafeEval(v: Any, lo: Any, hi: Any): Any =
    NativeHelpers.sq8Encode(v.asInstanceOf[ArrayData],
      lo.asInstanceOf[ArrayData], hi.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) =>
      s"""
        ${ev.value} = graft.functions.NativeHelpers.sq8Encode($a, $b, $c);
        if (${ev.value} == null) { ${ev.isNull} = true; }
      """)

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Sq8EncodeExpr =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Codegen'd asymmetric SQ8 cosine:
  * `sq8_cosine_native(query, codes, los, his)` — the fused read path
  * of the persisted-codes index (dequantize + cosine in one scan-side
  * loop, no decoded-array materialization). Bit-identical to
  * cosine_native over `sq8Dequantize`d vectors. */
case class Sq8CosineExpr(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "sq8_cosine_native"

  override protected def nullSafeEval(q: Any, codes: Any, lo: Any, hi: Any): Any = {
    val r = NativeHelpers.sq8Cosine(q.asInstanceOf[ArrayData],
      codes.asInstanceOf[Array[Byte]],
      lo.asInstanceOf[ArrayData], hi.asInstanceOf[ArrayData])
    if (r == null) null else r.doubleValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c, d) =>
      s"""
        java.lang.Double r = graft.functions.NativeHelpers.sq8Cosine($a, $b, $c, $d);
        if (r == null) { ${ev.isNull} = true; } else { ${ev.value} = r.doubleValue(); }
      """)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression, newFourth: Expression): Sq8CosineExpr =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

/** Codegen'd PQ Asymmetric Distance Computation:
  * `adc_distance_native(codes array<int|long>, lut array<double>,
  * codesPerSub)` — the fused scoring loop of the PQ ANN scan (see
  * NativeHelpers.adcDistance for the arithmetic contract). */
case class AdcDistanceExpr(left: Expression, right: Expression, codesPerSub: Int)
    extends BinaryExpression {
  require(codesPerSub >= 1, s"adc_distance_native: codesPerSub must be >= 1, got $codesPerSub")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "adc_distance_native"

  // lazy: left.dataType is unresolvable at construction when built
  // from SQL text (UnresolvedAttribute); by eval/codegen time it is
  @transient private lazy val longCodes: Boolean = left.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(codes: Any, lut: Any): Any = {
    val r = NativeHelpers.adcDistance(codes.asInstanceOf[ArrayData],
      lut.asInstanceOf[ArrayData], codesPerSub, longCodes)
    if (r == null) null else r.doubleValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aGen = left.genCode(ctx)
    val bGen = right.genCode(ctx)
    ev.copy(code =
      code"""
        ${aGen.code}
        ${bGen.code}
        boolean ${ev.isNull} = true;
        double ${ev.value} = 0.0;
        if (!${aGen.isNull} && !${bGen.isNull}) {
          java.lang.Double r = graft.functions.NativeHelpers.adcDistance(
            ${aGen.value}, ${bGen.value}, $codesPerSub, $longCodes);
          if (r != null) { ${ev.isNull} = false; ${ev.value} = r.doubleValue(); }
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcDistanceExpr =
    copy(left = newLeft, right = newRight)
}

/** Direct Column wrappers over the native expressions — these work on
  * ANY SparkSession (no FunctionRegistry lookup, so a consumer with a
  * plain session or `spark.newSession()` isn't coupled to
  * [[NativeRegistry]]); registration below remains for SQL-text
  * callers. */
object Natives {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
  def repairJson(c: Column): Column = toCol(RepairJsonExpr(toExpr(c)))
  def cosine(a: Column, b: Column): Column =
    toCol(CosineSimilarityExpr(toExpr(a), toExpr(b)))
  def l2sq(a: Column, b: Column): Column =
    toCol(L2SquaredExpr(toExpr(a), toExpr(b)))
  def shingleHashes(c: Column, n: Int): Column =
    toCol(ShingleHashExpr(toExpr(c), n, NativeHelpers.MinhashP))
  def ngramHashes(c: Column, n: Int, stride: Int = 1): Column =
    toCol(NgramHashExpr(toExpr(c), n, stride))
  def wordNgrams(c: Column, n: Int): Column =
    toCol(WordNgramsExpr(toExpr(c), n))
  def hash60(c: Column): Column = toCol(Hash60Expr(toExpr(c)))
  def minhash(hashes: Column, numHashes: Int): Column =
    toCol(MinhashSignatureExpr(toExpr(hashes),
      NativeHelpers.minhashCoeffA(numHashes), NativeHelpers.minhashCoeffB(numHashes),
      NativeHelpers.MinhashP))
  def simhash(c: Column): Column = toCol(SimhashExpr(toExpr(c)))
  def hyperplaneBucket(c: Column, dim: Int, bits: Int): Column =
    toCol(HyperplaneBucketExpr(toExpr(c), dim, bits))
  def sq8Encode(v: Column, los: Column, his: Column): Column =
    toCol(Sq8EncodeExpr(toExpr(v), toExpr(los), toExpr(his)))
  def sq8Cosine(q: Column, codes: Column, los: Column, his: Column): Column =
    toCol(Sq8CosineExpr(toExpr(q), toExpr(codes), toExpr(los), toExpr(his)))
  def adcDistance(codes: Column, lut: Column, codesPerSub: Int): Column =
    toCol(AdcDistanceExpr(toExpr(codes), toExpr(lut), codesPerSub))
}

/** Session registration so the natives are callable from SQL and via
  * functions.call_function (SURVEY §2.10's "registered in the
  * FunctionRegistry" option). The builder table is shared with
  * `graft.plans.GraftExtensions` (the `spark.sql.extensions` deploy
  * route) so the two registration paths expose one surface. */
object NativeRegistry {
  /** Integer-literal argument of a SQL builder: a non-foldable or NULL
    * argument would NPE at resolution ([[Expression.eval]] with no row)
    * — fail with the function name and position instead. */
  private def litInt(fn: String, exprs: Seq[Expression], i: Int): Int = {
    require(exprs.length > i, s"$fn: expects at least ${i + 1} arguments")
    val e = exprs(i)
    require(e.foldable, s"$fn: argument ${i + 1} must be a literal, got $e")
    e.eval() match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be a non-null integer literal, got $other")
    }
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "normalize_numeric_native" ->
      ((exprs: Seq[Expression]) => NormalizeNumericExpr(exprs.head)),
    "repair_json_native" ->
      ((exprs: Seq[Expression]) => RepairJsonExpr(exprs.head)),
    "cosine_native" ->
      ((exprs: Seq[Expression]) => CosineSimilarityExpr(exprs(0), exprs(1))),
    "l2sq_native" ->
      ((exprs: Seq[Expression]) => L2SquaredExpr(exprs(0), exprs(1))),
    "shingle_hash_native" ->
      ((exprs: Seq[Expression]) => ShingleHashExpr(exprs(0),
        litInt("shingle_hash_native", exprs, 1), NativeHelpers.MinhashP)),
    "minhash_native" ->
      ((exprs: Seq[Expression]) => {
        val n = litInt("minhash_native", exprs, 1)
        MinhashSignatureExpr(exprs(0),
          NativeHelpers.minhashCoeffA(n), NativeHelpers.minhashCoeffB(n),
          NativeHelpers.MinhashP)
      }),
    "simhash_native" ->
      ((exprs: Seq[Expression]) => SimhashExpr(exprs.head)),
    "hash60_native" ->
      ((exprs: Seq[Expression]) => Hash60Expr(exprs.head)),
    "ngram_hash_native" ->
      ((exprs: Seq[Expression]) => NgramHashExpr(exprs(0),
        litInt("ngram_hash_native", exprs, 1),
        litInt("ngram_hash_native", exprs, 2))),
    "word_ngrams_native" ->
      ((exprs: Seq[Expression]) => WordNgramsExpr(exprs(0),
        litInt("word_ngrams_native", exprs, 1))),
    "hyperplane_bucket_native" ->
      ((exprs: Seq[Expression]) => HyperplaneBucketExpr(exprs(0),
        litInt("hyperplane_bucket_native", exprs, 1),
        litInt("hyperplane_bucket_native", exprs, 2))),
    "sq8_encode_native" ->
      ((exprs: Seq[Expression]) => Sq8EncodeExpr(exprs(0), exprs(1), exprs(2))),
    "sq8_cosine_native" ->
      ((exprs: Seq[Expression]) => Sq8CosineExpr(exprs(0), exprs(1), exprs(2), exprs(3))),
    "adc_distance_native" ->
      ((exprs: Seq[Expression]) => AdcDistanceExpr(exprs(0), exprs(1),
        litInt("adc_distance_native", exprs, 2))),
    // aggregate: the analyzer wraps a bare AggregateFunction returned
    // by a registry builder in a Complete AggregateExpression itself
    "misra_gries" ->
      ((exprs: Seq[Expression]) => MisraGriesAgg(exprs(0),
        litInt("misra_gries", exprs, 1))))

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
