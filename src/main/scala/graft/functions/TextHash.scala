package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Cross-engine 60-bit string hash + one-pass shingle extraction.
  *
  * h60(s) = the first 15 hex chars of md5(s) parsed as a base-16 integer —
  * chosen because a DuckDB oracle can compute the identical value
  * (`graft.ops.OracleSql.h60`), which makes every
  * hash-based operator (minhash, simhash, LSH bands, fingerprints)
  * oracle-checkable, unlike engine-private hashes (xxhash64/murmur).
  * 60 bits keeps all arithmetic non-negative and overflow-free in BIGINT.
  */
object TextHash {

  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** First 15 hex chars of md5(bytes) as a non-negative long: the first 8
    * digest bytes big-endian, logically shifted right 4 bits (16 hex chars
    * minus the last one).
    */
  def h60(bytes: Array[Byte]): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  def h60(s: String): Long = h60(s.getBytes("UTF-8"))

  private val tokenPattern = java.util.regex.Pattern.compile("[a-z0-9]+")

  /** Tokens of lower(s) matching [a-z0-9]+ — the JVM mirror of the
    * oracles' one tokenizer, `graft.ops.OracleSql.tokens`. ASCII strings take a
    * single-pass fast path; anything else falls back to the exact
    * Locale.ROOT lowercase + java.util.regex pipeline Spark's built-ins
    * use (special casing like İ/ß changes string length, so per-char
    * lowering would diverge).
    */
  def tokenize(s: String): Array[String] = {
    var ascii = true
    var j = 0
    while (ascii && j < s.length) { if (s.charAt(j) >= 0x80) ascii = false; j += 1 }
    if (!ascii) {
      val m = tokenPattern.matcher(s.toLowerCase(java.util.Locale.ROOT))
      val out = Array.newBuilder[String]
      while (m.find()) out += m.group()
      return out.result()
    }
    val out = Array.newBuilder[String]
    val sb = new java.lang.StringBuilder
    var i = 0
    val n = s.length
    while (i < n) {
      val c0 = s.charAt(i)
      val c = if (c0 >= 'A' && c0 <= 'Z') (c0 + 32).toChar else c0
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) sb.append(c)
      else if (sb.length > 0) { out += sb.toString; sb.setLength(0) }
      i += 1
    }
    if (sb.length > 0) out += sb.toString
    out.result()
  }

  /** Distinct h60 hashes of the n-word shingles of `s` (space-joined);
    * shorter texts fall back to one whole-tokens shingle. n = 1 gives
    * distinct token hashes. Mirrors the DuckDB list pipeline:
    * `list_distinct(CASE WHEN len(t) >= n THEN
    *    [array_to_string(t[i:i+n-1], ' ') for i in range(1, len(t)-n+2)]
    *  ELSE [array_to_string(t, ' ')] END)` hashed with h60.
    */
  def shingleHashes(s: String, n: Int): Array[Long] = {
    val toks = tokenize(s)
    val seen = new java.util.LinkedHashSet[java.lang.Long]
    if (toks.length >= n) {
      var i = 0
      while (i + n <= toks.length) {
        val sb = new java.lang.StringBuilder(toks(i))
        var k = 1
        while (k < n) { sb.append(' ').append(toks(i + k)); k += 1 }
        seen.add(h60(sb.toString))
        i += 1
      }
    } else seen.add(h60(toks.mkString(" ")))
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  /** POSITIONAL (non-distinct, in-order) n-shingle h60 hashes — the
    * winnowing input, where window position matters. Mirrors the DuckDB
    * list pipeline WITHOUT list_distinct:
    * `CASE WHEN len(t) >= n THEN
    *    [array_to_string(t[i:i+n-1], ' ') for i in range(1, len(t)-n+2)]
    *  ELSE [array_to_string(t, ' ')] END` hashed with h60.
    */
  def shingleHashesAll(s: String, n: Int): Array[Long] = {
    val toks = tokenize(s)
    if (toks.length >= n) {
      val out = new Array[Long](toks.length - n + 1)
      var i = 0
      while (i + n <= toks.length) {
        val sb = new java.lang.StringBuilder(toks(i))
        var k = 1
        while (k < n) { sb.append(' ').append(toks(i + k)); k += 1 }
        out(i) = h60(sb.toString)
        i += 1
      }
      out
    } else Array(h60(toks.mkString(" ")))
  }

  /** Fused winnowing sketch: positional k-gram hashes → sliding-window
    * minima (monotonic deque, O(n)) → first-seen-order distinct. Returns
    * [n_kgrams, fp_0, …] — element 0 is the k-gram count, the rest the
    * sketch. One pass per row; the equivalent built-in tree
    * (transform(sequence)/slice/array_min) re-slices per window and
    * re-evaluates the hash array per reference.
    */
  def winnowSketch(s: String, k: Int, w: Int): Array[Long] = {
    val hw = shingleHashesAll(s, k)
    val seen = new java.util.LinkedHashSet[java.lang.Long]
    if (hw.length < w) {
      var m = Long.MaxValue
      var i = 0
      while (i < hw.length) { if (hw(i) < m) m = hw(i); i += 1 }
      seen.add(m)
    } else {
      // deque of indices with increasing values; front = window min
      val dq = new Array[Int](hw.length)
      var head = 0
      var tail = 0 // exclusive
      var i = 0
      while (i < hw.length) {
        while (tail > head && hw(dq(tail - 1)) >= hw(i)) tail -= 1
        dq(tail) = i; tail += 1
        if (dq(head) <= i - w) head += 1
        if (i >= w - 1) seen.add(hw(dq(head)))
        i += 1
      }
    }
    val out = new Array[Long](seen.size + 1)
    out(0) = hw.length
    val it = seen.iterator()
    var j = 1
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    out
  }

  /** ALL (non-distinct) token h60 hashes — term-frequency-weighted inputs
    * for simhash. Mirrors hashing `graft.ops.OracleSql.tokens`
    * element-wise.
    */
  def tokenHashes(s: String): Array[Long] = {
    val toks = tokenize(s)
    val out = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) { out(i) = h60(toks(i)); i += 1 }
    out
  }

  /** Signed-count feature-hash vector (the hashing trick, Weinberger et
    * al. 2009): token t adds ±1 (sign = hash bit 6) to dimension
    * h60(t) mod dim. One pass: tokenize → hash → scatter. Counts are
    * small integers, so the double entries are exact and any downstream
    * IEEE tree (cosine via VecDot) oracles bit-for-bit.
    */
  def featureHashVec(s: String, dim: Int): Array[Double] = {
    val v = new Array[Double](dim)
    val toks = tokenize(s)
    var i = 0
    while (i < toks.length) {
      val h = h60(toks(i))
      val d = (h % dim).toInt
      if (((h >> 6) & 1L) == 1L) v(d) += 1.0 else v(d) -= 1.0
      i += 1
    }
    v
  }

  /** Fused MinHash signature: tokenize → shingle → h60 → per-lane affine
    * min, one pass per row with no shingle materialization beyond the
    * hash array. Returns [n_shingles, sig_0, …, sig_{L-1}]. Arithmetic is
    * `((h % p) * a + b) % p` in plain Long — h%p and a are < 2³¹ so the
    * product is < 2⁶², overflow-free, matching the SQL tree and the
    * DuckDB oracle bit-for-bit. `shingleHashes` never returns empty (the
    * short-text fallback), so every lane sees at least one value.
    */
  def minhashSig(s: String, n: Int, prime: Long, a: Array[Long], b: Array[Long]): Array[Long] = {
    val hs = shingleHashes(s, n)
    val out = new Array[Long](a.length + 1)
    out(0) = hs.length
    java.util.Arrays.fill(out, 1, out.length, Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      val hp = hs(i) % prime
      var k = 0
      while (k < a.length) {
        val v = (hp * a(k) + b(k)) % prime
        if (v < out(k + 1)) out(k + 1) = v
        k += 1
      }
      i += 1
    }
    out
  }

  /** Fused hashed-linear-classifier score (fasttext-style quality model
    * without the training): every token occurrence adds the weight of its
    * hash bucket, `w[h60(tok) % w.length]`. Returns [n_tokens, score].
    * All-integer, so the DuckDB oracle (list_transform over an inlined
    * weight-array literal) is bit-exact.
    */
  def linearScore(s: String, w: Array[Long]): Array[Long] = {
    val hs = tokenHashes(s)
    var sum = 0L
    var i = 0
    while (i < hs.length) { sum += w((hs(i) % w.length).toInt); i += 1 }
    Array(hs.length.toLong, sum)
  }

  /** Fused term-frequency SimHash (Charikar): every token occurrence
    * votes ±1 per bit, bit set when the sum is positive. Returns
    * [n_tokens, signature]; callers filter n_tokens = 0 to reproduce the
    * explode-then-aggregate form's drop-empty-docs semantics.
    */
  def simhashSig(s: String, bits: Int): Array[Long] = {
    val hs = tokenHashes(s)
    val sums = new Array[Int](bits)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      var bb = 0
      while (bb < bits) {
        if (((h >>> bb) & 1L) == 1L) sums(bb) += 1 else sums(bb) -= 1
        bb += 1
      }
      i += 1
    }
    var sig = 0L
    var bb = 0
    while (bb < bits) { if (sums(bb) > 0) sig |= 1L << bb; bb += 1 }
    Array(hs.length.toLong, sig)
  }
}

/** Array of distinct n-shingle h60 hashes — a native codegen Expression so
  * the whole tokenize→shingle→hash pass is one tight JVM loop per row
  * (the equivalent built-in tree — transform(sequence(...), slice) +
  * md5/conv — costs ~1 ms/row interpreted and gets re-evaluated on both
  * sides of self-joins).
  */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(TextHash.shingleHashes(input.asInstanceOf[UTF8String].toString, n))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val arr = ctx.freshName("arr")
      s"""
         |long[] $arr = graft.functions.TextHash.shingleHashes($c.toString(), $n);
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($arr);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** Positional (in-order, non-distinct) n-shingle h60 hashes — winnowing
  * input; same fused-loop rationale as ShingleHashes.
  */
case class ShingleHashesAll(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes_all"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(TextHash.shingleHashesAll(input.asInstanceOf[UTF8String].toString, n))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val arr = ctx.freshName("arr")
      s"""
         |long[] $arr = graft.functions.TextHash.shingleHashesAll($c.toString(), $n);
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($arr);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ShingleHashesAll =
    copy(child = newChild)
}

/** [n_kgrams, sketch…] winnowing fingerprints — the fused one-pass form
  * of the transform/slice/array_min tree (spec-pinned bit-equal).
  */
case class WinnowSketch(child: Expression, k: Int, w: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_sketch"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(TextHash.winnowSketch(input.asInstanceOf[UTF8String].toString, k, w))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val arr = ctx.freshName("arr")
      s"""
         |long[] $arr = graft.functions.TextHash.winnowSketch($c.toString(), $k, $w);
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($arr);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): WinnowSketch =
    copy(child = newChild)
}

/** Signed-count feature-hash embedding of a text column (the hashing
  * trick): one fused tokenize → h60 → scatter pass per row. The
  * Column-path twin of the `transform`/`filter` HOF tree — bit-identical
  * values (integer counts in doubles), but ONE kernel call instead of
  * 2·dim array scans, and immune to CollapseProject re-inlining the
  * token-hash array into every lambda.
  */
case class FeatureHashVec(child: Expression, dim: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "feature_hash_vec"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      TextHash.featureHashVec(input.asInstanceOf[UTF8String].toString, dim))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val arr = ctx.freshName("arr")
      s"""
         |double[] $arr = graft.functions.TextHash.featureHashVec($c.toString(), $dim);
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($arr);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): FeatureHashVec =
    copy(child = newChild)
}

/** ALL token h60 hashes (with repeats) — simhash term-frequency input. */
case class TokenHashes(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "token_hashes"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(TextHash.tokenHashes(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val arr = ctx.freshName("arr")
      s"""
         |long[] $arr = graft.functions.TextHash.tokenHashes($c.toString());
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($arr);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): TokenHashes =
    copy(child = newChild)
}

/** [n_shingles, sig_0..sig_{L-1}] MinHash signature — the whole
  * tokenize→shingle→hash→L-lane-min pipeline fused into one codegen
  * call per row. Replaces an explode + L-aggregate groupBy: signatures
  * are a pure function of the document, so the per-doc shuffle the
  * aggregate form paid was structural waste — this form is a projection.
  * Hash-family params are Seqs (value equality) so Catalyst
  * canonicalization and subexpression elimination see identical
  * expressions as equal.
  */
case class MinhashSig(child: Expression, n: Int, prime: Long,
    a: Seq[Long], b: Seq[Long]) extends UnaryExpression {
  @transient private lazy val aArr = a.toArray
  @transient private lazy val bArr = b.toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(TextHash.minhashSig(
      input.asInstanceOf[UTF8String].toString, n, prime, aArr, bArr))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("mhA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("mhB", bArr, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val arr = ctx.freshName("arr")
      s"""
         |long[] $arr = graft.functions.TextHash.minhashSig($c.toString(), $n, ${prime}L, $aRef, $bRef);
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($arr);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}

/** [n_tokens, simhash] — the fused form of the 60-conditional-sum
  * aggregate simhash; same projection-not-shuffle rationale as
  * MinhashSig.
  */
case class SimhashSig(child: Expression, bits: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "simhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(TextHash.simhashSig(input.asInstanceOf[UTF8String].toString, bits))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val arr = ctx.freshName("arr")
      s"""
         |long[] $arr = graft.functions.TextHash.simhashSig($c.toString(), $bits);
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($arr);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimhashSig =
    copy(child = newChild)
}

/** [n_tokens, Σ w[h60(tok) % D]] — hashed linear model scoring fused into
  * one codegen call per row (a projection, zero shuffle). The weight table
  * is a Seq for Catalyst value-equality, same as MinhashSig.
  */
case class LinearScore(child: Expression, w: Seq[Long]) extends UnaryExpression {
  @transient private lazy val wArr = w.toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "linear_score"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(TextHash.linearScore(input.asInstanceOf[UTF8String].toString, wArr))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("lsW", wArr, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val arr = ctx.freshName("arr")
      s"""
         |long[] $arr = graft.functions.TextHash.linearScore($c.toString(), $wRef);
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($arr);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): LinearScore =
    copy(child = newChild)
}

object ShingleHashes {
  /** Distinct n-shingle hashes column. */
  def apply(text: Column, n: Int): Column =
    call_function("shingle_hashes", text, org.apache.spark.sql.functions.lit(n))

  /** Positional (non-distinct) n-shingle hashes column. */
  def positional(text: Column, n: Int): Column =
    call_function("shingle_hashes_all", text, org.apache.spark.sql.functions.lit(n))

  /** [n_kgrams, sketch…] fused winnowing column. */
  def winnow(text: Column, k: Int, w: Int): Column =
    call_function("winnow_sketch", text,
      org.apache.spark.sql.functions.lit(k), org.apache.spark.sql.functions.lit(w))

  /** All token hashes column. */
  def tokens(text: Column): Column = call_function("token_hashes", text)
}
