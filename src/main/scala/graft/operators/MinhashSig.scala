package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * One-pass MinHash signature kernel: the k per-seed minima of
 * `md5(seed + ":" + shingle)` computed per DOCUMENT row.
 *
 * The aggregation formulation (explode shingles -> groupBy(id) ->
 * k min(md5(...)) columns) shuffles the full exploded shingle relation
 * (~300 rows/doc) and runs k string-min aggregate trees. But a MinHash
 * signature is a pure per-document function — no cross-document state —
 * so it belongs in a projection: this kernel walks the text bytes once,
 * digests each shingle k times into a REUSED buffer, and keeps the k
 * running minima as raw 16-byte digests (unsigned byte order = the
 * lexicographic order of the lowercase-hex strings the aggregation
 * compared), hexifying only the k winners at the end.
 *
 * Value-identical to the aggregation formulation — and to the DuckDB
 * oracle, which still computes min(md5(seed || ':' || shingle)) over
 * the shingle STRINGS (OperatorSpec asserts set-equality of the
 * resulting candidate pairs; duplicate shingles don't affect minima so
 * the aggregation's array_distinct is immaterial).
 *
 * The earlier negative results (sliced md5, typed Aggregator;
 * EVIDENCE.md, MinHash+LSH row) replaced the AGG SHAPE but kept the
 * explode+shuffle; this removes the shuffle itself.
 */
object MinhashSig {

  private val tlMd = ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
  private val hexDigits = "0123456789abcdef".getBytes

  def signature(s: UTF8String, k: Int, w: Int): ArrayData =
    signature(s, k, w, false)

  /**
   * `charGrams=true` switches the shingle unit from w-word windows to
   * w-CODEPOINT windows over the raw text (no tokenization). Character
   * n-grams are the edit-distance-compatible blocking key: a single
   * character edit perturbs only w of the ~len grams, so strings within
   * a small edit distance keep high gram-Jaccard even when EVERY word
   * is touched (typo storms, OCR noise) — exactly the case where
   * word-shingle Jaccard collapses to ~0 and word-blocked LSH would
   * never emit the candidate. Windows advance by codepoint so the md5
   * input bytes equal DuckDB's substr(text, i, w) slices on any UTF-8.
   */
  def signature(s: UTF8String, k: Int, w: Int, charGrams: Boolean): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    // span starts/ends: word spans (byte-level \s semantics, as in
    // Shingles.shingleHashes) or single-codepoint spans for char grams
    val starts = new java.util.ArrayList[Int]()
    val ends = new java.util.ArrayList[Int]()
    var i = 0
    if (charGrams) {
      while (i < n) {
        val st = i
        i += 1
        while (i < n && (bytes(i) & 0xc0) == 0x80) i += 1 // UTF-8 continuation
        starts.add(st)
        ends.add(i)
      }
    } else {
      while (i < n) {
        while (i < n && isSpace(bytes(i))) i += 1
        if (i < n) {
          starts.add(i)
          while (i < n && !isSpace(bytes(i))) i += 1
          ends.add(i)
        }
      }
    }
    val sep: Int = if (charGrams) 0 else 1 // char grams join with no separator
    val nWords = starts.size()
    val nShingles = if (nWords < w) 1 else nWords - w + 1
    val width = if (nWords < w) nWords else w

    val md = tlMd.get()
    val mins = Array.fill(k)(null: Array[Byte])
    // seed prefixes "0:", "1:", ... as bytes, computed once
    val prefixes = Array.tabulate(k)(sd => s"$sd:".getBytes)
    var scratch = new Array[Byte](64)
    // digest scratch, REUSED across all (shingle, seed) digests: the
    // allocating md.digest() costs a fresh 16-byte array per call —
    // ~half a billion allocations per sf0.1 char-gram pass — while the
    // running minimum only changes ~ln(nShingles) times per seed, so
    // digesting into this buffer and copying only on improvement
    // removes essentially all of that GC pressure (measured: the
    // candidate stage of editDistancePairs 8.9 s → see EVIDENCE r8)
    val dbuf = new Array[Byte](16)
    var p = 0
    while (p < nShingles) {
      // shingle bytes (words p..p+width-1 joined by ' ') into scratch,
      // leaving room at the front for the longest seed prefix
      val maxPrefix = prefixes(k - 1).length
      var len = maxPrefix
      var kk = 0
      while (kk < width) {
        val ws = starts.get(p + kk)
        val we = ends.get(p + kk)
        val wl = we - ws
        val need = len + wl + 1
        if (need > scratch.length) {
          val bigger = new Array[Byte](math.max(scratch.length * 2, need))
          System.arraycopy(scratch, 0, bigger, 0, len)
          scratch = bigger
        }
        if (kk > 0 && sep == 1) { scratch(len) = ' '; len += 1 }
        System.arraycopy(bytes, ws, scratch, len, wl)
        len += wl
        kk += 1
      }
      var sd = 0
      while (sd < k) {
        val pre = prefixes(sd)
        val off = maxPrefix - pre.length
        System.arraycopy(pre, 0, scratch, off, pre.length)
        md.reset()
        md.update(scratch, off, len - off)
        md.digest(dbuf, 0, 16)
        if (mins(sd) == null) mins(sd) = dbuf.clone()
        else if (unsignedLess(dbuf, mins(sd)))
          System.arraycopy(dbuf, 0, mins(sd), 0, 16)
        sd += 1
      }
      p += 1
    }
    val out = new Array[AnyRef](k)
    var sd = 0
    while (sd < k) {
      val d = mins(sd)
      val hx = new Array[Byte](32)
      var j = 0
      while (j < 16) {
        hx(j * 2) = hexDigits((d(j) >> 4) & 0xf)
        hx(j * 2 + 1) = hexDigits(d(j) & 0xf)
        j += 1
      }
      out(sd) = UTF8String.fromBytes(hx)
      sd += 1
    }
    new GenericArrayData(out)
  }

  @inline private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val ai = a(i) & 0xff
      val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    false
  }

  @inline private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  def apply(text: Column, k: Int, w: Int, charGrams: Boolean = false): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(MinhashSigExpr(GraftColumnBridge.expression(text), k, w, charGrams))
  }
}

/** See [[MinhashSig.signature]]. */
case class MinhashSigExpr(child: Expression, k: Int, w: Int, charGrams: Boolean = false)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    MinhashSig.signature(input.asInstanceOf[UTF8String], k, w, charGrams)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.operators.MinhashSig.signature($c, $k, $w, $charGrams)")
  override protected def withNewChildInternal(c: Expression): MinhashSigExpr = copy(child = c)
}
