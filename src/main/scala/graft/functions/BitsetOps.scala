package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Bitset-encoded set-similarity primitives (see
  * `TextOps.jaccardBitmapSetPairs`). The interpreted HOF forms of
  * these three steps (`transform(sequence(...), substr ...)` for
  * n-grams, nested `aggregate(filter(...))` for the bitmap fold,
  * `aggregate(zip_with(bit_count ...))` for the intersect) measured
  * 8.8 s of a 10.7 s query at sf0.1 — lambda dispatch per element,
  * not the arithmetic, was the cost. These expressions do the same
  * work in tight loops.
  */

/** Distinct character n-grams of a string, in first-occurrence order
  * (deterministic). Runs once per document — CodegenFallback is fine;
  * the eval itself is a single pass with a hash set.
  */
case class CharNgrams(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_ngrams"
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType == StringType && right.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"char_ngrams expects (STRING, INT), got (${left.dataType}, ${right.dataType})")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CharNgrams =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(text: Any, nAny: Any): Any = {
    val s = text.asInstanceOf[UTF8String].toString
    val n = nAny.asInstanceOf[Int]
    // Registered as a public SQL function: guard values, not just
    // types — n < 1 would index out of bounds (n ≤ −1) or emit [""]
    // forever (n = 0). Empty result is the only sensible n-gram set.
    if (n < 1 || s.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + n <= s.length) {
      seen.add(s.substring(i, i + n))
      i += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }
}

/** Distinct k-word shingles of a whitespace-tokenized string, in
  * first-occurrence order (deterministic) — the word-level sibling of
  * [[CharNgrams]], feeding the containment/Jaccard set cores. The HOF
  * form (`split` → `transform(sequence(...), concat ...)` →
  * `array_distinct`) measured ~4 s of the containment encode at
  * sf0.1; this is one pass with a hash set. Runs once per document —
  * CodegenFallback.
  */
case class WordShingles(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType == StringType && right.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"word_shingles expects (STRING, INT), got (${left.dataType}, ${right.dataType})")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordShingles =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(text: Any, kAny: Any): Any = {
    val toks = text.asInstanceOf[UTF8String].toString.split(" ", -1)
    val k = kAny.asInstanceOf[Int]
    if (k < 1 || toks.length < k) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + k <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }
}

/** 60-bit md5-prefix folds of every k-token window of a token array,
  * in positional order — one tight pass per document replacing the
  * interpreted slice → array_join → md5 → conv chain that dispatched
  * a lambda stack per window. Each fold is bit-identical to
  * `conv(substring(md5(w), 1, 15), 16, 10)` over the space-joined
  * window `w`, so the DuckDB oracle reproduces the same values (and
  * therefore the same — astronomically rare — fold collisions).
  * Runs once per document — CodegenFallback with a tight eval.
  */
case class WindowHashes(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "window_hashes"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WindowHashes =
    copy(left = newLeft, right = newRight)

  @transient private lazy val md5 =
    java.security.MessageDigest.getInstance("MD5")

  override def nullSafeEval(toksAny: Any, kAny: Any): Any = {
    val toks = toksAny.asInstanceOf[ArrayData]
    val k = kAny.asInstanceOf[Int]
    val n = toks.numElements()
    if (k < 1 || n < k) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - k + 1)
    val bos = new java.io.ByteArrayOutputStream(256)
    var i = 0
    while (i + k <= n) {
      bos.reset()
      var j = 0
      while (j < k) {
        if (j > 0) bos.write(' ')
        val b = toks.getUTF8String(i + j).getBytes
        bos.write(b, 0, b.length)
        j += 1
      }
      md5.reset()
      val dg = md5.digest(bos.toByteArray)
      // first 15 hex nibbles big-endian = bytes 0..6 + hi nibble of 7
      var h = 0L
      var b = 0
      while (b < 7) { h = (h << 8) | (dg(b) & 0xffL); b += 1 }
      h = (h << 4) | ((dg(7) & 0xf0L) >> 4)
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** ARRAY<LONG> bitset of `nwords` words with the given bit indices
  * set. Indices ≥ nwords·64 are ignored (call sites size correctly).
  * Runs once per document — CodegenFallback, single pass.
  */
case class BitsetFromIndices(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "bitset_from_indices"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BitsetFromIndices =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(idxAny: Any, nwAny: Any): Any = {
    val idxs = idxAny.asInstanceOf[ArrayData]
    val nwords = nwAny.asInstanceOf[Int]
    val words = new Array[Long](nwords)
    var i = 0
    val n = idxs.numElements()
    while (i < n) {
      val ix = idxs.getInt(i)
      if (ix >= 0 && ix < nwords * 64)
        words(ix >> 6) |= (1L << (ix & 63))
      i += 1
    }
    new GenericArrayData(words.map(x => x: Any))
  }
}

/** popcount(A AND B) over two equal-width ARRAY<LONG> bitsets — the
  * per-candidate-pair hot loop, fully codegen'd (zero allocation).
  */
case class BitmapIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "bitmap_intersect_count"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BitmapIntersectCount =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0; var c = 0
    while (i < n) {
      c += java.lang.Long.bitCount(x.getLong(i) & y.getLong(i))
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      s"""
         |int $n = Math.min($x.numElements(), $y.numElements());
         |int $i = 0; int $c = 0;
         |while ($i < $n) {
         |  $c += java.lang.Long.bitCount($x.getLong($i) & $y.getLong($i));
         |  $i++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })
}
