package graft.functions

import scala.collection.mutable.LongMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass MinHash projection over normalized text:
  * `minhash_plan(text, n, k)` → struct(sh: array&lt;long&gt;, sig: array&lt;long&gt;)
  * where `sh` is the distinct 48-bit shingle-hash set (Jaccard set) and
  * `sig` the k-component MinHash signature.
  *
  * Produces values BITWISE-IDENTICAL to the interpreted HOF composition
  * the specs keep as `HofTwins.minhashPlan` — same portable md5-48 family an
  * external SQL oracle replays — but in one JIT-compiled loop with one
  * MessageDigest per shingle window instead of four nested interpreted
  * higher-order functions boxing per element:
  *
  *  - normalize: `UTF8String.toLowerCase.trim` — the exact operators
  *    behind `lower(trim(text))` (trim strips 0x20 only);
  *  - tokenize: replicates `split(s, "\\s+", -1)` byte-for-byte, INCLUDING
  *    leading/trailing empty tokens at non-space whitespace edges (`\t`,
  *    `\n`) and the single empty token of an empty string — Java's `\s` is
  *    ASCII-only, so a byte scan is exact on UTF-8;
  *  - shingle i: the bytes of `concat_ws(" ", tokens[i, i+n))`, digested
  *    without materializing the string; windows count is
  *    max(nTokens - n + 1, 1) (one short window when nTokens &lt; n);
  *  - h1/h2: big-endian bytes [0,6) and [6,12) of the digest — exactly
  *    hex substrings [1,12] and [13,24] parsed base-16;
  *  - sig[j] = min over windows of h1 + j·h2 (duplicate windows cannot
  *    change a min, so no string-level dedup is needed);
  *  - sh: first-occurrence-ordered distinct h1, matching
  *    `array_distinct(transform(...))` over distinct shingle strings.
  *
  * CodegenFallback: one virtual call per row; the md5 digest dominates and
  * is identical either way.
  */
case class MinHashShingles(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, IntegerType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, int, int), got ${a.sql}, ${b.sql}, ${c.sql}")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("sh", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("sig", ArrayType(LongType, containsNull = false), nullable = false)))

  override def prettyName: String = "minhash_plan"

  @transient private lazy val md = java.security.MessageDigest.getInstance("MD5")

  override def nullSafeEval(str: Any, nAny: Any, kAny: Any): Any = {
    val n = nAny.asInstanceOf[Int]
    val k = kAny.asInstanceOf[Int]
    val bytes = str.asInstanceOf[UTF8String].toLowerCase.trim.getBytes
    val len = bytes.length

    // token offsets replicating split(s, "\s+", -1)
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var nTok = 0
    def addTok(s: Int, e: Int): Unit = {
      if (nTok == starts.length) {
        starts = java.util.Arrays.copyOf(starts, nTok * 2)
        ends = java.util.Arrays.copyOf(ends, nTok * 2)
      }
      starts(nTok) = s; ends(nTok) = e; nTok += 1
    }
    if (len == 0) addTok(0, 0)
    else {
      var pos = 0
      var done = false
      while (!done) {
        var t = pos
        while (t < len && !isSpace(bytes(t))) t += 1
        addTok(pos, t) // empty when a whitespace run starts at pos
        if (t >= len) done = true
        else {
          var r = t
          while (r < len && isSpace(bytes(r))) r += 1
          pos = r
          if (r >= len) { addTok(len, len); done = true } // trailing empty
        }
      }
    }

    val nShingles = math.max(nTok - n + 1, 1)
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val seen = new LongMap[Unit](nShingles * 2)
    val sh = new Array[Long](nShingles)
    var shN = 0
    val space = ' '.toByte
    var i = 0
    while (i < nShingles) {
      md.reset()
      var t = i
      val tEnd = math.min(i + n, nTok)
      while (t < tEnd) {
        if (t > i) md.update(space)
        md.update(bytes, starts(t), ends(t) - starts(t))
        t += 1
      }
      val d = md.digest()
      val h1 = ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) |
        ((d(2) & 0xffL) << 24) | ((d(3) & 0xffL) << 16) |
        ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
      val h2 = ((d(6) & 0xffL) << 40) | ((d(7) & 0xffL) << 32) |
        ((d(8) & 0xffL) << 24) | ((d(9) & 0xffL) << 16) |
        ((d(10) & 0xffL) << 8) | (d(11) & 0xffL)
      if (!seen.contains(h1)) { seen.update(h1, ()); sh(shN) = h1; shN += 1 }
      var j = 0
      var hj = h1
      while (j < k) {
        if (hj < sig(j)) sig(j) = hj
        hj += h2
        j += 1
      }
      i += 1
    }
    InternalRow(
      new GenericArrayData(java.util.Arrays.copyOf(sh, shN)),
      new GenericArrayData(sig))
  }

  @inline private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f' || b == 0x0b

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): MinHashShingles =
    copy(first = newFirst, second = newSecond, third = newThird)
}
