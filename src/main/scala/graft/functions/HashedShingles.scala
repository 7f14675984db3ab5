package graft.functions

import scala.collection.mutable.LongMap

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 64-bit hashed word-n-gram shingles of a normalized string —
  * the hot inner loop of MinHash/Jaccard dedup as one tight Java pass
  * (tokenize → per-token hash → windowed n-gram mix → dedupe) instead of
  * four nested interpreted higher-order functions (split, transform,
  * sequence, slice+hash), each of which boxes per element.
  *
  * Hash identity differs from the HOF xxhash64 chain (`HofTwins.shingleHashes`) — any
  * fixed 64-bit hash family defines the same SET semantics, and every
  * consumer (min-hash signatures, banding, jaccard counts) only needs
  * hashes to be stable and well-mixed, so results depend only on the token
  * content, not which family produced the bits. What MUST agree between
  * the paths is set CARDINALITY, which is why the tokenizer replicates
  * `split(s, "\s+", -1)`'s empty-token behavior exactly (asserted by
  * spec on tab/newline-edged fixtures).
  *
  * CodegenFallback: one virtual call per row; the loop itself is plain
  * JIT-compiled Java, which is where the time goes.
  */
case class HashedShingles(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, int), got ${l.sql} and ${r.sql}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "hashed_shingles"

  override def nullSafeEval(str: Any, nAny: Any): Any = {
    val bytes = str.asInstanceOf[UTF8String].toLowerCase.trim.getBytes
    val n = nAny.asInstanceOf[Int]

    // 1. tokenize replicating split(s, "\s+", -1) EXACTLY — including the
    //    empty leading/trailing tokens produced by non-space whitespace
    //    edges (\t, \n survive trim, which strips 0x20 only) and the single
    //    empty token of an empty string — so the native path's shingle-set
    //    CARDINALITY always equals the HOF composition's (the families
    //    differ, the set sizes must not). Each token is hashed inline
    //    (FNV-1a with a finalizing avalanche); an empty token hashes the
    //    bare basis.
    var tokenHashes = new Array[Long](16)
    var nTokens = 0
    val len = bytes.length
    def addTok(s: Int, e: Int): Unit = {
      var h = 0xcbf29ce484222325L
      var j = s
      while (j < e) {
        h = (h ^ (bytes(j) & 0xffL)) * 0x100000001b3L
        j += 1
      }
      if (nTokens == tokenHashes.length)
        tokenHashes = java.util.Arrays.copyOf(tokenHashes, nTokens * 2)
      tokenHashes(nTokens) = avalanche(h)
      nTokens += 1
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

    // 2. n-gram windows over token hashes, mixed; dedupe via LongMap
    val nShingles = math.max(nTokens - n + 1, 1)
    val seen = new LongMap[Unit](nShingles * 2)
    val out = new Array[Long](nShingles)
    var outN = 0
    var s = 0
    while (s < nShingles) {
      var h = 0x9e3779b97f4a7c15L
      var k = 0
      while (k < n && s + k < nTokens) {
        h = avalanche(h ^ tokenHashes(s + k))
        k += 1
      }
      if (!seen.contains(h)) {
        seen.update(h, ())
        out(outN) = h
        outN += 1
      }
      s += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, outN))
  }

  @inline private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f' || b == 0x0b

  @inline private def avalanche(x: Long): Long = {
    var h = x
    h = (h ^ (h >>> 33)) * 0xff51afd7ed558ccdL
    h = (h ^ (h >>> 29)) * 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 32)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HashedShingles =
    copy(left = newLeft, right = newRight)
}
