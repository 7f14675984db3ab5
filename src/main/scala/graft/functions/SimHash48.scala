package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass SimHash projection: `simhash48(text, bits)` → long.
  *
  * Produces values BITWISE-IDENTICAL to the interpreted HOF composition
  * the specs keep as `HofTwins.simhash` — the portable md5-48 hash family an
  * external SQL oracle replays digit for digit — but in one JIT-compiled
  * loop with one MessageDigest per token instead of an
  * O(|tokens| × bits) chain of interpreted `aggregate`/`zip_with` lambdas
  * allocating a vote array per token:
  *
  *  - normalize + tokenize exactly like [[MinHashShingles]] (the byte scan
  *    replicating `split(lower(trim(s)), "\\s+", -1)` including empty edge
  *    tokens — the token MULTISET, duplicates kept, drives the votes);
  *  - per token h = big-endian bytes [0,6) of md5(token), exactly
  *    `conv(substring(md5(t), 1, 12), 16, 10)`;
  *  - vote: bit i of h adds +1 (set) or −1 (clear) to counter i;
  *  - pack: bit i of the result is 1 iff counter i > 0.
  */
case class SimHash48(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) =>
        // For a literal bits argument (the overwhelmingly common call shape,
        // e.g. simhash48(t, 64) in SQL) reject an out-of-range width at
        // ANALYSIS time rather than per-row at execution; the runtime
        // require below stays as the backstop for non-foldable args.
        if (right.foldable) {
          right.eval() match {
            case b: java.lang.Integer if b < 1 || b > 48 =>
              TypeCheckResult.TypeCheckFailure(
                s"$prettyName bits must be in 1..48 (portable md5-48 family), got $b")
            case _ => TypeCheckResult.TypeCheckSuccess
          }
        } else TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, int), got ${a.sql}, ${b.sql}")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "simhash48"

  @transient private lazy val md = java.security.MessageDigest.getInstance("MD5")

  override def nullSafeEval(str: Any, bitsAny: Any): Any = {
    val bits = bitsAny.asInstanceOf[Int]
    require(bits >= 1 && bits <= 48, "portable md5-48 family carries 48 bits")
    val bytes = str.asInstanceOf[UTF8String].toLowerCase.trim.getBytes
    val len = bytes.length
    val votes = new Array[Int](bits)

    def vote(tokStart: Int, tokEnd: Int): Unit = {
      md.reset()
      md.update(bytes, tokStart, tokEnd - tokStart)
      val d = md.digest()
      val h = ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) |
        ((d(2) & 0xffL) << 24) | ((d(3) & 0xffL) << 16) |
        ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
      var i = 0
      while (i < bits) {
        if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
        i += 1
      }
    }

    // token scan replicating split(s, "\s+", -1), same as MinHashShingles
    if (len == 0) vote(0, 0)
    else {
      var pos = 0
      var done = false
      while (!done) {
        var t = pos
        while (t < len && !isSpace(bytes(t))) t += 1
        vote(pos, t) // empty when a whitespace run starts at pos
        if (t >= len) done = true
        else {
          var r = t
          while (r < len && isSpace(bytes(r))) r += 1
          pos = r
          if (r >= len) { vote(len, len); done = true } // trailing empty
        }
      }
    }

    var packed = 0L
    var i = 0
    while (i < bits) {
      if (votes(i) > 0) packed |= 1L << i
      i += 1
    }
    packed
  }

  @inline private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f' || b == 0x0b

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SimHash48 =
    copy(left = newLeft, right = newRight)
}
