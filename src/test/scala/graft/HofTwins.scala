package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.ops.LlmOps.{md5Hash48, tokens}

/** Higher-order-function compositions of the engine's native expressions,
  * built only from Spark built-ins. The engine runs the native expressions
  * alone; these twins are the independent parity oracles the specs compare
  * them against, bit for bit.
  */
object HofTwins {

  /** Sequential-fold dot product in double precision. */
  private def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a.cast("array<double>"), b.cast("array<double>"), (x, y) => x * y),
      lit(0.0),
      (acc, x) => acc + x)

  /** Twin of `cosine_sim`: dot / (|a| * |b|), 0 for a zero-norm side. */
  def cosine(a: Column, b: Column): Column = {
    val na = dot(a, a)
    val nb = dot(b, b)
    when(na === 0.0 || nb === 0.0, lit(0.0))
      .otherwise(dot(a, b) / (sqrt(na) * sqrt(nb)))
  }

  /** Word n-gram shingles (distinct), as strings. */
  def shingles(c: Column, n: Int): Column = {
    val toks = tokens(c)
    array_distinct(
      transform(
        sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** 64-bit hashed shingles over the xxhash64 family: token hashes, then
    * one hash per n-gram window. Same set semantics as `hashed_shingles`
    * (modulo 64-bit collisions) but a DIFFERENT hash family — compare set
    * sizes with it, never values. */
  def shingleHashes(c: Column, n: Int): Column = {
    val th = transform(tokens(c), t => xxhash64(t))
    array_distinct(
      transform(
        sequence(lit(0), greatest(size(th) - n, lit(0))),
        i => xxhash64(slice(th, i + 1, lit(n)))))
  }

  /** k seed-mixed xxhash64 min-hashes over a shingle set, as one fold. */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    aggregate(
      shingleCol,
      array_repeat(lit(Long.MaxValue), k),
      (acc, sh) => zip_with(acc, sequence(lit(0), lit(k - 1)),
        (m, j) => least(m, xxhash64(sh, j))))

  /** Per-shingle portable hash pair (h1, h2) cut from one md5. */
  def shinglePairs(c: Column, n: Int): Column =
    transform(transform(shingles(c, n), s => md5(s)), m =>
      struct(
        conv(substring(m, 1, 12), 16, 10).cast("long").as("h1"),
        conv(substring(m, 13, 12), 16, 10).cast("long").as("h2")))

  /** sig[j] = min over shingles of (h1 + j·h2). */
  def minhashSignaturePortable(pairCol: Column, k: Int): Column =
    aggregate(
      pairCol,
      array_repeat(lit(Long.MaxValue), k),
      (acc, p) => zip_with(acc, sequence(lit(0), lit(k - 1)),
        (m, j) => least(m, p.getField("h1") + j * p.getField("h2"))))

  /** Twin of `minhash_plan`: struct(sh = distinct h1 set, sig). */
  def minhashPlan(c: Column, n: Int, k: Int): Column = {
    val pairs = shinglePairs(c, n)
    struct(
      array_distinct(transform(pairs, p => p.getField("h1"))).as("sh"),
      minhashSignaturePortable(pairs, k).as("sig"))
  }

  /** Twin of `simhash48`: per-bit ±1 votes of the md5-48 token hashes,
    * packed into a long. */
  def simhash(textCol: Column, bits: Int): Column = {
    val hashes = transform(tokens(textCol), t => md5Hash48(t, 1))
    val bitVotes = aggregate(
      hashes,
      array_repeat(lit(0), bits),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(bits - 1)),
        (c, i) => c + when(call_function("shiftright", h, i).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)))
    aggregate(
      zip_with(bitVotes, sequence(lit(0), lit(bits - 1)),
        (c, i) => when(c > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L),
      (acc, b) => acc + b)
  }

  /** Position pairs (arr[i], arr[j]) with i < j, as structs(a, b). On a
    * strictly-ascending array this is what `ordered_pairs` emits. */
  def pairStructs(arr: Column): Column =
    flatten(transform(arr, (x, i) =>
      transform(slice(arr, i + lit(2), size(arr)),
        y => struct(x.as("a"), y.as("b")))))
}
