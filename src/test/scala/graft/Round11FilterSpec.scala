package graft

import org.apache.spark.sql.functions._

import graft.ops.{LlmOps, Stats}

/** Round-11 fifth wave: FineWeb battery, Cochran's Q, and the per-group
  * permutation scan with Benjamini–Hochberg FDR — hand-computed fixtures
  * throughout.
  */
class Round11FilterSpec extends SparkTestBase {
  import spark.implicits._

  // ---- finewebRules ----

  private val longPunct = "This is a proper long sentence that ends well."

  test("finewebRules: hand-counted line census, duplicated chars drop the doc") {
    // lines: [46-char punct, "menu", "menu"] → punct 1/3, short 2/3,
    // dup chars 8/54 ≥ 0.1 → drop on the duplication rule alone
    val txt = s"$longPunct\nmenu\nmenu"
    val r = LlmOps.finewebRules(Seq((1L, txt)).toDF("doc_id", "text"),
      "doc_id", "text").collect()(0)
    assert(r.getAs[Long]("n_lines") == 3L)
    assert(r.getAs[Long]("n_punct_lines") == 1L)
    assert(r.getAs[Long]("n_short_lines") == 2L)
    assert(r.getAs[Long]("line_chars") == 54L)
    assert(r.getAs[Long]("dup_line_chars") == 8L)
    assert(math.abs(r.getAs[Double]("punct_line_frac") - 1.0 / 3.0) < 1e-15)
    assert(math.abs(r.getAs[Double]("short_line_frac") - 2.0 / 3.0) < 1e-15)
    assert(math.abs(r.getAs[Double]("dup_char_frac") - 8.0 / 54.0) < 1e-15)
    assert(!r.getAs[Boolean]("keep"))
  }

  test("finewebRules: distinct long punctuated prose keeps; empty text drops") {
    val good = Seq(longPunct, "Another quite long and different line here, good.",
      "And one more full sentence to close the example out.").mkString("\n")
    val rows = LlmOps.finewebRules(
      Seq((1L, good), (2L, ""), (3L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(rows(0).getAs[Boolean]("keep"))
    assert(rows(0).getAs[Long]("dup_line_chars") == 0L)
    // zero-line docs: null ratios coalesce to a drop
    assert(rows(1).getAs[Long]("n_lines") == 0L && !rows(1).getAs[Boolean]("keep"))
    assert(rows(1).isNullAt(rows(1).fieldIndex("punct_line_frac")))
    assert(!rows(2).getAs[Boolean]("keep"))
  }

  // ---- cochranQ ----

  test("cochranQ: hand-computed Q over three paired verdicts") {
    // G = (3,2,1), T = 6, ΣL² = 14 → Q = 2·(3·14 − 36)/(18 − 14) = 3.0
    val df = Seq((true, true, true), (true, false, false),
      (true, true, false), (false, false, false)).toDF("a", "b", "c")
    val r = Stats.cochranQ(df,
      Seq("a" -> $"a", "b" -> $"b", "c" -> $"c")).collect()(0)
    assert(r.getAs[Long]("n") == 4L)
    assert(r.getAs[Long]("keeps_a") == 3L)
    assert(r.getAs[Long]("keeps_b") == 2L)
    assert(r.getAs[Long]("keeps_c") == 1L)
    assert(r.getAs[Long]("k") == 3L && r.getAs[Long]("deg_f") == 2L)
    assert(math.abs(r.getAs[Double]("q") - 3.0) < 1e-12)
  }

  test("cochranQ: unanimous verdicts → zero-variance NULL; nulls coalesce false") {
    val same = Seq((true, true), (true, true)).toDF("a", "b")
    val r = Stats.cochranQ(same, Seq("a" -> $"a", "b" -> $"b")).collect()(0)
    assert(r.isNullAt(r.fieldIndex("q")))
    val withNull = Seq((Some(true), Some(true)), (None, Some(true)))
      .toDF("a", "b")
    val r2 = Stats.cochranQ(withNull, Seq("a" -> $"a", "b" -> $"b")).collect()(0)
    assert(r2.getAs[Long]("keeps_a") == 1L && r2.getAs[Long]("keeps_b") == 2L)
  }

  // ---- permutationScanByGroup ----

  test("permutationScanByGroup: separated groups reject, uniform corpus does not") {
    val sep = ((1L to 10L).map(i => (i, "a", 1000L)) ++
      (11L to 20L).map(i => (i, "b", 0L))).toDF("id", "g", "v")
    val rows = Stats.permutationScanByGroup(sep, $"g", $"v", $"id",
      nPerms = 192, alphaPermille = 50).orderBy("group_key").collect()
    assert(rows.length == 2)
    // a-vs-rest and b-vs-rest are the same two-sided statistic here
    rows.foreach { r =>
      assert(r.getAs[Long]("n_a") == 10L)
      assert(r.getAs[Double]("abs_mean_diff") == 1000.0)
      assert(r.getAs[Double]("p_value") < 0.05)
      assert(r.getAs[Boolean]("bh_reject"))
    }
    val flat = (1L to 20L).map(i => (i, if (i <= 10) "a" else "b", 7L))
      .toDF("id", "g", "v")
    val fr = Stats.permutationScanByGroup(flat, $"g", $"v", $"id",
      nPerms = 192, alphaPermille = 50).collect()
    fr.foreach { r =>
      assert(r.getAs[Double]("p_value") == 1.0) // 0 ≥ 0: every perm ties
      assert(!r.getAs[Boolean]("bh_reject"))
    }
  }

  test("permutationScanByGroup: md5 coins make the scan rerun-stable") {
    val df = (1L to 30L).map(i => (i, s"g${i % 3}", i * 7 % 13)).toDF("id", "g", "v")
    val a = Stats.permutationScanByGroup(df, $"g", $"v", $"id", nPerms = 96)
      .orderBy("group_key").collect().map(_.getAs[Double]("p_value")).toSeq
    val b = Stats.permutationScanByGroup(df, $"g", $"v", $"id", nPerms = 96)
      .orderBy("group_key").collect().map(_.getAs[Double]("p_value")).toSeq
    assert(a == b && a.length == 3)
  }
}
