package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Round-14: the stored IVF index — build the coarse quantizer + cell
  * postings ONCE per (corpus snapshot, index params) through the managed
  * [[graft.ops.SlateStore]], instead of refitting and re-assigning inside
  * every ANN query invocation. The postings table is written PARTITIONED
  * BY `__cell`, so a bounded-probe query reads only the probed cell
  * directories — the disk layout of a FAISS IVF list, expressed as
  * ordinary partitioned parquet.
  */
class IvfStoreSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private def emb = Tables.load(spark, dir, "embeddings")

  test("stored index is value-identical to the inline build") {
    val (a1, c1) = VectorOps.ivfIndex(emb, "embedding", nCells = 8)
    val (a2, c2) = VectorOps.ivfIndexStored(emb, "embedding", nCells = 8,
      storeKey = s"spec_parity|$dir", contentTag = None)
    val inline = a1.select(col("vec_id"), col("__cell")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val stored = a2.select(col("vec_id"), col("__cell")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(stored == inline)
    val ci = c1.collect().map(r => (r.getInt(0), r.getSeq[Float](1))).toMap
    val cs = c2.collect().map(r => (r.getInt(0), r.getSeq[Float](1))).toMap
    assert(cs == ci)
    // the stored embedding vectors survive the parquet round-trip bitwise
    val vi = a1.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toMap
    val vs = a2.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toMap
    assert(vs == vi)
  }

  test("second call attaches the committed table — a parquet scan, not a rebuilt projection") {
    val key = s"spec_attach|$dir"
    def loc(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.queryExecution.executedPlan
        .collect { case s: FileSourceScanExec => s.metadata("Location") }
    val (first, _) = VectorOps.ivfIndexStored(emb, "embedding", nCells = 8,
      storeKey = key, contentTag = None)
    val (again, _) = VectorOps.ivfIndexStored(emb, "embedding", nCells = 8,
      storeKey = key, contentTag = None)
    val l1 = loc(first)
    val l2 = loc(again)
    assert(l1.nonEmpty && l1.forall(_.contains("ivf_postings")),
      s"expected a store-table scan:\n${first.queryExecution.executedPlan}")
    assert(l2 == l1, "second call must serve the SAME committed version")
  }

  test("ivfTopK over the stored index matches the inline index and reads only the probed cells") {
    val (ai, ci) = VectorOps.ivfIndex(emb, "embedding", nCells = 8)
    val (as, cs) = VectorOps.ivfIndexStored(emb, "embedding", nCells = 8,
      storeKey = s"spec_topk|$dir", contentTag = None)
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("__qv"))
    def rows(r: org.apache.spark.sql.DataFrame) =
      r.collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
    val inline = VectorOps.ivfTopK(ai, ci, "embedding", "vec_id", qv, k = 5, nProbe = 2)
    val stored = VectorOps.ivfTopK(as, cs, "embedding", "vec_id", qv, k = 5, nProbe = 2)
    assert(rows(stored) == rows(inline))
    // partition pruning: of the 8 cell directories on disk, the scan
    // opened exactly the 2 probed ones (static pruning off the bounded
    // collected probe list — no DPP machinery needed). AQE off so the
    // executed plan's scan nodes are walkable (the DppSpec pattern).
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      val audited = VectorOps.ivfTopK(as, cs, "embedding", "vec_id", qv, k = 5, nProbe = 2)
      audited.collect()
      val scan = audited.queryExecution.executedPlan
        .collect { case s: FileSourceScanExec => s }
        .filter(_.metadata("Location").contains("ivf_postings"))
      assert(scan.nonEmpty, s"no postings scan:\n${audited.queryExecution.executedPlan}")
      val partsRead = scan.head.metrics.get("numPartitions").map(_.value)
      assert(partsRead.contains(2L),
        s"expected 2 cell partitions read, got $partsRead")
    }
  }

  test("managed base dir: a second session attaches the cell-partitioned index without refitting") {
    val base = java.nio.file.Files.createTempDirectory("ivf_store_base_").toString
    spark.conf.set("spark.graft.store.dir", base)
    try {
      val key = s"spec_xsession|$dir"
      val (a1, c1) = VectorOps.ivfIndexStored(emb, "embedding", nCells = 8,
        storeKey = key, contentTag = None)
      val want = a1.select(col("vec_id"), col("__cell")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      val wantCents = c1.collect().map(r => (r.getInt(0), r.getSeq[Float](1))).toMap
      // new session = fresh sessionUUID, nothing cached. The corpus frame
      // passed here is POISONED (empty): if the attach failed and the
      // build ran, the fit would abort on "empty embedding table" — so a
      // full-valued result proves the committed partitioned table (and
      // its _schema sidecar, partition column included) was adopted
      val s2 = spark.newSession()
      s2.conf.set("spark.graft.store.dir", base)
      val (a2, c2) = VectorOps.ivfIndexStored(
        Tables.load(s2, dir, "embeddings").filter(lit(false)),
        "embedding", nCells = 8, storeKey = key, contentTag = None)
      val got = a2.select(col("vec_id"), col("__cell")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(got == want)
      assert(c2.collect().map(r => (r.getInt(0), r.getSeq[Float](1))).toMap
        == wantCents)
    } finally spark.conf.unset("spark.graft.store.dir")
  }

  test("parquetEvolving: stale tag hands the previous artifact to the builder; prior generation stays one step back") {
    import spark.implicits._
    val key = s"spec_evolve_store|$dir"
    var prevSeen = List.empty[Boolean]
    val g1 = graft.ops.SlateStore.parquetEvolving(spark, key, Some("t1")) { prev =>
      prevSeen :+= prev.isDefined; Seq(1, 2).toDF("v")
    }
    assert(g1.as[Int].collect().toSet == Set(1, 2) && prevSeen == List(false))
    // same tag, same session: served from the cache — builder never runs
    graft.ops.SlateStore.parquetEvolving(spark, key, Some("t1")) { prev =>
      prevSeen :+= prev.isDefined; Seq(9).toDF("v")
    }
    assert(prevSeen == List(false))
    // input moved on (new tag): the builder receives generation 1 and
    // derives generation 2 incrementally
    val g2 = graft.ops.SlateStore.parquetEvolving(spark, key, Some("t2")) { prev =>
      prevSeen :+= prev.isDefined
      prev.get.union(Seq(3).toDF("v"))
    }
    assert(g2.as[Int].collect().toSet == Set(1, 2, 3))
    assert(prevSeen == List(false, true))
    // the versioned sink underneath keeps generation 1 one time-travel
    // step back — evolution composes with readSnapshotAt
    val tableDir = new java.io.File(
      graft.ops.SlateStore.sessionTempRoot(spark),
      graft.ops.SlateStore.tableName(key)).toString
    assert(graft.ops.Sink.readSnapshotAt(spark, tableDir, 1)
      .as[Int].collect().toSet == Set(1, 2))
    // carry-forward: a builder returning the previous frame UNCHANGED
    // refreshes only the tag — no new version is committed (review fix:
    // identical-bytes recommits churned retention per generation)
    val before = graft.ops.Sink.listVersions(spark, tableDir)
    val g3 = graft.ops.SlateStore.parquetEvolving(spark, key, Some("t3")) {
      prev => prevSeen :+= prev.isDefined; prev.get
    }
    assert(g3.as[Int].collect().toSet == Set(1, 2, 3))
    assert(graft.ops.Sink.listVersions(spark, tableDir) == before,
      "carry-forward must not commit a new version")
  }

  test("parquetEvolving: a LATER SESSION evolves the committed artifact instead of rebuilding") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("evolve_base_").toString
    val key = s"spec_evolve_xsession|$dir"
    spark.conf.set("spark.graft.store.dir", base)
    try {
      graft.ops.SlateStore.parquetEvolving(spark, key, Some("t1"))(_ =>
        Seq(1, 2).toDF("v"))
      val s2 = spark.newSession()
      s2.conf.set("spark.graft.store.dir", base)
      // fresh sessionUUID: nothing cached — the previous generation must
      // arrive from the COMMITTED cross-session snapshot
      var sawPrev = false
      val g2 = graft.ops.SlateStore.parquetEvolving(s2, key, Some("t2")) { prev =>
        sawPrev = prev.isDefined
        prev.get.union(Seq(3).toDF("v"))
      }
      assert(sawPrev, "second session must receive the committed generation 1")
      assert(g2.as[Int].collect().toSet == Set(1, 2, 3))
      // and a third session with the NEW tag attaches without building
      val s3 = spark.newSession()
      s3.conf.set("spark.graft.store.dir", base)
      val g3 = graft.ops.SlateStore.parquetEvolving(s3, key, Some("t2"))(_ =>
        sys.error("same-tag attach must not build"))
      assert(g3.as[Int].collect().toSet == Set(1, 2, 3))
    } finally spark.conf.unset("spark.graft.store.dir")
  }

  test("evolving IVF index: delta-only assignment under the frozen quantizer; deletions drop; in-place rewrites re-score") {
    import graft.functions.VectorOps
    val key = s"spec_evolve_ivf|$dir"
    val g1 = emb.filter(col("vec_id") % 10 =!= 0)
    // gen2: re-adds the %10 rows, deletes id 10, and REWRITES id 1's
    // vector in place (reversed) — the stable-id mutation an id-only
    // anti-join would silently keep stale (review fix)
    val g2 = emb.filter(col("vec_id") =!= 10L)
      .withColumn("embedding",
        when(col("vec_id") === 1L, reverse(col("embedding")))
          .otherwise(col("embedding")))
    val (a1, c1) = VectorOps.ivfIndexEvolving(g1, "vec_id", "embedding",
      nCells = 8, storeKey = key, contentTag = Some("gen1"))
    assert(a1.count() == g1.count())
    val cents1 = c1.collect().map(r => (r.getInt(0), r.getSeq[Float](1))).toMap
    val (a2, c2) = VectorOps.ivfIndexEvolving(g2, "vec_id", "embedding",
      nCells = 8, storeKey = key, contentTag = Some("gen2"))
    // the quantizer is FROZEN across generations
    assert(c2.collect().map(r => (r.getInt(0), r.getSeq[Float](1))).toMap
      == cents1)
    // deletion dropped, appends present, nothing duplicated; the
    // rewritten row carries exactly ONE posting (the new vector's)
    val got = a2.select(col("vec_id"), col("__cell")).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(got.length == g2.count())
    assert(!got.exists(_._1 == 10L))
    assert(got.count(_._1 == 1L) == 1)
    // exactness: evolved postings == a FULL assignment of generation 2
    // under generation 1's quantizer (same deterministic fit)
    val fit = VectorOps.ivfFit(g1, "embedding", 8, 42L, 4096, 10)
    val want = g2.withColumn("__cell",
        VectorOps.nearestCell(col("embedding").cast("array<double>"), fit))
      .select(col("vec_id"), col("__cell")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got.toSet == want)
  }

  test("empty corpus still fails fast with the ivfIndex contract error") {
    val e = intercept[IllegalArgumentException] {
      VectorOps.ivfIndexStored(emb.filter(lit(false)), "embedding", nCells = 4,
        storeKey = s"spec_empty|$dir", contentTag = None)
    }
    assert(e.getMessage.contains("empty embedding table"))
  }
}
