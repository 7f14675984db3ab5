package graft

import graft.ops.Relational

/** The SQL entry point: a user of the reference interacts with their
  * warehouse through SQL, so the engine's tables must be reachable through
  * `spark.sql(...)` too. Runs the reference's two embedded SQL statements
  * (/root/reference/main.py:80-84 participants anti-join,
  * main.py:311-315 settings anti-join) against registered views — verbatim
  * except the `custom.` schema qualifier, which maps to bare view names —
  * and checks parity with the engine's DataFrame operators.
  */
class SqlSurfaceSpec extends SparkTestBase {
  import spark.implicits._

  private def registerZoomViews(): Unit = {
    Seq(("uuid-1", 101L), ("uuid-2", 102L), ("uuid-3", 103L))
      .toDF("uuid", "id").createOrReplaceTempView("Zoom_Meetings")
    Seq(("uuid-1", "alice"), ("uuid-1", "bob"))
      .toDF("meeting_uuid", "email").createOrReplaceTempView("Zoom_Participants")
    Seq((101L, true))
      .toDF("meeting_id", "enforce_login").createOrReplaceTempView("Zoom_Meeting_Settings")
  }

  test("reference SQL #1 (participants anti-join, main.py:80-84) via spark.sql") {
    registerZoomViews()
    val sql = spark.sql(
      """SELECT DISTINCT zm.uuid
         FROM Zoom_Meetings zm
         LEFT JOIN Zoom_Participants zp
             ON zm.uuid = zp.meeting_uuid
         WHERE zp.meeting_uuid IS NULL""")
      .as[String].collect().toSet
    assert(sql == Set("uuid-2", "uuid-3"))
    // parity with the engine's DataFrame operator for the same semantics
    val df = Relational.antiJoinNewKeys(
        spark.table("Zoom_Meetings"), spark.table("Zoom_Participants"),
        "uuid", "meeting_uuid")
      .select("uuid").distinct().as[String].collect().toSet
    assert(df == sql)
  }

  test("reference SQL #2 (settings anti-join, main.py:311-315) via spark.sql") {
    registerZoomViews()
    val sql = spark.sql(
      """SELECT DISTINCT zm.id
         FROM Zoom_Meetings zm
         LEFT JOIN Zoom_Meeting_Settings zms
             ON zm.id = zms.meeting_id
         WHERE zms.meeting_id IS NULL""")
      .as[Long].collect().toSet
    assert(sql == Set(102L, 103L))
    val df = Relational.antiJoinNewKeys(
        spark.table("Zoom_Meetings"), spark.table("Zoom_Meeting_Settings"),
        "id", "meeting_id")
      .select("id").distinct().as[Long].collect().toSet
    assert(df == sql)
  }

  test("native graft expressions compose in raw SQL text (sql_surface_q2)") {
    Tables.registerViews(spark, "/root/testdata/sf0.001")
    val out = SparkEntry.queries("sql_surface_q2")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    // per-doc dedupe means distinct ≤ occurrences, both positive per lang
    out.foreach { r =>
      assert(r.getLong(1) > 0 && r.getLong(1) <= r.getLong(2), r.toString)
    }
    // and the SQL hashed_shingles agrees with the Column-API composition
    import org.apache.spark.sql.functions._
    val api = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("lang"),
        explode(graft.ops.LlmOps.shingleHashes(col("text"), 3)).as("h"))
      .groupBy("lang").agg(countDistinct(col("h")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach(r => assert(api(r.getString(0)) == r.getLong(1), r.toString))
  }

  test("registerViews exposes every harness table to spark.sql") {
    Tables.registerViews(spark, "/root/testdata/sf0.001")
    Tables.names.foreach { n =>
      assert(spark.sql(s"SELECT COUNT(*) FROM $n").as[Long].head() > 0, n)
    }
    // a cross-table SQL join runs too (events is the nanos-ts special case)
    val joined = spark.sql(
      """SELECT COUNT(*) FROM events e JOIN customer c ON e.user_id = c.c_custkey""")
      .as[Long].head()
    assert(joined > 0)
  }
}
