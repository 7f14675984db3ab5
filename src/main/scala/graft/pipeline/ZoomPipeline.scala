package graft.pipeline

import java.io.FileNotFoundException
import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, LongType, StringType, StructField, StructType}

import graft.ops.Ingest
import graft.schemas.Schemas
import graft.sources.PagedApi
import graft.sources.PagedApi.PagedApiClient

/** The reference's three entry points (SURVEY.md §3) as one composable
  * pipeline over a parquet warehouse, with the §7.5 semantic warts fixed:
  *
  *  - snapshot loads are atomic overwrites (no drop-then-load window,
  *    /root/reference/main.py:38-46)
  *  - incremental writes overwrite their keyed partition (dynamic partition
  *    overwrite) so a retried load converges instead of duplicating
  *    (/root/reference/main.py:237)
  *  - retry lives at the page-fetch level (PagedApi), never around a whole
  *    load stage (/root/reference/main.py:94), so the anti-join predicate
  *    stays truthful after partial failures
  *  - "today" is a parameter (`runDate`), never the wall clock
  *    (/root/reference/main.py:214,244), so runs are deterministic
  *
  * Driver-edge rule (100 TB posture): the driver holds
  *  - one name per *processed* key: a keyed table's keys are its partition
  *    values, listed from its root directory (the file-index read this
  *    replaced held the same names plus a `FileStatus` per leaf file);
  *  - a keyed stage's meetings key column (`uuid` or `id`), read in one
  *    job and diffed against the processed names on the driver: the same
  *    order of names as the processed listing it already holds, one per
  *    loaded meeting (ROADMAP G);
  *  - the keyed loads' fetched JSON: keys are fetched one by one and
  *    written per batch of at most [[ZoomPipeline.BatchChars]] characters
  *    plus one key's records.
  * Data rows are never collected.
  */
class ZoomPipeline(spark: SparkSession, client: PagedApiClient,
                   warehouse: String, sleep: Long => Unit = Thread.sleep) {
  import spark.implicits._

  spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

  private def path(table: String) = s"$warehouse/$table"

  // Hadoop FileSystem, not java.io.File — the warehouse may be hdfs:// or
  // s3a://, where a local File.exists() is always false and would silently
  // reset every incremental load to the fallback branch.
  private def fileSystemPath(table: String): (FileSystem, Path) = {
    val p = new Path(path(table))
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  def tableExists(table: String): Boolean = {
    val (fs, p) = fileSystemPath(table)
    fs.exists(p)
  }

  /** The values of `table`'s partition column `column`, from one listing of
    * the table root; no data file is read. Dynamic partition overwrite
    * builds a job's `column=value` directories under `.spark-staging-*`
    * and moves them to the root only at commit, so a listed value is a
    * committed partition; staging, `_temporary` and `_SUCCESS` entries do
    * not carry the prefix. Spark's null partition
    * (`__HIVE_DEFAULT_PARTITION__`) is skipped. An absent table has none.
    */
  private def partitionValues(table: String, column: String): Seq[String] = {
    val (fs, root) = fileSystemPath(table)
    val prefix = s"$column="
    val entries = try fs.listStatus(root).toSeq catch { case _: FileNotFoundException => Nil }
    entries.collect {
      case e if e.isDirectory && e.getPath.getName.startsWith(prefix) =>
        e.getPath.getName.drop(prefix.length)
    }.filterNot(_ == ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
      .map(ExternalCatalogUtils.unescapePathName)
  }

  /** Read schemas of the partitioned tables: the declared data columns,
    * then the partition column at a declared type. A declared schema
    * turns off Spark's partition-value type inference, which parses a
    * meeting_uuid made of digits and one `e` (`123e4567…`) as a decimal
    * with a huge exponent and then spins on it for minutes. `run_date`
    * keeps the date type inference gives it; `meeting_id` is the bigint
    * it is written as (inference would make small ids int).
    */
  private val partitionedSchemas: Map[String, StructType] = {
    def withPartition(s: StructType, c: String, t: DataType) =
      StructType(s.filterNot(_.name == c) :+ StructField(c, t))
    Map(
      "meetings" -> withPartition(Schemas.meetings, "run_date", DateType),
      "participants" -> withPartition(Schemas.participants, "meeting_uuid", StringType),
      "meeting_settings" -> withPartition(Schemas.meetingSettings, "meeting_id", LongType),
      "group_members" -> withPartition(Schemas.groupMembers, "group_id", StringType))
  }

  def table(table: String): DataFrame =
    partitionedSchemas.get(table).fold(spark.read)(spark.read.schema)
      .parquet(path(table))

  /** Raw JSON pages → typed rows via the declared schema, which absorbs
    * per-page drift (SURVEY.md §1.3); no records → the typed empty frame.
    */
  private def pagesToDf(pages: Seq[PagedApi.ApiPage], schema: StructType): DataFrame =
    spark.createDataset(pages.flatMap(_.records))
      .select(from_json(col("value"), schema).as("r"))
      .select("r.*")

  private def keyRecords(entity: String, key: String): Seq[String] =
    PagedApi.fetchAllPages(client, entity, Some(key), sleep = sleep).flatMap(_.records)

  /** A keyed batch → typed rows, the key injected as `keyCol` over any
    * `keyCol` the JSON carries (F5, main.py:165). */
  private def keyedRows(batch: DataFrame, schema: StructType, keyCol: String): DataFrame =
    batch.select(from_json(col("value"), schema).as("r"), col("key"))
      .select("r.*", "key")
      .withColumn(keyCol, col("key"))
      .drop("key")

  /** Keyed load loop (S4 analog) of participants, settings and group
    * members: fetches each key in order, buffers its records as (`key`,
    * `value`) rows and hands `write` one frame per batch, a batch ending at
    * `bound` characters or at the last key (never inside a key, whose
    * second write would overwrite the first). One batch is one job, so a
    * key's partition lands whole or not at all. A fetch failure writes the
    * keys fetched before it, then propagates. A key without records writes
    * no partition; if no fetched key had any, the empty frame is written
    * once so the table exists.
    */
  private[graft] def loadKeyed[K](keys: Seq[K], bound: Long = ZoomPipeline.BatchChars)
                                 (fetch: K => Seq[String])(write: DataFrame => Unit): Unit = {
    val batch = ArrayBuffer.empty[(String, String)]
    var chars = 0L
    var fetched = false
    var wrote = false
    def flush(): Unit =
      if (batch.nonEmpty || (fetched && !wrote)) {
        write(batch.toSeq.toDF("key", "value"))
        batch.clear()
        chars = 0
        wrote = true
      }
    keys.foreach { k =>
      val records = try fetch(k) catch { case NonFatal(e) => flush(); throw e }
      fetched = true
      records.foreach { r => batch += ((k.toString, r)); chars += r.length }
      if (chars >= bound) flush()
    }
    flush()
  }

  /** Users snapshot (§3.1): paged fetch → fixed 13-column reindex → atomic
    * overwrite. Returns rows loaded.
    */
  def loadUsers(): Long = {
    val pages = PagedApi.fetchAllPages(client, "users", sleep = sleep)
    val users = Ingest.reindexTo(pagesToDf(pages, Schemas.users), Schemas.users)
    users.write.mode("overwrite").parquet(path("users"))
    table("users").count()
  }

  /** Incremental meetings load (§3.2 step 1): the next day after the
    * newest committed `run_date` partition, or the school-year start of
    * `runDate` when there is none ([[ZoomPipeline.schoolYearStart]]); skip
    * when caught up (main.py:213-215); write the day's rows into a
    * run_date partition (idempotent re-run). No Spark job runs before the
    * first fetch: the watermark is one listing of the table root.
    *
    * Departs from main.py's `max(start_time)+1` rule (main.py:251-267):
    * the watermark is the day a meeting was *listed* on, not the day of
    * its `start_time`. A day whose meetings carry no parseable
    * `start_time` still moves it (the old rule re-fetched that day
    * forever), and a meeting listed on one day that starts on the next in
    * UTC no longer makes the next run skip that next day.
    *
    * A day the API returns no meetings for writes nothing and the next day
    * is fetched, up to the day before `runDate`: an empty day adds no
    * partition, so it could never move the watermark past itself.
    * Returns the loaded date, or None when caught up or every remaining
    * day was empty.
    */
  def loadMeetings(runDate: LocalDate): Option[LocalDate] = {
    var day = partitionValues("meetings", "run_date").map(LocalDate.parse)
      .maxByOption(_.toEpochDay).fold(ZoomPipeline.schoolYearStart(runDate))(_.plusDays(1))
    while (day.isBefore(runDate)) {
      val pages = PagedApi.fetchAllPages(client, "meetings", Some(day.toString), sleep = sleep)
      if (pages.exists(_.records.nonEmpty)) {
        // the day's JSON is a local relation: one partition dedups it
        // without an Exchange, so the write is one job
        pagesToDf(pages, Schemas.meetings)
          .coalesce(1)
          .dropDuplicates("uuid") // §7.5.3: no double rows from retried pages
          .withColumn("run_date", lit(day.toString))
          .write.mode("overwrite").partitionBy("run_date").parquet(path("meetings"))
        return Some(day)
      }
      day = day.plusDays(1)
    }
    None // watermark caught up, or every remaining day empty
  }

  /** Participants (§3.2 step 2): the meetings with no participant rows
    * yet (main.py:79-85) — the non-null `uuid`s of `meetings`, collected in
    * one job, less the `meeting_uuid` partition values listed from the
    * table root. Per-uuid paged fetch, one write per bounded batch of uuids
    * ([[loadKeyed]]); each meeting's rows land in its meeting_uuid
    * partition, so a retry overwrites instead of duplicating.
    *
    * A meeting the API gives no participants writes no partition, so it
    * stays unprocessed and is fetched again on every later run: the
    * reference's anti-join semantics, kept on purpose (ZoomPipelineSpec's
    * flagship flow re-fetches its `m3`). Returns meetings processed.
    */
  def loadParticipants(): Int = {
    if (!tableExists("meetings")) return 0
    val processed = partitionValues("participants", "meeting_uuid").toSet
    val uuids = table("meetings").select("uuid").filter(col("uuid").isNotNull)
      .as[String].collect().filterNot(processed).distinct.sorted.toSeq
    loadKeyed(uuids)(keyRecords("participants", _)) { batch =>
      keyedRows(batch, Schemas.participants, "meeting_uuid")
        .write.mode("overwrite").partitionBy("meeting_uuid").parquet(path("participants"))
    }
    uuids.length
  }

  /** Meeting settings (§3.2 step 3): the meetings without settings
    * (main.py:310-316) — the non-null `id`s of `meetings`, collected in one
    * job, less the `meeting_id` partition values listed from the table
    * root. Single-shot fetch per id, one write per bounded batch of ids
    * ([[loadKeyed]]), nested-JSON flatten with null defaults
    * (main.py:324-334). Returns meetings processed.
    */
  def loadMeetingSettings(): Int = {
    if (!tableExists("meetings")) return 0
    val processed = partitionValues("meeting_settings", "meeting_id").map(_.toLong).toSet
    val ids = table("meetings").select("id").filter(col("id").isNotNull)
      .as[Long].collect().filterNot(processed).distinct.sorted.toSeq
    loadKeyed(ids)(id =>
      PagedApi.fetchWithRetry(client, "settings", Some(id.toString), None, sleep = sleep).records
    ) { batch =>
      batch
        .select(
          col("key").cast("bigint").as("meeting_id"),
          get_json_object(col("value"), "$.settings.enforce_login").try_cast("boolean").as("enforce_login"),
          get_json_object(col("value"), "$.settings.enforce_login_domains").as("enforce_login_domains"),
          get_json_object(col("value"), "$.settings.authentication_domains").as("authentication_domains"),
          get_json_object(col("value"), "$.settings.authentication_name").as("authentication_name"),
          get_json_object(col("value"), "$.settings.meeting_authentication").try_cast("boolean").as("meeting_authentication"),
          get_json_object(col("value"), "$.settings.waiting_room").try_cast("boolean").as("waiting_room"))
        .write.mode("overwrite").partitionBy("meeting_id").parquet(path("meeting_settings"))
    }
    ids.length
  }

  /** Permission groups snapshot (S3 single-shot scan, main.py:125-135):
    * one-page fetch → declared-schema reindex → atomic overwrite (the
    * reference drops the table before inserting, main.py:129-130 — a
    * reader in that window sees nothing; overwrite here is atomic).
    * Returns rows loaded.
    */
  def loadGroups(): Long = {
    val pages = PagedApi.fetchAllPages(client, "groups", sleep = sleep)
    val groups = Ingest.reindexTo(pagesToDf(pages, Schemas.groups), Schemas.groups)
    groups.write.mode("overwrite").parquet(path("groups"))
    table("groups").count()
  }

  /** Group-id lookup (main.py:137-147): optional name filter, ids sorted
    * on the driver for determinism (the reference inherits arbitrary DB
    * order); a group without an id is skipped. Driver edge: the group list
    * is small by construction.
    */
  def groupIds(groupName: Option[String] = None): Seq[String] = {
    if (!tableExists("groups")) return Seq.empty
    val g = table("groups")
    groupName.fold(g)(n => g.filter(col("name") === n))
      .select("id").filter(col("id").isNotNull).as[String].collect().sorted.toSeq
  }

  /** A4 first-match pick — the reference's `_get_group_ids("Students")[0]`
    * (main.py:186), total instead of crashing on a missing group.
    */
  def firstGroupId(groupName: String): Option[String] =
    groupIds(Some(groupName)).headOption

  /** Group members (S4 per-key scan, main.py:149-170): page loop per group
    * id, one write per bounded batch of groups ([[loadKeyed]]), parent-key
    * injection, one partition per group so a re-run overwrites instead of
    * duplicating. Returns total member rows.
    */
  def loadGroupMembers(): Long = {
    loadKeyed(groupIds())(keyRecords("group_members", _)) { batch =>
      keyedRows(batch, Schemas.groupMembers, "group_id")
        .write.mode("overwrite").partitionBy("group_id").parquet(path("group_members"))
    }
    if (tableExists("group_members")) table("group_members").count() else 0L
  }

  /** Reverse ETL (§3.3): per-row error isolation — one bad row must not
    * fail the batch (main.py:188-194). Returns (succeeded, failed).
    */
  def createStudentAccounts(students: DataFrame,
                            create: Row => Unit): (Int, Int) = {
    var ok = 0
    var failed = 0
    students.collect().foreach { row => // driver edge: small account batch (S9)
      try { create(row); ok += 1 }
      catch { case _: Exception => failed += 1 } // log-and-continue semantics
    }
    (ok, failed)
  }
}

object ZoomPipeline {
  /** Driver bound of a keyed load: characters of fetched JSON buffered
    * before a batch is written (at most 64 MiB of strings). */
  val BatchChars: Long = 32L << 20

  /** [[graft.ops.Temporal.schoolYearStart]] on the driver: Aug 1 of the
    * year of `d` if its month is after June, else of the year before
    * (main.py:242-249). */
  private[graft] def schoolYearStart(d: LocalDate): LocalDate =
    LocalDate.of(if (d.getMonthValue > 6) d.getYear else d.getYear - 1, 8, 1)
}
