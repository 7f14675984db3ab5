package graft.pipeline

import java.io.FileNotFoundException
import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, StringType, StructField, StructType}

import graft.Tables
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
  * Participants and settings are loaded per meetings day: both tables are
  * partitioned by the `run_date` of the meetings they belong to, so a day
  * is one partition of one file, and a table's pending days are the
  * `run_date` values listed under `meetings` less those listed under it.
  * Departures from main.py's per-meeting anti-joins (main.py:79-85,
  * main.py:310-316) that this brings, on purpose:
  *  - a meeting without participants on a day whose other meetings have
  *    some is not fetched again (the reference re-fetches it on every run,
  *    a cost that grows with the warehouse); a day whose meetings all
  *    return nothing writes no partition and stays pending;
  *  - a `uuid` or `id` listed on two days is loaded under each day, as
  *    `meetings` stores it;
  *  - a failure is recovered at day grain: a stage writes the complete days
  *    before the failing key, and a rerun fetches the whole failed day.
  *
  * Driver-edge rule (100 TB posture): the driver holds
  *  - one name per loaded day: the `run_date` directories of `meetings` and
  *    of the keyed table, each from one listing of its root;
  *  - the pending days' meetings keys (`uuid` or `id`), read on the
  *    driver from the pending days' files, with no Spark job (a catch-up
  *    of N days opens N files one after another; a daily run opens one);
  *  - the group list (`id` and `name`), read on the driver from the
  *    committed `groups` files, with no Spark job;
  *  - the fetched JSON of a snapshot (users, groups), and of a batch of the
  *    keyed loads and of a meetings catch-up: keys and days are fetched
  *    one by one and written per batch of at most
  *    [[ZoomPipeline.BatchChars]] characters plus one unit's records.
  * Data rows are never collected, and no table is read back: every Spark
  * job of a load is one of its writes, and the row counts the loads return
  * are counted on the driver.
  */
class ZoomPipeline(spark: SparkSession, client: PagedApiClient,
                   warehouse: String, sleep: Long => Unit = Thread.sleep) {
  import spark.implicits._

  spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

  private def path(table: String) = s"$warehouse/$table"

  /** The values of `table`'s partition column `column`, from one listing of
    * the table root; no data file is read. Dynamic partition overwrite
    * builds a job's `column=value` directories under `.spark-staging-*`
    * and moves them to the root only at commit, so a listed value is a
    * committed partition; staging, `_temporary` and `_SUCCESS` entries do
    * not carry the prefix. Spark's null partition
    * (`__HIVE_DEFAULT_PARTITION__`) is skipped. An absent table has none.
    * A partition directory of another column fails: the root holds another
    * layout (participants and settings were once partitioned per meeting,
    * by `meeting_uuid` and `meeting_id`), which must not be mixed with this
    * one under one root.
    */
  private def partitionValues(table: String, column: String): Seq[String] = {
    // Hadoop FileSystem, not java.io.File: the warehouse may be hdfs:// or
    // s3a://, where a local listing finds nothing and would silently reset
    // every incremental load to the fallback branch
    val root = new Path(path(table))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = s"$column="
    val dirs = try fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath)
      catch { case _: FileNotFoundException => Nil }
    dirs.find(d => d.getName.contains('=') && !d.getName.startsWith(prefix)).foreach { d =>
      throw new IllegalStateException(
        s"$d: $table is partitioned by $column and this directory belongs to another layout; move the old table out of $root")
    }
    dirs.collect { case d if d.getName.startsWith(prefix) => d.getName.drop(prefix.length) }
      .filterNot(_ == ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
      .map(ExternalCatalogUtils.unescapePathName)
  }

  /** The keyed stages' work list: the `run_date`s of `meetings` not yet in
    * `table`, oldest first, each with its meetings' distinct non-null
    * `keyCol` values in order (`key` types a value). The days come from two
    * listings. The keys are read on the driver from the pending days'
    * files, with no Spark job ([[Tables.readColumns]]: each pending day's
    * directory is listed and the `keyCol` column chunks of its data files
    * are read with parquet-mr). A file without `keyCol` has no keys, as a
    * declared-schema read gives it nulls. A pending day without a key is
    * left out. Loaded days' files are never opened.
    *
    * Trade-off: a catch-up of N pending days opens N files one after
    * another on the driver (about 0.5 ms a file on a local disk, 4 vCPU;
    * a footer read and a column-chunk read per file on an object store).
    * A daily run has one pending day.
    */
  private def pendingDays[K: Ordering](table: String, keyCol: String)(key: Any => K): Seq[(String, Seq[K])] = {
    val loaded = partitionValues(table, "run_date").toSet
    val days = partitionValues("meetings", "run_date").filterNot(loaded).sorted
    if (days.isEmpty) return Nil
    val root = new Path(path("meetings"))
    val conf = spark.sessionState.newHadoopConf()
    days.flatMap { d =>
      val dir = new Path(root, ExternalCatalogUtils.getPartitionPathString("run_date", d))
      val keys = Tables.readColumns(dir, conf, Seq(keyCol)).flatMap(r => Option(r.head)).map(key)
      if (keys.isEmpty) None else Some(d -> keys.distinct.sorted)
    }
  }

  /** Read schemas of the partitioned tables: the declared data columns,
    * then the partition column at a declared type. `run_date` keeps the
    * date type inference gives it; a declared schema turns off Spark's
    * partition-value type inference, which parses a `group_id` made of
    * digits and one `e` (`123e4567…`) as a decimal with a huge exponent
    * and then spins on it for minutes.
    */
  private val partitionedSchemas: Map[String, StructType] = {
    def withPartition(s: StructType, c: String, t: DataType) =
      StructType(s.filterNot(_.name == c) :+ StructField(c, t))
    Map(
      "meetings" -> withPartition(Schemas.meetings, "run_date", DateType),
      "participants" -> withPartition(Schemas.participants, "run_date", DateType),
      "meeting_settings" -> withPartition(Schemas.meetingSettings, "run_date", DateType),
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

  /** A keyed batch → typed rows and its `unit`, the key injected as
    * `keyCol` over any `keyCol` the JSON carries (F5, main.py:165). */
  private def keyedRows(batch: DataFrame, schema: StructType, keyCol: String): DataFrame =
    batch.select(from_json(col("value"), schema).as("r"), col("key"), col("unit"))
      .select("r.*", "key", "unit")
      .withColumn(keyCol, col("key"))
      .drop("key")

  /** Keyed load loop (S4 analog) of participants, settings and group
    * members over units of keys (a meetings day, or one group): fetches
    * each unit's keys in order, buffers their records as (`unit`, `key`,
    * `value`) rows and hands `write` one frame per batch, a batch ending at
    * `bound` characters or at the last unit (never inside a unit, whose
    * partition a second write would overwrite). One batch is one job, so a
    * unit's partition lands whole or not at all. A fetch failure writes the
    * complete units fetched before it, then propagates; the failing unit's
    * records are dropped. A unit without records writes no partition; if
    * no fetched unit had any, the empty frame is written once so the table
    * exists. Returns the records written, counted on the driver.
    */
  private[graft] def loadKeyed[K](units: Seq[(String, Seq[K])], bound: Long = ZoomPipeline.BatchChars)
                                 (fetch: K => Seq[String])(write: DataFrame => Unit): Long = {
    val batch = ArrayBuffer.empty[(String, String, String)]
    var chars = 0L
    var rows = 0L
    var fetched = false
    var wrote = false
    def flush(): Unit =
      if (batch.nonEmpty || (fetched && !wrote)) {
        write(batch.toSeq.toDF("unit", "key", "value"))
        batch.clear()
        chars = 0
        wrote = true
      }
    units.foreach { case (unit, keys) =>
      val records = try keys.flatMap(k => fetch(k).map((unit, k.toString, _)))
        catch { case NonFatal(e) => flush(); throw e }
      fetched = true
      batch ++= records
      rows += records.size
      chars += records.map(_._3.length.toLong).sum
      if (chars >= bound) flush()
    }
    flush()
    rows
  }

  /** Users snapshot (§3.1): paged fetch → fixed 13-column reindex → atomic
    * overwrite, one Spark job. Returns the rows this call wrote, counted on
    * the driver: one per fetched record.
    */
  def loadUsers(): Long = snapshot("users", Schemas.users)

  /** Paged fetch of `entity` → declared-schema reindex → atomic overwrite
    * of its table, one Spark job and no read-back. Returns the fetched
    * records, which are the rows written: `from_json` gives one row per
    * record and the reindex keeps the row count. */
  private def snapshot(entity: String, schema: StructType): Long = {
    val pages = PagedApi.fetchAllPages(client, entity, sleep = sleep)
    Ingest.reindexTo(pagesToDf(pages, schema), schema).write.mode("overwrite").parquet(path(entity))
    pages.map(_.records.size.toLong).sum
  }

  /** Incremental meetings load (§3.2 step 1): every day from the day after
    * the newest committed `run_date` partition, or from the school-year
    * start of `runDate` when there is none
    * ([[ZoomPipeline.schoolYearStart]]), to the day before `runDate`;
    * nothing when caught up (main.py:213-215). The reference loads one day
    * per invocation; this call loads all of them. Days are fetched in
    * order and written per batch of whole days ([[loadKeyed]], at most
    * [[ZoomPipeline.BatchChars]] characters of JSON plus one day), one job
    * per batch, each day's rows deduped by `uuid` into its run_date
    * partition (idempotent re-run). No Spark job runs before the first
    * fetch: the watermark is one listing of the table root. A fetch
    * failure writes the complete days fetched before it, then propagates;
    * a rerun starts after the newest of them.
    *
    * Departs from main.py's `max(start_time)+1` rule (main.py:251-267):
    * the watermark is the day a meeting was *listed* on, not the day of
    * its `start_time`. A day whose meetings carry no parseable
    * `start_time` still moves it (the old rule re-fetched that day
    * forever), and a meeting listed on one day that starts on the next in
    * UTC no longer makes the next run skip that next day.
    *
    * A day the API returns no meetings for writes nothing: an empty day
    * adds no partition, so it could never move the watermark past itself,
    * and the next call fetches it again. Returns the newest day written,
    * or None when caught up or every remaining day was empty.
    */
  def loadMeetings(runDate: LocalDate): Option[LocalDate] = {
    val from = partitionValues("meetings", "run_date").map(LocalDate.parse)
      .maxByOption(_.toEpochDay).fold(ZoomPipeline.schoolYearStart(runDate))(_.plusDays(1))
    val days = Iterator.iterate(from)(_.plusDays(1)).takeWhile(_.isBefore(runDate)).map(_.toString).toSeq
    var newest = Option.empty[String]
    loadKeyed(days.map(d => d -> Seq(d))) { day =>
      val records = PagedApi.fetchAllPages(client, "meetings", Some(day), sleep = sleep).flatMap(_.records)
      if (records.nonEmpty) newest = Some(day)
      records
    } { batch =>
      // loadKeyed writes an empty frame when no day had meetings; it would
      // add no partition, so it is not written
      if (newest.isDefined)
        // the batch's JSON is a local relation: one partition dedups it
        // without an Exchange, so the write is one job
        batch.select(from_json(col("value"), Schemas.meetings).as("r"), col("unit").as("run_date"))
          .select("r.*", "run_date")
          .coalesce(1)
          .dropDuplicates("run_date", "uuid") // §7.5.3: no double rows from retried pages
          .write.mode("overwrite").partitionBy("run_date").parquet(path("meetings"))
    }
    newest.map(LocalDate.parse)
  }

  /** Participants (§3.2 step 2) of the meetings days not loaded yet
    * ([[pendingDays]]; the reference anti-joins per meeting, main.py:79-85).
    * Per-uuid paged fetch in day order, one write per bounded batch of days
    * ([[loadKeyed]]) that puts each day's rows, `meeting_uuid` injected,
    * in one file of its run_date partition, so a retry overwrites instead
    * of duplicating. Returns the keys fetched (a uuid listed on two days
    * counts twice).
    */
  def loadParticipants(): Int = {
    val days = pendingDays("participants", "uuid") { case uuid: String => uuid }
    loadKeyed(days)(keyRecords("participants", _)) { batch =>
      keyedRows(batch, Schemas.participants, "meeting_uuid")
        .withColumnRenamed("unit", "run_date")
        .coalesce(1)
        .write.mode("overwrite").partitionBy("run_date").parquet(path("participants"))
    }
    days.map(_._2.size).sum
  }

  /** Meeting settings (§3.2 step 3) of the meetings days not loaded yet
    * ([[pendingDays]]; the reference anti-joins per meeting,
    * main.py:310-316). Single-shot fetch per id in day order, one write per
    * bounded batch of days ([[loadKeyed]]), one file per run_date
    * partition, nested-JSON flatten with null defaults (main.py:324-334).
    * Returns the keys fetched.
    */
  def loadMeetingSettings(): Int = {
    val days = pendingDays("meeting_settings", "id") { case id: Long => id }
    loadKeyed(days)(id =>
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
          get_json_object(col("value"), "$.settings.waiting_room").try_cast("boolean").as("waiting_room"),
          col("unit").as("run_date"))
        .coalesce(1)
        .write.mode("overwrite").partitionBy("run_date").parquet(path("meeting_settings"))
    }
    days.map(_._2.size).sum
  }

  /** Permission groups snapshot (S3 single-shot scan, main.py:125-135):
    * one-page fetch → declared-schema reindex → atomic overwrite (the
    * reference drops the table before inserting, main.py:129-130 — a
    * reader in that window sees nothing; overwrite here is atomic), one
    * Spark job. Returns the rows this call wrote, counted on the driver:
    * one per fetched record.
    */
  def loadGroups(): Long = snapshot("groups", Schemas.groups)

  /** Group-id lookup (main.py:137-147): optional name filter, ids sorted
    * on the driver for determinism (the reference inherits arbitrary DB
    * order), not deduplicated; a group without an id is skipped. The `id`
    * and `name` columns of the committed `groups` files are read on the
    * driver ([[Tables.readColumns]]), with no Spark job, on every call:
    * what a crashed run or another process committed is what is read. A
    * file without `name` matches no name; an absent table has no ids.
    * Driver edge: the group list is small by construction.
    */
  def groupIds(groupName: Option[String] = None): Seq[String] =
    Tables.readColumns(new Path(path("groups")), spark.sessionState.newHadoopConf(), Seq("id", "name"))
      .collect { case Seq(id: String, name) if groupName.forall(_ == name) => id }
      .sorted

  /** A4 first-match pick — the reference's `_get_group_ids("Students")[0]`
    * (main.py:186), total instead of crashing on a missing group.
    */
  def firstGroupId(groupName: String): Option[String] =
    groupIds(Some(groupName)).headOption

  /** Group members (S4 per-key scan, main.py:149-170): page loop per group
    * id ([[groupIds]]), one write per bounded batch of groups
    * ([[loadKeyed]]), parent-key injection, one partition per group so a
    * re-run overwrites instead of duplicating. No Spark job runs before the
    * first fetch. Returns the member rows this call wrote, counted on the
    * driver; the partitions of groups the API no longer lists stay in the
    * table and are not counted.
    */
  def loadGroupMembers(): Long =
    loadKeyed(groupIds().map(g => g -> Seq(g)))(keyRecords("group_members", _)) { batch =>
      keyedRows(batch, Schemas.groupMembers, "group_id")
        .drop("unit")
        .write.mode("overwrite").partitionBy("group_id").parquet(path("group_members"))
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
