package graft

import java.io.FileNotFoundException

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.MessageType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Harness-contract table loader: one parquet file per table under the
  * scale-factor dir (/root/repo/TESTDATA.md). All declared queries read
  * exclusively through this so the scan path is uniform (vectorized parquet
  * reader, pushdown-friendly).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Relation-metadata cache, the role a catalog/metastore plays for real
  // tables: `spark.read.parquet` re-lists the directory and re-reads the
  // footer schema on EVERY call, and the slate calls load() a couple of
  // times per query over immutable inputs (the harness testdata is
  // read-only by contract, so the captured file listing cannot go stale).
  // Caching the DataFrame handle (the analyzed relation — NOT the data; no
  // persist here) removes that repeated driver-side metadata work.
  // Eviction is EXPLICIT, not weak-reference based: the cached DataFrames
  // strongly reference their own SparkSession (Dataset → QueryExecution →
  // session), so a WeakHashMap keyed by session could never reclaim an
  // entry — the value pins the key (the WeakHashMap javadoc's classic
  // self-referencing-value trap). Instead every load() drops entries whose
  // SparkContext is stopped, so stopped sessions + analyzed plans are
  // freed on the next cache touch (test suites and repeated tool mains
  // create many sessions per JVM).
  private val relations =
    new java.util.concurrent.ConcurrentHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]]()

  def load(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val it = relations.keySet().iterator()
    while (it.hasNext) if (it.next().sparkContext.isStopped) it.remove()
    val perSession = relations.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]())
    perSession.computeIfAbsent((sfDir, table), { _ =>
      if (table == "events") loadEvents(spark, sfDir)
      else read(spark, s"$sfDir/$table.parquet")
    })
  }

  /** `spark.read.parquet(file)`. A single file is read without Spark's
    * schema-inference job: the schema comes from its footer, read on the
    * driver. A directory (specs write tables as Spark output directories)
    * keeps Spark's inference, which also finds partition columns and
    * summary files; so does a missing path, which fails as before. */
  private def read(spark: SparkSession, file: String): DataFrame = {
    val path = new Path(file)
    val isFile = try path.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(path).isFile
      catch { case _: FileNotFoundException => false }
    if (isFile) spark.read.schema(footerSchema(spark, file)).parquet(file)
    else spark.read.parquet(file)
  }

  /** The schema `spark.read.parquet` infers for one file: the Spark schema
    * stored under its row-metadata key when the file carries one, else
    * the Parquet schema converted under the session conf (binary-as-string,
    * INT96, NTZ and nanos settings included). */
  private[graft] def footerSchema(spark: SparkSession, file: String): StructType = {
    val path = new Path(file)
    val conf = spark.sessionState.newHadoopConf()
    val reader = openParquet(path.getFileSystem(conf).getFileStatus(path), conf)
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(path, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Opens one Parquet file on the driver with read options built from
    * `conf` (pass the session's Hadoop conf). The one-argument
    * `ParquetFileReader.open(InputFile)` builds its options from a fresh
    * Hadoop `Configuration`, which parses the default XML resources again
    * on every call and ignores the session's settings. */
  private[graft] def openParquet(file: FileStatus, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf), HadoopReadOptions.builder(conf).build())

  /** The values of the flat `columns` in each record of the data files
    * directly under `dir`, read on the driver with parquet-mr and no Spark
    * job: each file's footer, then only those columns' chunks. A row holds
    * one value per column, null where the value is null or the file lacks
    * the column (a declared-schema read gives it nulls); a file with none
    * of `columns` gives no rows. BINARY is read as a String and INT64 as a
    * Long; a column of another type fails. The data
    * files are those Spark's file index reads: names starting with `_` or
    * `.` and names ending in `._COPYING_` are skipped. An absent `dir` has
    * no rows. */
  private[graft] def readColumns(dir: Path, conf: Configuration, columns: Seq[String]): Seq[IndexedSeq[Any]] = {
    def dataFile(f: FileStatus) = {
      val n = f.getPath.getName
      f.isFile && !n.startsWith("_") && !n.startsWith(".") && !n.endsWith("._COPYING_")
    }
    def value(r: Group, i: Int): Any = r.getType.getType(i).asPrimitiveType.getPrimitiveTypeName match {
      case PrimitiveTypeName.BINARY => r.getString(i, 0)
      case PrimitiveTypeName.INT64 => r.getLong(i, 0)
      case t => throw new UnsupportedOperationException(
        s"$dir: column ${r.getType.getFieldName(i)} is $t; only BINARY and INT64 columns are read")
    }
    def rowsOf(f: FileStatus): Seq[IndexedSeq[Any]] = {
      val reader = openParquet(f, conf)
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        val present = columns.filter(schema.containsField)
        if (present.isEmpty) return Nil
        val requested = new MessageType(schema.getName, present.map(c => schema.getType(schema.getFieldIndex(c))): _*)
        reader.setRequestedSchema(requested)
        val io = new ColumnIOFactory().getColumnIO(requested, schema)
        val at = columns.map(c => if (requested.containsField(c)) requested.getFieldIndex(c) else -1).toIndexedSeq
        val rows = ArrayBuffer.empty[IndexedSeq[Any]]
        var rowGroup = reader.readNextRowGroup()
        while (rowGroup != null) {
          val records = io.getRecordReader(rowGroup, new GroupRecordConverter(requested))
          for (_ <- 0L until rowGroup.getRowCount) {
            val r = records.read()
            rows += at.map(i => if (i < 0 || r.getFieldRepetitionCount(i) == 0) null else value(r, i))
          }
          rowGroup = reader.readNextRowGroup()
        }
        rows.toSeq
      } finally reader.close()
    }
    val files = try dir.getFileSystem(conf).listStatus(dir).toSeq
      catch { case _: FileNotFoundException => Nil }
    files.filter(dataFile).flatMap(rowsOf)
  }

  /** Register every harness table as a temp view so the engine's FULL
    * surface is reachable through plain `spark.sql(...)` — the way the
    * reference's users issue queries (its two embedded SQL statements,
    * /root/reference/main.py:80-84 and main.py:311-315, run against
    * warehouse tables by name). Schema qualifiers (`custom.`) map to the
    * bare view name; SqlSurfaceSpec runs the reference's statements
    * verbatim-modulo-qualifier and checks parity with the DataFrame ops.
    */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects ([PARQUET_TYPE_ILLEGAL]). Read it as raw nanos via the
    * legacy conf and convert to a microsecond TimestampType column
    * (integral divide — exact for the harness data, which carries no
    * sub-microsecond component).
    */
  private def loadEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(spark, s"$sfDir/events.parquet")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }
}
