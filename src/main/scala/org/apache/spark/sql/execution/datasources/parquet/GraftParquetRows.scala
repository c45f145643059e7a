package org.apache.spark.sql.execution.datasources.parquet

import java.time.ZoneId

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.types.StructType

/** Driver-side bridge onto Spark's own parquet reader and writer, for
  * tables small enough to hold on the driver. A read decodes one file
  * through Spark's row-based record materializer (package-private, hence
  * this package) under the schema, clipping, calendar-rebase and INT96
  * rules a scan applies; a write goes through `ParquetFileFormat`'s
  * `prepareWrite` and the `OutputWriterFactory` it returns. Neither runs
  * a task, creates a broadcast or copies the Hadoop configuration.
  */
object GraftParquetRows {

  /** One parquet file's schema and every row, in file order. The schema
    * is the footer's, by Spark's inference rule (the Spark row-metadata
    * key, else the parquet schema converted under the session conf).
    */
  def read(spark: SparkSession, file: FileStatus): (StructType, Seq[Row]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val sqlConf = spark.sessionState.conf
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
      HadoopReadOptions.builder(conf).build())
    try {
      val meta = reader.getFooter.getFileMetaData
      val converter = new ParquetToSparkSchemaConverter(sqlConf)
      val schema = ParquetFileFormat.readSchemaFromFooter(
        new Footer(file.getPath, reader.getFooter), converter)
      val requested = ParquetReadSupport.clipParquetSchema(meta.getSchema, schema,
        sqlConf.caseSensitiveAnalysis, sqlConf.parquetFieldIdReadEnabled, false)
      reader.setRequestedSchema(requested)
      val options = new ParquetOptions(Map.empty[String, String], sqlConf)
      val kv = meta.getKeyValueMetaData
      val convertTz =
        if (sqlConf.isParquetINT96TimestampConversion &&
            !Option(meta.getCreatedBy).exists(_.startsWith("parquet-mr")))
          Some(ZoneId.of(sqlConf.sessionLocalTimeZone))
        else None
      val materializer = new ParquetRecordMaterializer(requested,
        ParquetReadSupport.expandUDT(schema), converter, convertTz,
        DataSourceUtils.datetimeRebaseSpec(kv.get, options.datetimeRebaseModeInRead),
        DataSourceUtils.int96RebaseSpec(kv.get, options.int96RebaseModeInRead))
      val columns = new ColumnIOFactory(meta.getCreatedBy)
        .getColumnIO(requested, meta.getSchema, true)
      // the materializer reuses its row; the converter copies each one out
      val toRow = CatalystTypeConverters.createToScalaConverter(schema.asNullable)
      val out = ArrayBuffer.empty[Row]
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val records = columns.getRecordReader(pages, materializer, FilterCompat.NOOP)
        var i = 0L
        while (i < pages.getRowCount) {
          out += toRow(records.read()).asInstanceOf[Row]
          i += 1
        }
        pages = reader.readNextRowGroup()
      }
      (schema, out.toSeq)
    } finally reader.close()
  }

  /** Write `rows` as one new part file in `dir` with Spark's parquet writer,
    * configured by `prepareWrite` exactly as a `DataFrameWriter` task
    * would be (codec, timestamp type, legacy format, field ids and the
    * Spark row metadata follow the session conf).
    */
  def write(spark: SparkSession, dir: String, schema: StructType, rows: Seq[Row]): Unit = {
    val conf = new ConfOverlay(spark.sparkContext.hadoopConfiguration)
    val ctx = new TaskAttemptContextImpl(conf,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
    // the writer's rebase metadata reads SQLConf.get: the session's own
    spark.withActive {
      val factory = new ParquetFileFormat()
        .prepareWrite(spark, newJob(conf), Map.empty, schema)
      val file = new Path(dir,
        s"part-00000-${java.util.UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}")
      val writer = factory.newInstance(file.toString, schema, ctx)
      val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
      try rows.foreach(r => writer.write(toInternal(r).asInstanceOf[InternalRow]))
      finally writer.close()
    }
  }

  /** `Job.getInstance` copies its configuration; the package-private
    * constructor keeps a `JobConf` as given.
    */
  private lazy val jobCtor = {
    val c = classOf[Job].getDeclaredConstructor(classOf[JobConf])
    c.setAccessible(true)
    c
  }

  private def newJob(conf: JobConf): Job = jobCtor.newInstance(conf)

  /** The session's Hadoop configuration under a private layer: keys set
    * here (the ones `prepareWrite` sets) stay in the layer, reads by name
    * and iteration fall through to `base`. A `JobConf`, so Hadoop's job
    * and task contexts keep it instead of copying it.
    */
  private final class ConfOverlay(base: Configuration) extends JobConf(false) {
    // JobConf's constructor reads keys before `base` is assigned
    override def get(name: String): String = {
      val own = super.get(name)
      if (own != null || base == null) own else base.get(name)
    }
    override def get(name: String, default: String): String =
      Option(get(name)).getOrElse(default)
    override def getRaw(name: String): String = {
      val own = super.getRaw(name)
      if (own != null || base == null) own else base.getRaw(name)
    }
    override def iterator(): java.util.Iterator[java.util.Map.Entry[String, String]] = {
      val all = new java.util.HashMap[String, String]()
      base.iterator().forEachRemaining(e => all.put(e.getKey, e.getValue))
      super.iterator().forEachRemaining(e => all.put(e.getKey, e.getValue))
      all.entrySet().iterator()
    }
  }
}
