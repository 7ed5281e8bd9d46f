package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * TIMESTAMP(NANOS) parquet columns are not readable as timestamps by Spark
 * (PARQUET_TYPE_ILLEGAL); with `spark.sql.legacy.parquet.nanosAsLong=true`
 * they surface as LongType nanos-since-epoch. This shim inspects the file
 * footer (driver-side, one footer, cheap) and converts such columns back to
 * micro-precision timestamps with exact integer arithmetic (`div 1000` —
 * a double round-trip would lose precision: nanos epochs exceed 2^53).
 */
object ParquetNanos {

  /** Column names whose parquet logical type is TIMESTAMP(NANOS). */
  def nanosColumns(spark: SparkSession, path: String): Seq[String] = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Nil
    val file =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).map(_.getPath).find(_.getName.endsWith(".parquet"))
      else Some(p)
    file match {
      case None => Nil
      case Some(f) =>
        val footer = ParquetFileReader.readFooter(conf, f, ParquetMetadataConverter.NO_FILTER)
        footer.getFileMetaData.getSchema.getFields.asScala.toSeq.collect {
          case field if field.isPrimitive &&
              (field.getLogicalTypeAnnotation match {
                case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                  t.getUnit == TimeUnit.NANOS
                case _ => false
              }) => field.getName
        }
    }
  }

  /** Read parquet with nanos-timestamp columns converted to TimestampType.
    *
    * Micros columns written without UTC adjustment surface as
    * TIMESTAMP_NTZ under Spark's parquet NTZ inference; the engine
    * normalizes them to TimestampType so every downstream consumer
    * (event-time windows, watermarks, keyset cursors) sees one
    * timestamp type regardless of how the producer annotated the file.
    * The session runs in UTC, so the cast is value-identical.
    *
    * The raw schema and the nanos column list come from the session's
    * [[TableResolver]], so reopening an unchanged table launches no job.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val (df, nanos) = TableResolver.openWithNanos(spark, path)
    val converted = nanos.foldLeft(df) { (acc, c) =>
      acc.withColumn(c, timestamp_micros(expr(s"`$c` div 1000")))
    }
    converted.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.TimestampNTZType => f.name
    }.foldLeft(converted) { (acc, c) =>
      acc.withColumn(c, col(c).cast(org.apache.spark.sql.types.TimestampType))
    }
  }
}
