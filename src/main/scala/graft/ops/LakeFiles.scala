package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, regexp_replace}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Data-file plumbing the four table formats share: how a file's path
  * is spelled on both sides of a join against `_metadata.file_path`,
  * and parquet scans planned without a schema-inference job. */
object LakeFiles {

  /** `_metadata.file_path` without its `file:` scheme. Spark reports the
    * path URI-encoded (`4-NOT%20SPECIFIED`), so driver-side maps keyed
    * by a file's path must key it through [[key]]. */
  def pathCol: Column = regexp_replace(col("_metadata.file_path"), "^file:+", "")

  /** `path` spelled the way [[pathCol]] reports it: URI-encoded, no
    * scheme. A raw path differs from Spark's spelling whenever a
    * partition value holds a space, `%` or another character a URI
    * escapes, and a lookup by the raw path then silently misses. */
  def key(path: String): String =
    new Path(path).toUri.toString.replaceAll("^file:+", "")

  /** Spark's schema of one parquet file, from its footer read on the
    * driver: the schema a scan led by this file would infer (every
    * field nullable, as a file source reads it), without the inference
    * job. */
  def footerSchema(spark: SparkSession, path: String): StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    val p = new Path(path)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p,
        spark.sessionState.newHadoopConf()))
    try nullable(ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(p, reader.getFooter),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
      .asInstanceOf[StructType]
    finally reader.close()
  }

  private def nullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  /** A parquet scan of `paths` planned with `schema`, or, when none is
    * declared, with the first file's footer schema (what inference
    * would pick without `mergeSchema`). */
  def scan(spark: SparkSession, paths: Seq[String],
           schema: Option[StructType] = None): DataFrame =
    spark.read.schema(schema.getOrElse(footerSchema(spark, paths.head)))
      .parquet(paths: _*)
}
