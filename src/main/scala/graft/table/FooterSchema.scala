package graft.table

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graft.SchemaBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** The data schema Spark's parquet source would infer for a set of
  * committed files, read from their footers on the driver.
  *
  * `spark.read.parquet(paths)` without `.schema(…)` runs a one-task
  * Spark job (`mergeSchemasInParallel`) to read footers; a manifest-
  * pinned read knows its files already, so reading the footer here and
  * passing the schema saves that job on every pinned read. Partition
  * columns are not in the footers; `basePath` still derives them.
  */
object FooterSchema {

  /** The footer schemas of `files` merged in path order, as Spark's
    * inference converts and merges them.
    */
  def of(spark: SparkSession, files: Seq[Path]): StructType = {
    require(files.nonEmpty, "no files to read a schema from")
    val conf = spark.sparkContext.hadoopConfiguration
    val sql = SQLConf.get
    val converter = new ParquetToSparkSchemaConverter(sql)
    files.sortBy(_.toString).map { p =>
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromPath(p, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(p, footer), converter)
    }.reduce(SchemaBridge.merge(_, _, sql.caseSensitiveAnalysis))
  }

  /** Which of `entries` Spark's inference would read, as [[of]] needs
    * them: with `merge` false the first file in path order; with `merge`
    * true every file, less those whose schema fingerprint an earlier
    * file already carries (same fingerprint, same footer schema, and
    * merging a schema in twice changes nothing).
    */
  def sample(entries: Seq[ManifestEntry], merge: Boolean): Seq[ManifestEntry] = {
    val sorted = entries.sortBy(_.path)
    if (!merge) sorted.take(1)
    else {
      val seen = scala.collection.mutable.HashSet.empty[String]
      sorted.filter(e => e.schemaHash.forall(seen.add))
    }
  }
}
