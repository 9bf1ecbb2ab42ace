package org.apache.spark.sql.graft

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The Spark schema of one parquet file, read from its footer on the
  * driver. `spark.read.parquet(path)` infers the same schema in a Spark
  * job of its own (a one-task footer read), on every call; reading with
  * this schema given runs none. The conversion is Spark's own: the Spark
  * schema a Spark writer stores in the footer when there is one, else
  * `ParquetToSparkSchemaConverter` under the session's conf (binary as
  * string, INT96, timestamp NTZ inference, `nanosAsLong`). The session
  * state is `classic`-only, hence this package. */
object FooterSchema {

  /** The schema of the parquet file at `path`; None when `path` is not a
    * file (a directory, or nothing), where the caller's own read infers or
    * fails as Spark does. */
  def of(s: SparkSession, path: String): Option[StructType] = {
    val state = s.asInstanceOf[classic.SparkSession].sessionState
    val conf = state.newHadoopConf()
    val p = new Path(path)
    val status =
      try Some(p.getFileSystem(conf).getFileStatus(p))
      catch { case _: FileNotFoundException => None }
    status.filter(_.isFile).map { st =>
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(st, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, footer),
        new ParquetToSparkSchemaConverter(state.conf))
    }
  }
}
