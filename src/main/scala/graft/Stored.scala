package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, DataFrameReader, DataFrameWriter, Row,
  SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Parquet the engine writes and reads back itself. The writer keeps the
  * written frame's schema in `_schema.json` beside the files (Spark lists
  * no file whose name starts with `_`), and the reader reads the files
  * back with it: inferring the schema would run a one-task job to read a
  * file footer. A directory without the file is read with inference.
  * Directories are local paths.
  */
private[graft] object Stored {

  private def schemaFile(dir: String) = Paths.get(dir, "_schema.json")

  /** Writes `df` to `dir` as parquet, with the mode, partitioning and
    * options `how` sets, and keeps its schema.
    */
  def write(df: DataFrame, dir: String)(
      how: DataFrameWriter[Row] => DataFrameWriter[Row]): Unit = {
    how(df.write).parquet(dir)
    note(dir, df.schema)
  }

  /** Keeps `schema` as the schema of the parquet in `dir`, for a writer
    * that does not go through [[write]]: a streaming file sink.
    */
  def note(dir: String, schema: StructType): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(schemaFile(dir), schema.json)
  }

  /** A reader of the parquet in `dir`, with its kept schema if it has one. */
  def reader(s: SparkSession, dir: String): DataFrameReader = {
    val f = schemaFile(dir)
    if (!Files.exists(f)) s.read
    else s.read.schema(
      DataType.fromJson(Files.readString(f)).asInstanceOf[StructType])
  }

  /** The parquet in `dir`, read with its kept schema if it has one. */
  def read(s: SparkSession, dir: String): DataFrame =
    reader(s, dir).parquet(dir)
}
