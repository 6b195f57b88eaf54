package graft.index

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path, PathFilter}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

import graft._

/** The one reader of index artifacts. Each table is read with the fixed
  * schema of the rows its writers produce, so opening a table launches no
  * Spark job — `spark.read.parquet(path)` without a schema runs one job per
  * read just to infer the schema from the footers.
  *
  * An explicit schema would turn a missing column into silent nulls, where
  * inference failed at analysis. So every read first checks, on the driver
  * and with no Spark job, the parquet footer of one part file per table
  * directory, and fails loudly when an expected column is absent. The same
  * footer tells whether a postings table is positional (has `posBytes`),
  * which picks its schema.
  *
  * `IndexCheck` keeps schema inference on purpose: it is the verifier.
  */
object IndexFiles {

  val docsSchema: StructType = Encoders.product[DocRow].schema
  val dlensSchema: StructType = Encoders.product[ShardLens].schema
  val dictSchema: StructType = Encoders.product[TermStat].schema
  val postingsSchema: StructType = Encoders.product[PostingSeg].schema
  val positionalPostingsSchema: StructType = Encoders.product[PostingSegP].schema
  /** Tombstone rows as `Tombstones.applyDeletes` writes them. */
  val tombstoneSchema: StructType =
    new StructType().add("docId", LongType).add("shard", IntegerType)

  def docs(spark: SparkSession, dirs: Seq[String]): DataFrame =
    read(spark, docsSchema, dirs.map(d => s"$d/docs.parquet"))

  def dlens(spark: SparkSession, dirs: Seq[String]): DataFrame =
    read(spark, dlensSchema, dirs.map(d => s"$d/dlens.parquet"))

  def dict(spark: SparkSession, dirs: Seq[String]): DataFrame =
    read(spark, dictSchema, dirs.map(d => s"$d/dict.parquet"))

  /** Postings of `dirs`: [[PostingSegP]] rows (with `posBytes`) when every
    * dir is positional, [[PostingSeg]] rows when none is. The dirs must
    * agree: a mixed union would deserialize null `posBytes` for the
    * non-positional parts (an executor NPE in `Codec.decodePositions`).
    */
  def postings(spark: SparkSession, dirs: Seq[String]): DataFrame = {
    val tables = dirs.map(d => s"$d/postings.parquet")
    val cols = tables.map(t => t -> footerColumns(spark, t))
    cols.foreach { case (t, c) => c.foreach(requireColumns(t, _, postingsSchema)) }
    val positional = cols.map(_._2.exists(_.contains("posBytes")))
    require(positional.distinct.size == 1, "index dirs disagree on " +
      s"positional-ness, so they cannot be read or compacted together: ${dirs.zip(positional)}")
    spark.read.schema(if (positional.head) positionalPostingsSchema else postingsSchema)
      .parquet(tables: _*)
  }

  /** Whether a postings table read by [[postings]] is positional. */
  def isPositional(postings: DataFrame): Boolean = postings.columns.contains("posBytes")

  /** The tombstone table at `path` (one generation; see `Tombstones.read`). */
  def tombstones(spark: SparkSession, path: String): DataFrame =
    read(spark, tombstoneSchema, Seq(path))

  private def read(spark: SparkSession, schema: StructType,
                   tables: Seq[String]): DataFrame = {
    tables.foreach(t => footerColumns(spark, t).foreach(requireColumns(t, _, schema)))
    spark.read.schema(schema).parquet(tables: _*)
  }

  private def requireColumns(table: String, cols: Set[String],
                             schema: StructType): Unit = {
    val missing = schema.fieldNames.filterNot(cols.contains)
    require(missing.isEmpty, s"$table lacks column(s) " +
      s"${missing.mkString(", ")}; its footer has ${cols.toSeq.sorted.mkString(", ")}")
  }

  private val partFiles: PathFilter = (p: Path) =>
    p.getName.endsWith(".parquet") && !p.getName.startsWith("_") &&
      !p.getName.startsWith(".")

  /** Top-level columns in the footer of the first part file of `table` —
    * one listing and one footer read on the driver; None when the table has
    * no part file (then there are no rows to read).
    */
  private def footerColumns(spark: SparkSession, table: String): Option[Set[String]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(table)
    val parts = dir.getFileSystem(conf).listStatus(dir, partFiles)
    parts.map(_.getPath).sortBy(_.getName).headOption.map { first =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(first, conf))
      try reader.getFooter.getFileMetaData.getSchema.getFields.asScala
        .map(_.getName).toSet
      finally reader.close()
    }
  }
}
