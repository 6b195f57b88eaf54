package graft.index

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, PathFilter}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.ParquetProperties.WriterVersion
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.{CompressionCodecName, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveComparator
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
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
  *
  * [[DictReader]] answers term lookups (df and shard list) on the driver
  * with parquet-mr: it picks the dict files whose footer term range covers a
  * term and reads them with a `term` filter, launching no Spark job.
  * [[lens]] reads the norms rows the same way, [[tombstoneIds]] the docIds
  * of a tombstone generation, and [[TableWriter]] is the writer twin an
  * ingest batch's one task writes its four tables with (and `applyDeletes`
  * its tombstone generation).
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

  /** The dlens rows of `dirs`, read on the driver with parquet-mr — no
    * Spark job — after the footer column check of every part file.
    */
  private[graft] def lens(spark: SparkSession, dirs: Seq[String]): Seq[ShardLens] = {
    val conf = spark.sparkContext.hadoopConfiguration
    dirs.flatMap(d => partFilesOf(conf, s"$d/dlens.parquet")).flatMap { path =>
      val file = HadoopInputFile.fromPath(path, conf)
      val footer = footerOf(file)
      requireColumns(path.toString, columnsOf(footer), dlensSchema)
      readRecords(file, footer, conf, FilterCompat.NOOP)(g =>
        ShardLens(g.getInteger("shard", 0), g.getLong("firstDocId", 0), ints(g, "lens")))
    }
  }

  /** The docIds of the tombstone generation `table`, read on the driver with
    * parquet-mr — no Spark job — from every part file, after the footer
    * column check of each, in file order: a generation Spark wrote in
    * several parts is neither sorted nor distinct across them.
    */
  private[graft] def tombstoneIds(spark: SparkSession, table: String): Array[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    partFilesOf(conf, table).toArray.flatMap { path =>
      val file = HadoopInputFile.fromPath(path, conf)
      val footer = footerOf(file)
      requireColumns(path.toString, columnsOf(footer), tombstoneSchema)
      readRecords(file, footer, conf, FilterCompat.NOOP)(_.getLong("docId", 0))
    }
  }

  /** Rows per page of a dict file, whose pages are parquet v2 (see
    * `IndexBuilder.writeDict`).
    */
  val DictPageRows = 1000

  /** One index table written from inside a task as the single part file of
    * the table directory `table`, with parquet-mr. The parquet schema is
    * Spark's own conversion of the table's row schema and the compression is
    * SNAPPY, as in Spark's writes, so the file's footer schema equals that
    * of the same table written by Spark. A dict table (`dict = true`) gets
    * the dict's page settings: v2 pages of at most [[DictPageRows]] rows.
    */
  private[graft] final class TableWriter(table: String, schema: StructType,
                                         conf: Configuration, dict: Boolean = false) {
    private val messageType = new SparkToParquetSchemaConverter().convert(schema)
    private val groups = new SimpleGroupFactory(messageType)
    private val writer = {
      val b = ExampleParquetWriter.builder(new Path(table, "part-00000.snappy.parquet"))
        .withConf(conf).withType(messageType)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      (if (dict) b.withWriterVersion(WriterVersion.PARQUET_2_0).withPageRowCountLimit(DictPageRows)
       else b).build()
    }
    private var rows = 0L

    /** Writes `row`, a case class of the table's row type. */
    def write(row: Product): Unit = {
      val g = groups.newGroup()
      var i = 0
      while (i < row.productArity) { add(g, i, row.productElement(i)); i += 1 }
      writer.write(g)
      rows += 1
    }

    /** Closes the file and returns the number of rows written. */
    def close(): Long = { writer.close(); rows }
  }

  /** `v` as field `i` of `g`: a null stays absent, and an array becomes the
    * three-level LIST group Spark writes (a repeated `list` group holding
    * one `element` each).
    */
  private def add(g: Group, i: Int, v: Any): Unit = v match {
    case null =>
    case s: String => g.add(i, s)
    case x: Int => g.add(i, x)
    case x: Long => g.add(i, x)
    case x: Float => g.add(i, x)
    case b: Array[Byte] => g.add(i, Binary.fromConstantByteArray(b))
    case a: Array[_] =>
      val list = g.addGroup(i)
      a.foreach(x => add(list.addGroup(0), 0, x))
  }

  /** Term lookups in the dict tables of `dirs` (a base and its deltas),
    * answered on the driver with no Spark job. The footers of every dict
    * part file are read once, on the first lookup, and checked for the dict
    * columns. A lookup reads only the files whose footer term range covers a
    * wanted term, with an `IN` filter on `term` that prunes row groups by
    * statistics and pages by the column index. Per term, df and cf are
    * summed and the shard lists merged over the dirs; a term in no dict is
    * absent from the result. Safe to call from several threads.
    */
  private[graft] final class DictReader(spark: SparkSession, dirs: Seq[String]) {
    private val conf = spark.sparkContext.hadoopConfiguration

    /** One dict part file: its footer and the term range its row groups
      * span (null bounds when a row group has no range statistics: then
      * every lookup reads the file).
      */
    private case class Part(file: HadoopInputFile, footer: ParquetMetadata,
                            lo: Binary, hi: Binary) {
      def covers(t: Binary): Boolean =
        lo == null || (termOrder.lteq(lo, t) && termOrder.lteq(t, hi))
    }

    private lazy val parts: Seq[Part] = dirs.flatMap { d =>
      partFilesOf(conf, s"$d/dict.parquet").flatMap { path =>
        val file = HadoopInputFile.fromPath(path, conf)
        val footer = footerOf(file)
        requireColumns(path.toString, columnsOf(footer), dictSchema)
        val stats = footer.getBlocks.asScala.filter(_.getRowCount > 0).map(
          _.getColumns.asScala.find(_.getPath.toDotString == "term").get.getStatistics)
        if (stats.isEmpty) None
        else if (!stats.forall(_.hasNonNullValue)) Some(Part(file, footer, null, null))
        else Some(Part(file, footer,
          stats.map(_.genericGetMin.asInstanceOf[Binary]).min(termOrder),
          stats.map(_.genericGetMax.asInstanceOf[Binary]).max(termOrder)))
      }
    }

    def lookup(terms: Seq[String]): Map[String, TermStat] = {
      val want = terms.distinct.map(Binary.fromString)
      val found = mutable.Map.empty[String, TermStat]
      for (p <- parts; in = want.filter(p.covers) if in.nonEmpty; r <- read(p, in.toSet))
        found(r.term) = found.get(r.term).fold(r)(f => TermStat(r.term, f.df + r.df,
          f.cf + r.cf, (f.shards ++ r.shards).distinct.sorted))
      found.toMap
    }

    /** The rows of one part file whose term is in `terms`. */
    private def read(p: Part, terms: Set[Binary]): Seq[TermStat] = {
      val filter = FilterCompat.get(FilterApi.in(FilterApi.binaryColumn("term"), terms.asJava))
      readRecords(p.file, p.footer, conf, filter)(g =>
        TermStat(g.getString("term", 0), g.getLong("df", 0), g.getLong("cf", 0),
          ints(g, "shards"))).toSeq
    }
  }

  /** The records of one part file that pass `filter` (row groups pruned by
    * statistics, pages by the column index), each converted by `row`.
    */
  private def readRecords[T: ClassTag](file: HadoopInputFile, footer: ParquetMetadata,
                                       conf: Configuration, filter: FilterCompat.Filter)(
                                       row: Group => T): Array[T] = {
    val options = HadoopReadOptions.builder(conf).withRecordFilter(filter).build()
    val reader = new ParquetFileReader(file, footer, options, file.newStream())
    val schema = footer.getFileMetaData.getSchema
    val io = new ColumnIOFactory().getColumnIO(schema)
    val out = Array.newBuilder[T]
    try {
      var pages = reader.readNextFilteredRowGroup()
      while (pages != null) {
        val records = io.getRecordReader(pages, new GroupRecordConverter(schema), filter)
        var i = 0L
        while (i < pages.getRowCount) {
          val g = records.read()
          if (g != null && !records.shouldSkipCurrentRecord()) out += row(g)
          i += 1
        }
        pages = reader.readNextFilteredRowGroup()
      }
    } finally reader.close()
    out.result()
  }

  /** The int array in the LIST column `field` of `g`. */
  private def ints(g: Group, field: String): Array[Int] = {
    val list = g.getGroup(field, 0)
    Array.tabulate(list.getFieldRepetitionCount(0))(j => list.getGroup(0, j).getInteger(0, 0))
  }

  private def footerOf(file: HadoopInputFile): ParquetMetadata = {
    val reader = ParquetFileReader.open(file)
    try reader.getFooter finally reader.close()
  }

  private def columnsOf(footer: ParquetMetadata): Set[String] =
    footer.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSet

  /** The order of parquet's statistics on a string column: unsigned bytes
    * of the UTF-8 encoding, which is also Spark's string order.
    */
  private val termOrder: Ordering[Binary] =
    Ordering.comparatorToOrdering(PrimitiveComparator.UNSIGNED_LEXICOGRAPHICAL_BINARY_COMPARATOR)

  private def requireColumns(table: String, cols: Set[String],
                             schema: StructType): Unit = {
    val missing = schema.fieldNames.filterNot(cols.contains)
    require(missing.isEmpty, s"$table lacks column(s) " +
      s"${missing.mkString(", ")}; its footer has ${cols.toSeq.sorted.mkString(", ")}")
  }

  private val partFiles: PathFilter = (p: Path) =>
    p.getName.endsWith(".parquet") && !p.getName.startsWith("_") &&
      !p.getName.startsWith(".")

  /** The part files of `table`, in name order. */
  private def partFilesOf(conf: Configuration, table: String): Seq[Path] = {
    val dir = new Path(table)
    dir.getFileSystem(conf).listStatus(dir, partFiles).map(_.getPath).sortBy(_.getName).toSeq
  }

  /** Top-level columns in the footer of the first part file of `table` —
    * one listing and one footer read on the driver; None when the table has
    * no part file (then there are no rows to read).
    */
  private def footerColumns(spark: SparkSession, table: String): Option[Set[String]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    partFilesOf(conf, table).headOption.map(first =>
      columnsOf(footerOf(HadoopInputFile.fromPath(first, conf))))
  }
}
