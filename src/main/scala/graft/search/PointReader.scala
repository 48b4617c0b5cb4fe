package graft.search

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.{FilterCompat, RowGroupFilter}
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, Operators}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** Driver-side point reads of one reader's Parquet tables — the searcher's
  * own TermContext.Build and IndexSearcher.doc lookups, with no Spark job.
  * A table directory is listed once and each file's footer read once, on
  * first use; later lookups only open the files whose row groups survive
  * the footer min/max filter. An opened file further prunes row groups by
  * their dictionary pages and pages by the column index, reads only the
  * projected columns, and every row it yields is re-checked exactly by the
  * caller's `keep`. Thread-safe: concurrent queries share the listings,
  * footers and counters.
  */
private[search] final class PointReader(conf: Configuration) {
  import PointReader._

  private final class DataFile(val status: FileStatus) {
    lazy val footer: ParquetMetadata = {
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(status, conf))
      try r.getFooter finally r.close()
    }
    def schema: MessageType = footer.getFileMetaData.getSchema
    def rowGroups: Int = footer.getBlocks.size
  }

  private val tables = new ConcurrentHashMap[String, IndexedSeq[DataFile]]()
  private val filesOpened, rowGroupsRead, rowGroupsSkipped, rowsReturned = new AtomicLong

  /** The data files of the table directory `dir` (not its subdirectories),
    * listed once; none when it does not exist. Like Spark's listing, names
    * starting with `_` or `.` are not data. */
  private def files(dir: String): IndexedSeq[DataFile] =
    tables.computeIfAbsent(dir, { d =>
      val p = new Path(d)
      val listed =
        try p.getFileSystem(conf).listStatus(p).toIndexedSeq
        catch { case _: java.io.FileNotFoundException => IndexedSeq.empty }
      listed.filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .sortBy(_.getPath.getName).map(new DataFile(_))
    })

  /** Whether `dir` holds at least one data file. */
  def nonEmpty(dir: String): Boolean = files(dir).nonEmpty

  /** Rows of `dir` by its footers, with no data read. */
  def rowTotal(dir: String): Long =
    files(dir).iterator.flatMap(_.footer.getBlocks.asScala).map(_.getRowCount).sum

  /** The `columns` of the rows of `dir` that `where` may hold and `keep`
    * accepts, one array per row in column order: strings for binary
    * columns, boxed Int/Long for integers, null for a null value. `where`
    * builds the pushed-down predicate from a file's schema (None reads
    * every row). */
  def read(dir: String, columns: Seq[String], where: MessageType => Option[Pred])
          (keep: Array[Any] => Boolean): Vector[Array[Any]] = {
    val out = Vector.newBuilder[Array[Any]]
    files(dir).foreach { f =>
      val schema = f.schema
      val pred = where(schema)
      val filter = pred.fold(FilterCompat.NOOP)(p => FilterCompat.get(p.filter))
      val mayHold = pred.isEmpty ||
        !RowGroupFilter.filterRowGroups(filter, f.footer.getBlocks, schema).isEmpty
      if (!mayHold) rowGroupsSkipped.addAndGet(f.rowGroups)
      else {
        // the filtered columns are read too: the column-index filter takes a
        // column outside the projection for all-null
        val projected = (columns ++ pred.fold(Seq.empty[String])(_.columns.toSeq)).distinct
        val projection = new MessageType(schema.getName, projected.map(fieldOf(schema, _)).asJava)
        val kinds = columns.map(c => kindOf(fieldOf(schema, c)))
        val in = HadoopInputFile.fromStatus(f.status, conf)
        val reader = new ParquetFileReader(in, f.footer,
          HadoopReadOptions.builder(conf).withRecordFilter(filter).build(), in.newStream())
        filesOpened.incrementAndGet()
        var read = 0
        try {
          reader.setRequestedSchema(projection)
          val io = new ColumnIOFactory().getColumnIO(projection, schema)
          var pages = reader.readNextFilteredRowGroup()
          while (pages != null) {
            read += 1
            // the record filter skips assembling the rows the predicate rejects
            val records = io.getRecordReader(pages, new GroupRecordConverter(projection), filter)
            var i = 0L
            while (i < pages.getRowCount) {
              val g = records.read()
              if (g != null) {
                val row = new Array[Any](columns.length)
                var c = 0
                while (c < columns.length) { row(c) = valueOf(g, columns(c), kinds(c)); c += 1 }
                if (keep(row)) { out += row; rowsReturned.incrementAndGet() }
              }
              i += 1
            }
            pages = reader.readNextFilteredRowGroup()
          }
        } finally reader.close()
        rowGroupsRead.addAndGet(read)
        rowGroupsSkipped.addAndGet(f.rowGroups - read)
      }
    }
    out.result()
  }

  def counters: Searcher.PointReads =
    Searcher.PointReads(filesOpened.get, rowGroupsRead.get, rowGroupsSkipped.get, rowsReturned.get)
}

private[search] object PointReader {
  private sealed trait Kind
  private case object Str extends Kind
  private case object I32 extends Kind
  private case object I64 extends Kind

  /** The top-level field `column` of `schema`. */
  private def fieldOf(schema: MessageType, column: String): org.apache.parquet.schema.Type =
    schema.getType(schema.getFieldIndex(column))

  private def kindOf(t: org.apache.parquet.schema.Type): Kind =
    t.asPrimitiveType.getPrimitiveTypeName match {
      case PrimitiveTypeName.BINARY => Str
      case PrimitiveTypeName.INT32 => I32
      case PrimitiveTypeName.INT64 => I64
      case other => throw new UnsupportedOperationException(s"point read of a $other column")
    }

  private def valueOf(g: Group, column: String, kind: Kind): Any =
    if (g.getFieldRepetitionCount(column) == 0) null
    else kind match {
      case Str => g.getString(column, 0)
      case I32 => g.getInteger(column, 0)
      case I64 => g.getLong(column, 0)
    }

  /** A pushed-down filter2 predicate and the columns it filters on. */
  final case class Pred(filter: FilterPredicate, columns: Set[String]) {
    def and(o: Pred): Pred = Pred(FilterApi.and(filter, o.filter), columns ++ o.columns)
    def or(o: Pred): Pred = Pred(FilterApi.or(filter, o.filter), columns ++ o.columns)
  }

  /** `column` equals one of `values`: `eq` for one value, `in` for more. */
  def binaryIn(column: String, values: Iterable[String]): Pred = {
    val c = FilterApi.binaryColumn(column)
    val vs = values.map(Binary.fromString).toSet
    Pred(if (vs.size == 1) FilterApi.eq[Binary, Operators.BinaryColumn](c, vs.head)
      else FilterApi.in[Binary, Operators.BinaryColumn](c, vs.asJava), Set(column))
  }

  def intIn(column: String, values: Iterable[Int]): Pred = {
    val c = FilterApi.intColumn(column)
    val vs = values.map(Int.box).toSet
    Pred(if (vs.size == 1) FilterApi.eq[Integer, Operators.IntColumn](c, vs.head)
      else FilterApi.in[Integer, Operators.IntColumn](c, vs.asJava), Set(column))
  }

  /** Whether `column` of `schema` is a 32-bit int (the filter2 column type
    * must match the file's). */
  def isInt32(schema: MessageType, column: String): Boolean =
    schema.containsField(column) && {
      val t = fieldOf(schema, column)
      t.isPrimitive && t.asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT32
    }
}
