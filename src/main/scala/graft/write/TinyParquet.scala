package graft.write

import java.nio.file.Path

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** Driver-side writer for TINY parquet segments (system-table ledger
  * rows: `_dlt_loads`, `_dlt_version`, `_dlt_pipeline_state`).
  *
  * Appending one ledger row through a Spark job costs a full job
  * submission + task launch + committer round-trip — pure fixed
  * overhead, measured 100-300 ms per call, and the load path pays it
  * once per load package per system table. A 1-row file needs none of
  * that: parquet-hadoop's example writer produces the same file a
  * Spark executor would, on the driver, in microseconds. Spark reads
  * the resulting mixed-segment table transparently (required vs
  * optional fields unify; the schema is identical otherwise).
  *
  * Only the shapes the ledgers need: non-null String / Int / Long
  * columns, a handful of rows. Anything bigger belongs on executors. */
object TinyParquet {

  /** One typed cell. */
  sealed trait Cell
  final case class SCell(v: String) extends Cell
  final case class ICell(v: Int) extends Cell
  final case class LCell(v: Long) extends Cell
  final case class DCell(v: Double) extends Cell

  /** Write `rows` (uniform `(name, cell)` sequences) to `path`, in the
    * store's codec ([[TableStore.StoreCompression]]) like every Spark-
    * written store file. */
  def write(path: Path, rows: Seq[Seq[(String, Cell)]]): Unit = {
    require(rows.nonEmpty, "TinyParquet.write needs at least one row")
    val cols = rows.head.map(_._1)
    require(rows.forall(_.map(_._1) == cols), "rows must share one schema")
    val schema: MessageType = {
      val b = Types.buildMessage()
      rows.head.foreach {
        case (n, _: SCell) => b.addField(Types.required(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(n))
        case (n, _: ICell) => b.addField(Types.required(PrimitiveTypeName.INT32).named(n))
        case (n, _: LCell) => b.addField(Types.required(PrimitiveTypeName.INT64).named(n))
        case (n, _: DCell) => b.addField(Types.required(PrimitiveTypeName.DOUBLE).named(n))
      }
      b.named("graft_tiny")
    }
    val factory = new SimpleGroupFactory(schema)
    val out = HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(path.toUri), new Configuration())
    val writer = ExampleParquetWriter.builder(out)
      .withType(schema)
      .withCompressionCodec(TableStore.StoreCompression)
      .build()
    try rows.foreach { row =>
      val g = factory.newGroup()
      row.foreach {
        case (n, SCell(v)) => g.append(n, v)
        case (n, ICell(v)) => g.append(n, v)
        case (n, LCell(v)) => g.append(n, v)
        case (n, DCell(v)) => g.append(n, v)
      }
      writer.write(g)
    } finally writer.close()
  }

  /** The row count of one parquet file, read from its footer alone. */
  def rowCount(path: Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path.toUri), new Configuration())
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try reader.getRecordCount finally reader.close()
  }

  /** Driver-side READ of one tiny parquet file — the other half of the
    * metadata fast path: resolving a collection manifest / index-config
    * row through a Spark job costs the same 100-300 ms fixed overhead
    * the writer above avoids, paid once per PROBE instead of once per
    * load. Reads both this writer's files (required fields) and
    * Spark-written ones (optional fields; a missing value reads as no
    * entry in the row map). Flat primitive schemas only — exactly the
    * ledger/manifest shapes; anything nested belongs on executors.
    * `column` projects the read onto that one column (the requested
    * schema `parquet.read.schema` sets), so a file whose other columns
    * this reader cannot decode (INT96 timestamps, nested values), such
    * as a tombstone's id file that is a data segment, still reads. The
    * projected column must be a string, int or long: an integer that
    * stands for a decimal, date or timestamp is refused, since its
    * value here would not be the one Spark reads. */
  def readFile(path: Path, column: Option[String] = None): Seq[Map[String, Any]] = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.api.InitContext
    import org.apache.parquet.hadoop.api.ReadSupport.ReadContext
    import org.apache.parquet.hadoop.example.GroupReadSupport
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.example.data.Group
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path.toUri), new Configuration())
    val support = column.fold(new GroupReadSupport()) { c =>
      new GroupReadSupport {
        override def init(ctx: InitContext): ReadContext = {
          val file = ctx.getFileSchema
          val f = file.getType(file.getFieldIndex(c))
          val plain = f.isPrimitive && ((f.asPrimitiveType.getPrimitiveTypeName,
              f.getLogicalTypeAnnotation) match {
            case (PrimitiveTypeName.BINARY, _: LogicalTypeAnnotation.StringLogicalTypeAnnotation) =>
              true
            case (PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64, a) =>
              a == null || a.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation]
            case _ => false
          })
          require(plain, s"TinyParquet.readFile: $c in $path is not a string, int or long")
          new ReadContext(new MessageType(file.getName, f))
        }
      }
    }
    val reader = ParquetReader.builder(support, in.getPath)
      .withConf(new Configuration()).build()
    val out = Seq.newBuilder[Map[String, Any]]
    try {
      var g: Group = reader.read()
      while (g != null) {
        val t = g.getType
        val row = (0 until t.getFieldCount).flatMap { i =>
          if (g.getFieldRepetitionCount(i) == 0) None
          else {
            val f = t.getType(i).asPrimitiveType()
            val name = f.getName
            val v: Any = f.getPrimitiveTypeName match {
              case PrimitiveTypeName.BINARY => g.getString(i, 0)
              case PrimitiveTypeName.INT32 => g.getInteger(i, 0)
              case PrimitiveTypeName.INT64 => g.getLong(i, 0)
              case PrimitiveTypeName.DOUBLE => g.getDouble(i, 0)
              case PrimitiveTypeName.FLOAT => g.getFloat(i, 0)
              case PrimitiveTypeName.BOOLEAN => g.getBoolean(i, 0)
              case other => throw new IllegalArgumentException(
                s"TinyParquet.readFile: unsupported primitive $other in $path")
            }
            Some(name -> v)
          }
        }.toMap
        out += row
        g = reader.read()
      }
    } finally reader.close()
    out.result()
  }
}
