package graft.sources

import java.util


import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 batch source for OTLP logs payload files: a directory of
  * raw ExportLogsServiceRequest protobufs (one request per file — the
  * shape an acceptor spools to blob storage before ingest) reads as a
  * Spark table of gen-2 log rows.
  *
  *   spark.read.format("otlp-logs").load(dir)
  *
  * Scale shape: one InputPartition PER FILE — 10k spooled request files
  * fan out to 10k independent decode tasks with no shuffle and no driver
  * decode; the wire parser (Otlp.decodeLogsRequest, a hand-rolled public
  * wire-format reader, no codec deps) runs inside each task. Column
  * pruning is pushed into the reader: a `count(*)` or a two-column
  * projection materializes only those fields per row (the protobuf
  * payload itself is always fully walked — field skipping happens at
  * row-assembly, the dominant allocation cost).
  */
class OtlpLogsSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "otlp-logs"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OtlpLogsSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new OtlpLogsTable(Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("otlp-logs: .load(path) is required")))
}

object OtlpLogsSource {
  /** the gen-2 logs row shape — same encoder the flatMap path uses. */
  val schema: StructType = Encoders.product[Otlp.LogRow].schema
}

private[sources] class OtlpLogsTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"otlp-logs:$path"
  override def schema(): StructType = OtlpLogsSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new OtlpLogsScanBuilder(path)
}

private[sources] class OtlpLogsScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = OtlpLogsSource.schema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new OtlpLogsScan(path, required)
}

private[sources] class OtlpLogsScan(path: String, required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    // driver-side file listing only — decode happens in the tasks
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith(".")
        && !st.getPath.getName.startsWith("_"))
      .sortBy(_.getPath.getName)
      .map(st => OtlpFilePartition(st.getPath.toString): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new OtlpLogsReaderFactory(required)
}

private[sources] case class OtlpFilePartition(file: String) extends InputPartition

private[sources] class OtlpLogsReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new OtlpLogsReader(partition.asInstanceOf[OtlpFilePartition].file, required)
}

private[sources] class OtlpLogsReader(file: String, required: StructType)
    extends PartitionReader[InternalRow] {

  // full-row serializer from the same encoder that defines the schema,
  // then an ordinal projection down to the pruned read schema
  private val serializer =
    ExpressionEncoder(Encoders.product[Otlp.LogRow]
      .asInstanceOf[org.apache.spark.sql.catalyst.encoders.AgnosticEncoder[Otlp.LogRow]])
      .resolveAndBind().createSerializer()
  private val ordinals = required.fields.map { f =>
    (OtlpLogsSource.schema.fieldIndex(f.name), f.dataType)
  }

  private lazy val rows: Iterator[Otlp.LogRow] = {
    val p = new Path(file)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val in = fs.open(p)
    val bytes = try {
      val len = fs.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      in.readFully(0, buf)
      buf
    } finally in.close()
    Otlp.decodeLogsRequest(bytes).iterator
  }

  private var current: InternalRow = _

  override def next(): Boolean =
    if (rows.hasNext) {
      val full = serializer(rows.next())
      current = new GenericInternalRow(
        ordinals.map { case (i, dt) => full.get(i, dt) }.toArray[Any])
      true
    } else false

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
