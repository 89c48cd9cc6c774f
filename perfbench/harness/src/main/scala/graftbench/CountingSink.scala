package graftbench

import java.math.BigInteger
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Spark's `noop` sink plus a row count and a checksum: the write
  * executes the whole plan and drops every row, and [[CountingSink.take]]
  * then returns how many rows it dropped and the sum of their xxhash64 (the
  * SQL `xxhash64(*)` of each row, summed exactly, so the checksum does not
  * depend on row order). The `noop` sink itself keeps nothing to check.
  * Each write names itself with the `tag` option, so that writes may run
  * concurrently.
  */
final class CountingSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = CountingSink.table
  override def supportsExternalMetadata(): Boolean = true
}

object CountingSink {
  val format: String = classOf[CountingSink].getName

  /** Rows and checksum of one committed write. */
  final case class Written(rows: Long, checksum: BigInteger)
  private val written = new java.util.concurrent.ConcurrentHashMap[String, Written]()

  /** The rows and checksum of the committed write tagged `tag`, once. */
  def take(tag: String): Option[Written] = Option(written.remove(tag))

  private final case class Part(rows: Long, checksum: BigInteger) extends WriterCommitMessage

  private final class Factory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private val hash = XxHash64(schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
          BoundReference(i, f.dataType, f.nullable)
        }, seed = 42L) // the seed of SQL's xxhash64
        private var rows = 0L
        private var sum = BigInteger.ZERO
        override def write(record: InternalRow): Unit = {
          rows += 1
          sum = sum.add(BigInteger.valueOf(hash.eval(record).asInstanceOf[Long]))
        }
        override def commit(): WriterCommitMessage = Part(rows, sum)
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }

  private final class Batch(schema: StructType, tag: String) extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new Factory(schema)
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val parts = messages.collect { case p: Part => p }
      written.put(tag, Written(parts.map(_.rows).sum,
        parts.map(_.checksum).foldLeft(BigInteger.ZERO)(_ add _)))
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  private object table extends Table with SupportsWrite {
    override def name(): String = "graftbench-counting-sink"
    override def schema(): StructType = new StructType()
    override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite =
            new Batch(info.schema(), info.options().getOrDefault("tag", ""))
        }
      }
  }
}
