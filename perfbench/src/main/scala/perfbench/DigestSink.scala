package perfbench

import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A write-only sink that, like Spark's `noop` sink, materializes every
  * column of every row, and also folds the rows into an order-independent
  * digest (two 64-bit sums of per-row hashes over Spark's binary row
  * encoding, plus the row count and the schema). Write with
  * [[DigestSink.write]].
  */
class DigestSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = new DigestSink.DigestTable(schema)
}

object DigestSink {
  final case class Written(digest: String, rows: Long)

  private val results = new ConcurrentHashMap[String, Written]()

  /** What the last write under `id` wrote, removed on read. */
  def take(id: String): Option[Written] = Option(results.remove(id))

  /** Writes `df` through the sink and returns what it wrote. */
  def write(df: org.apache.spark.sql.DataFrame, id: String): Written = {
    df.write.format(classOf[DigestSink].getName).option("id", id).mode("append").save()
    take(id).getOrElse(sys.error(s"DigestSink: no result for $id"))
  }

  private final case class Part(h1: Long, h2: Long, rows: Long) extends WriterCommitMessage

  private class DigestTable(schema0: StructType) extends Table with SupportsWrite {
    override def name(): String = "perfbench-digest"
    override def schema(): StructType = schema0
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite = new DigestBatch(info.options.get("id"), info.schema)
        }
      }
  }

  private class DigestBatch(id: String, schema: StructType) extends BatchWrite {
    require(id != null, "DigestSink needs an id option")
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new DigestWriterFactory(schema)
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val parts = messages.collect { case p: Part => p }
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update(schema.catalogString.getBytes("UTF-8"))
      val b = java.nio.ByteBuffer.allocate(24)
      val rows = parts.map(_.rows).sum
      b.putLong(parts.map(_.h1).sum).putLong(parts.map(_.h2).sum).putLong(rows)
      md.update(b.array())
      results.put(id, Written(md.digest().take(12).map(x => f"${x & 0xff}%02x").mkString, rows))
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  private class DigestWriterFactory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private val proj = UnsafeProjection.create(schema)
        private var h1, h2, rows = 0L
        override def write(row: InternalRow): Unit = {
          val u = proj(row)
          h1 += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 17L)
          h2 += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 0x5bd1e995L)
          rows += 1
        }
        override def commit(): WriterCommitMessage = Part(h1, h2, rows)
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }
}
