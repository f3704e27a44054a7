package perfbench

import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow, XXH64}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Order-insensitive fingerprint of a result: row count plus the wrapping
  * sum of each row's xxHash64 over its UnsafeRow bytes (a canonical
  * encoding for a given schema). Equal multisets of rows give equal
  * fingerprints whatever the partitioning or row order.
  */
final case class Fingerprint(rows: Long, hash: Long) {
  override def toString: String = s"$rows:${java.lang.Long.toHexString(hash)}"
}

/** A sink that discards rows like the `noop` sink and fingerprints them on
  * the way: the same DataSource V2 write path (one job over the query's
  * final RDD, no storage), plus one hash per row. Results are published
  * under the write's `key` option.
  */
class HashSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = HashSink.HashTable
}

object HashSink {
  private val results = new ConcurrentHashMap[String, Fingerprint]()

  /** Evaluate `df` fully and return its fingerprint. */
  def fingerprint(df: DataFrame, key: String): Fingerprint = {
    results.remove(key)
    df.write.format(classOf[HashSink].getName).option("key", key).mode("overwrite").save()
    results.remove(key)
  }

  private[perfbench] object HashTable extends Table with SupportsWrite {
    override def name(): String = "perfbench-hash"
    override def schema(): StructType = new StructType()
    override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite =
            new HashBatch(info.options.get("key"), info.schema)
        }
      }
  }

  private final case class Part(rows: Long, hash: Long) extends WriterCommitMessage

  private final class HashBatch(key: String, schema: StructType) extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new HashWriterFactory(schema)
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val parts = messages.collect { case p: Part => p }
      results.put(key, Fingerprint(parts.map(_.rows).sum, parts.map(_.hash).sum))
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  private final class HashWriterFactory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private lazy val toUnsafe = UnsafeProjection.create(schema)
        private var rows = 0L
        private var hash = 0L
        override def write(row: InternalRow): Unit = {
          val u = row match {
            case u: UnsafeRow => u
            case other => toUnsafe(other)
          }
          rows += 1
          hash += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        }
        override def commit(): WriterCommitMessage = Part(rows, hash)
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }
}
