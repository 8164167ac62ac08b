package graft

import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Minimal in-memory Spark V2 [[TableCatalog]] for the Iceberg-seam
  * specs: no Iceberg jars exist in this sandbox, so this catalog is
  * what lets [[graft.sources.IcebergTripleSink]]'s DataFrameWriterV2
  * path EXECUTE (createOrReplace -> drop+create+append on a
  * non-staging catalog, ALTER TABLE SET TBLPROPERTIES -> alterTable)
  * instead of rotting untested. It records exactly what a real catalog
  * would receive: the partition transforms handed to createTable, the
  * written rows, and the table properties.
  *
  * Register per session with
  * `spark.conf.set("spark.sql.catalog.<name>", classOf[FakeV2Catalog].getName)`.
  * State is JVM-global (local-mode executors share the JVM); call
  * [[FakeV2Catalog.reset]] per test.
  */
object FakeV2Catalog {
  final class Stored(
      val schema: StructType,
      val partitioning: Array[Transform],
      val props: scala.collection.concurrent.TrieMap[String, String]) {
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
  }
  val tables = new scala.collection.concurrent.TrieMap[String, Stored]()
  def reset(): Unit = tables.clear()

  private[graft] final case class RowsMessage(rows: Seq[Seq[String]])
    extends WriterCommitMessage

  private[graft] final class Factory(key: String, width: Int)
    extends DataWriterFactory {
    override def createWriter(partitionId: Int,
        taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
        override def write(r: InternalRow): Unit =
          buf += (0 until width).map(i =>
            if (r.isNullAt(i)) null else r.getUTF8String(i).toString)
        override def commit(): WriterCommitMessage = RowsMessage(buf.toSeq)
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }

  private[graft] final class FakeTable(key: String, stored: Stored)
    extends Table with SupportsWrite {
    override def name(): String = key
    override def schema(): StructType = stored.schema
    override def partitioning(): Array[Transform] = stored.partitioning
    override def properties(): util.Map[String, String] =
      stored.props.toMap.asJava
    override def capabilities(): util.Set[TableCapability] =
      Set(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE).asJava
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      // SupportsTruncate: Spark plans createOrReplace / RTAS on a
      // non-staging catalog as truncate-then-write
      new WriteBuilder with SupportsTruncate {
        private var truncateFirst = false
        override def truncate(): WriteBuilder = { truncateFirst = true; this }
        override def build(): Write = new Write {
          override def toBatch: BatchWrite = new BatchWrite {
            override def createBatchWriterFactory(
                p: PhysicalWriteInfo): DataWriterFactory =
              new Factory(key, info.schema().length)
            override def commit(messages: Array[WriterCommitMessage]): Unit = {
              if (truncateFirst) stored.rows.clear()
              messages.foreach {
                case RowsMessage(rs) => rs.foreach(stored.rows.add)
                case _ => ()
              }
            }
            override def abort(messages: Array[WriterCommitMessage]): Unit = ()
          }
        }
      }
  }
}

class FakeV2Catalog extends TableCatalog {
  import FakeV2Catalog._
  private var catName: String = _
  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = catName = name
  override def name(): String = catName

  private def key(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(".")

  override def listTables(namespace: Array[String]): Array[Identifier] =
    tables.keys.map { k =>
      val parts = k.split('.')
      Identifier.of(parts.dropRight(1), parts.last)
    }.toArray

  override def loadTable(ident: Identifier): Table =
    tables.get(key(ident)).map(new FakeTable(key(ident), _))
      .getOrElse(throw new NoSuchTableException(ident))

  // terminal createTable variant in Spark 4.x (the Column[]/TableInfo
  // defaults both funnel here)
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val stored = new Stored(schema, partitions,
      scala.collection.concurrent.TrieMap(properties.asScala.toSeq: _*))
    tables.put(key(ident), stored)
    new FakeTable(key(ident), stored)
  }

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val stored = tables.getOrElse(key(ident),
      throw new NoSuchTableException(ident))
    changes.foreach {
      case set: TableChange.SetProperty =>
        stored.props.put(set.property(), set.value())
      case _ => ()
    }
    new FakeTable(key(ident), stored)
  }

  override def dropTable(ident: Identifier): Boolean =
    tables.remove(key(ident)).isDefined

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit =
    tables.remove(key(oldIdent)).foreach(tables.put(key(newIdent), _))
}
