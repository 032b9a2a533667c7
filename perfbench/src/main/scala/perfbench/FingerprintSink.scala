package perfbench

import java.util
import java.util.concurrent.ConcurrentHashMap

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Output fingerprint: row count plus the exact sum of a 64-bit hash of
  * each row's canonical text, so it does not depend on row order.
  * Canonical text rounds doubles to 8 and floats to 6 significant digits
  * (engines that sum in a different order still agree), folds -0.0 into
  * 0.0 and sorts map entries. */
final case class Fingerprint(rows: Long, hash: BigInt) {
  def +(o: Fingerprint): Fingerprint = Fingerprint(rows + o.rows, hash + o.hash)
}

object Fingerprint {
  val empty: Fingerprint = Fingerprint(0L, BigInt(0))

  def canonical(v: Any, dt: DataType): String = if (v == null) "null" else dt match {
    case DoubleType => num(v.asInstanceOf[Double], "%.7e")
    case FloatType => num(v.asInstanceOf[Float].toDouble, "%.5e")
    case st: StructType => row(v.asInstanceOf[InternalRow], st)
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      (0 until a.numElements()).map(i => canonical(a.get(i, et), et)).mkString("[", ",", "]")
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      val (k, x) = (m.keyArray(), m.valueArray())
      (0 until m.numElements()).map(i => canonical(k.get(i, kt), kt) + ":" + canonical(x.get(i, vt), vt))
        .sorted.mkString("{", ",", "}")
    case _ => v.toString
  }

  private def num(d: Double, fmt: String): String =
    if (d == 0.0) "0" else if (d.isNaN || d.isInfinite) d.toString else String.format(java.util.Locale.ROOT, fmt, Double.box(d))

  def row(r: InternalRow, schema: StructType): String =
    schema.fields.indices.map(i => canonical(r.get(i, schema(i).dataType), schema(i).dataType))
      .mkString("(", ",", ")")

  /** 64-bit hash of a row's canonical text. */
  def hash(text: String): Long =
    (MurmurHash3.stringHash(text, 0x5eed).toLong << 32) | (MurmurHash3.stringHash(text, 0x7a11) & 0xffffffffL)

  /** fingerprint of each finished write, by the `id` write option */
  private val results = new ConcurrentHashMap[String, Fingerprint]()
  def take(id: String): Option[Fingerprint] = Option(results.remove(id))
  private[perfbench] def put(id: String, f: Fingerprint): Unit = results.put(id, f)
}

/** A write sink that discards rows like Spark's `noop` format but
  * fingerprints them on the way: `df.write.format(FingerprintSink.name)
  * .option("id", id).mode("append").save()`, then
  * `Fingerprint.take(id)`. The plan is the noop write's, plus one hash
  * per output row in the write tasks. */
final class FingerprintSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = FingerprintTable
}

object FingerprintSink {
  val name: String = classOf[FingerprintSink].getName
}

private object FingerprintTable extends Table with SupportsWrite {
  override def name(): String = "perfbench-fingerprint"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
    override def build(): Write = new Write {
      override def toBatch: BatchWrite = new FingerprintBatch(info.options.get("id"), info.schema())
    }
  }
}

private final class FingerprintBatch(id: String, schema: StructType) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new FingerprintWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    Fingerprint.put(id, messages.collect { case m: PartFingerprint => m.f }
      .foldLeft(Fingerprint.empty)(_ + _))
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private final class FingerprintWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private var f = Fingerprint.empty
      override def write(r: InternalRow): Unit =
        f += Fingerprint(1L, BigInt(Fingerprint.hash(Fingerprint.row(r, schema))))
      override def commit(): WriterCommitMessage = PartFingerprint(f)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

private final case class PartFingerprint(f: Fingerprint) extends WriterCommitMessage
