package perfbench

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Row count and order-free fingerprint of a query result.
  * `fp` is the wrapping sum of one 64-bit hash per row, so it does not
  * depend on partitioning or row order. */
final case class Fingerprint(rows: Long, fp: Long) {
  def hex: String = f"$fp%016x"
}

/** A write sink that discards rows like Spark's `noop` sink (same V2
  * write plan, same full execution) but hashes every row on the way, so
  * the timed run itself checks its output. Floating values are rounded
  * to [[RowHash.SigDigits]] significant digits before hashing: partial
  * aggregates merge in fetch order, which can move the last bits.
  *
  * Use: `df.write.format(classOf[FingerprintSink].getName)
  *   .option("key", k).mode("overwrite").save()`, then [[FingerprintSink.take]]. */
class FingerprintSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = FingerprintTable
}

object FingerprintSink {
  private val results = new java.util.concurrent.ConcurrentHashMap[String, Fingerprint]()

  /** The fingerprint committed under `key`, removed from the registry. */
  def take(key: String): Option[Fingerprint] = Option(results.remove(key))

  private[perfbench] def put(key: String, f: Fingerprint): Unit = results.put(key, f)
}

private object FingerprintTable extends Table with SupportsWrite {
  override def name(): String = "perfbench-fingerprint"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val key = info.options().get("key")
    val schema = info.schema()
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new FingerprintBatchWrite(key, schema)
      }
    }
  }
}

private final case class PartFingerprint(rows: Long, sum: Long) extends WriterCommitMessage

private final class FingerprintBatchWrite(key: String, schema: StructType) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new FingerprintWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    var rows = 0L
    var sum = 0L
    messages.foreach { case PartFingerprint(r, s) => rows += r; sum += s }
    FingerprintSink.put(key, Fingerprint(rows, RowHash.mix(sum ^ RowHash.namesHash(schema))))
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private final class FingerprintWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val fields = schema.fields.map(_.dataType)
      private var rows = 0L
      private var sum = 0L
      override def write(record: InternalRow): Unit = {
        rows += 1
        sum += RowHash.row(record, fields)
      }
      override def commit(): WriterCommitMessage = PartFingerprint(rows, sum)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

/** Deterministic value hashing over Spark's internal row format. */
object RowHash {
  val SigDigits = 6
  private val NullHash = 0x5bd1e995L
  private val Seed = 42L

  /** splitmix64 finalizer */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def namesHash(schema: StructType): Long =
    schema.fieldNames.foldLeft(Seed)((h, n) => mix(h * 31 + str(UTF8String.fromString(n))))

  private def str(s: UTF8String): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, Seed)

  /** `d` rounded to SigDigits significant digits, as (mantissa, exponent). */
  private def double(d: Double): Long = {
    if (d == 0.0) 0L // also folds -0.0
    else if (d.isNaN || d.isInfinite) mix(java.lang.Double.doubleToLongBits(d))
    else {
      var e = math.floor(math.log10(math.abs(d))).toInt
      var m = math.rint(d * math.pow(10, SigDigits - 1 - e)).toLong
      if (math.abs(m) >= 1000000L) { m = math.rint(m / 10.0).toLong; e += 1 }
      mix(m * 1009 + e)
    }
  }

  def row(r: InternalRow, types: Array[DataType]): Long = {
    var h = Seed
    var i = 0
    while (i < types.length) {
      h = mix(h * 31 + (if (r.isNullAt(i)) NullHash else value(r.get(i, types(i)), types(i))))
      i += 1
    }
    h
  }

  private def value(v: Any, t: DataType): Long = t match {
    case BooleanType => if (v.asInstanceOf[Boolean]) 1L else 2L
    case ByteType => v.asInstanceOf[Byte].toLong
    case ShortType => v.asInstanceOf[Short].toLong
    case IntegerType | DateType | _: YearMonthIntervalType => v.asInstanceOf[Int].toLong
    case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType =>
      v.asInstanceOf[Long]
    case FloatType => double(v.asInstanceOf[Float].toDouble)
    case DoubleType => double(v.asInstanceOf[Double])
    case _: DecimalType =>
      val d = v.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal.stripTrailingZeros
      mix(d.unscaledValue.hashCode.toLong * 31 + d.scale)
    case _: StringType => str(v.asInstanceOf[UTF8String])
    case BinaryType =>
      val b = v.asInstanceOf[Array[Byte]]
      XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, Seed)
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      var h = Seed + a.numElements
      var i = 0
      while (i < a.numElements) {
        h = mix(h * 31 + (if (a.isNullAt(i)) NullHash else value(a.get(i, et), et)))
        i += 1
      }
      h
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      val (ks, vs) = (m.keyArray, m.valueArray)
      var h = 0L // order-free over entries
      var i = 0
      while (i < m.numElements) {
        val vh = if (vs.isNullAt(i)) NullHash else value(vs.get(i, vt), vt)
        h += mix(value(ks.get(i, kt), kt) * 31 + vh)
        i += 1
      }
      mix(h + m.numElements)
    case st: StructType =>
      row(v.asInstanceOf[InternalRow], st.fields.map(_.dataType))
    case NullType => NullHash
    case other => throw new IllegalArgumentException(s"no fingerprint for column type $other")
  }
}
