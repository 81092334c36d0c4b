package graft.types

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Type-system mapping from the reference engine (SURVEY §1.2;
  * supersonic/proto/supersonic.proto:15-36) onto Spark SQL types, plus the
  * ENUM helper the reference models as int32 + EnumDefinition
  * (tuple_schema.h:42-74).
  */
object GraftTypes {

  /** Reference type name → Spark type. UINT32/UINT64 widen to LongType
    * (Spark has no unsigned types; documented in SURVEY §1.2 — COUNT's
    * UINT64 output maps to Spark count()'s LongType). */
  val mapping: Map[String, DataType] = Map(
    "INT32" -> IntegerType,
    "INT64" -> LongType,
    "UINT32" -> LongType,
    "UINT64" -> LongType,
    "FLOAT" -> FloatType,
    "DOUBLE" -> DoubleType,
    "BOOL" -> BooleanType,
    "DATE" -> DateType,          // int32 days since epoch in both models
    "DATETIME" -> TimestampNTZType, // int64 UTC micros in both models: civil
                                 // NTZ keeps field extraction / casts free
                                 // of spark.sql.session.timeZone
    "STRING" -> StringType,
    "BINARY" -> BinaryType,
    "ENUM" -> StringType)        // semantic mapping; see EnumDefinition

  def toSpark(ref: String): DataType = mapping(ref.toUpperCase(java.util.Locale.ROOT))

  /** Attribute (reference: tuple_schema.h:77-117) = StructField. */
  def attribute(name: String, ref: String, nullable: Boolean): StructField =
    StructField(name, toSpark(ref), nullable)

  /** TupleSchema merge with duplicate-name check
    * (reference: tuple_schema.h:242-252 Merge/TryMerge). */
  def mergeSchemas(a: StructType, b: StructType): StructType = {
    val dup = a.fieldNames.toSet.intersect(b.fieldNames.toSet)
    require(dup.isEmpty, s"TupleSchema merge: duplicate attributes $dup")
    StructType(a.fields ++ b.fields)
  }
  def tryMergeSchemas(a: StructType, b: StructType): Option[StructType] =
    if (a.fieldNames.toSet.intersect(b.fieldNames.toSet).nonEmpty) None
    else Some(StructType(a.fields ++ b.fields))

  /** EnumDefinition: int32 number ↔ string name dictionary
    * (reference: tuple_schema.h:42-74). Duplicate numbers or names are
    * schema errors (supersonic.proto:73-76); undefined values decode to
    * NULL (the reference's Nulling behavior for undefined enum values).
    */
  final case class EnumDefinition(entries: Seq[(Int, String)]) {
    require(entries.map(_._1).distinct.size == entries.size,
      "EnumDefinition: duplicate value number")
    require(entries.map(_._2).distinct.size == entries.size,
      "EnumDefinition: duplicate value name")

    /** Decode a numeric code column to the enum name (NULL if undefined). */
    def decode(code: Column): Column =
      entries.foldRight(lit(null).cast(StringType): Column) {
        case ((n, name), acc) => when(code === n, lit(name)).otherwise(acc)
      }

    /** Encode a name column to its numeric code (NULL if undefined). */
    def encode(name: Column): Column =
      entries.foldRight(lit(null).cast(IntegerType): Column) {
        case ((n, nm), acc) => when(name === nm, lit(n)).otherwise(acc)
      }

  }
}
