package graft.testing

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Test-data builders mirroring the reference's harness utilities
  * (testing/block_builder.h, operation_testing.h TestDataBuilder): build
  * small typed frames inline, with `__` (None) as the NULL marker, and run
  * assertions under several partitionings (the Spark analog of the
  * reference's block-size matrix).
  */
object Builders {

  /** NULL marker, like the reference's `__` (expression_test_helper.h:80). */
  val __ : Option[Nothing] = None

  /** Build a DataFrame from columns-of-options:
    * `block(spark, "a" -> Seq(Some(1), None), "b" -> Seq(Some("x"), Some("y")))`.
    * Types are inferred from the first defined value of each column. */
  def block(spark: SparkSession, cols: (String, Seq[Option[Any]])*): DataFrame = {
    require(cols.nonEmpty && cols.map(_._2.length).distinct.size == 1,
      "block: all columns must have the same length")
    val fields = cols.map { case (name, vs) =>
      val dt = vs.flatten.headOption match {
        case Some(_: Int) => IntegerType
        case Some(_: Long) => LongType
        case Some(_: Double) => DoubleType
        case Some(_: Float) => FloatType
        case Some(_: Boolean) => BooleanType
        case Some(_: String) | None => StringType
        case Some(other) => throw new IllegalArgumentException(
          s"block: unsupported value type ${other.getClass}")
      }
      StructField(name, dt, nullable = true)
    }
    val n = cols.head._2.length
    val rows = (0 until n).map(i => Row.fromSeq(cols.map(_._2(i).orNull)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows), StructType(fields))
  }

  /** RepeatingBlock (reference: testing/repeating_block.h): cycle the given
    * block `times` times — a deterministic larger input for operator tests. */
  def repeatingBlock(df: DataFrame, times: Int): DataFrame =
    df.sparkSession.range(times).toDF("__rep").crossJoin(df).drop("__rep")
}
