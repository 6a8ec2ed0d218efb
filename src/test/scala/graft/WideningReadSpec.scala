package graft

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.schema.Evolution

/** The widening lattice ([[Evolution.widen]]) and Spark's parquet
  * readers agree: every promotion the lattice allows is one the readers
  * perform in-scan, with the values a `cast` produces. This is what lets
  * every epoch mix of a graft table read as ONE relation under the
  * merged schema. */
class WideningReadSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local("4", "widening-read-spec")

  /** The type grid: every numeric type the lattice orders. */
  private val grid: Seq[DataType] = Seq(ByteType, ShortType, IntegerType,
    LongType, FloatType, DoubleType, DecimalType(5, 2), DecimalType(9, 4),
    DecimalType(18, 0), DecimalType(10, 0), DecimalType(12, 2),
    DecimalType(14, 4), DecimalType(20, 0), DecimalType(22, 2),
    DecimalType(38, 0), DecimalType(38, 10), DecimalType(3, 0),
    DecimalType(7, 2), DecimalType(10, 2), DecimalType(11, 1),
    DecimalType(16, 6), DecimalType(19, 0), DecimalType(28, 8))

  /** Values of `dt` at its edges, around zero and null. */
  private def values(dt: DataType): Seq[Column] = {
    val raw: Seq[String] = dt match {
      case ByteType => Seq("-128", "127", "0", "-1", "7")
      case ShortType => Seq("-32768", "32767", "0", "-1", "300")
      case IntegerType => Seq("-2147483648", "2147483647", "0", "-1", "70000")
      case LongType => Seq("-9223372036854775808", "9223372036854775807", "0",
        "-1", "5000000000")
      case FloatType => Seq("-3.5", "1.25", "0", "-0.0", "16777216")
      case DoubleType => Seq("-3.5", "1.25", "0", "1e300", "-1e-300")
      case d: DecimalType =>
        val top = "9" * (d.precision - d.scale) +
          (if (d.scale > 0) "." + "9" * d.scale else "")
        Seq(top, "-" + top, "0", "1", "-1")
    }
    (raw.map(v => lit(v).cast(dt)) :+ lit(null).cast(dt))
  }

  test("every widening the lattice allows reads in-scan as the cast reads it") {
    val base = graft.schema.Fixtures.dir("widening-read")
    val files = grid.zipWithIndex.map { case (dt, i) =>
      val f = s"$base/t$i"
      spark.range(1).select(explode(array(values(dt): _*)).as("c"))
        .coalesce(1).write.parquet(f)
      dt -> f
    }
    val pairs = for {
      (from, f) <- files
      to <- grid
      if Evolution.widen(from, to).contains(to)
    } yield (from, f, to)
    assert(pairs.size > 100, s"grid too thin: ${pairs.size} pairs")
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Row] =
      df.collect().toSeq.sortBy(_.toString)
    val positive = col("c") > lit(0)
    for ((from, f, to) <- pairs) {
      val model = spark.read.parquet(f).select(col("c").cast(to).as("c"))
      val all = rowsOf(model)
      val filtered = rowsOf(model.filter(positive))
      for (vectorized <- Seq("true", "false")) {
        spark.conf.set("spark.sql.parquet.enableVectorizedReader", vectorized)
        try {
          val read = spark.read.schema(StructType(Seq(StructField("c", to))))
            .parquet(f)
          if (rowsOf(read) != all)
            failures += s"${from.sql} -> ${to.sql} (vectorized=$vectorized)"
          // a filter pushed into the scan of the narrower file
          if (rowsOf(read.filter(positive)) != filtered)
            failures += s"${from.sql} -> ${to.sql} filtered (vectorized=$vectorized)"
        } catch {
          case e: Exception => failures +=
            s"${from.sql} -> ${to.sql} (vectorized=$vectorized): ${e.getMessage.take(160)}"
        } finally spark.conf.unset("spark.sql.parquet.enableVectorizedReader")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
