package graft.schema

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema EVOLUTION beyond the reference's silent null-fill.
  *
  * The reference's consumer declares one fixed schema per table and
  * PERMISSIVE-decodes against it (/root/reference/glue-jobs/
  * kafka_to_s3_batch.py:81-87): any source column change — a type widened
  * upstream, a column renamed — silently null-fills from that epoch on.
  * The warehouse keeps accepting rows and quietly loses a column's
  * history. This object gives the three capabilities that failure mode
  * actually needs:
  *
  *  1. **Type widening** ([[widen]]): a least-upper-bound lattice over
  *     the safe promotions (byte→short→int→long, float→double,
  *     decimal(p,s) joined by max integral digits + max scale, and
  *     integral→decimal where the decimal can hold every value). It is
  *     exactly the set of promotions Spark's parquet readers (vectorized
  *     and row-based) perform in-scan, so a file written under any epoch
  *     reads under the LUB schema with one `spark.read.schema(lub)` —
  *     lossless by construction, and equal to casting. Anything off the
  *     lattice (string vs int, narrowing) throws instead of corrupting.
  *  2. **Rename mapping** ([[mergeEpochs]]'s `renames`): a declarative
  *     old→new name map applied before the union, so a renamed column's
  *     history stays ONE column instead of two half-null ones. Renames
  *     are declared, not guessed — inference from positions is exactly
  *     the silent misalignment name-based union exists to prevent.
  *  3. **Drift report** ([[driftReport]]): what changed between epochs —
  *     added / removed / widened / renamed, with the old and new
  *     type (or name) and the epoch's row count — the audit trail a
  *     warehouse owner reads before trusting a merged history.
  *
  * Scale posture: everything here is driver-side schema metadata except
  * the final union of casts (narrow map-side projections) and the
  * per-epoch counts in the report (one metadata-cheap count per epoch).
  */
object Evolution {

  private val integralRank: Map[DataType, Int] =
    Map(ByteType -> 0, ShortType -> 1, IntegerType -> 2, LongType -> 3)

  /** Least upper bound on the safe-widening lattice; None = incompatible. */
  def widen(a: DataType, b: DataType): Option[DataType] = (a, b) match {
    case _ if a == b => Some(a)
    case _ if integralRank.contains(a) && integralRank.contains(b) =>
      Some(if (integralRank(a) >= integralRank(b)) a else b)
    case (FloatType, DoubleType) | (DoubleType, FloatType) => Some(DoubleType)
    case (x: DecimalType, y: DecimalType) =>
      val scale = math.max(x.scale, y.scale)
      val intDigits = math.max(x.precision - x.scale, y.precision - y.scale)
      // no LUB exists past MAX_PRECISION: capping would produce a type
      // that cannot hold both sides — an ANSI overflow mid-job (or a
      // silent null-fill with ANSI off), exactly the corruption the
      // lattice exists to refuse at schema-merge time
      if (intDigits + scale <= DecimalType.MAX_PRECISION)
        Some(DecimalType(intDigits + scale, scale))
      else None
    case (x, y: DecimalType) if integralRank.contains(x) => widenIntegralDecimal(x, y)
    case (x: DecimalType, y) if integralRank.contains(y) => widenIntegralDecimal(y, x)
    case _ => None
  }

  /** Byte and short count as int's 10 integer digits, as in Delta's
    * type-widening table: the parquet readers store all three as INT32
    * and read INT32 only into decimals with at least 10 integer digits
    * (https://docs.delta.io/latest/delta-type-widening.html). */
  private def widenIntegralDecimal(i: DataType, d: DecimalType): Option[DataType] = {
    val intDigits = if (i == LongType) 20 else 10
    val p = intDigits + d.scale
    if (p <= DecimalType.MAX_PRECISION)
      Some(DecimalType(math.max(p, d.precision), d.scale))
    else None
  }

  private[graft] def applyRenames(df: DataFrame, renames: Map[String, String]): DataFrame =
    renames.foldLeft(df) { case (d, (from, to)) =>
      if (d.columns.contains(from)) d.withColumnRenamed(from, to) else d
    }

  /** The merged schema of the epochs after renames: column order is
    * first-seen, each column's type is the LUB over every epoch that has
    * it. Throws on any off-lattice combination — an incompatible source
    * change must stop the pipeline, not null its history. */
  def mergedSchema(schemas: Seq[StructType],
                   renames: Map[String, String] = Map.empty): StructType = {
    val ordered = scala.collection.mutable.LinkedHashMap.empty[String, DataType]
    schemas.foreach { s =>
      s.fields.foreach { f =>
        val name = renames.getOrElse(f.name, f.name)
        ordered.get(name) match {
          case None => ordered(name) = f.dataType
          case Some(t) =>
            ordered(name) = widen(t, f.dataType).getOrElse(throw
              new IllegalArgumentException(
                s"incompatible drift on column $name: " +
                  s"${t.simpleString} vs ${f.dataType.simpleString} is not a safe widening"))
        }
      }
    }
    StructType(ordered.map { case (n, t) => StructField(n, t) }.toSeq)
  }

  /** Union epochs decoded under drifting schemas: renames applied, every
    * column cast to the merged (widened) type, missing columns
    * null-filled — name-based, so positions can never misalign. */
  def mergeEpochs(epochs: Seq[DataFrame],
                  renames: Map[String, String] = Map.empty): DataFrame = {
    require(epochs.nonEmpty, "mergeEpochs needs at least one epoch")
    val target = mergedSchema(epochs.map(_.schema), renames)
    epochs.map { e =>
      val r = applyRenames(e, renames)
      val have = r.columns.toSet
      r.select(target.fields.toSeq.map { f =>
        if (have.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    }.reduce(_.unionByName(_))
  }

  /** Per-epoch-transition audit: one row per schema change between
    * consecutive epochs. `from_val`/`to_val` hold the types for
    * added/removed/widened and the old/new NAME for renamed; `n_rows` is
    * the later epoch's row count (one count job per epoch — the only
    * non-metadata work here). */
  def driftReport(spark: SparkSession, epochs: Seq[(String, DataFrame)],
                  renames: Map[String, String] = Map.empty): DataFrame = {
    import spark.implicits._
    val rows = epochs.sliding(2).flatMap {
      case Seq((_, prev), (tag, cur)) =>
        val n = cur.count()
        val prevTypes = prev.schema.fields.map(f => f.name -> f.dataType).toMap
        val renamed = renames.toSeq
          .filter { case (from, to) =>
            prevTypes.contains(from) && cur.columns.contains(to) }
          .map { case (from, to) => (tag, to, "renamed", from, to, n) }
        val prevEff = renamed.foldLeft(prevTypes) { case (m, (_, to, _, from, _, _)) =>
          (m - from) + (to -> m(from))
        }
        val curTypes = cur.schema.fields.map(f => f.name -> f.dataType).toMap
        val added = (curTypes.keySet -- prevEff.keySet).toSeq.map(c =>
          (tag, c, "added", null: String, curTypes(c).simpleString, n))
        val removed = (prevEff.keySet -- curTypes.keySet).toSeq.map(c =>
          (tag, c, "removed", prevEff(c).simpleString, null: String, n))
        val widened = curTypes.keySet.intersect(prevEff.keySet).toSeq
          .filter(c => curTypes(c) != prevEff(c))
          .map(c => (tag, c, "widened", prevEff(c).simpleString,
            curTypes(c).simpleString, n))
        renamed ++ added ++ removed ++ widened
      case _ => Seq.empty
    }.toSeq
    rows.toDF("epoch", "column", "change", "from_val", "to_val", "n_rows")
      .orderBy($"epoch", $"column", $"change")
  }
}
