package graft.connector

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}

import graft.functions.BloomFilterOps
import graft.table.{Constraints, SnapshotLog}
import graft.table.SnapshotLog.DataFile

/** Randomized properties of the one file-pruning core, [[Constraints]],
  * over in-memory manifests — no Spark job runs. Files hold random rows
  * over int, long, date, timestamp and string columns (extreme longs,
  * dates and timestamps before 1582, sub-millisecond micros, nulls);
  * their zones, null counts, partition-value sets and blooms are derived
  * from the rows the way [[SnapshotLog.writeData]] records them. Random
  * conjunctions mix strict, inclusive and literal-on-the-left
  * comparisons, `IN`, `<=>`, null literals and the `InSet` the optimizer
  * makes of an IN list past ten values, and are evaluated row by row by
  * Catalyst itself:
  *
  *  - pruning never drops a file holding a satisfying row;
  *  - the Catalyst form and the `sources.Filter` form Spark pushes to
  *    the V2 scan give equal constraints;
  *  - every row of a file the DML coverage proof accepts satisfies the
  *    predicate.
  */
object PruneProps extends Properties("Prune") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters)
      : org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(500)

  private val schema = StructType(Seq(
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("d", DateType), StructField("t", TimestampType),
    StructField("s", StringType)))
  private val attrs = schema.map(f => AttributeReference(f.name, f.dataType)())

  private def days(iso: String) = java.time.LocalDate.parse(iso).toEpochDay
  private def micros(iso: String) =
    DateTimeUtils.instantToMicros(java.time.Instant.parse(iso))

  /** Per-column value domains, internal Catalyst representation. Small,
    * so random rows and literals collide; the 1582 calendar gap itself
    * is left out because `java.sql.Timestamp` cannot name those days. */
  private val domains: Seq[Gen[Any]] = Seq(
    Gen.oneOf(Gen.choose(-3, 3), Gen.oneOf(Int.MinValue, Int.MaxValue)),
    Gen.oneOf(Gen.choose(-3L, 3L), Gen.oneOf(Long.MinValue, Long.MaxValue)),
    Gen.zip(Gen.oneOf("1000-01-01", "1500-06-01", "1970-01-01", "2024-04-01"),
      Gen.choose(0, 2)).map { case (d, k) => (days(d) + k).toInt },
    Gen.zip(Gen.oneOf("1000-01-01T00:00:00Z", "1500-06-01T12:00:00Z",
        "1970-01-01T00:00:00Z", "2024-04-01T00:00:00Z"),
      Gen.oneOf(0L, 1L, 300L, 500L, 999L, 1000L, 1001L, 86400000000L))
      .map { case (t, k) => micros(t) + k },
    Gen.oneOf("a", "b", "c", "d").map(UTF8String.fromString))

  /** Wider per-column domains for the long IN lists that plan as
    * `InSet`: mostly values no row holds, so a set can pass ten members. */
  private val wide: Seq[Gen[Any]] = Seq(
    Gen.choose(-100, 100),
    Gen.choose(-100L, 100L),
    Gen.choose(0, 400).map(k => (days("1970-01-01") + k).toInt),
    Gen.choose(0L, 400L).map(micros("1970-01-01T00:00:00Z") + _),
    Gen.alphaLowerChar.map(ch => UTF8String.fromString(ch.toString)))

  private def orNull(g: Gen[Any]): Gen[Any] = Gen.frequency(6 -> g, 1 -> Gen.const(null))

  private val genRow: Gen[InternalRow] =
    Gen.sequence[Seq[Any], Any](domains.map(orNull)).map(vs => InternalRow.fromSeq(vs))

  /** The manifest entry `writeData` would record for these rows: zones
    * and null counts on the four zone columns, partition values on `s`,
    * and blooms in each column's [[SnapshotLog.keyAsLong]] domain —
    * integrals as themselves, strings hashed, timestamps cast to epoch
    * SECONDS (so a micros probe of `t`'s bloom would lose rows). */
  private def fileOf(n: Int, rows: Seq[InternalRow]): DataFile = {
    def values(c: Int) = rows.filterNot(_.isNullAt(c)).map(_.get(c, schema(c).dataType))
    def zoneOf(c: Int): Seq[Long] = values(c).map {
      case x: Int => x.toLong
      case x: Long => x
    }
    val zoned = (0 to 3).filter(c => values(c).nonEmpty)
    def bloom(keys: Seq[Long]): String = {
      val bits = new Array[Long](SnapshotLog.BloomBits / 64)
      keys.foreach(BloomFilterOps.set(bits, _, SnapshotLog.BloomHashes))
      val bb = java.nio.ByteBuffer.allocate(bits.length * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.asLongBuffer().put(bits)
      java.util.Base64.getEncoder.encodeToString(bb.array())
    }
    val strings = values(4).map(_.toString)
    DataFile(s"f$n", rows.size.toLong, 1L,
      stats = zoned.map(c => schema(c).name -> (zoneOf(c).min, zoneOf(c).max)).toMap,
      nulls = zoned.map(c => schema(c).name -> (rows.size - values(c).size).toLong).toMap,
      parts = if (strings.isEmpty) Map.empty else Map("s" -> strings.distinct.sorted),
      blooms = Map(
        "i" -> bloom(zoneOf(0)), "l" -> bloom(zoneOf(1)),
        "t" -> bloom(zoneOf(3).map(Math.floorDiv(_, 1000000L))),
        "s" -> bloom(strings.map(SnapshotLog.hashStringKey))))
  }

  /** One conjunct in both forms: the Catalyst predicate the analyzer
    * produces, and the filter Spark pushes for it (column first, the
    * column name in random case, the value as a Scala/Java object). */
  private final case class Conjunct(catalyst: Expression, filter: sources.Filter)

  /** The external value Spark converts a literal to for a V2 filter:
    * `java.sql.Date`/`Timestamp` by default, `LocalDate`/`Instant` under
    * the Java 8 datetime API. */
  private def external(dt: DataType, v: Any, java8: Boolean): Any = (dt, v) match {
    case (_, null) => null
    case (DateType, x: Int) =>
      if (java8) java.time.LocalDate.ofEpochDay(x.toLong) else DateTimeUtils.toJavaDate(x)
    case (TimestampType, x: Long) =>
      if (java8) DateTimeUtils.microsToInstant(x) else DateTimeUtils.toJavaTimestamp(x)
    case (StringType, x: UTF8String) => x.toString
    case _ => v
  }

  private val ops = Seq("=", "<=>", "<", "<=", ">", ">=", "in", "inset")

  private val genConjunct: Gen[Conjunct] = for {
    c <- Gen.choose(0, 4)
    op <- Gen.oneOf(ops)
    vs <- if (op == "inset")
        Gen.choose(11, 14).flatMap(Gen.listOfN(_,
          orNull(Gen.frequency(1 -> domains(c), 1 -> wide(c)))))
      else Gen.choose(1, 3).flatMap(Gen.listOfN(_, orNull(domains(c))))
    flip <- Gen.oneOf(true, false)
    java8 <- Gen.oneOf(true, false)
    upper <- Gen.oneOf(true, false)
  } yield {
    val a = attrs(c)
    val dt = a.dataType
    val name = if (upper) a.name.toUpperCase else a.name
    val set = vs.toSet
    val lit = Literal(vs.head, dt)
    val x = external(dt, vs.head, java8)
    def cmp(mk: (Expression, Expression) => Expression, flipped: String) =
      if (flip) (mk(lit, a), flipped) else (mk(a, lit), op)
    val (e, pushedOp) = op match {
      case "=" => cmp(EqualTo, "=")
      case "<=>" => cmp(EqualNullSafe, "<=>")
      case "<" => cmp(LessThan, ">")
      case "<=" => cmp(LessThanOrEqual, ">=")
      case ">" => cmp(GreaterThan, "<")
      case ">=" => cmp(GreaterThanOrEqual, "<=")
      case "in" => (In(a, vs.map(Literal(_, dt))), "in")
      case "inset" => (InSet(a, set), "inset")
    }
    val f = pushedOp match {
      case "=" => sources.EqualTo(name, x)
      case "<=>" => sources.EqualNullSafe(name, x)
      case "<" => sources.LessThan(name, x)
      case "<=" => sources.LessThanOrEqual(name, x)
      case ">" => sources.GreaterThan(name, x)
      case ">=" => sources.GreaterThanOrEqual(name, x)
      case "in" => sources.In(name, vs.map(external(dt, _, java8)).toArray)
      // what Spark pushes for an InSet: its members, in set order
      case "inset" => sources.In(name, set.toArray.map(external(dt, _, java8)))
    }
    Conjunct(e, f)
  }

  private val genCase = for {
    nFiles <- Gen.choose(1, 5)
    files <- Gen.listOfN(nFiles, Gen.choose(1, 6).flatMap(Gen.listOfN(_, genRow)))
    nConj <- Gen.choose(1, 4)
    conjuncts <- Gen.listOfN(nConj, genConjunct)
    nestAnd <- Gen.oneOf(true, false)
  } yield (files.zipWithIndex.map { case (rows, n) => (fileOf(n, rows), rows) },
    conjuncts, nestAnd)

  private def satisfies(conjuncts: Seq[Expression], row: InternalRow): Boolean =
    conjuncts.forall(e => BindReferences.bindReference(e, attrs).eval(row) == true)

  property("no file holding a satisfying row is pruned") =
    Prop.forAll(genCase) { case (files, conjuncts, _) =>
      val exprs = conjuncts.map(_.catalyst)
      val cs = Constraints.from(exprs)
      val lost = files.filter { case (f, rows) =>
        rows.exists(satisfies(exprs, _)) && !cs.keeps(f) }
      Prop(lost.isEmpty) :| s"pruned ${lost.map(_._1)} under $cs for $exprs"
    }

  property("the Catalyst and sources.Filter forms give equal constraints") =
    Prop.forAll(genCase) { case (_, conjuncts, nestAnd) =>
      val filters = conjuncts.map(_.filter)
      val pushed =
        if (nestAnd && filters.size > 1) Seq(filters.reduce[sources.Filter](sources.And))
        else filters
      val v1 = Constraints.from(conjuncts.map(_.catalyst))
      val v2 = GraftV2BatchScan.constraints(pushed, schema)
      Prop(v1 == v2) :| s"catalyst $v1 != filters $v2 for $pushed"
    }

  property("every row of a covered file satisfies the predicate") =
    Prop.forAll(genCase) { case (files, conjuncts, _) =>
      val exprs = conjuncts.map(_.catalyst)
      GraftDml.Covers.from(exprs) match {
        case None => Prop.passed
        case Some(iv) =>
          val wrong = files.filter { case (f, rows) =>
            GraftDml.Covers.covered(f, iv) && !rows.forall(satisfies(exprs, _)) }
          Prop(wrong.isEmpty) :| s"covered ${wrong.map(_._1)} by $iv for $exprs"
      }
    }
}
