package graft.table

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.table.SnapshotLog.DataFile

/** The table format's one file-pruning core: what a conjunction of
  * column-versus-literal predicates proves about a data file, phrased in
  * the manifest's three metadata domains:
  *
  *  - `ranges`: per-column [lo, hi] in the zone-map long domain
  *    (integrals as themselves, timestamps as epoch micros, dates as
  *    epoch days — the exact domains [[SnapshotLog.writeData]] records);
  *  - `points`: per-column equality key sets probed against manifest
  *    BLOOMS (integrals as themselves, strings through the shared
  *    xxhash64 domain) — a file is kept when ANY key passes its zone and
  *    bloom probe;
  *  - `parts`: per-column allowed partition-value strings checked
  *    against the recorded per-file partition-value sets.
  *
  * It is the only code that turns a predicate into file pruning, and
  * every face prunes through it: the V1 file index, the V2 scan's
  * static and runtime filters (rebuilt as Catalyst predicates first),
  * `OPTIMIZE … WHERE`, the DML rule's candidates and coverage proof
  * ([[interval]]), positional deletes' locating scan and
  * [[SnapshotLog.readPruned]] — one literal-to-domain table, so no two
  * faces can prune the same predicate apart.
  * Pruning may only skip: anything unrecognized contributes NO
  * constraint, and a file missing metadata for a constrained column is
  * always kept.
  */
final case class Constraints(
    ranges: Map[String, (Long, Long)] = Map.empty,
    points: Map[String, Seq[Long]] = Map.empty,
    parts: Map[String, Seq[String]] = Map.empty) {

  def keeps(f: DataFile): Boolean =
    Constraints.zoneKeeps(f, ranges) &&
      parts.forall { case (c, wanted) =>
        f.parts.get(c).forall(_.exists(wanted.contains))
      } &&
      points.forall { case (c, keys) =>
        keys.exists(k => Constraints.zoneKeeps(f, Map(c -> (k, k))) &&
          f.blooms.get(c).forall(b64 => graft.functions.BloomFilterOps.mightContain(
            java.util.Base64.getDecoder.decode(b64), k, SnapshotLog.BloomHashes)))
      }
}

object Constraints {

  /** The constraints of a conjunction of Catalyst predicates. */
  def from(conjuncts: Seq[Expression]): Constraints = {
    val ranges = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val points = scala.collection.mutable.Map.empty[String, Seq[Long]]
    val parts = scala.collection.mutable.Map.empty[String, Seq[String]]
    def narrow(c: String, iv: (Long, Long)): Unit = {
      val (l0, h0) = ranges.getOrElse(c, (Long.MinValue, Long.MaxValue))
      ranges(c) = (math.max(l0, iv._1), math.min(h0, iv._2))
    }
    // a column equal to one of `lits`: a domain constrains only when
    // EVERY literal maps into it (an unmapped key might be present)
    def members(c: String, lits: Seq[(Any, DataType)]): Unit = {
      def all[T](f: (DataType, Any) => Option[T]): Option[Seq[T]] = {
        val xs = lits.flatMap { case (v, dt) => f(dt, v) }
        Option.when(xs.size == lits.size)(xs)
      }
      all(zoneLong).foreach(zs => narrow(c, (zs.min, zs.max)))
      // two independent equality constraints on one column intersect;
      // keeping only the first set stays conservative and correct
      // (the later one can only shrink what survives the row filter)
      all(bloomKey).foreach(ks => if (!points.contains(c)) points(c) = ks)
      all(partString).foreach(ps => if (!parts.contains(c)) parts(c) = ps)
    }
    def walk(e: Expression): Unit = e match {
      case And(l, r) => walk(l); walk(r)
      case In(a: Attribute, list) if list.nonEmpty =>
        val lits = list.collect { case Literal(v, dt) if v != null => (v, dt) }
        if (lits.size == list.size) members(a.name, lits)
      // the optimizer's form of an IN list longer than
      // `spark.sql.optimizer.inSetConversionThreshold`: the set already
      // holds Catalyst-internal values, as a Literal does
      case InSet(a: Attribute, hset) if hset.nonEmpty && !hset.contains(null) =>
        members(a.name, hset.toSeq.map(v => (v, a.dataType)))
      case _ => comparison(e).foreach {
        case (a, "=" | "<=>", v, dt) => members(a.name, Seq((v, dt)))
        case (a, op, v, dt) => bound(op, dt, v).foreach(narrow(a.name, _))
      }
    }
    conjuncts.foreach(walk)
    Constraints(ranges.toMap, points.toMap, parts.toMap)
  }

  /** The point/IN-set lookup `column IN (values)`, values as external
    * Scala/Java literals (Long, String, java.sql.Timestamp, …). */
  def in(column: String, values: Any*): Constraints =
    from(Seq(In(UnresolvedAttribute.quoted(column), values.map(Literal(_)))))

  /** The zone interval ONE comparison conjunct (`=`, `<=>`, `<`, `<=`,
    * `>`, `>=` between a column and a zone-domain literal, either side)
    * admits. Strict bounds step by one — every zone domain is integral —
    * and a strict bound past the end of the domain admits no interval. */
  def interval(e: Expression): Option[(String, (Long, Long))] =
    comparison(e).flatMap { case (a, op, v, dt) => bound(op, dt, v).map(a.name -> _) }

  private def bound(op: String, dt: DataType, v: Any): Option[(Long, Long)] =
    zoneLong(dt, v).flatMap(x => op match {
      case "=" | "<=>" => Some((x, x))
      case ">" => Option.when(x < Long.MaxValue)((x + 1, Long.MaxValue))
      case ">=" => Some((x, Long.MaxValue))
      case "<" => Option.when(x > Long.MinValue)((Long.MinValue, x - 1))
      case "<=" => Some((Long.MinValue, x))
      case _ => None
    })

  /** A column-versus-literal comparison, oriented column first. */
  private def comparison(e: Expression): Option[(Attribute, String, Any, DataType)] = e match {
    case c: BinaryComparison => (c.left, c.right) match {
      case (a: Attribute, Literal(v, dt)) => Some((a, c.symbol, v, dt))
      case (Literal(v, dt), a: Attribute) =>
        val flipped = Map("<" -> ">", ">" -> "<", "<=" -> ">=", ">=" -> "<=")
        Some((a, flipped.getOrElse(c.symbol, c.symbol), v, dt))
      case _ => None
    }
    case _ => None
  }

  /** The zone-domain long of a literal, when its type has a recorded
    * zone kind. Catalyst already stores timestamps as Long micros and
    * dates as Int days, so the conversion is a widening. */
  private def zoneLong(dt: DataType, v: Any): Option[Long] = (dt, v) match {
    case (ByteType, x: Byte) => Some(x.toLong)
    case (ShortType, x: Short) => Some(x.toLong)
    case (IntegerType, x: Int) => Some(x.toLong)
    case (LongType, x: Long) => Some(x)
    case (DateType, x: Int) => Some(x.toLong)
    case (TimestampType, x: Long) => Some(x)
    case _ => None
  }

  /** The bloom-domain key of an equality literal: integrals probe as
    * themselves, strings through xxhash64 — the domains the manifest
    * blooms were BUILT in ([[SnapshotLog.keyAsLong]]). Timestamps and
    * dates are deliberately EXCLUDED: their literals are epoch
    * micros/days while keyAsLong's `cast(col AS long)` records epoch
    * SECONDS — probing across domains would answer definitely-absent
    * for present rows, turning pruning into silent row loss. Their
    * zones (recorded in the literal's own domain) still prune. */
  private def bloomKey(dt: DataType, v: Any): Option[Long] = (dt, v) match {
    case (StringType, s: UTF8String) => Some(SnapshotLog.hashStringKey(s.toString))
    case (ByteType | ShortType | IntegerType | LongType, _) => zoneLong(dt, v)
    case _ => None
  }

  /** Partition-value sets are recorded as `cast(col AS string)`; only
    * string-typed literals round-trip that cast verbatim, so only they
    * constrain partition pruning. */
  private def partString(dt: DataType, v: Any): Option[String] = (dt, v) match {
    case (StringType, s: UTF8String) => Some(s.toString)
    case _ => None
  }

  /** A file is kept unless some requested column has recorded zone
    * stats proving its range misses. A column with no stats on this file
    * keeps it. */
  private def zoneKeeps(f: DataFile, ranges: Map[String, (Long, Long)]): Boolean =
    ranges.forall { case (c, (lo, hi)) =>
      f.stats.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi }
    }
}
