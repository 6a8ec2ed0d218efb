package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}

import graft.table.{Merge, SnapshotLog}
import graft.table.SnapshotLog.ConflictGuard

/** Model-based RANDOMIZED walks over the optimistic-concurrency rebase
  * protocol — OccSpec's deterministic stage/interleave/commit cases
  * generalized to arbitrary schedules. Each staged op pins a base,
  * stages a row-preserving rewrite (or a footprint-guarded one), lets a
  * random interleave sequence land for real, then commits through
  * [[SnapshotLog.commitPinned]]; an in-memory model predicts from the
  * conflict rules whether the commit REBASES or ABORTS, and after every
  * step the table's row count and distinct-id count must equal the
  * model's (nothing lost to a rebase, nothing duplicated by one, every
  * interleaved writer's rows intact either way).
  *
  * Ops interpret parameters modulo execution-time state, so list
  * shrinking yields minimal valid counterexample schedules.
  */
object OccWalkProps extends Properties("OccWalk") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters)
      : org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(5).withMaxDiscardRatio(10f)

  /** Interleaves that land between a staged rewrite's pin and commit. */
  sealed trait Ix
  final case class AppendIx(n: Int) extends Ix          // fresh ids
  case object RowdeltaIx extends Ix                     // masks existing ids
  case object ReplaceIx extends Ix                      // rewrites the live set
  case object SchemaIx extends Ix                       // metadata-only commit

  sealed trait Op
  final case class Append(n: Int) extends Op
  /** Row-preserving staged rewrite (the bin-pack/clustering shape). */
  final case class StagedReplace(ix: List[Ix]) extends Op
  /** Footprint-guarded staged rewrite: `inside` appends ids within the
    * guard's zone, so the model predicts conflict exactly when true. */
  final case class StagedGuarded(inside: Boolean) extends Op
  /** Registry-sensitive staged rewrite racing a schema commit. */
  case object StagedRegistry extends Op
  /** A one-delta BRANCH forked, interleaved against, then published:
    * appends compose (rebase), anything that removed fork-base files,
    * added a mask or touched the schema must abort the publish. */
  final case class BranchPublish(n: Int, ix: List[Ix]) extends Op

  private val genIx: Gen[Ix] = Gen.frequency(
    5 -> Gen.choose(1, 8).map(AppendIx),
    2 -> Gen.const(RowdeltaIx),
    2 -> Gen.const(ReplaceIx),
    1 -> Gen.const(SchemaIx))

  private val genOp: Gen[Op] = Gen.frequency(
    4 -> Gen.choose(1, 20).map(Append),
    3 -> Gen.listOfN(2, genIx).map(StagedReplace),
    1 -> Gen.listOfN(3, genIx).map(StagedReplace),
    2 -> Gen.oneOf(true, false).map(StagedGuarded),
    1 -> Gen.const(StagedRegistry),
    2 -> Gen.zip(Gen.choose(1, 10), Gen.listOfN(2, genIx))
      .map((BranchPublish.apply _).tupled))

  private lazy val spark: SparkSession = Sessions.local("4", "occ-walk-props")
  private val walkCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  private final class Walk {
    val dir: String = java.nio.file.Files
      .createTempDirectory(s"graft-occwalk-${walkCounter.incrementAndGet()}")
      .toString + "/t"
    var rows: Long = 0L   // model: live logical row count (ids unique)
    var nextId: Long = 0L
    // branch chunks draw ids from a far-away space so the "ids < nextId
    // are live on main" invariant RowdeltaIx depends on survives an
    // aborted publish (the chunk simply never lands)
    var branchLo: Long = 10000000L
    var branchN: Int = 0

    def append(n: Int): Unit = {
      spark.range(nextId, nextId + n)
        .select(col("id"), (col("id") * 2).as("v")).coalesce(1)
        .write.format("graft").mode("append").option("statsCols", "id")
        .save(dir)
      nextId += n; rows += n
    }

    /** Stage a rewrite of the CURRENT live set; returns (base, removed
      * paths, staged files). Row-preserving: the masked read folds any
      * pending equality deletes, so `rows` is unchanged by the commit. */
    def stage(): (Long, Seq[String], Seq[SnapshotLog.DataFile]) = {
      val base = SnapshotLog.currentSnapshotId(spark, dir).get
      val live = SnapshotLog.filesAt(spark, dir, Some(base))
      val staged = SnapshotLog.writeData(
        SnapshotLog.read(spark, dir, asOf = Some(base)).get.repartition(1),
        dir, statsCol = Some("id"))
      (base, live.map(_.path), staged)
    }

    /** Execute one interleave for real. Returns true when the conflict
      * rules say a ROW-PRESERVING staged rewrite of `removed` cannot
      * rebase past it. */
    def interleave(ix: Ix, stagedRemoved: Set[String]): Boolean = ix match {
      case AppendIx(n) => append(n); false
      case RowdeltaIx =>
        // update-only upsert of 5 ALWAYS-LIVE ids (the walk seed appends
        // 0..9 and nothing ever deletes): adds a mask file, count
        // unchanged — conflicts with any re-stamping rewrite. Ids below
        // nextId are NOT all live (StagedGuarded's outside append jumps
        // the id space), so a nextId-relative window would silently
        // INSERT phantoms and desync the row-count model.
        Merge.mergeOnRead(spark, dir,
          spark.range(0L, 5L).select(col("id"), lit(-1L).as("v")), "id")
        true
      case ReplaceIx =>
        // a racing full rewrite: removes the current live set, which
        // includes every file the staged rewrite pinned → overlap
        val (_, removed, staged) = stage()
        SnapshotLog.commit(spark, dir, "replace", staged, removed,
          Map("table" -> "ix"))
        removed.exists(stagedRemoved)
      case SchemaIx =>
        SnapshotLog.commit(spark, dir, "schema", Seq.empty, Seq.empty,
          Map("walk" -> "schema-interleave"))
        false
    }

    def check(tag: String): Prop = {
      val df = spark.read.format("graft").load(dir)
      val (n, distinct) = {
        val r = df.agg(count(lit(1)), countDistinct(col("id"))).head
        (r.getLong(0), r.getLong(1))
      }
      if (n == rows && distinct == rows) Prop.passed
      else Prop.falsified :| s"$tag: table n=$n distinct=$distinct, model=$rows"
    }
  }

  private def run(w: Walk, op: Op): Prop = op match {
    case Append(n) =>
      w.append(n); w.check(s"after $op")
    case StagedReplace(ix) =>
      val (base, removed, staged) = w.stage()
      val removedSet = removed.toSet
      val conflict = ix.map(w.interleave(_, removedSet)).exists(identity)
      val outcome =
        try { SnapshotLog.commitPinned(spark, w.dir, base, "replace", staged,
          removed, Map("table" -> "walk")); None }
        catch { case e: SnapshotLog.ConcurrentCommitException => Some(e) }
      val agrees =
        if (conflict == outcome.isDefined) Prop.passed
        else Prop.falsified :|
          s"$op: model predicted conflict=$conflict, got ${outcome.orNull}"
      agrees && w.check(s"after $op (conflict=$conflict)")
    case StagedGuarded(inside) =>
      val (base, removed, staged) = w.stage()
      // guard footprint: ids >= nextId + 1000 are OUTSIDE; an inside
      // interleave appends fresh ids (< nextId + 1000 always holds)
      val bound = w.nextId + 1000
      val guard = ConflictGuard(mayReadAdded = Some(_.filter(f =>
        f.stats.get("id").forall(_._1 < bound))))
      if (inside) w.append(3)
      else {
        // outside the footprint: ids from bound + margin
        val lo = bound + 5000
        spark.range(lo, lo + 3)
          .select(col("id"), (col("id") * 2).as("v")).coalesce(1)
          .write.format("graft").mode("append").option("statsCols", "id")
          .save(w.dir)
        w.rows += 3
        w.nextId = lo + 3 // keep ids unique for later appends
      }
      val outcome =
        try { SnapshotLog.commitPinned(spark, w.dir, base, "replace", staged,
          removed, Map("table" -> "walk"), guard = guard); None }
        catch { case e: SnapshotLog.ConcurrentCommitException => Some(e) }
      val agrees =
        if (inside == outcome.isDefined) Prop.passed
        else Prop.falsified :|
          s"$op: inside=$inside but conflict=${outcome.isDefined}: ${outcome.orNull}"
      agrees && w.check(s"after $op")
    case StagedRegistry =>
      val (base, removed, staged) = w.stage()
      SnapshotLog.commit(spark, w.dir, "schema", Seq.empty, Seq.empty,
        Map("walk" -> "schema-interleave"))
      val outcome =
        try { SnapshotLog.commitPinned(spark, w.dir, base, "replace", staged,
          removed, Map("table" -> "walk"),
          guard = ConflictGuard(registrySensitive = true)); None }
        catch { case e: SnapshotLog.ConcurrentCommitException => Some(e) }
      val agrees =
        if (outcome.isDefined) Prop.passed
        else Prop.falsified :| s"$op: schema interleave must conflict"
      agrees && w.check(s"after $op")
    case BranchPublish(n, ix) =>
      import graft.table.Branch
      w.branchN += 1
      val name = s"walkb${w.branchN}"
      Branch.create(spark, w.dir, name)
      val lo = w.branchLo
      w.branchLo += n
      Branch.commitTo(spark, w.dir, name,
        spark.range(lo, lo + n)
          .select(col("id"), (col("id") * 2).as("v")).coalesce(1),
        statsCol = Some("id"))
      // interleaves land on MAIN for real; the model's publish verdict:
      // appends compose, a mask / base-file removal / schema commit aborts
      val conflict = ix.map { i =>
        w.interleave(i, Set.empty)
        i match {
          case _: AppendIx => false
          case RowdeltaIx | ReplaceIx | SchemaIx => true
        }
      }.exists(identity)
      val outcome =
        try { Branch.publish(spark, w.dir, name); None }
        catch { case e: SnapshotLog.ConcurrentCommitException => Some(e) }
      if (outcome.isEmpty) w.rows += n
      else Branch.drop(spark, w.dir, name)
      val agrees =
        if (conflict == outcome.isDefined) Prop.passed
        else Prop.falsified :|
          s"$op: model predicted conflict=$conflict, got ${outcome.orNull}"
      agrees && w.check(s"after $op (conflict=$conflict)")
  }

  property("any stage/interleave/commit schedule agrees with the conflict model") =
    Prop.forAll(Gen.listOfN(8, genOp)) { ops =>
      val w = new Walk
      w.append(10) // non-empty start
      ops.foldLeft(w.check("seed")) { (acc, op) => acc && run(w, op) }
    }
}
