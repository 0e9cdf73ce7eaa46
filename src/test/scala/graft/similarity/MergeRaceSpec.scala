package graft.similarity

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** A generation MERGE against a fold-in that has claimed its generation
  * but not committed it. The merge restamps its survivors with a fresh
  * number M above the open claim, so if it ran, the fold's later commit
  * (a lower `_seq`) would lose every overlapping key to the older merged
  * rows. The merge must defer instead, and the size-tiered policy then
  * takes the full fold, which carries late generations over. */
class MergeRaceSpec extends SparkTestBase {

  import spark.implicits._

  private def vecs(ids: Seq[Long], tag: Float) =
    ids.map(i => (i, Seq(i.toFloat, tag))).toDF("vec_id", "embedding")

  private def tagOf(path: String, id: Long): Option[Float] =
    TrainedState.loadVectors(spark, path).filter(col("vec_id") === id)
      .collect().map(_.getSeq[Float](1)(1)).headOption

  /** What a fold-in leaves after claiming generation `n` and before its
    * job commits: the lock marker, and no `gen-n` directory. */
  private def claimOnly(path: String, n: Long): Unit = {
    val lock = new java.io.File(s"$path/_delta/_locks/gen-$n")
    assert(lock.createNewFile(), s"lock gen-$n already taken")
    assert(!new java.io.File(s"$path/_delta/gen-$n").exists())
  }

  test("a merge defers while a lower claim is uncommitted, so the fold " +
      "that commits after it still wins its keys") {
    val path = java.nio.file.Files.createTempDirectory("merge_race")
      .toString + "/vecs"
    val k = 7L
    TrainedState.saveVectors(vecs(0L until 100L, 0f), path)
    TrainedState.appendVectorsDelta(vecs(Seq(k), 1f), path) // gen-1
    TrainedState.appendVectorsDelta(vecs(Seq(k), 2f), path) // gen-2
    claimOnly(path, 3L)
    val merged = TrainedState.mergeDeltaGenerations(spark, path,
      TrainedState.vectorsSchema, Seq("vec_id"))
    // the fold commits gen-3 after the merge
    vecs(Seq(k), 3f).withColumn("_seq", lit(3L)).repartition(1)
      .write.parquet(s"$path/_delta/gen-3")
    assert(tagOf(path, k).contains(3f),
      "the load must serve the late-committed gen-3 row")
    assert(!merged,
      "the merge must defer while gen-3 is claimed but uncommitted")
    assert(!new java.io.File(s"$path/_delta/_locks/gen-4").exists(),
      "a deferred merge must release the generation it claimed")
  }

  test("a stale lock left by a crashed writer does not stall " +
      "maintainRoot: the sweep still compacts") {
    val root = java.nio.file.Files.createTempDirectory("merge_stale")
      .toString
    val path = s"$root/vecs"
    // a large base against small deltas: the policy would merge
    TrainedState.saveVectors(vecs(0L until 20000L, 0f), path)
    TrainedState.appendVectorsDelta(vecs(Seq(1L, 2L), 1f), path)
    TrainedState.appendVectorsDelta(vecs(Seq(2L, 3L), 2f), path)
    claimOnly(path, 3L) // its writer died; it never commits
    val receipts = TrainedState.maintainRoot(spark, root, maxGenerations = 2L)
    assert(receipts == Seq(TrainedState.MaintenanceReceipt(path,
      Some("vectors"), 3L, compacted = true)))
    val gens = new java.io.File(s"$path/_delta").list().toSeq
      .filter(_.startsWith("gen-"))
    assert(gens.isEmpty, s"the full fold left generations behind: $gens")
    assert(Seq(1L, 2L, 3L).map(tagOf(path, _)) ==
      Seq(Some(1f), Some(2f), Some(2f)))
    assert(TrainedState.loadVectors(spark, path).count() == 20000L)
    // the next sweep finds the artifact under the threshold
    assert(TrainedState.maintainRoot(spark, root, maxGenerations = 2L)
      .forall(!_.compacted))
  }
}
