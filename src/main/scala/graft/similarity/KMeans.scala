package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PqEncode

/** Spherical k-means (cosine objective) expressed entirely as DataFrame
  * algebra — Lloyd iterations where each step is:
  *
  *   assign: each vector's nearest centroid by cosine, a per-row scan
  *           of the collected centroids ([[assign]]: the
  *           [[graft.functions.PqEncode]] kernel, a projection)
  *   update: posexplode → per-(centroid, position) mean → reassemble arrays
  *
  * No MLlib, no RDDs: the update is a shuffle-bounded aggregation and the
  * centroid table the assign collects is k rows, so the same plan trains
  * on 10⁹ vectors. Deterministic seeding (hash-spread pick of initial
  * centroids) keeps results reproducible run-to-run.
  *
  * Each Lloyd round ends in an eager `localCheckpoint`: the round's output
  * references the previous centroids twice (assign + the keep-empty-cluster
  * left join), so without truncation the logical plan doubles per iteration
  * — the exponential-lineage failure mode [[DedupClusters]] hit in its
  * pointer-jumping loop (22s → 1s once fixed). Checkpointed state is k
  * rows; the cost is negligible, and a 20-iteration production fit plans in
  * O(1) per round (pinned by KMeansSpec).
  */
object KMeans {

  /** @return DataFrame(centroid_id LONG, centroid ARRAY<FLOAT>) */
  def fit(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    // deterministic, hash-spread initialization: the k vectors with the
    // smallest xxhash64(vec_id) — spread uniformly, no RNG state
    val init = corpus
      .withColumn("_h", xxhash64(col("vec_id")))
      .orderBy(col("_h")).limit(k)
      .withColumn("centroid_id", // k rows post-limit, one partition
        row_number().over(
          Window.partitionBy(
            graft.functions.WindowKeys.constantPartitionKey(col("_h")))
            .orderBy(col("_h"))).cast("long") - 1)
      .select(lit(0).as("grp"), col("centroid_id"),
        col("embedding").as("centroid"))
    lloyd(corpus.withColumn("grp", lit(0)), init, iters).drop("grp")
  }

  /** GROUPED Lloyd training: one fit over many independent groups — each
    * round is ONE distributed job for ALL groups, not one per group.
    * `corpus` carries (`grp`, `vec_id`, `embedding`) with `vec_id` unique
    * within each group; returns (grp, centroid_id, centroid).
    *
    * The motivating shape is PQ codebook training
    * ([[ProductQuantizer.codebooksKMeans]]): numSub independent subspace
    * fits cost numSub × iters × ~3 fixed-overhead jobs when looped, but
    * the per-group work is tiny — fusing the subspaces into (grp, subvec)
    * keyed rounds collapses that to iters × ~3 jobs total, with the SAME
    * per-group math (init picks each group's k smallest-xxhash64(vec_id)
    * vectors — the hash ignores grp, matching what the per-group [[fit]]
    * loop picked; assign scans each row's own group's centroids; the
    * update means aggregate by (grp, centroid_id, pos)).
    *
    * Init ranks each group's vectors with one window over grp — a
    * per-group total sort, same asymptotics as one assign round. [[fit]]
    * keeps its sort-limit init (a global TakeOrderedAndProject is cheaper
    * when there is only one group). */
  def fitGrouped(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    val init = corpus
      .withColumn("_h", xxhash64(col("vec_id")))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("_h"))))
      .filter(col("_rn") <= k)
      .select(col("grp"), (col("_rn") - 1).cast("long").as("centroid_id"),
        col("embedding").as("centroid"))
      // groups × k rows; truncating here keeps round 1 from re-running the
      // full-corpus init window through BOTH of its references
      .localCheckpoint(true)
    lloyd(corpus, init, iters)
  }

  /** `iters` Lloyd rounds over `points` (`grp`, `vec_id`, `embedding`)
    * from the (grp, centroid_id, centroid) `init`. */
  private def lloyd(points: DataFrame, init: DataFrame,
                    iters: Int): DataFrame =
    (1 to iters).foldLeft(init) { (centroids, _) =>
      val updated = assignGrouped(points, centroids)
        .select(col("grp"), col("centroid_id"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("grp", "centroid_id", "pos")
        .agg(avg(col("x")).as("m"))
        .groupBy("grp", "centroid_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("grp"), col("centroid_id"),
          transform(col("pm"), e => e.getField("m").cast("float")).as("centroid"))
      // a centroid that won zero vectors emits no update row; keep its
      // previous position instead of silently shrinking the codebook below
      // k (callers size structures by k — PQ codes, IVF cells).
      // localCheckpoint(eager): truncate lineage so round N+1 plans against
      // a k-row LogicalRDD, not a plan tree that doubled N times.
      centroids
        .select(col("grp"), col("centroid_id"), col("centroid").as("_prev"))
        .join(updated, Seq("grp", "centroid_id"), "left")
        .select(col("grp"), col("centroid_id"),
          coalesce(col("centroid"), col("_prev")).as("centroid"))
        .localCheckpoint(true)
    }

  /** Grouped twin of [[assign]]: `corpus` carries `grp` and each row
    * scans only its own group's centroids (`centroids` carries `grp`
    * too); a row whose group has no centroid — a NULL group included —
    * gives no row. Same key, tie-break and degenerate-centroid rule;
    * output `corpus.columns :+ centroid_id`. */
  def assignGrouped(corpus: DataFrame, centroids: DataFrame): DataFrame =
    Similarity.assignCells(corpus, PqEncode.cells(centroids, Some("grp")),
      corpus.columns.toSeq, array(col("grp")))

  /** Nearest-centroid assignment by cosine: the [[Similarity.ivfAssign]]
    * argmin with every corpus column carried through, output columns
    * `corpus.columns :+ centroid_id`, one row per input row. Ties go to
    * the lowest centroid id, the window form's tie-break (highest cosine,
    * then lowest id; pinned in KMeansSpec). A zero-norm centroid or
    * vector gets the +∞ key of [[Similarity.negCosGuarded]]: such a
    * centroid never wins, and an all-zero vector falls to the lowest
    * centroid id. The window form would throw DIVIDE_BY_ZERO under ANSI
    * mode, or with it off sort the NaN first; this edge deliberately
    * differs from it and has its own spec. */
  def assign(corpus: DataFrame, centroids: DataFrame): DataFrame =
    Similarity.assignCells(corpus, PqEncode.cells(centroids),
      corpus.columns.toSeq)
}
