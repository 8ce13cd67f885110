package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.lake.LakeCatalog

/** Index REBUILD/republish (X52 codebook / X53 df-head — VERDICT r17
  * missing #1): the lifecycle stage [[IndexMaintenance]] deliberately
  * defers. Maintenance keeps derived index rows CURRENT under a FIXED
  * codebook / df-head order; as the corpus drifts, that fixed artifact
  * decays — codebook staleness costs recall (q170/q174/q177's occupancy
  * audits are the trigger), head staleness costs bucket balance. A real
  * pipeline hits the rebuild the first month it runs: retrain on the
  * CURRENT corpus, republish the artifact, and re-derive the standing
  * state under it.
  *
  * Both rebuilds are deliberately O(corpus) — that is what "rebuild"
  * means, and the audits make it RARE; the per-night path stays the
  * O(batch)/O(changed) maintenance. What the operator owes the 100 TB
  * deployment is SAFETY under live readers/writers, which is where the
  * two compositions differ:
  *
  *  - the IVF codebook is published via branch WAP (M35): the new
  *    centroids land on a `rebuild` branch, a caller-supplied validate
  *    hook (the q170-style occupancy audit) inspects the STAGED table,
  *    and only then does one fastForward metadata commit swap main —
  *    a failed validation drops the branch and main readers never saw
  *    the candidate codebook. The corpus reassignment is one compiled
  *    O(corpus·K·d) pass landed as ONE overwrite snapshot. Readers
  *    between the two swaps see a new codebook with old assignments
  *    (or, for a crashed retry, new assignments under a new codebook
  *    already on the branch): every such window degrades IVF recall —
  *    candidates come from mixed routings — but never correctness,
  *    because the search's exact re-rank scores true vectors.
  *
  *  - the df-head swap has a sharper hazard: prefix-cover losslessness
  *    needs the ARRIVAL's keying order and the STORED postings' keying
  *    order to agree (PrefixIndex.postings), so a naive
  *    overwrite-head-then-rewrite-postings has a window where a batch
  *    keyed under one order probes postings keyed under the other —
  *    MISSED PAIRS, the dangerous direction (RebuildSpec plants a pair
  *    that such a mixed state provably misses). The swap therefore
  *    goes through a pigeonhole-lossless SUPERSET:
  *      (1) postings := old ∪ new   (append the re-keyed rows)
  *      (2) dfhead   := new         (one overwrite)
  *      (3) postings := new only    (one overwrite, retiring old keys)
  *    Between any two commits, every stored doc's prefix rows exist
  *    under BOTH orders, so whichever head a reader loads, the cover
  *    holds — crashes and concurrent readers degrade to spurious
  *    candidates (discarded by exact verify), never to missed pairs.
  *    Incremental runs load the head when they start, so a run after
  *    the swap uses the new order. What must not overlap the swap is a
  *    writer of postings that loaded the old head: it would append
  *    old-keyed postings after (3) retired that order.
  */
object IndexRebuild {

  /** Finite-positive squared-norm predicate — the gate that keeps
    * non-finite vectors out of a retrain. Spark orders NaN ABOVE every
    * double, so `> 0` alone would admit NaN norms (any NaN element)
    * and `>= 0` would admit Inf overflows; requiring `0 < n < +Inf`
    * excludes NULL, zero, NaN and Inf norms in one engine-portable
    * comparison (NaN < Inf is FALSE under Spark's NaN-greatest order).
    * A NaN or Inf vector among the k-means seeds or members would turn
    * its centroid non-finite, and a zero vector has no direction. */
  private def finiteNorm: Column = {
    val n = graft.functions.VectorOps.sqNorm(col("v"))
    n > lit(0D) && n < lit(Double.PositiveInfinity)
  }

  /** Retrain the IVF codebook on the CURRENT corpus (read back from the
    * lake `vectors` table, non-finite rows excluded — they are never
    * indexed), publish it via branch WAP on the `centroids` table, and
    * reassign the full corpus as ONE overwrite snapshot on `assign`.
    * `assignCarry` is the trainer's compiled nearest-centroid pass
    * returning (bucket, v); `assignIds` the (vec_id, bucket) form the
    * assignment table stores; `validate` sees the STAGED centroids
    * DataFrame before publish and aborts the swap by throwing (main is
    * left untouched, the branch dropped). Returns the published
    * codebook. */
  def rebuildIvf(
      catalog: LakeCatalog, db: String, k: Int, iters: Int,
      assignCarry: (DataFrame, Array[Array[Double]]) => DataFrame,
      assignIds: (DataFrame, Array[Array[Double]]) => DataFrame,
      validate: DataFrame => Unit = _ => ()): Array[Array[Double]] = {
    val cur = catalog.loadTable(db, "vectors").get.read()
      .filter(finiteNorm)
      .select(col("vec_id"), col("v"))
      .localCheckpoint(true) // seeds + 2 scans/round + final reassignment
    val spark = cur.sparkSession
    import spark.implicits._
    // deterministic seeds: the k lowest CURRENT vec_ids — the spelling
    // the oracle can replay (ORDER BY vec_id LIMIT k over the same rows)
    val seeds = cur.orderBy("vec_id").limit(k).collect()
      .map(_.getSeq[Double](1).toArray)
    require(seeds.length == k,
      s"rebuildIvf: corpus holds ${seeds.length} finite vectors < k=$k")
    val cents = KMeansTrainer.train(cur, seeds, iters)(assignCarry)

    // ---- WAP publish: stage on a branch, validate, one fastForward
    val centsDf = cents.zipWithIndex.toSeq
      .map { case (cv, i) => (i.toLong, cv.toSeq) }.toDF("cid", "cv")
    val cT0 = catalog.loadTable(db, "centroids").get
    // a crashed prior rebuild may have left the branch behind — the
    // retry recreates it from the current head
    val cT = if (cT0.meta.branches.contains("rebuild"))
      cT0.dropBranch("rebuild").createBranch("rebuild")
    else cT0.createBranch("rebuild")
    cT.onBranch("rebuild").overwrite(centsDf)
    val staged = catalog.loadTable(db, "centroids").get.onBranch("rebuild")
    try validate(staged.read())
    catch {
      case e: Throwable =>
        catalog.loadTable(db, "centroids").get.dropBranch("rebuild")
        throw e
    }
    catalog.loadTable(db, "centroids").get
      .fastForward("rebuild").dropBranch("rebuild")

    // ---- reassign: one compiled pass, one snapshot swap (also folds
    // away any maintenance-era equality deletes on the assign table)
    catalog.loadTable(db, "assign").get.overwrite(
      assignIds(cur, cents)
        .select(col("vec_id"), col("bucket").cast("long").as("bucket")))
    cents
  }

  /** Rebuild the df head on the CURRENT corpus (read back from the lake
    * `shingles` table) and re-key every standing posting row under the
    * new order — the three-commit lossless-superset swap documented
    * above. Returns the new head. */
  def rebuildDfHead(catalog: LakeCatalog, db: String): Map[Long, Long] = {
    val sh = catalog.loadTable(db, "shingles").get.read()
      .select(col("doc_id"), col("sh"))
    val spark = sh.sparkSession
    import spark.implicits._
    val hashed = PrefixIndex.hashed(sh)
    val head = PrefixIndex.dfHead(hashed)
    val newPost = PrefixIndex.postings(hashed, head)
      .localCheckpoint(true) // consumed twice: superset append + final swap
    catalog.loadTable(db, "postings").get.append(newPost) // (1) superset
    catalog.loadTable(db, "dfhead").get
      .overwrite(head.toSeq.toDF("h", "df")) // (2) head swap
    catalog.loadTable(db, "postings").get.overwrite(newPost) // (3) retire old keys
    head
  }
}
