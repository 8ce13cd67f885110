package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextOps
import graft.lake.{CommitConflictException, LakeCatalog, LakeTable}

/** MAINTAINED BM25 inverted index (X57, r18; hardened r19): the
  * lexical-search leg of the standing-state family. q71 computes BM25
  * from raw text per run — fine for a probe query, wrong as the serving
  * shape: a production keyword search reads an INDEX, and at 100 TB
  * that index is standing lake state that must follow the corpus
  * through appends, takedowns and re-crawls exactly like the dedup/ANN
  * state (X49/X50) does.
  *
  * State: `tfpost` (w, doc_id, tf) — the inverted index, one row per
  * (document, distinct term), BUCKETED on `w` (M36) so a search's
  * probe-term fetch prunes to the terms' buckets instead of scanning
  * the index (Bm25IndexSpec proves the pruning by vaporizing the
  * excluded buckets' files); `lens` (doc_id, dl); `cstats` — the
  * (doc count, Σdl) cells behind avgdl plus the last-applied
  * maintenance EVENT id, maintained by EXACT integer deltas (the
  * [[MomentState]] group-law: a retired doc subtracts the very numbers
  * it once added). df is deliberately NOT standing state: a search
  * derives it from the probe terms' posting lists (an
  * O(postings-of-terms) aggregate that is always current), so
  * maintenance has no per-term bookkeeping to drift.
  *
  * Maintenance cost is O(changed docs' tokens): every index commit is
  * a [[LakeTable.replaceByKey]] with the maintenance id list as the
  * explicit delete cover (append included — so a RETRIED run replaces
  * its own first attempt's rows instead of double-indexing), and only
  * the changed docs' `lens` rows are fetched (a key-filtered read;
  * stats/bloom skipping applies) to mint the counter delta. The
  * standing index is never scanned to maintain it.
  *
  * Crash/retry contract (ADVICE r18 #1, restructured r19): each
  * maintenance event carries a caller-issued distinct `eventId`; the
  * counter commit is GATED on a per-event marker row (already applied
  * → skip) and lands BEFORE the index commits. Every crash state is
  * therefore one of
  *   - counter new, index old: avgdl/n reflect docs not yet (or still)
  *     indexed — every score shifts by the same saturation factor, a
  *     bounded calibration wobble, never a wrong posting;
  *   - mid-index (tfpost new, lens old): only the in-flight docs score
  *     against a stale length, bounded to the changed slice;
  * and a RETRY of the same eventId converges bit-exactly: the marker
  * skips the already-applied counter delta (whose derivation would
  * otherwise read post-commit lens rows and mint zero/garbage — the
  * r18 drift hole) and the replaceByKey index commits are idempotent
  * by value.
  *
  * Concurrency contract: counter updates are a genuine CAS loop — the
  * read and the overwrite share one table handle, so a concurrent
  * commit surfaces [[CommitConflictException]] and the loop re-reads
  * and re-applies. Combined with the marker gate this makes every
  * event's delta EXACTLY-ONCE under any interleaving — racing
  * maintainers, zombie duplicates, out-of-order retries (Bm25IndexSpec
  * races all three). The markers accrete one two-column row per
  * maintenance event (a nightly year ≈ 365 rows — metadata-scale next
  * to the index); [[reconcile]] remains the repair for EXTERNAL drift
  * (a hand-edited table, a wrong delta), recomputing (n, Σdl) from
  * `lens` in one bounded aggregate. */
object Bm25Index {

  private def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").cast("long").as("doc_id"),
      TextOps.tokens(col("text")).as("tk"))

  private def postingsOf(docs: DataFrame): DataFrame =
    tokens(docs)
      .select(col("doc_id"), explode(col("tk")).as("w"))
      .groupBy("w", "doc_id").agg(count(lit(1)).as("tf"))

  private def lensOf(docs: DataFrame): DataFrame =
    tokens(docs).select(col("doc_id"), size(col("tk")).cast("long").as("dl"))

  /** (docs added, Σdl added) of a changed slice — one bounded action. */
  private def statsOf(lens: DataFrame): (Long, Long) = {
    val r = lens.agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def statsRows(t: LakeTable): Map[String, Long] =
    t.read().collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def readStats(catalog: LakeCatalog, db: String): (Long, Long) = {
    val m = statsRows(catalog.loadTable(db, "cstats").get)
    (m("n"), m("sumdl"))
  }

  /** The gated CAS counter commit: read and overwrite share ONE handle,
    * so an interleaved commit CASes to [[CommitConflictException]] and
    * the loop re-reads — a concurrent maintainer's delta is never lost.
    * The per-event marker row (`e<id>`) makes application exactly-once:
    * returns false when `eventId` was already applied (crash retry or
    * zombie duplicate — the delta must NOT re-apply). */
  private[operators] def counterDelta(catalog: LakeCatalog, db: String,
      eventId: Long, dn: Long, ddl: Long): Boolean = {
    require(eventId > 0, s"maintenance eventId must be positive: $eventId")
    val marker = s"e$eventId"
    var attempts = 0
    while (true) {
      val t = catalog.loadTable(db, "cstats").get
      val m = statsRows(t)
      if (m.contains(marker)) return false
      val s = t.read().sparkSession
      import s.implicits._
      val kept = m.toSeq.filter { case (k, _) => k != "n" && k != "sumdl" }
      try {
        t.overwrite((kept ++ Seq((marker, 1L), ("n", m("n") + dn),
          ("sumdl", m("sumdl") + ddl))).toDF("k", "s"))
        return true
      } catch {
        case e: CommitConflictException =>
          attempts += 1
          if (attempts >= 64) throw e
      }
    }
    false // unreachable
  }

  /** Retention posture (VERDICT r18 stretch #8): the counter takes one
    * overwrite snapshot per maintenance event, so it carries the
    * standing-state expiry policy ([[StandingState.Retention]], M53). */
  private[operators] val CounterRetention = StandingState.Retention

  def provision(catalog: LakeCatalog, db: String, docs: DataFrame): Unit = {
    val mor = StandingState.MorProps
    val tk = tokens(docs).localCheckpoint(true) // postings + lens + stats
    val lens = tk.select(col("doc_id"), size(col("tk")).cast("long").as("dl"))
      .localCheckpoint(true)
    catalog.createTable(db, "tfpost", StructType(Seq(
        StructField("w", StringType), StructField("doc_id", LongType),
        StructField("tf", LongType))),
        partitionBy = Seq("bucket(16, w)"), props = mor)
      .append(tk.select(col("doc_id"), explode(col("tk")).as("w"))
        .groupBy("w", "doc_id").agg(count(lit(1)).as("tf")))
    catalog.createTable(db, "lens", StructType(Seq(
        StructField("doc_id", LongType), StructField("dl", LongType))),
        props = mor)
      .append(lens)
    val (n, sumdl) = statsOf(lens)
    val s = docs.sparkSession
    import s.implicits._
    catalog.createTable(db, "cstats", StructType(Seq(
        StructField("k", StringType), StructField("s", LongType))),
        props = CounterRetention)
      .append(Seq(("n", n), ("sumdl", sumdl)).toDF("k", "s"))
  }

  /** Nightly batch append of NEW doc ids: counter first (gated on
    * `eventId` — the crash direction costs only briefly-unsearchable
    * docs in avgdl), then the index rows via explicit-cover
    * replaceByKey so a retry replaces its own first attempt. */
  def append(catalog: LakeCatalog, db: String, docs: DataFrame,
      eventId: Long): Unit = {
    val lens = lensOf(docs).localCheckpoint(true)
    val ids = lens.select("doc_id")
    val (an, adl) = statsOf(lens)
    counterDelta(catalog, db, eventId, an, adl)
    catalog.loadTable(db, "tfpost").get
      .replaceByKey(postingsOf(docs), Seq("doc_id"), keys = ids)
    catalog.loadTable(db, "lens").get
      .replaceByKey(lens, Seq("doc_id"), keys = ids)
  }

  /** Takedown/retention: subtract exactly the stored contribution (the
    * changed docs' `lens` rows are fetched by key BEFORE the delete —
    * and before the retry-skip decision, so a retried run that already
    * deleted them skips the zero delta via the gate instead of
    * committing it), then retire the index rows. `ids`: one column
    * `doc_id`. */
  def retire(catalog: LakeCatalog, db: String, ids: DataFrame,
      eventId: Long): Unit = {
    val old = catalog.loadTable(db, "lens").get.read()
      .join(broadcast(ids.select(col("doc_id").cast("long").as("doc_id"))),
        "doc_id")
    val (rn, rdl) = statsOf(old)
    counterDelta(catalog, db, eventId, -rn, -rdl)
    Seq("tfpost", "lens").foreach { t =>
      catalog.loadTable(db, t).get.addEqualityDeletes(ids, Seq("doc_id"))
    }
  }

  /** Re-crawl: counter delta (−old + new, gated), then replace the
    * changed docs' postings and length rows in ONE commit per table
    * (explicit key cover — an empty re-crawl still retires). `updated`:
    * (doc_id, text). */
  def recrawl(catalog: LakeCatalog, db: String, updated: DataFrame,
      eventId: Long): Unit = {
    val ids = updated.select(col("doc_id").cast("long").as("doc_id"))
    val newLens = lensOf(updated).localCheckpoint(true)
    val old = catalog.loadTable(db, "lens").get.read()
      .join(broadcast(ids), "doc_id")
    val (on, odl) = statsOf(old)
    val (nn, ndl) = statsOf(newLens)
    counterDelta(catalog, db, eventId, nn - on, ndl - odl)
    catalog.loadTable(db, "tfpost").get
      .replaceByKey(postingsOf(updated), Seq("doc_id"), keys = ids)
    catalog.loadTable(db, "lens").get
      .replaceByKey(newLens, Seq("doc_id"), keys = ids)
  }

  /** Counter repair: recompute (n, Σdl) from the `lens` table in one
    * bounded aggregate and CAS it in, preserving the applied-event
    * markers — the documented recovery from EXTERNAL drift (a wrong
    * delta, a hand-edited table). O(corpus) over the two-long-per-doc
    * lens table, run on demand, never on the serving path. */
  def reconcile(catalog: LakeCatalog, db: String): Unit = {
    val (n, sumdl) = statsOf(catalog.loadTable(db, "lens").get.read())
    var attempts = 0
    while (attempts < 8) {
      val t = catalog.loadTable(db, "cstats").get
      val kept = statsRows(t).toSeq
        .filter { case (k, _) => k != "n" && k != "sumdl" }
      val s = t.read().sparkSession
      import s.implicits._
      try {
        t.overwrite((kept ++ Seq(("n", n), ("sumdl", sumdl)))
          .toDF("k", "s"))
        return
      } catch { case _: CommitConflictException => attempts += 1 }
    }
    throw new CommitConflictException(
      s"reconcile on $db.cstats: lost the CAS 8 times — a maintenance " +
        "storm is running; rerun reconcile after it drains")
  }

  /** BM25 top-k over the STANDING index (Robertson k1=1.2, b=0.75,
    * q71's exact algebraic form incl. the fixed-order per-term pivot):
    * probe-term postings fetched from the index through
    * [[LakeTable.readPruned]] — the In-filter prunes the bucket(w)
    * partitions AND reaches the parquet scan — df derived from those
    * postings, avgdl from the maintained exact counters. */
  def search(catalog: LakeCatalog, db: String, terms: Seq[String],
      k: Int): DataFrame = {
    require(terms.nonEmpty, "BM25 search needs at least one probe term")
    val tf = catalog.loadTable(db, "tfpost").get
      .readPruned(Seq(org.apache.spark.sql.sources.In("w", terms.toArray)))
      .filter(col("w").isin(terms: _*))
      .select(col("w"), col("doc_id"), col("tf").cast("double").as("tf"))
      // lazy cut (r19 optimization round): df + contributions read one
      // persisted fetch; the dfreq broadcast build materializes it —
      // no separate barrier job
      .transform(graft.Cut.lazyCut)
    val dfreq = tf.groupBy("w").agg(count(lit(1)).cast("double").as("df"))
    val lens = catalog.loadTable(db, "lens").get.read()
      .select(col("doc_id"), col("dl").cast("double").as("dl"))
    val (nL, sumdlL) = readStats(catalog, db)
    // fail loudly (the KnnPrune posture) instead of propagating the
    // NaN that n = 0 would push through every score
    require(nL > 0,
      s"BM25 search on $db: the maintained corpus is empty (n = $nL)")
    val n = lit(nL.toDouble)
    // one IEEE division of two exact integers — the same double the
    // oracle's SUM(len)::DOUBLE / COUNT(*)::DOUBLE produces
    val avgdl = lit(sumdlL.toDouble / nL.toDouble)
    val contrib = tf.join(broadcast(dfreq), "w")
      .join(lens, "doc_id")
      .select(col("doc_id"), col("w"),
        (log((n - col("df") + 0.5) / (col("df") + 0.5) + 1)
          * (col("tf") * 2.2)
          / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl)))
          .as("contrib"))
    val pivot = terms.map(w =>
      coalesce(max(when(col("w") === w, col("contrib"))), lit(0.0)))
      .reduceLeft(_ + _)
    contrib.groupBy("doc_id").agg(pivot.as("s"))
      .orderBy(col("s").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), round(col("s"), 4).as("score"))
  }
}
