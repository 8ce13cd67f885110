package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.lake.LakeCatalog

/** Shared posture of the standing-state maintenance family (X49/X50,
  * X56/X57, X58): tiny high-churn tables (counters, moment cells, index
  * watermarks) take one overwrite snapshot PER maintenance event — a
  * nightly pipeline accretes ~365/year on each — so they carry their own
  * M53 retention policy and a bare `CALL expire_snapshots(table)` honors
  * it (VERDICT r18 stretch #8; RetentionSpec proves expiry composes with
  * the maintained-state arcs). Also the one-time provisioning of the
  * near-dup and IVF standing state the registry's maintained-index arcs
  * build on, and the bounded driver pulls of their fixed artifacts
  * (df head, codebook). */
object StandingState {

  /** Default expiry for per-event-overwrite state tables: keep a week of
    * history and never fewer than 3 snapshots (enough to diagnose the
    * last few maintenance events). */
  val Retention: Map[String, String] = Map(
    "history.expire.max-snapshot-age-ms" -> (7L * 24 * 3600 * 1000).toString,
    "history.expire.min-snapshots-to-keep" -> "3")

  /** The standing docs/index tables are provisioned MERGE-ON-READ so
    * standing-state maintenance ([[IndexMaintenance]]) can retire or
    * replace a changed doc's rows with O(changed-rows) equality-delete
    * commits — never a corpus rewrite; compaction
    * ([[graft.lake.Procedures.rewriteDataFiles]]) folds the deletes in
    * on its own schedule. */
  private[graft] val MorProps = Map("write.delete.mode" -> "merge-on-read")

  /** Provision the standing near-dup state from an initial corpus
    * (possibly empty): the docs landing table plus the three index
    * tables q167 reads — shingle sets, rare-first prefix postings, and
    * the df head that fixes the corpus-global class order. In
    * production this is the one-time backfill; later arrivals are
    * indexed under the stored head, which stays fixed (staleness
    * affects only bucket sizes — cost — never recall: the pigeonhole
    * cover needs order consistency, not df accuracy; rebuild the head
    * with [[IndexRebuild.rebuildDfHead]] when bucket skew warrants). */
  def provisionNearDupState(
      catalog: LakeCatalog,
      db: String,
      schema: StructType,
      initial: DataFrame): Unit = {
    import org.apache.spark.sql.types._
    catalog.createTable(db, "docs", schema, props = MorProps)
      .append(initial)
    val docsSh = PrefixIndex.shingled(initial)
    val hashed = PrefixIndex.hashed(docsSh)
    val head = PrefixIndex.dfHead(hashed)
    catalog.createTable(db, "shingles", StructType(Seq(
        StructField("doc_id", LongType),
        StructField("sh", ArrayType(StringType)))), props = MorProps)
      .append(docsSh)
    catalog.createTable(db, "postings", StructType(Seq(
        StructField("h", LongType), StructField("doc_id", LongType),
        StructField("k", IntegerType), StructField("pos", IntegerType))),
        props = MorProps)
      .append(PrefixIndex.postings(hashed, head))
    val s = initial.sparkSession
    import s.implicits._
    catalog.createTable(db, "dfhead", StructType(Seq(
        StructField("h", LongType), StructField("df", LongType))))
      .append(head.toSeq.toDF("h", "df"))
  }

  /** Bounded driver pull: the head table is ≤ [[PrefixIndex.DfHeadMax]]
    * rows by construction. */
  private[graft] def loadHead(spark: SparkSession, catalog: LakeCatalog,
      db: String): Map[Long, Long] = {
    import spark.implicits._
    catalog.loadTable(db, "dfhead").get.read()
      .as[(Long, Long)].collect().toMap
  }

  /** One-time standing IVF state: the codebook as a lake table (cid,
    * cv — the governed artifact a trainer publishes and every consumer
    * reads), the vector landing table, and the bucket assignment index.
    * `initial` columns: (vec_id LONG, v ARRAY<DOUBLE>); `assign(initial)`
    * must return one (vec_id, bucket) row per input row. */
  def provisionIvfState(
      catalog: LakeCatalog,
      db: String,
      centroids: Array[Array[Double]],
      initial: DataFrame,
      assign: DataFrame => DataFrame): Unit = {
    import org.apache.spark.sql.types._
    val s = initial.sparkSession
    import s.implicits._
    catalog.createTable(db, "centroids", StructType(Seq(
        StructField("cid", LongType),
        StructField("cv", ArrayType(DoubleType)))))
      .append(centroids.zipWithIndex.toSeq
        .map { case (cv, i) => (i.toLong, cv.toSeq) }.toDF("cid", "cv"))
    catalog.createTable(db, "assign", StructType(Seq(
        StructField("vec_id", LongType),
        StructField("bucket", LongType))), props = MorProps)
      .append(assign(initial)
        .select(col("vec_id"), col("bucket").cast("long").as("bucket")))
    catalog.createTable(db, "vectors", StructType(Seq(
        StructField("vec_id", LongType),
        StructField("v", ArrayType(DoubleType)))), props = MorProps)
      .append(initial)
  }

  /** Bounded driver pull of the stored codebook: K×d doubles by
    * construction (the q174 budget note). */
  def loadCentroids(spark: SparkSession, catalog: LakeCatalog,
      db: String): Array[Array[Double]] = {
    import spark.implicits._
    catalog.loadTable(db, "centroids").get.read()
      .as[(Long, Seq[Double])].collect().sortBy(_._1).map(_._2.toArray)
  }
}
