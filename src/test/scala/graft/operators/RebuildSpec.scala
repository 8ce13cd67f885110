package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.lake.LakeCatalog
import graft.queries.LlmQueries

/** Index REBUILD/republish (X52/X53 — VERDICT r17 missing #1).
  *
  * The df-head side carries the sharp planted construction: a corpus
  * whose maintenance drift FLIPS the df order so completely that an
  * arrival keyed under the new head shares NO prefix class with a
  * standing doc's postings keyed under the old head — the exact
  * missed-pair state a naive head-swap produces. Doc S = w1..w12
  * (shingles s1..s10, prefix length 3). Eight fillers initially carry
  * s1..s7 (df 9 ≥ DfFloor → in the head; S's df-0 tail and thus its
  * stored prefix = {s8,s9,s10}); maintenance re-crawls every filler to
  * carry s4..s10 instead, so the REBUILT head holds s4..s10 and S's
  * prefix becomes exactly {s1,s2,s3}. Arrival A = S with the last word
  * changed (jaccard 9/11 ≈ 0.82 ≥ 0.8): its df-0 tail under the new
  * head is {s1,s2,s3,sA}, so its 3-class prefix always intersects
  * {s1,s2,s3} (≥2 survive any 3-of-4 cut) — but NEVER intersects the
  * stale {s8,s9,s10}. Every window of the three-commit swap is then
  * checked lossless, and the mixed state is shown to actually miss.
  */
class RebuildSpec extends SparkSpec {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  private def docsDf(rs: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rs.map { case (i, t) => Row(i, t) }, 1),
      docSchema)

  private def w(i: Int) = s"w$i"
  private val sText = (1 to 12).map(w).mkString(" ") // shingles s1..s10
  private val aText = ((1 to 11).map(w) :+ "xx").mkString(" ") // ∩=9, ∪=11
  private def junk(tag: String) = (0 until 30).map(i => s"$tag$i").mkString(" ")
  private def fillerOld(i: Int) = (1 to 9).map(w).mkString(" ") + " " + junk(s"j$i")
  private def fillerNew(i: Int) = (4 to 12).map(w).mkString(" ") + " " + junk(s"k$i")

  private def pairs(storedSh: DataFrame, storedPost: DataFrame,
      head: Map[Long, Long], arrivals: DataFrame): Set[(Long, Long)] =
    LlmQueries.incrementalNearDup(spark, storedSh, storedPost, head, arrivals)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("df-head rebuild (X53): the mixed head/postings state provably " +
    "misses a true pair; every window of the three-commit swap is " +
    "lossless; the operator leaves a consistent re-keyed index") {
    val wh = Files.createTempDirectory("graft-rbh-wh")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("nd")
    val fillers = (100L to 107L).map(i => i -> fillerOld(i.toInt))
    StandingState.provisionNearDupState(cat, "nd", docSchema,
      docsDf(Seq(1L -> sText) ++ fillers))
    // the drift: every filler re-crawled from the s1..s7 carrier to the
    // s4..s10 carrier, postings re-keyed under the STORED (old) head
    IndexMaintenance.recrawlDocs(cat, "nd",
      docsDf((100L to 107L).map(i => i -> fillerNew(i.toInt))))

    val oldHead = StandingState.loadHead(spark, cat, "nd")
    val shNow = cat.loadTable("nd", "shingles").get.read()
    val postOld = cat.loadTable("nd", "postings").get.read()
    val hashedNow = PrefixIndex.hashed(shNow)
    val newHead = PrefixIndex.dfHead(hashedNow)
    // the drift really flipped the head: old head keyed by s1..s7, new
    // by s4..s10 — they differ
    assert(newHead.keySet != oldHead.keySet, "drift must change the head")

    val arrival = docsDf(Seq(50L -> aText))
    // consistent OLD order: caught (stale head alone is safe — the
    // pigeonhole needs consistency, not freshness)
    assert(pairs(shNow, postOld, oldHead, arrival).contains((1L, 50L)),
      "old head over old-keyed postings must catch the planted pair")
    // MIXED order — new head over old-keyed postings (what a naive
    // head-overwrite without a postings re-key serves): MISSED. This is
    // the state the lossless swap exists to make unreachable.
    assert(!pairs(shNow, postOld, newHead, arrival).contains((1L, 50L)),
      "mixed head/postings must miss the pair (else this test is blunt)")
    // crash window after commit (1) — postings = old ∪ new: lossless
    // under BOTH heads
    val postUnion = postOld.unionByName(
      PrefixIndex.postings(hashedNow, newHead))
    assert(pairs(shNow, postUnion, oldHead, arrival).contains((1L, 50L)),
      "superset window must stay lossless under the old head")
    assert(pairs(shNow, postUnion, newHead, arrival).contains((1L, 50L)),
      "superset window must stay lossless under the new head")

    // ---- the operator itself: rebuild, then the standing state is
    // consistently new-keyed and the pair is caught through the lake
    val rebuilt = IndexRebuild.rebuildDfHead(cat, "nd")
    assert(rebuilt == newHead, "rebuild must publish the recomputed head")
    import spark.implicits._
    val headStored = cat.loadTable("nd", "dfhead").get.read()
      .as[(Long, Long)].collect().toMap
    assert(headStored == newHead, "dfhead table must hold the new head")
    val postNow = cat.loadTable("nd", "postings").get.read()
    val expectPost = PrefixIndex.postings(hashedNow, newHead)
      .collect().toSet
    assert(postNow.collect().toSet == expectPost,
      "postings must be exactly the re-keyed set (old keys retired)")
    assert(pairs(shNow, postNow, headStored, arrival).contains((1L, 50L)),
      "post-rebuild incremental run must catch the pair")

    // the next incremental run loads the head afresh — no restart
    // needed: A drops against the rebuilt index read back from the lake
    val next = pairs(cat.loadTable("nd", "shingles").get.read(),
      cat.loadTable("nd", "postings").get.read(),
      StandingState.loadHead(spark, cat, "nd"), arrival)
    assert(next.contains((1L, 50L)),
      s"arrival must drop against the rebuilt index: $next")
  }

  // ------------------------------------------------------------- IVF side

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("v", ArrayType(DoubleType))))
  private def unit(axis: Int): Array[Double] =
    Array.tabulate(8)(i => if (i == axis) 1.0 else 0.0)
  private def near(axis: Int, eps: Double): Array[Double] =
    Array.tabulate(8)(i => if (i == axis) 1.0 else eps)
  private def rows(rs: Seq[(Long, Array[Double])]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rs.map { case (i, v) => Row(i, v.toSeq) }, 1),
      vecSchema)
  private val carryFn = (df: DataFrame, cs: Array[Array[Double]]) =>
    LlmQueries.ivfAssignCarry(spark, df, cs)
  private val idsFn = (df: DataFrame, cs: Array[Array[Double]]) =>
    LlmQueries.ivfAssignCompiled(spark, df, "vec_id", "v", cs, 1)

  private def provision(tag: String): LakeCatalog = {
    val wh = Files.createTempDirectory(s"graft-rbi-$tag")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("ivf")
    // seeds-by-lowest-id will pick 1 (axis 0) and 2 (axis 1)
    val initial = rows(Seq(1L -> near(0, 0.01), 2L -> near(1, 0.01),
      3L -> near(0, 0.03), 4L -> near(1, 0.04), 5L -> near(0, 0.05)))
    StandingState.provisionIvfState(cat, "ivf", Array(unit(0), unit(1)),
      initial, df => idsFn(df, Array(unit(0), unit(1))))
    cat
  }

  test("IVF rebuild crash window — NEW codebook over OLD assignments: " +
    "recall may degrade but every returned score is the true cosine " +
    "(the documented never-correctness claim, proven on the state)") {
    val cat = provision("mixed")
    // replicate rebuildIvf's FIRST swap only: publish a retrained
    // codebook, leave the assignment table untouched — the exact state
    // a crash between the two swaps exposes to readers
    val cur = cat.loadTable("ivf", "vectors").get.read()
    val seeds = cur.orderBy("vec_id").limit(2).collect()
      .map(_.getSeq[Double](1).toArray)
    val cents = graft.operators.KMeansTrainer.train(cur, seeds, 2)(
      (df, cs) => carryFn(df, cs))
    import spark.implicits._
    val cT = cat.loadTable("ivf", "centroids").get.createBranch("rebuild")
    cT.onBranch("rebuild").overwrite(
      cents.zipWithIndex.toSeq.map { case (cv, i) => (i.toLong, cv.toSeq) }
        .toDF("cid", "cv"))
    cat.loadTable("ivf", "centroids").get
      .fastForward("rebuild").dropBranch("rebuild")

    // a q184-style search against the MIXED state: route queries via
    // the NEW codebook, candidates from the OLD assignment table,
    // vectors from the landing table, exact re-rank
    val pub = StandingState.loadCentroids(spark, cat, "ivf")
    val queries = rows(Seq(900L -> near(0, 0.02), 901L -> near(1, 0.03)))
      .select(org.apache.spark.sql.functions.col("vec_id").as("qid"),
        org.apache.spark.sql.functions.col("v").as("qv"))
    val qProbes = LlmQueries.ivfAssignCompiled(spark, queries,
      "qid", "qv", pub, 1)
    val cand = cat.loadTable("ivf", "assign").get.read()
      .join(qProbes, "bucket").select("qid", "vec_id")
    val got = graft.operators.VectorJoin.attachPair(
        cand.withColumnRenamed("qid", "ia")
          .withColumnRenamed("vec_id", "ib"),
        cat.loadTable("ivf", "vectors").get.read()
          .unionByName(rows(Seq(900L -> near(0, 0.02), 901L -> near(1, 0.03)))),
        "vec_id", "v")
      .select(org.apache.spark.sql.functions.col("ia").as("qid"),
        org.apache.spark.sql.functions.col("ib").as("vec_id"),
        graft.functions.VectorOps.cosine(
          org.apache.spark.sql.functions.col("va"),
          org.apache.spark.sql.functions.col("vb")).as("sim"))
      .collect()
    assert(got.nonEmpty, "mixed-state search must still return candidates")
    // the correctness half: every reported sim is the TRUE cosine of
    // the actual stored vector against the actual query — mixed routing
    // can shrink the candidate set, never forge a score
    val vOf = (cat.loadTable("ivf", "vectors").get.read()
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray) ++
      Seq(900L -> near(0, 0.02), 901L -> near(1, 0.03))).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    got.foreach { r =>
      val expect = cos(vOf(r.getLong(0)), vOf(r.getLong(1)))
      assert(math.abs(r.getDouble(2) - expect) < 1e-12,
        s"mixed-state score must be the true cosine: $r vs $expect")
    }
  }

  test("IVF rebuild (X52): retrain on the current lake corpus, WAP " +
    "publish, one-snapshot reassignment; failed validation leaves main " +
    "untouched; a leftover branch from a crashed run is absorbed") {
    val cat = provision("ok")
    // drift: maintenance replaces vector 5 with an axis-1 re-embed and
    // retires vector 4 (the assign table keeps serving under the OLD
    // codebook until the audit fires)
    cat.loadTable("ivf", "vectors").get
      .replaceByKey(rows(Seq(5L -> near(1, 0.02))), Seq("vec_id"))
    cat.loadTable("ivf", "vectors").get
      .addEqualityDeletes(rows(Seq(4L -> unit(0))).select("vec_id"), Seq("vec_id"))

    val centsBefore = StandingState.loadCentroids(spark, cat, "ivf")

    // a validation that rejects the candidate codebook: main unchanged
    val boom = intercept[RuntimeException] {
      IndexRebuild.rebuildIvf(cat, "ivf", 2, 2, carryFn, idsFn,
        validate = _ => throw new RuntimeException("audit rejected"))
    }
    assert(boom.getMessage == "audit rejected")
    assert(StandingState.loadCentroids(spark, cat, "ivf").map(_.toSeq).toSeq
      == centsBefore.map(_.toSeq).toSeq,
      "failed validation must leave the published codebook untouched")
    assert(!cat.loadTable("ivf", "centroids").get.meta.branches.contains("rebuild"),
      "failed validation must drop the staging branch")

    // simulate a crashed prior run leaving the branch behind
    cat.loadTable("ivf", "centroids").get.createBranch("rebuild")

    val assignSnapsBefore =
      cat.loadTable("ivf", "assign").get.meta.snapshots.size
    val cents = IndexRebuild.rebuildIvf(cat, "ivf", 2, 2, carryFn, idsFn,
      validate = df => assert(df.count() == 2))
    // published == returned, branch gone
    assert(StandingState.loadCentroids(spark, cat, "ivf").map(_.toSeq).toSeq
      == cents.map(_.toSeq).toSeq)
    assert(!cat.loadTable("ivf", "centroids").get.meta.branches.contains("rebuild"))
    // the retrained codebook reflects the drifted corpus: centroid 1
    // (seeded by vec 2, axis 1) now averages THREE axis-1 vectors
    assert(cents(0)(0) > 0.9 && cents(1)(1) > 0.9,
      s"retrain must keep the axis structure: ${cents.map(_.toSeq).toSeq}")
    // reassignment: ONE overwrite snapshot covering the CURRENT corpus
    val assignT = cat.loadTable("ivf", "assign").get
    assert(assignT.meta.snapshots.size == assignSnapsBefore + 1,
      "reassignment must be one snapshot swap")
    assert(assignT.currentSnapshot.get.operation == "overwrite")
    val asg = assignT.read().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(asg == Map(1L -> 0L, 2L -> 1L, 3L -> 0L, 5L -> 1L),
      s"assignments must cover the maintained corpus under the new codebook: $asg")
  }
}
