package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.functions.TextOps
import graft.lake.{LakeCatalog, Procedures}
import graft.operators.{IndexMaintenance, StandingState}

/** Property fuzz for the MAINTAINED incremental near-dup pipeline
  * (X43 ∘ X49): random corpora with planted near-dups, random
  * stored/batch splits, random retire + re-crawl maintenance — the
  * engine's shared `incrementalNearDup` run over the maintained lake
  * state must equal a brute-force reference over the CURRENT corpus
  * exactly (pair set AND round-4 Jaccard). Losslessness is the claim
  * under test: candidate generation goes through stored postings under
  * the stored head order, and maintenance must leave no stale row and
  * miss no rebuilt one, on inputs nobody hand-picked. Every other seed
  * also compacts the maintained tables mid-arc (outcome-neutrality
  * under fuzz, not just the planted MaintenanceSpec arcs); the
  * remaining seeds run a full df-head REBUILD (X53, r18) instead, so
  * head rotation is fuzzed against the same head-invariant reference.
  *
  * The reference shares only [[TextOps.shingleSet]] with the engine —
  * the machinery under test (hashing, head order, postings, PPJoin
  * filters, equality deletes, replaceByKey, compaction, verify) is all
  * independent of it. */
class MaintenanceFuzzSpec extends SparkSpec {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  private def docsDf(rs: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rs.map { case (i, t) => Row(i, t) },
        math.max(1, rs.size / 8)),
      docSchema)

  test("fuzz: maintained incremental dedup ≡ brute force over the " +
    "CURRENT corpus across random corpora, splits, and maintenance") {
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed * 37)
      val vocab = Array.tabulate(60)(i => s"t$i")
      def freshText(): String = {
        val n = 6 + rnd.nextInt(30)
        Array.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      }
      def mutate(t: String): String = {
        val toks = t.split(" ")
        toks(rnd.nextInt(toks.length)) = "mut" + rnd.nextInt(4)
        toks.mkString(" ")
      }
      // base docs + planted near-dups (a mutated copy for ~1/3 of them)
      var nextId = 0L
      def id(): Long = { nextId += 1; nextId }
      val base = Seq.fill(18)((id(), freshText()))
      val dups = base.filter(_ => rnd.nextInt(3) == 0)
        .map { case (_, t) => (id(), mutate(t)) }
      val all = rnd.shuffle(base ++ dups)
      val (stored0, batch) = all.partition(_._1 % 10 < 8)

      val wh = Files.createTempDirectory(s"graft-fuzz-wh$seed")
      val cat = new LakeCatalog(spark, wh)
      cat.createNamespace("nd")
      StandingState.provisionNearDupState(cat, "nd", docSchema,
        docsDf(stored0))

      // random maintenance over the stored slice: retire some, re-crawl
      // others (fresh or mutated text), disjoint sets
      val shuffled = rnd.shuffle(stored0)
      val retired = shuffled.take(rnd.nextInt(1 + stored0.size / 3))
      val recrawled = shuffled.drop(retired.size)
        .take(rnd.nextInt(1 + stored0.size / 3))
        .map { case (i, t) =>
          (i, if (rnd.nextBoolean()) freshText() else mutate(t))
        }
      if (retired.nonEmpty)
        IndexMaintenance.retireDocs(cat, "nd",
          docsDf(retired).select("doc_id"))
      if (recrawled.nonEmpty)
        IndexMaintenance.recrawlDocs(cat, "nd", docsDf(recrawled))
      if (seed % 2 == 0)
        Seq("shingles", "postings").foreach { tn =>
          Procedures.rewriteDataFiles(cat.loadTable("nd", tn).get,
            Map("rewrite-all" -> "true"))
        }
      // the other seeds REBUILD the df head (X53, r18) after the
      // maintenance: the verified pair set is head-invariant, so the
      // brute-force reference below is unchanged — which is exactly the
      // invariant the rebuild owes on corpora nobody hand-picked
      if (seed % 2 == 1)
        graft.operators.IndexRebuild.rebuildDfHead(cat, "nd")

      // engine: the SHARED incremental run over the maintained state
      import spark.implicits._
      val got = LlmQueries.incrementalNearDup(spark,
        cat.loadTable("nd", "shingles").get.read(),
        cat.loadTable("nd", "postings").get.read(),
        StandingState.loadHead(spark, cat, "nd"),
        docsDf(batch))
        .as[(Long, Long, Double)].collect().toSet

      // reference: brute force over the CURRENT corpus, new-side pairs
      val retiredIds = retired.map(_._1).toSet
      val current = stored0.filterNot { case (i, _) => retiredIds(i) }
        .map { case (i, t) =>
          (i, recrawled.collectFirst { case (ri, rt) if ri == i => rt }
            .getOrElse(t))
        } ++ batch
      val newIds = batch.map(_._1).toSet
      val sh = current.map { case (i, t) =>
        (i, TextOps.shingleSet(t).toSet)
      }
      val want = (for {
        (a, sa) <- sh; (b, sb) <- sh
        if a < b && (newIds(a) || newIds(b))
        inter = (sa & sb).size
        union = (sa | sb).size
        if union > 0
        jac = inter.toDouble / union
        if jac >= 0.8
      } yield (a, b, BigDecimal(jac).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
      assert(got == want,
        s"seed=$seed retired=${retiredIds.toSeq.sorted} " +
          s"recrawled=${recrawled.map(_._1).sorted}\n" +
          s"got - want: ${(got -- want).toSeq.sorted}\n" +
          s"want - got: ${(want -- got).toSeq.sorted}")
    }
  }
}
