package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.lake.{LakeCatalog, Procedures}
import graft.queries.LlmQueries

/** Standing-state maintenance (X49, VERDICT r16 missing #1): when a
  * standing doc is retired or re-crawled, the derived index
  * tables must reflect CURRENT state before the next incremental run —
  * planted arcs prove the three observable consequences:
  *   (a) an arrival near-dupping only the OLD content of a maintained
  *       doc LANDS (the stale candidate/verify pair must not appear);
  *   (b) an arrival near-dupping the NEW content is DROPPED (rebuilt
  *       index rows are live, not just old ones hidden);
  *   (c) an arrival near-dupping a RETIRED doc LANDS.
  * Plus the compaction composition (VERDICT r16 #5): rewrite_data_files
  * over the maintained index tables folds the equality deletes in,
  * leaves reads identical, and the NEXT ingest behaves the same.
  */
class MaintenanceSpec extends SparkSpec {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  private def words(tag: String, n: Int = 90): String =
    (0 until n).map(i => s"$tag$i").mkString(" ")
  private def nd(s: String): String = s.replaceFirst("\\w+5 ", "changed ")

  private def docsDf(rs: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rs.map { case (i, t) => Row(i, t) }, 1),
      docSchema)

  /** An ingest lane over the standing state: each run() asks the
    * engine's incremental near-dup run (q167/q176's
    * `incrementalNearDup`, over the stored shingles and postings under
    * the stored head) which batch docs verify as near-dups, drops the
    * batch side of a (batch, stored) pair and the larger id of a
    * (batch, batch) pair, and lands the survivors in postings, shingles
    * and docs — so later runs dedup against them. */
  private final class IngestLane(cat: LakeCatalog, db: String) {
    def run(rs: Seq[(Long, String)]): Unit = {
      val head = StandingState.loadHead(spark, cat, db)
      val batchIds = rs.map(_._1).toSet
      val drops = LlmQueries.incrementalNearDup(spark,
          cat.loadTable(db, "shingles").get.read(),
          cat.loadTable(db, "postings").get.read(), head, docsDf(rs))
        .select("doc_a", "doc_b").collect()
        .map { r =>
          val (a, b) = (r.getLong(0), r.getLong(1))
          if (batchIds(a) && batchIds(b)) math.max(a, b)
          else if (batchIds(a)) a else b
        }.toSet
      val survivors = docsDf(rs.filterNot { case (i, _) => drops(i) })
      val sh = PrefixIndex.shingled(survivors)
      cat.loadTable(db, "postings").get
        .append(PrefixIndex.postings(PrefixIndex.hashed(sh), head))
      cat.loadTable(db, "shingles").get.append(sh)
      cat.loadTable(db, "docs").get.append(survivors)
    }
  }

  private def idsOf(cat: LakeCatalog, db: String, table: String): Set[Long] =
    cat.loadTable(db, table).get.read()
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet

  test("doc maintenance: retire + recrawl reshape the next ingest " +
    "(stale pairs gone, rebuilt rows live), and compaction between " +
    "runs changes nothing") {
    val dA = words("alpha"); val dB = words("beta")
    val dC = words("gamma"); val n2 = words("delta")
    val wh = Files.createTempDirectory("graft-maint-wh")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("nd")
    StandingState.provisionNearDupState(cat, "nd", docSchema,
      docsDf(Seq(1L -> dA, 2L -> dB)))
    val lane = new IngestLane(cat, "nd")

    // pre-maintenance the state IS current: nd(dA) near-dups doc 1
    lane.run(Seq(10L -> nd(dA)))
    assert(idsOf(cat, "nd", "docs") == Set(1L, 2L), "10 must drop pre-maintenance")

    IndexMaintenance.recrawlDocs(cat, "nd", docsDf(Seq(1L -> dC)))
    IndexMaintenance.retireDocs(cat, "nd",
      docsDf(Seq(2L -> "")).select("doc_id"))

    // maintenance is read-visible immediately
    assert(idsOf(cat, "nd", "docs") == Set(1L), "retire must hide doc 2")
    assert(idsOf(cat, "nd", "shingles") == Set(1L))
    assert(idsOf(cat, "nd", "postings") == Set(1L))
    val sh1 = cat.loadTable("nd", "shingles").get.read()
      .filter(col("doc_id") === 1L).select(explode(col("sh")).as("s"))
      .collect().map(_.getString(0)).toSet
    assert(sh1.contains("gamma0 gamma1 gamma2") && !sh1.exists(_.startsWith("alpha")),
      "doc 1's shingles must be the re-crawled text's")

    // compaction folds the equality deletes in; reads identical
    for (tn <- Seq("shingles", "postings", "docs")) {
      val before = cat.loadTable("nd", tn).get.read().collect().toSet
      val res = Procedures.rewriteDataFiles(cat.loadTable("nd", tn).get,
        Map("rewrite-all" -> "true"))
      assert(res.table.deleteFiles.isEmpty, s"$tn keeps delete files")
      assert(res.table.read().collect().toSet == before,
        s"$tn reads changed under compaction")
    }

    // the next incremental run sees CURRENT state:
    //   20 = nd(old A) → lands (stale pair gone)        — arc (a)
    //   21 = nd(new C) → drops (rebuilt rows live)      — arc (b)
    //   22 = nd(old B) → lands (B retired)              — arc (c)
    //   23 = novel     → lands
    lane.run(Seq(20L -> nd(dA), 21L -> nd(dC), 22L -> nd(dB), 23L -> n2))
    val expect = Set(1L, 20L, 22L, 23L)
    assert(idsOf(cat, "nd", "docs") == expect,
      s"docs: ${idsOf(cat, "nd", "docs")}")
    // index tables stay in lockstep with the landing surface
    assert(idsOf(cat, "nd", "shingles") == expect)
    assert(idsOf(cat, "nd", "postings") == expect)
  }

  test("maintenance scan footprint is O(changed), measured (VERDICT " +
    "r17 #4): standing data files stay byte-identical, commit summaries " +
    "add only the changed docs' rows, and task input bytes stay far " +
    "below the standing tables' size") {
    val wh = Files.createTempDirectory("graft-foot-wh")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("nd")
    // a standing corpus big enough that an accidental table scan would
    // dominate the byte meter
    val standing = (1L to 400L).map(i => i -> words(s"w${i}x"))
    StandingState.provisionNearDupState(cat, "nd", docSchema, docsDf(standing))

    def fileSet(tn: String): Set[(String, Long)] =
      cat.loadTable("nd", tn).get.dataFiles
        .map(f => (f.path, f.sizeBytes)).toSet
    val standingFiles = Seq("docs", "shingles", "postings").map(t => t -> fileSet(t)).toMap
    val standingBytes = standingFiles.values.flatten.map(_._2).sum
    val headsBefore = Seq("docs", "shingles", "postings")
      .map(t => t -> cat.loadTable("nd", t).get.currentSnapshot.get.id).toMap

    // byte meter: every task's input bytes during the maintenance window
    val bytesRead = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          bytesRead.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      IndexMaintenance.recrawlDocs(cat, "nd",
        docsDf(Seq(3L, 5L, 7L).map(i => i -> words(s"new${i}y"))))
      IndexMaintenance.retireDocs(cat, "nd",
        docsDf(Seq(11L -> "", 13L -> "")).select("doc_id"))
      // drain the listener bus: poll until the meter stabilizes
      var last = -1L
      var spins = 0
      while (bytesRead.get() != last && spins < 50) {
        last = bytesRead.get(); Thread.sleep(100); spins += 1
      }
    } finally spark.sparkContext.removeSparkListener(listener)

    // (1) not one standing data file was rewritten or dropped
    for (tn <- Seq("docs", "shingles", "postings"))
      assert(standingFiles(tn).subsetOf(fileSet(tn)),
        s"$tn standing files must survive maintenance untouched")
    // (2) the commits added only the changed docs' rows (3 recrawled
    //     docs: ≤ 88 shingles each → bounded postings; 1 row each in
    //     docs/shingles) and deletes cover only the changed keys
    for (tn <- Seq("docs", "shingles", "postings")) {
      val t = cat.loadTable("nd", tn).get
      val newSnaps = t.meta.snapshots.filter(_.id > headsBefore(tn))
      val added = newSnaps.flatMap(_.summary.get("added-records"))
        .map(_.toLong).sum
      val bound = if (tn == "postings") 3L * 88 else 3L
      assert(added <= bound, s"$tn added $added rows (> O(changed) $bound)")
      val dels = newSnaps.flatMap(_.summary.get("equality-delete-records"))
        .map(_.toLong).sum
      assert(dels <= 5L, s"$tn minted $dels delete keys (> 5 changed ids)")
    }
    // (3) the measured scan: the df-head table, the update batch, and
    //     the read-back of freshly minted files — never the standing
    //     corpus. A scan of any one standing table would exceed this.
    assert(bytesRead.get() < standingBytes / 5,
      s"maintenance read ${bytesRead.get()} bytes " +
        s"(standing tables hold $standingBytes — looks like a table scan)")
  }

  test("recrawlDocs with an empty replacement row set (ADVICE r17): a " +
    "doc re-crawled below shingle length still retires its old index " +
    "rows in the same commit") {
    val dA = words("omega")
    val wh = Files.createTempDirectory("graft-empty-wh")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("nd")
    StandingState.provisionNearDupState(cat, "nd", docSchema,
      docsDf(Seq(1L -> dA, 2L -> words("psi"))))
    assert(idsOf(cat, "nd", "postings") == Set(1L, 2L))

    // re-crawl doc 1 to two tokens: zero shingles, zero postings — the
    // rows-derived delete of the r17 spelling never retired the old rows
    IndexMaintenance.recrawlDocs(cat, "nd", docsDf(Seq(1L -> "tiny doc")))
    assert(idsOf(cat, "nd", "postings") == Set(2L),
      s"old postings must retire: ${idsOf(cat, "nd", "postings")}")
    // the shingles table keeps doc 1 as its CURRENT (empty) set — the
    // old 88-shingle row is replaced, not merely joined by a new one
    val sh1 = cat.loadTable("nd", "shingles").get.read()
      .filter(col("doc_id") === 1L).collect()
    assert(sh1.length == 1 && sh1(0).getSeq[String](1).isEmpty,
      s"doc 1 must hold exactly its empty current shingle set: ${sh1.length}")
    assert(cat.loadTable("nd", "docs").get.read()
      .filter(col("doc_id") === 1L).collect()(0).getString(1) == "tiny doc")

    // and the next ingest no longer pairs arrivals against doc 1's old
    // content (the staleness the lingering rows would have caused is
    // only spurious candidates — but the retire must still be provable)
    val lane = new IngestLane(cat, "nd")
    lane.run(Seq(10L -> nd(dA)))
    assert(idsOf(cat, "nd", "docs").contains(10L),
      "arrival near the pre-recrawl content must land")
  }

  test("streaming ingest → compact index tables → ingest: outcomes " +
    "identical, fewer live files (VERDICT r16 #5)") {
    val dA = words("kappa"); val n1 = words("lambda"); val n2 = words("mu")
    val wh = Files.createTempDirectory("graft-cmp-wh")
    val cat = new LakeCatalog(spark, wh)
    cat.createNamespace("nd")
    StandingState.provisionNearDupState(cat, "nd", docSchema,
      docsDf(Seq(1L -> dA)))
    val lane = new IngestLane(cat, "nd")
    // several single-row batches → one file set per run
    lane.run(Seq(10L -> n1))
    lane.run(Seq(11L -> words("nu")))
    val postBefore = cat.loadTable("nd", "postings").get
    val filesBefore = postBefore.dataFiles.size
    assert(filesBefore >= 3, s"expected per-batch file growth, got $filesBefore")
    val rows = postBefore.read().collect().toSet
    val res = Procedures.rewriteDataFiles(postBefore,
      Map("rewrite-all" -> "true"))
    assert(res.table.dataFiles.size < filesBefore,
      s"compaction did not shrink the live set " +
        s"(${res.table.dataFiles.size} vs $filesBefore)")
    assert(res.table.read().collect().toSet == rows)
    Procedures.rewriteDataFiles(cat.loadTable("nd", "shingles").get,
      Map("rewrite-all" -> "true"))
    // the NEXT ingest behaves identically over the compacted index:
    // nd(n1) still drops against survivor 10, novel lands
    lane.run(Seq(20L -> nd(n1), 21L -> n2))
    val expect = Set(1L, 10L, 11L, 21L)
    assert(idsOf(cat, "nd", "docs") == expect,
      s"docs: ${idsOf(cat, "nd", "docs")}")
    assert(idsOf(cat, "nd", "postings") == expect)
  }
}
