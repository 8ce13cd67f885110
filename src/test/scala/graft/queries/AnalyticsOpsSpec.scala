package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.functions.TextOps

/** Differential and property checks for the r12 operators whose oracle
  * replays only one data point: the Misra–Gries superset guarantee under
  * adversarial partitioning (q117), deletion-neighborhood blocking vs
  * brute-force edit distance (q118), the greedy MMR recurrence vs a
  * plain-Scala replay (q125), and MAD outlier counts vs a sorted-array
  * ground truth (q122). */
class AnalyticsOpsSpec extends SparkSpec {

  test("q117 Misra-Gries: candidate union covers every true heavy hitter " +
    "under any partitioning; recount output is partitioning-independent") {
    import spark.implicits._
    // skewed synthetic stream: two heavies among 500 rares
    val heavy = Seq.fill(300)("alpha") ++ Seq.fill(200)("beta")
    val rare = (0 until 500).map(i => s"rare$i")
    val stream = scala.util.Random.shuffle(heavy ++ rare ++ rare)
    val n = stream.size
    val truth = stream.groupBy(identity).view.mapValues(_.size)
      .filter { case (_, c) => c * 200 > n }.keySet.toSet
    assert(truth == Set("alpha", "beta"))
    for (parts <- Seq(1, 3, 17)) {
      val toks = spark.createDataset(stream).repartition(parts).as[String]
      val cand = TextOps.mgCandidates(toks, 400).distinct().collect().toSet
      assert(truth.subsetOf(cand),
        s"parts=$parts: MG candidates missed ${truth -- cand}")
      // sketch-then-recount end state is identical regardless of layout
      val recount = toks.toDF("w")
        .join(broadcast(cand.toSeq.toDF("w")), Seq("w"), "left_semi")
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * 200 > n)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(recount == truth.map(t => (t, stream.count(_ == t).toLong)),
        s"parts=$parts: recount drifted")
    }
  }

  test("q118 deletion-neighborhood join == brute-force levenshtein-1 " +
    "(insertions and deletions included)") {
    val got = Registry.queries("q118_edit1_join")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val c = Tables(spark, sf, "customer")
      .select(col("c_custkey").cast("long").as("id"),
        col("c_custkey").cast("string").as("key"))
    val brute = c.as("a").join(c.as("b"), col("a.id") < col("b.id"))
      .filter(levenshtein(col("a.key"), col("b.key")) === 1)
      .select(col("a.id"), col("b.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute, s"missing=${(brute -- got).take(5)} " +
      s"extra=${(got -- brute).take(5)}")
    // the data must actually exercise the indel path, not just Hamming
    val indel = brute.filter { case (a, b) =>
      a.toString.length != b.toString.length }
    assert(indel.nonEmpty, "fixture has no unequal-length pair")
  }

  test("q125 MMR: picks replay a plain-Scala greedy over the candidate pool") {
    val picks = Registry.queries("q125_mmr")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).map(_._2)
    assert(picks.length == 4 && picks.distinct.length == 4)
    // rebuild the pool + pairwise sims exactly as the query does
    import graft.functions.VectorOps
    val emb = Tables(spark, sf, "embeddings")
      .withColumn("v", VectorOps.toDoubleVec(col("embedding")))
    val qv = emb.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val cands = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"),
        round(VectorOps.cosine(col("v"), col("qv")), 4).as("rel"), col("v"))
      .orderBy(col("rel").desc, col("vec_id")).limit(20)
      .localCheckpoint(true)
    val rel = cands.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sims = cands.as("a").join(cands.as("b"),
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        round(VectorOps.cosine(col("a.v"), col("b.v")), 4).as("s"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    val sel = scala.collection.mutable.ArrayBuffer.empty[Long]
    sel += rel.toSeq.sortBy { case (id, r) => (-r, id) }.head._1
    while (sel.size < 4) {
      val next = rel.keysIterator.filterNot(sel.contains).map { d =>
        val ms = sel.map(s0 => sims((d, s0))).max
        val score = BigDecimal(0.7 * rel(d) - 0.3 * ms)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (d, score)
      }.toSeq.sortBy { case (id, sc) => (-sc, id) }.head._1
      sel += next
    }
    assert(picks.toSeq == sel.toSeq,
      s"greedy replay picked ${sel.toSeq}, query picked ${picks.toSeq}")
  }

  test("q128 rolling WAU matches a per-anchor brute-force distinct count") {
    val got = Registry.queries("q128_rolling_wau")(spark, sf)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    val pairs = Tables(spark, sf, "events")
      .select(col("ts").cast("date").as("d"), col("user_id"))
      .distinct()
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
    val days = pairs.map(_._1).distinct.sorted(Ordering.fromLessThan[java.time.LocalDate](_ isBefore _))
    val truth = days.map { anchor =>
      anchor.toString -> pairs.collect {
        case (d, u) if !d.isAfter(anchor) &&
          !d.isBefore(anchor.minusDays(6)) => u
      }.distinct.size.toLong
    }.toMap
    assert(got == truth)
  }

  test("q131 trend slope replays a plain-Scala OLS over the daily series") {
    val got = Registry.queries("q131_trend_slope")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2)))).toMap
    val daily = Tables(spark, sf, "events")
      .groupBy(col("event_type"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .as("x"))
      .agg(sum(round(col("value") * 100).cast("long")).as("y"))
      .collect().map(r => (r.getString(0), r.getInt(1).toLong, r.getLong(2)))
    val truth = daily.groupBy(_._1).map { case (tpe, rows) =>
      val n = rows.length.toLong
      val sx = rows.map(_._2).sum; val sy = rows.map(_._3).sum
      val sxy = rows.map(r => r._2 * r._3).sum
      val sxx = rows.map(r => r._2 * r._2).sum
      def r4(d: Double) = BigDecimal(d)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val slope = (n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx)
      tpe -> ((r4(slope / 100.0),
        r4((sy * 1.0 / n - slope * sx / n) / 100.0)))
    }
    assert(got == truth)
  }

  test("q132 two-pass median == full-sort median on odd, even and " +
    "bucket-boundary-tie inputs") {
    import spark.implicits._
    // replicate the two-pass device on synthetic columns, including a
    // pile-up exactly ON a bucket edge (3000.0) spanning the median
    val cases = Seq(
      (1 to 101).map(_ * 37.5),                       // odd n
      (1 to 100).map(_ * 41.0),                       // even n
      Seq.fill(60)(3000.0) ++ (1 to 59).map(_ * 13.0) // ties on the edge
    )
    for ((xs, ci) <- cases.zipWithIndex) {
      val df = spark.createDataset(xs.toSeq).toDF("p").repartition(7)
      val hist = df.groupBy(floor(col("p") / 1000).cast("long").as("b"))
        .agg(count(lit(1)).as("c"))
      val wcum = org.apache.spark.sql.expressions.Window.orderBy("b")
        .rowsBetween(Long.MinValue, 0)
      val cum = hist.withColumn("cum", sum("c").over(wcum))
        .withColumn("before", col("cum") - col("c"))
      val nRow = hist.groupBy().agg(sum("c").as("n"))
        .select(col("n"), expr("(n - 1) div 2").as("i1"),
          expr("n div 2").as("i2"))
      val sel = cum.crossJoin(broadcast(nRow))
        .filter(col("before") <= col("i2") && col("cum") > col("i1"))
        .select(col("b"), col("before"), col("i1"), col("i2"))
      val wb = org.apache.spark.sql.expressions.Window
        .partitionBy("b").orderBy("p")
      val got = df.withColumn("b", floor(col("p") / 1000).cast("long"))
        .join(broadcast(sel), "b")
        .withColumn("idx", col("before") + row_number().over(wb) - 1)
        .filter(col("idx") === col("i1") || col("idx") === col("i2"))
        .agg(avg("p")).collect()(0).getDouble(0)
      val s = xs.sorted
      val truth =
        if (s.length % 2 == 1) s(s.length / 2)
        else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
      assert(got == truth, s"case $ci: got $got, want $truth")
    }
  }

  test("plan shapes: q119/q125 fuse into TakeOrdered, q132 broadcasts its " +
    "bucket selection and never range-partition-sorts the table") {
    val q119 = Registry.queries("q119_rrf_fusion")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(q119.contains("TakeOrderedAndProject"), q119.take(500))
    assert(!q119.contains("CartesianProduct"), q119.take(500))
    // audit q125 with the lazy lineage cut disabled (the PlanDump NOCUT
    // seam): the r20 sampler cut truncates the production plan at
    // Scan ExistingRDD, hiding the MMR arms this test audits
    val q125 = try {
      graft.Cut.disabled = true
      Registry.queries("q125_mmr")(spark, sf)
        .queryExecution.executedPlan.toString
    } finally graft.Cut.disabled = false
    assert(q125.contains("TakeOrderedAndProject"), q125.take(500))
    assert(!q125.contains("CartesianProduct"), q125.take(500))
    val q132 = Registry.queries("q132_twopass_median")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(q132.contains("BroadcastHashJoin"), q132.take(500))
    // a global orderBy would show up as a range-partitioning exchange;
    // the device's only sorts are bucket-local (window partitionBy b)
    assert(!q132.contains("rangepartitioning"), q132.take(800))
  }

  test("q122 MAD outliers match a sorted-array ground truth per type") {
    def med(xs: Array[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    val rows = Tables(spark, sf, "events")
      .select(col("event_type"), round(col("value") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1).toDouble))
    val truth = rows.groupBy(_._1).map { case (tpe, vs) =>
      val cents = vs.map(_._2)
      val m = med(cents)
      val mad = med(cents.map(c => math.abs(c - m)))
      tpe -> ((cents.length.toLong,
        cents.count(c => math.abs(c - m) > 3 * mad).toLong, m, mad))
    }
    val got = Registry.queries("q122_mad_outliers")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got == truth, s"got=$got truth=$truth")
  }

  test("q135 hash-rank sample: exactly k per group, identical across runs") {
    val dir = "/root/testdata/sf0.01"
    def run() = Registry.queries("q135_group_sample")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    val a = run(); val b = run()
    assert(a == b, "hash-rank sample must be run-stable")
    a.groupBy(_._1).foreach { case (src, rows) =>
      assert(rows.map(_._3).sorted == Seq(1, 2, 3), s"group $src")
    }
  }

  test("q136 distributed prefix sum matches a single-sort ground truth " +
    "and keeps the data window partitioned") {
    val dir = "/root/testdata/sf0.01"
    val df = Registry.queries("q136_budget_pack")(spark, dir)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "n_chars")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, n) => (-n, id) }
    var cum = 0L
    val truth = docs.map { case (id, n) => cum += n; (id, n, cum) }
      .takeWhile(_._3 <= 50000L)
    assert(got.toSeq == truth.toSeq)
    // plan shape: the data-sized windows partition on pid (their sort is
    // the explicit range repartition); the offsets side broadcasts back
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"), plan.take(800))
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("q137 prefix-fingerprint leakage matches brute force over the split") {
    val dir = "/root/testdata/sf0.01"
    val got = Registry.queries("q137_split_leakage")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).take(32)))
    def isTrain(id: Long): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
      val hex = d.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      hex.charAt(0) < 'c'
    }
    val trainFp = docs.filter(d => isTrain(d._1)).map(_._3).toSet
    val truth = docs.filterNot(d => isTrain(d._1))
      .filter(d => trainFp.contains(d._3))
      .groupBy(_._2).view.mapValues(_.map(_._1).distinct.size.toLong).toMap
    assert(truth.values.sum > 0, "test data should exhibit some leakage")
    assert(got == truth, s"got=$got truth=$truth")
  }

  test("q141 plan: no cartesian product; sole-late is ONE per-order " +
    "aggregate (r20: the distinct + left-anti self-join is gone)") {
    val df = Registry.queries("q141_sole_blocker")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(!plan.contains("BroadcastNestedLoop"), plan.take(800))
    // the old shape paid a distinct exchange plus an anti-join over the
    // late table; the r20 spelling folds both into countDistinct-per-ok
    assert(!plan.contains("LeftAnti"), plan.take(800))
    assert(plan.contains("count(distinct"), plan.take(800))
  }

  test("q143 dense_rank keeps tied peers a row_number top-k would drop") {
    val dir = "/root/testdata/sf0.01"
    val rows = Registry.queries("q143_topk_ties")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val byBrand = rows.groupBy(_._1)
    assert(byBrand.exists(_._2.length > 2),
      "expected at least one brand with a top-2 tie")
    // within a brand, every kept row's size is in that brand's top-2
    // DISTINCT sizes — the dense_rank contract
    byBrand.foreach { case (b, rs) =>
      val top2 = rs.map(_._3).distinct.sorted.reverse.take(2).toSet
      assert(rs.forall(r => top2.contains(r._3)), s"brand $b")
    }
  }

  test("q144 FK audit reports zeros on healthy data and detects a forged orphan") {
    val dir = "/root/testdata/sf0.01"
    val healthy = Registry.queries("q144_fk_audit")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(healthy.values.forall(_ == 0L), s"unexpected orphans: $healthy")
    assert(healthy.size == 4)
    // forge: drop a nation every supplier references → orphans appear
    import org.apache.spark.sql.functions.{col, count, lit}
    val sup = Tables(spark, dir, "supplier")
    val refd = sup.select(col("s_nationkey").cast("long")).distinct()
      .head().getLong(0)
    val brokenNation = Tables(spark, dir, "nation")
      .filter(col("n_nationkey").cast("long") =!= refd)
    val orphans = sup.select(col("s_nationkey"))
      .join(brokenNation.select(col("n_nationkey")),
        col("s_nationkey") === col("n_nationkey"), "left_anti")
      .agg(count(lit(1))).head().getLong(0)
    val expected = sup.filter(col("s_nationkey").cast("long") === refd).count()
    assert(orphans == expected && orphans > 0,
      s"audit missed forged orphans: $orphans vs $expected")
  }

  test("q145 star join: dimensions broadcast, no cartesian/nested-loop") {
    val plan = Registry.queries("q145_regional_revenue")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(!plan.contains("BroadcastNestedLoop"), plan.take(800))
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(bhj >= 3, s"expected >=3 broadcast joins, got $bhj\n${plan.take(800)}")
  }

  test("approx_percentile rank error stays within n/accuracy (G10 scale path)") {
    val ev = Tables(spark, sf, "events")
      .select(col("value")).where(col("value").isNotNull)
    val sorted = ev.collect().map(_.getDouble(0)).sorted
    val n = sorted.length
    val acc = 1000
    val approx = ev.agg(percentile_approx(col("value"), lit(0.5), lit(acc)))
      .head().getDouble(0)
    // GK-sketch contract: the returned value's rank is within n/accuracy
    // of the requested rank — the bound that justifies swapping exact
    // percentiles (q88/q122/q129 oracles) for the sketch at 100 TB
    val rank = sorted.count(_ <= approx)
    assert(math.abs(rank - n / 2.0) <= n.toDouble / acc + 1,
      s"rank=$rank n=$n approx=$approx")
  }

  test("q148 mutual-NN pairs replay a plain-Scala brute force; " +
    "no window over the all-pairs stream") {
    val dir = "/root/testdata/sf0.001"
    val df = Registry.queries("q148_mutual_nn")(spark, dir)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val vecs = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val top1 = vecs.map { case (ia, va) =>
      ia -> vecs.filter(_._1 != ia)
        .map { case (ib, vb) => (ib, cos(va, vb)) }
        .minBy { case (ib, s) => (-s, ib) }._1
    }.toMap
    val truth = top1.collect {
      case (a, b) if top1(b) == a && a < b => (a, b)
    }.toSet
    assert(truth.nonEmpty, "fixture should have mutual pairs")
    assert(got == truth, s"missing=${truth -- got} extra=${got -- truth}")
    // plan (r13): the top-1 stage is the broadcast block scan — the
    // |V|² pair space must not exist as a join: no cartesian, no
    // broadcast nested-loop, and still no window sort anywhere
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("window"), plan.take(800))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("BroadcastNn: a planted zero vector never reaches any top-1 " +
    "(NaN guard) and the over-budget declarative fallback is identical") {
    import graft.operators.BroadcastNn
    val emb = Tables(spark, sf, "embeddings")
    val clean = BroadcastNn.top1Self(emb, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(clean.nonEmpty)
    assert(clean.forall { case (_, _, s) => !s.isNaN })
    // plant a zero-norm row: it must vanish as anchor AND as candidate
    // (cosine(0⃗,·) = 0/0 = NaN, which Spark would rank above every real
    // similarity in a max-based plan — VERDICT r12 "what's wrong" #1)
    val zeroId = 999999L
    val planted = emb.select(col("vec_id"), col("embedding"))
      .unionByName(spark.sql(
        s"SELECT CAST($zeroId AS BIGINT) AS vec_id, " +
          "CAST(array_repeat(0.0F, 64) AS ARRAY<FLOAT>) AS embedding"))
    val withZero = BroadcastNn.top1Self(planted, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(withZero == clean,
      s"zero vector changed top-1s: ${withZero.diff(clean)} / ${clean.diff(withZero)}")
    // budget gate: 1-byte budget forces the declarative cartesian
    // fallback, which must agree with the block scan bit-for-bit
    val fb = BroadcastNn.top1Self(emb, "vec_id", "embedding",
      maxBroadcastBytes = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fb == clean, s"fallback diverged: ${fb.diff(clean)}")
  }

  test("BoundedTopK equals sort.take(k) under any partitioning, " +
    "including k > group size and adversarial insert orders") {
    import graft.functions.TopK
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (1 to 4000).map(_ => (rnd.nextInt(5), rnd.nextLong() & 0x00ffffffffffffffL))
    for (parts <- Seq(1, 7); k <- Seq(3, 64, 5000)) {
      val got = rows.toDF("g", "v").repartition(parts)
        .groupBy("g").agg(TopK.smallestKDistinct(k, col("v")).as("top"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
      val want = rows.groupBy(_._1).map { case (g, vs) =>
        g -> vs.map(_._2).distinct.sorted.take(k).toSeq
      }
      assert(got == want, s"parts=$parts k=$k")
    }
  }

  test("q149 ANN mutual-NN replays its candidate rule exactly in plain " +
    "Scala; measured recall vs exact q148 stays above the floor") {
    val got = Registry.queries("q149_mutual_nn_ann")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Registry.queries("q148_mutual_nn")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val vecs = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val sig = vecs.map { case (id, v) => id -> v.map(_ >= 0) }.toMap
    val byId = vecs.toMap
    // the registered BANDED rule (r14): candidates = pairs whose
    // min-band-Hamming over 8×8-bit bands is ≤ the probe radius 2,
    // cut to K=64 by (hamming, id), exact cosine re-rank
    // (sim desc, id asc), then the mutual filter
    def ham(a: Array[Boolean], b: Array[Boolean], from: Int, until: Int) =
      (from until until).count(i => a(i) != b(i))
    def bandPass(a: Array[Boolean], b: Array[Boolean]): Boolean =
      (0 until 8).exists(bd => ham(a, b, bd * 8, bd * 8 + 8) <= 2)
    val top1 = vecs.flatMap { case (ia, va) =>
      val cand = vecs.filter(_._1 != ia)
        .filter { case (ib, _) => bandPass(sig(ia), sig(ib)) }
        .map { case (ib, _) => (ib, ham(sig(ia), sig(ib), 0, 64)) }
        .sortBy { case (ib, h) => (h, ib) }.take(64).map(_._1)
      if (cand.isEmpty) None
      else Some(ia -> cand.map(ib => (ib, cos(va, byId(ib))))
        .minBy { case (ib, s) => (-s, ib) }._1)
    }.toMap
    val truth = top1.collect {
      case (a, b) if top1.get(b).contains(a) && a < b => (a, b)
    }.toSet
    assert(got == truth, s"missing=${truth -- got} extra=${got -- truth}")
    // recall is a MEASURED property of this corpus (near-random
    // embeddings give sign bits little purchase): 0.876 at sf0.001 /
    // 0.906 at sf0.01 under the banded rule — within a point of the
    // r13 all-pairs rule; the floor documents the trade the ANN tier
    // makes, it does not pretend exactness
    val recall = (got & exact).size.toDouble / exact.size
    info(f"q149 mutual-pair recall vs exact q148: $recall%.3f " +
      s"(${(got & exact).size}/${exact.size})")
    assert(recall >= 0.8, f"recall $recall%.3f below 0.8 floor")
    // plan: candidate generation is an EQUI-join (no cross product of
    // any flavor) and the cut is an aggregate, not a window over pairs
    val plan = Registry.queries("q149_mutual_nn_ann")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("window"), plan.take(800))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      "q149 candidate stage must not cross-join: " + plan.take(800))
  }

  test("GlobalRank.withNtile replays window ntile exactly across fill " +
    "regimes; q142 range-partitions with the offsets broadcast back") {
    import graft.operators.GlobalRank
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // n % k ∈ {0, ≠0} and n < k all exercise the NTILE fill rule
    for (n <- Seq(4, 9, 10, 101, 1000); k <- Seq(3, 10)) {
      val rows = (1 to n).map(i => (i.toLong, rnd.nextInt(50)))
      val df = rows.toDF("id", "v").repartition(5)
      val got = GlobalRank
        .withNtile(df, Seq(col("v").desc, col("id")), k)
        .select("id", "tile")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("v").desc, col("id"))
      val want = df.select(col("id"), ntile(k).over(w).as("t"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == want, s"n=$n k=$k")
    }
    // q142's registered plan: range partitioning carries the data; the
    // only single-partition window is over the |partitions|-row offset
    // table (q136's proven shape — same shared device since r13)
    val q = Registry.queries("q142_deciles")(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"), plan.take(1000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1000))
  }

  test("q150 disjunctive join: common conjuncts factored out of the OR " +
    "(hash join + pushed per-side bands), no nested loop") {
    val df = Registry.queries("q150_disjunctive_join")(spark, sf)
    df.collect() // force planning through AQE
    val plan = df.queryExecution.executedPlan.toString
    // the equi key hidden inside every OR arm must surface as a hash join
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    // PushedFilters render only in formatted explain output
    val fmt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // the factored common conjunct reaches the lineitem SCAN...
    assert(fmt.contains("Not(EqualTo(l_returnflag,R))"), fmt.take(2000))
    // ...and so do the per-side disjunctive range implications
    assert(fmt.contains("GreaterThanOrEqual(l_quantity,20.0)"),
      fmt.take(2000))
    assert(fmt.contains("EqualTo(p_brand,Brand#12)"), fmt.take(2000))
  }

  test("q151/q152 TPC-H Q7/Q8 shapes: dimension chains broadcast, one " +
    "fact shuffle, no cartesian from the cross-dimension disjunction") {
    for (name <- Seq("q151_nation_volume", "q152_market_share")) {
      val df = Registry.queries(name)(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"$name: ${plan.take(900)}")
      assert(!plan.contains("CartesianProduct"), s"$name: ${plan.take(900)}")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name: ${plan.take(900)}")
    }
    // q151's semi-reduction: the nation IN-pair filter reaches the
    // dimension side BEFORE the fact join (a scan-level PushedFilter on
    // n_name), so the 625-combination pair space never forms
    val fmt = Registry.queries("q151_nation_volume")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(fmt.contains("In(n_name, [NATION_3,NATION_7])") ||
      fmt.contains("In(n_name, [NATION_7,NATION_3])"), fmt.take(2000))
  }

  test("q154 salted enrichment: the registered plan actually salts " +
    "(content-hash in the join keys) and matches the unsalted join") {
    val df = Registry.queries("q154_salted_enrich")(spark, sf)
    val got = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    // the device must not be optimized away: the salt (xxhash64 pmod)
    // participates in the physical join keys
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("xxhash64"), plan.take(900))
    // identity vs the plain (unsalted) spelling
    val ev = Tables(spark, sf, "events").select("user_id", "event_type")
    val dim = ev.groupBy("user_id").agg(count(lit(1)).as("user_events"))
    val plain = ev.join(dim, "user_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(sum(col("user_events").cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 4).as("avg_user_lifetime"))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == plain)
  }

  test("q146 exact-moment correlation replays a plain-Scala Pearson r") {
    val got = Registry.queries("q146_group_corr")(spark, sf)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val rows = Tables(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long"),
        round(col("l_extendedprice") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val truth = rows.groupBy(_._1).map { case (f, rs) =>
      val n = rs.length.toLong
      def s(g: ((String, Long, Long)) => BigInt) = rs.map(g).sum
      val sx = s(r => BigInt(r._2)); val sy = s(r => BigInt(r._3))
      val sxy = s(r => BigInt(r._2) * r._3)
      val sxx = s(r => BigInt(r._2) * r._2)
      val syy = s(r => BigInt(r._3) * r._3)
      val num = (n * sxy - sx * sy).toDouble
      val den = math.sqrt((n * sxx - sx * sx).toDouble) *
        math.sqrt((n * syy - sy * sy).toDouble)
      f -> ((n, BigDecimal(num / den)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }
    assert(got == truth, s"got=$got truth=$truth")
  }
}
