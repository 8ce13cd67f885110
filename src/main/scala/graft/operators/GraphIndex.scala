package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorOps
import graft.lake.{LakeCatalog, LakeTable}

/** STANDING k-NN graph state (X58, r19 — VERDICT r18 missing #1): the
  * graph family's build (q162), prune (q182) and search (q183) all
  * constructed the 10·|V| edge list from scratch inside the query; at
  * 100 TB nobody rebuilds the navigation graph per query — the serving
  * shape reads an INDEX, so the pruned edge list becomes governed lake
  * state with the X49/X50-style lifecycle the dedup/IVF/BM25/moment
  * families already have.
  *
  * State: `gvec` (vec_id, v) — the graph corpus (nonzero-norm rows
  * only: q162's corpus rule; a vector cosine can't see is not a graph
  * member); `gsig` (vec_id, sig) — the 64-bit sign signatures behind
  * banded candidate generation, slim standing state (2 longs/row) so
  * affected-anchor detection never touches the vector payloads;
  * `gedges` (src, rank, dst, sim, kept) — q162's top-10-by-cosine edge
  * lists carrying q182's HNSW-heuristic kept flags.
  *
  * The maintenance INVARIANT (what q187's oracle hash-gates): after any
  * append/retire/re-embed sequence the stored edges are IDENTICAL to a
  * from-scratch q162+q182 build over the current corpus. The proof
  * shape: an anchor's edge list is a function of (anchor, corpus)
  * through three deterministic stages — top-64 candidates by (band-
  * Hamming, id) among signatures agreeing on some band within the
  * radius, top-10 by (cosine DESC, id), the greedy kept fold — and a
  * corpus change can only perturb an anchor whose candidate set
  * contains a changed vector, which REQUIRES that vector's (old or
  * new) signature to band-collide with the anchor's. So maintenance
  * rebuilds exactly the collision-affected anchors
  * ([[BandedAnn.collidingIds]] — deliberately UNCAPPED: affectedness
  * is reachability, and the top-64 cap could hide a perturbed anchor)
  * plus the changed ids themselves, against the CURRENT stored corpus,
  * via one explicit-cover [[LakeTable.replaceByKey]] commit — and
  * every untouched anchor's list is provably bit-identical to what the
  * full rebuild would produce.
  *
  * Cost shape: O(changed + affected) anchors × (≤64 candidates + ≤10²
  * prune comparisons); the vector fetch for the rebuild reads only the
  * anchors' and candidates' rows ([[readVectorsFor]] — range+IN file
  * skipping under the bounded-key-list contract, a linear fallback
  * past the cap), never the standing corpus (GraphIndexSpec meters
  * it). Commit order: corpus tables first, then the edge swap — a
  * crash between them leaves a STALE-EDGE window (search may miss the
  * newest vectors or briefly route through retiring ones — a recall
  * degradation, never corrupt results: retired dsts drop out of the
  * search's vector join), and a retry converges because every commit
  * is replace-by-key idempotent. Same nightly-single-writer posture as
  * the rest of the maintenance family; the lake's OCC rebases protect
  * each row commit. */
object GraphIndex {

  private[graft] val Degree = 10 // edges per anchor (q162's k)

  /** (vec_id, v, sig) of the embeddable slice of `vectors` (vec_id, v)
    * — the corpus-prep stage q162 and the lifecycle entries share. */
  private[graft] def graphCorpus(vectors: DataFrame): DataFrame =
    vectors.select(col("vec_id").cast("long").as("vec_id"), col("v"))
      .filter(graft.functions.VectorOps.sqNorm(col("v")) > 0d)
      .withColumn("sig", graft.functions.VectorOps.signBits64(col("v")))

  /** Per-anchor top-10 exact-cosine edges over banded candidates — the
    * q162 construction, parameterized over (probe anchors, index
    * corpus) so a maintenance rebuild of affected anchors reproduces
    * the self-build's rows for those anchors exactly. `probeSigs` /
    * `indexSigs`: (vec_id, sig); `vectors`: (vec_id, v) covering every
    * anchor and candidate (the bounded fetch on the maintenance path).
    * Returns (src, rank, dst, sim) with RAW sims. */
  private[graft] def edgesFor(probeSigs: DataFrame, indexSigs: DataFrame,
      vectors: DataFrame): DataFrame = {
    val cand = BandedAnn.candidates(probeSigs, indexSigs, "vec_id", "sig",
      bands = 8, bandBits = 8, radius = 2, k = 64)
    // re-rank vector fetch through the byte-budget device (q149's
    // posture — never an unconditional corpus-sized broadcast)
    VectorJoin.attachPair(cand, vectors, "vec_id", "v")
      .select(col("ia"),
        struct((-VectorOps.cosine(col("va"), col("vb"))).as("nsim"),
          col("ib")).as("p"))
      // ≤64 candidates per anchor: a sorted in-group list IS the
      // bounded top-10, no window over the candidate stream
      .groupBy("ia")
      .agg(slice(sort_array(collect_list(col("p"))), 1, Degree).as("top"))
      .select(col("ia").as("src"), posexplode(col("top")))
      .select(col("src"), (col("pos") + 1).cast("int").as("rank"),
        col("col.ib").as("dst"), (-col("col.nsim")).as("sim"))
  }

  /** Key-bounded vector fetch from the standing corpus table: a range
    * filter always reaches the file skipper, an IN filter joins it
    * under `inCap` ids, and the id join keeps the read exact — the
    * standing corpus is scanned only past `cap` ids (the linear
    * fallback; the bounded-key-list maintenance contract makes that
    * the rare path). */
  private[graft] def readVectorsFor(t: LakeTable, ids: DataFrame,
      cap: Long = 200000L, inCap: Int = 10000): DataFrame = {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, In, LessThanOrEqual}
    val idsC = ids.select(col("vec_id").cast("long").as("vec_id"))
      .distinct().localCheckpoint(true) // bounds probe + join reuse
    val n = idsC.count()
    if (n == 0) return t.read().filter(lit(false))
    if (n > cap) return t.read().join(idsC, "vec_id")
    val b = idsC.agg(min("vec_id"), max("vec_id")).head()
    val range: Seq[org.apache.spark.sql.sources.Filter] = Seq(
      GreaterThanOrEqual("vec_id", b.getLong(0)),
      LessThanOrEqual("vec_id", b.getLong(1)))
    val filters =
      if (n <= inCap)
        range :+ In("vec_id", idsC.collect().map(r =>
          java.lang.Long.valueOf(r.getLong(0)): Any))
      else range
    t.readPruned(filters).join(broadcast(idsC), "vec_id")
  }

  // ------------------------------------------------------- lifecycle

  private def mor = StandingState.MorProps

  /** One-time standing build: the full q162+q182 pipeline over the
    * embeddable slice of `vectors` (vec_id, v), landed as the three
    * governed tables. */
  def provision(catalog: LakeCatalog, db: String, vectors: DataFrame): Unit = {
    val nz = graphCorpus(vectors).localCheckpoint(true)
    catalog.createTable(db, "gvec", StructType(Seq(
        StructField("vec_id", LongType),
        StructField("v", ArrayType(DoubleType)))), props = mor)
      .append(nz.select("vec_id", "v"))
    catalog.createTable(db, "gsig", StructType(Seq(
        StructField("vec_id", LongType), StructField("sig", LongType))),
        props = mor)
      .append(nz.select("vec_id", "sig"))
    val sigs = nz.select("vec_id", "sig")
    val edges = KnnPrune.diversify(
      edgesFor(sigs, sigs, nz.select("vec_id", "v")),
      nz.select("vec_id", "v"), "vec_id", "v")
    catalog.createTable(db, "gedges", StructType(Seq(
        StructField("src", LongType), StructField("rank", IntegerType),
        StructField("dst", LongType), StructField("sim", DoubleType),
        StructField("kept", BooleanType))), props = mor)
      .append(edges)
  }

  /** Rebuild `anchorIds`' edge lists (with kept flags) against the
    * CURRENT stored corpus — the shared tail of every maintenance
    * entry. Reads the slim signature table once and only the touched
    * anchors'/candidates' vector rows. */
  private def buildFor(catalog: LakeCatalog, db: String,
      anchorIds: DataFrame): DataFrame = {
    // deliberately NOT checkpointed: the signature table is the slim
    // standing state (2 longs/row) and its three consumers here each
    // re-scan the parquet — at 10B vectors that is 3 slim scans, where
    // a checkpoint would pin an O(corpus) block set in executor memory
    val sigT = catalog.loadTable(db, "gsig").get.read()
    val anchors = sigT.join(broadcast(anchorIds), "vec_id")
    val cand = BandedAnn.candidates(anchors, sigT, "vec_id", "sig",
      bands = 8, bandBits = 8, radius = 2, k = 64)
      .localCheckpoint(true) // vector-fetch ids + re-rank
    val need = cand.select(col("ia").as("vec_id"))
      .union(cand.select(col("ib").as("vec_id")))
      .union(anchorIds.select("vec_id"))
    val vecs = readVectorsFor(catalog.loadTable(db, "gvec").get, need)
      .localCheckpoint(true) // re-rank + prune fold
    val edges = VectorJoin.attachPair(cand, vecs, "vec_id", "v")
      .select(col("ia"),
        struct((-VectorOps.cosine(col("va"), col("vb"))).as("nsim"),
          col("ib")).as("p"))
      .groupBy("ia")
      .agg(slice(sort_array(collect_list(col("p"))), 1, Degree).as("top"))
      .select(col("ia").as("src"), posexplode(col("top")))
      .select(col("src"), (col("pos") + 1).cast("int").as("rank"),
        col("col.ib").as("dst"), (-col("col.nsim")).as("sim"))
    KnnPrune.diversify(edges, vecs, "vec_id", "v")
  }

  /** Nightly batch append of NEW vec_ids: corpus tables first, then one
    * edge swap covering the new anchors PLUS every standing anchor a
    * new signature band-collides with (a new vector can enter an old
    * anchor's top-10 — and can displace its kept set). Zero-norm rows
    * bypass (q162's corpus rule: they are not graph members). Ids
    * already in the graph are rejected. */
  def append(catalog: LakeCatalog, db: String, vectors: DataFrame): Unit = {
    val nz = graphCorpus(vectors).localCheckpoint(true)
    val standing = catalog.loadTable(db, "gsig").get.read()
    require(nz.join(standing, "vec_id").limit(1).count() == 0,
      s"GraphIndex.append on $db: batch contains ids already in the " +
        "graph — re-embeds must go through reembed() so their old " +
        "signatures' neighborhoods rebuild too")
    val newIds = nz.select("vec_id")
    val affected = BandedAnn.collidingIds(nz, standing, "vec_id", "sig")
    catalog.loadTable(db, "gvec").get
      .replaceByKey(nz.select("vec_id", "v"), Seq("vec_id"))
    catalog.loadTable(db, "gsig").get
      .replaceByKey(nz.select("vec_id", "sig"), Seq("vec_id"))
    val rebuild = newIds.union(affected).distinct().localCheckpoint(true)
    catalog.loadTable(db, "gedges").get
      .replaceByKey(buildFor(catalog, db, rebuild), Seq("src"),
        keys = rebuild.select(col("vec_id").as("src")))
  }

  /** Takedown/retention: the retired ids leave the corpus tables
    * (equality deletes), their OWN edge lists retire with no
    * replacement, and every anchor whose candidate set could have
    * contained them (signature collision with the retired sigs,
    * fetched BEFORE the delete) rebuilds against the post-delete
    * corpus — the rank-11 candidate is not stored, so affected lists
    * are recomputed, not patched. `ids`: one column `vec_id`. */
  def retire(catalog: LakeCatalog, db: String, ids: DataFrame): Unit = {
    val idsC = ids.select(col("vec_id").cast("long").as("vec_id"))
      .localCheckpoint(true)
    val standing = catalog.loadTable(db, "gsig").get.read()
    val oldSigs = standing.join(broadcast(idsC), "vec_id")
    val affected = BandedAnn.collidingIds(oldSigs, standing, "vec_id", "sig")
      .join(idsC, Seq("vec_id"), "left_anti")
      .localCheckpoint(true) // cover union + rebuild probe
    Seq("gvec", "gsig").foreach { t =>
      catalog.loadTable(db, t).get.addEqualityDeletes(idsC, Seq("vec_id"))
    }
    catalog.loadTable(db, "gedges").get
      .replaceByKey(buildFor(catalog, db, affected), Seq("src"),
        keys = affected.union(idsC).distinct()
          .select(col("vec_id").as("src")))
  }

  /** Re-embed upsert: `updated` (vec_id, v) replaces the corpus rows;
    * anchors colliding with the OLD signatures (they may lose the
    * vector or see its sims change) or the NEW ones (they may gain it)
    * rebuild, as do the updated anchors themselves. A vector
    * re-embedded to zero norm leaves the graph: corpus rows retire
    * with no replacement (explicit key cover) and its old
    * neighborhoods rebuild without it. */
  def reembed(catalog: LakeCatalog, db: String, updated: DataFrame): Unit = {
    val updIds = updated.select(col("vec_id").cast("long").as("vec_id"))
      .localCheckpoint(true)
    val nz = graphCorpus(updated).localCheckpoint(true)
    val standing = catalog.loadTable(db, "gsig").get.read()
    val oldSigs = standing.join(broadcast(updIds), "vec_id")
    val affected = BandedAnn.collidingIds(
        oldSigs.select("vec_id", "sig").unionByName(nz.select("vec_id", "sig")),
        standing, "vec_id", "sig")
      .join(updIds, Seq("vec_id"), "left_anti")
      .localCheckpoint(true)
    catalog.loadTable(db, "gvec").get
      .replaceByKey(nz.select("vec_id", "v"), Seq("vec_id"), keys = updIds)
    catalog.loadTable(db, "gsig").get
      .replaceByKey(nz.select("vec_id", "sig"), Seq("vec_id"), keys = updIds)
    val rebuild = affected.union(nz.select("vec_id")).distinct()
      .localCheckpoint(true)
    catalog.loadTable(db, "gedges").get
      .replaceByKey(buildFor(catalog, db, rebuild), Seq("src"),
        keys = affected.union(updIds).distinct()
          .select(col("vec_id").as("src")))
  }

  // ------------------------------------------------------- search

  /** q183's fixed-hop best-first beam walk, factored so the inline
    * build (q183) and the maintained index (q188) share one spelling.
    * `emb`: (vec_id, v) corpus (callers checkpoint); `kept`: (src,
    * dst) navigable edges; `queries`: (qid, qv), driver-bounded.
    * Entry: the lowest corpus id (next-lowest when the query IS it).
    * Output (qid, rank, vec_id, sim, in_exact) with the rank-counting
    * recall audit — one corpus×queries map pass, ≤ ef·|queries| count
    * groups, never a corpus window or collect. */
  def beamSearch(emb: DataFrame, kept: DataFrame, queries: DataFrame,
      ef: Int, hops: Int): DataFrame = {
    val q = broadcast(queries)
    // ONE TakeOrdered job yields both entry candidates (r19 optimization
    // round: the min + filtered-min spelling was two driver actions).
    // Loud guard (ADVICE r19): the corpus contract is distinct vec_ids;
    // a duplicate-id (or 1-row) corpus would silently self-enter the
    // query whose qid == minId instead of failing here.
    val two = emb.select(col("vec_id")).orderBy("vec_id").limit(2).collect()
    require(two.length == 2 && two(0).getLong(0) != two(1).getLong(0),
      "beamSearch needs >= 2 distinct corpus vec_ids for the entry point " +
        s"(got ${two.map(_.getLong(0)).mkString(", ")})")
    val minId = two(0).getLong(0)
    val sndId = two(1).getLong(0)
    // Self-loop-augmented navigable edges (r20 optimization round, guide
    // §2.4/§3.1): x_h = beam ∪ N(beam) used to reference the beam TWICE
    // (a union of the beam with its kept-join), which is why each hop
    // needed a lineage cut — the uncut tree held 2^hops copies of hop 1.
    // With a self-loop per vertex the same set is ONE broadcast join
    // (kept2 ⋈ beam), the beam is referenced once per hop, and the
    // per-hop dedup moves into the top-ef aggregate (collect_set — dup
    // (qid, vec_id) rows carry bit-identical sims, so the set dedup is
    // exactly the old distinct). Each hop is now: one tiny broadcast of
    // the beam, a streamed BHJ over the persisted edge list, one tiny
    // broadcast of x into a streamed BHJ over the persisted corpus, and
    // one ≤ beam·(maxdeg+1)-row aggregate — no corpus-side Exchange
    // anywhere in the walk (A/B + job counts in OPTIMIZATION_r20.md).
    val kept2 = kept.unionByName(
        emb.select(col("vec_id").as("src"), col("vec_id").as("dst")))
      .transform(graft.Cut.lazyCut) // streamed by every hop's beam join
    var beam = q.select(col("qid"),
      when(col("qid") === minId, sndId).otherwise(minId).as("vec_id"))
    var scored: DataFrame = null
    for (_ <- 1 to hops) {
      val x = kept2.join(broadcast(beam), kept2("src") === beam("vec_id"))
        .select(beam("qid"), kept2("dst").as("vec_id"))
      // ≤ beam·(maxdeg+1) rows per query — bounded by construction,
      // so the per-qid sorted list IS the top-ef (the q162 idiom)
      scored = emb.join(broadcast(x), "vec_id").join(q, "qid")
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          VectorOps.cosine(col("v"), col("qv")).as("sim"))
        // LAZY lineage cut (r19 optimization round, guide §2.4/§5):
        // truncates the logical plan (bounded planning) and persists the
        // hop's rows on first compute, so the next hop's beam broadcast
        // reads the persisted blocks instead of re-walking from hop 1.
        // (r20 A/B: even with the single-reference lineage, removing the
        // cut re-executed each hop inside every later broadcast build —
        // q183 2.58→3.08, q188 1.68→2.48 — so the cut stays.)
        .transform(graft.Cut.lazyCut)
      beam = scored
        .select(col("qid"), struct((-col("sim")).as("ns"),
          col("vec_id")).as("p"))
        .groupBy("qid")
        .agg(slice(sort_array(collect_set(col("p"))), 1, ef).as("top"))
        .select(col("qid"), explode(col("top.vec_id")).as("vec_id"))
    }
    val fin = scored
      .select(col("qid"), struct((-col("sim")).as("ns"),
        col("vec_id")).as("p"))
      .groupBy("qid")
      .agg(slice(sort_array(collect_set(col("p"))), 1, 5).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("col.vec_id").as("vec_id"), (-col("col.ns")).as("sim"))
      .transform(graft.Cut.lazyCut) // ≤ 5·|queries| rows: broadcast to the audit
    // recall audit by rank-counting: one corpus×queries map pass,
    // bounded count groups, map-side combine — never a corpus-sized
    // window partition
    val exd = emb.join(q, emb("vec_id") =!= q("qid"))
      .select(col("qid"), col("vec_id").as("w"),
        VectorOps.cosine(col("v"), col("qv")).as("s"))
    val bet = exd.join(broadcast(fin.select(col("qid"),
        col("vec_id").as("rid"), col("sim").as("rs"))), "qid")
      .filter(col("s") > col("rs") ||
        (col("s") === col("rs") && col("w") < col("rid")))
      .groupBy(col("qid"), col("rid")).agg(count(lit(1)).as("nb"))
    fin.join(bet.withColumnRenamed("rid", "vec_id"),
        Seq("qid", "vec_id"), "left")
      .select(col("qid"), col("rank"), col("vec_id"),
        round(col("sim"), 4).as("sim"),
        (coalesce(col("nb"), lit(0L)) < 5).as("in_exact"))
      .orderBy("qid", "rank")
  }

  /** Search the MAINTAINED graph: q183's walk reading the STORED kept
    * edges and corpus — the serving shape. Queries: the corpus rows
    * satisfying `queryPred` (q183's rule). */
  def search(catalog: LakeCatalog, db: String, queryPred: String,
      ef: Int, hops: Int): DataFrame = {
    // lazy cuts (r19 optimization round): persisted on first use — the
    // entry TakeOrdered materializes emb, hop 1 materializes kept — so
    // the reuse across hops/audit is kept without two barrier jobs
    val emb = catalog.loadTable(db, "gvec").get.read()
      .transform(graft.Cut.lazyCut) // queries + per-hop scoring + recall audit
    val kept = catalog.loadTable(db, "gedges").get.read()
      .filter(col("kept")).select("src", "dst")
      .transform(graft.Cut.lazyCut) // walked once per hop
    beamSearch(emb, kept,
      emb.filter(expr(queryPred))
        .select(col("vec_id").as("qid"), col("v").as("qv")),
      ef, hops)
  }
}
