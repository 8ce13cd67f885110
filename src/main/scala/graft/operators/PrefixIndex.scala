package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextOps

/** The lossless near-dup prefix-index device (AllPairs/PPJoin family),
  * extracted from the q56 spelling so the batch queries (q34/q35/q56/
  * q64/q161), the incremental runs over standing state (q167/q176/
  * q181; all in `graft.queries.LlmQueries`) and the standing-state
  * provisioning ([[StandingState.provisionNearDupState]]) share one
  * definition of every stage: shingle pass, xxhash64 order classes,
  * df-head order, rare-first prefix postings, in-bucket PPJoin filters,
  * and the budget-gated exact-Jaccard verify.
  *
  * Losslessness (q56 Scaladoc, proven in NearDupPropertySpec): order
  * each doc's shingle classes by a CONSISTENT corpus-global total order
  * (df-or-0, hash) and index only the first k − ⌈0.8k⌉ + 1; any pair
  * with jac ≥ 0.8 must collide on some prefix class (pigeonhole), so
  * candidate loss is impossible — and because only CONSISTENCY matters,
  * a new batch indexed under a STORED corpus's head joins losslessly
  * against stored postings (q167).
  */
object PrefixIndex {

  /** df classes below this document frequency are treated as df≈0 tail. */
  val DfFloor = 8

  /** Constant bound on the driver-collected df head (corpus-INDEPENDENT;
    * ~100-150 MB of boxed map at 2²⁰ — the documented budget). */
  val DfHeadMax: Int = 1 << 20

  /** Corpus totals (rows, shingle heap bytes) measured by accumulator
    * DURING the eager checkpoint job of [[shingled]], keyed by the
    * checkpointed DataFrame's identity. The verify pre-gate reads them
    * for FREE — no per-query aggregate job at all (r17, closing the
    * r16 q34/q35 drift suspect list). Accumulators in a transformation
    * are at-least-once under task retry, so a retry can only
    * OVER-count — which makes the budget gate more conservative (falls
    * back to candidate-level probes), never unsound. Weak keys: the
    * entry dies with the DataFrame handle. */
  private val corpusTotals: java.util.Map[DataFrame, (Long, Long)] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[DataFrame, (Long, Long)]())

  /** ONE checkpointed shingle pass over a (doc_id, text) table — the
    * builder every shingle consumer shares, so a change to the pass
    * shape lands once. Emits (doc_id, sh); the pass also measures the
    * corpus's row count and shingle heap footprint (48 B ≈ UTF8String +
    * array slot per shingle) via accumulators settled by the eager
    * checkpoint, so [[verifyPairs]]' budget pre-gate costs zero extra
    * jobs. */
  def shingled(docs: DataFrame, checkpoint: Boolean = true): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val rowsAcc = s.sparkContext.longAccumulator("graft.shingle.rows")
    val bytesAcc = s.sparkContext.longAccumulator("graft.shingle.bytes")
    val out = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val sh = TextOps.shingleSet(text)
        var b = 0L
        sh.foreach(x => b += x.length + 48L)
        rowsAcc.add(1L); bytesAcc.add(b)
        (id, sh)
      }
      .toDF("doc_id", "sh")
    if (checkpoint) {
      // eager: the checkpoint job runs the map exactly once per
      // partition (modulo retries — see corpusTotals), so the
      // accumulators hold the corpus totals the moment this returns
      val cp = out.localCheckpoint(true)
      corpusTotals.put(cp, (rowsAcc.value, bytesAcc.value))
      cp
    } else out
  }

  /** (doc_id, sh, …) → (doc_id, k, hs): the xxhash64 order-class view.
    * A collision merges two global-order classes, which can only ADD
    * candidates the exact verify discards. k stays the STRING shingle
    * count — a hash collision can shrink the class array, and filters
    * computed from the class count could then prune a true pair; with
    * string-k the prefix length and both in-bucket filters are never
    * tighter than the exact string-side PPJoin bounds (merges within a
    * doc only make class positions smaller), so collisions still only
    * ADD candidates and losslessness is exact, not just whp. */
  // r20 continuation: a compiled typed-map spelling of this view
  // (XXH64 seed 42 over UTF-8 bytes — bit-identical values, pinned by
  // a property spec) was A/B'd flat-to-worse (q34 2.08→2.26 med, q64
  // 1.98→2.15, controls +8-10%) and REJECTED: the typed path pays a
  // full Seq[String] deserialization per row, which eats the
  // interpreted-HOF saving — the batch-7 rule again (the lambda here
  // only hashes; it builds no strings). The lazy cut below already
  // ensures the HOF runs once per query.
  def hashed(docs: DataFrame): DataFrame =
    docs.filter(size(col("sh")) > 0)
      .select(col("doc_id"), size(col("sh")).as("k"),
        array_distinct(transform(col("sh"), x => xxhash64(x))).as("hs"))

  /** The df HEAD as a driver map — constant-bounded at `headMax`
    * entries, collected from ONE aggregate + TakeOrdered (no full
    * sort). Hash tiebreak makes the head deterministic when dfs tie at
    * the cut. */
  def dfHead(hashed: DataFrame, headMax: Int = DfHeadMax): Map[Long, Long] = {
    val s = hashed.sparkSession
    import s.implicits._
    hashed.select(explode(col("hs")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= DfFloor)
      .orderBy(desc("df"), col("h"))
      .limit(headMax)
      .select(col("h"), col("df")).as[(Long, Long)].collect().toMap
  }

  /** Rare-first prefix postings (h, doc_id, k, pos) under the consistent
    * corpus-global (df-or-0, hash) order `head` induces. The pigeonhole
    * argument only needs ORDER CONSISTENCY across the docs being paired
    * — which is why a new batch can be indexed under a STORED corpus's
    * head and losslessly joined against stored postings. */
  def postings(hashed: DataFrame, head: Map[Long, Long]): DataFrame = {
    val s = hashed.sparkSession
    import s.implicits._
    val bDf = s.sparkContext.broadcast(head)
    hashed.as[(Long, Int, Seq[Long])]
      .flatMap { case (id, k, hs) =>
        val dfOf = bDf.value
        val pLen = k - math.ceil(k * 0.8).toInt + 1
        hs.sortBy(h => (dfOf.getOrElse(h, 0L), h)).take(pLen).zipWithIndex
          .map { case (h, pos) => (h, id, k, pos) }
      }
      .toDF("h", "doc_id", "k", "pos")
  }

  /** PPJoin in-bucket pair filters over two posting entries, all exact
    * integer arithmetic:
    *  - length: jac ≥ 0.8 ⇒ min(k) ≥ ⌈0.8·max(k)⌉ ⇔ 5·min ≥ 4·max;
    *  - positional bound: a collision at sorted positions (pa, pb) caps
    *    the overlap at 1 + min(ka−pa−1, kb−pb−1), which must reach
    *    α = ⌈4(ka+kb)/9⌉ (= ⌈t/(1+t)·(ka+kb)⌉ at t=0.8) ⇔
    *    4(ka+kb) ≤ 9(1 + min(…)). Sound: the smallest common class sits
    *    in both prefixes and every common class at-or-after it, so for
    *    a TRUE pair that collision passes the bound. */
  def pairFilter(ka: String, pa: String, kb: String, pb: String): String =
    s"least($ka, $kb) * 5 >= greatest($ka, $kb) * 4 " +
      s"AND ($ka + $kb) * 4 <= " +
      s"(1 + least($ka - $pa - 1, $kb - $pb - 1)) * 9"

  /** Self-pairing of one postings table: bucket group over each class,
    * in-bucket pair expansion under the PPJoin filters plus doc_a <
    * doc_b (which also drops the self-pair a within-doc hash collision
    * would otherwise emit). `dedup = false` skips the final pair-level
    * distinct for callers that union these pairs with another candidate
    * arm and distinct the UNION (q34/q35/q167 via their wrappers) — the
    * inner exchange was pure redundancy there (r20 optimization round,
    * guide §2.4); callers that verify directly (q56/q64/q161) keep it,
    * because the verify would emit one output row per duplicate pair. */
  def postingsPairs(postings: DataFrame, dedup: Boolean = true): DataFrame = {
    val pairs = postings
      .groupBy("h")
      .agg(collect_list(struct(col("doc_id"), col("k"), col("pos"))).as("ms"))
      .filter(size(col("ms")) >= 2)
      .select(explode(expr(
        "flatten(transform(ms, (x, i) -> filter(transform(" +
          "slice(ms, i + 2, size(ms) - i - 1), " +
          "y -> IF(x.doc_id < y.doc_id, " +
          "named_struct('doc_a', x.doc_id, 'doc_b', y.doc_id, " +
          "'ka', x.k, 'kb', y.k, 'pa', x.pos, 'pb', y.pos), " +
          "named_struct('doc_a', y.doc_id, 'doc_b', x.doc_id, " +
          "'ka', y.k, 'kb', x.k, 'pa', y.pos, 'pb', x.pos))), " +
          "p -> p.doc_a < p.doc_b " +
          s"AND ${pairFilter("p.ka", "p.pa", "p.kb", "p.pb")})))")).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
    if (dedup) pairs.distinct() else pairs
  }

  /** Byte budget for the verify stage's forced broadcasts (VERDICT r15
    * wrong #1). On a dup-heavy web corpus the candidate-doc set is
    * corpus-FRACTION scale (30%+ near-dup rates are normal), and each
    * candidate row carries its full shingle array — essentially the
    * document — so an unconditional `broadcast(...)` here was the same
    * failure [[VectorJoin.attachPair]] closed for the ANN re-rank, one
    * stage earlier in the dedup family. */
  private def verifyBroadcastBudget(df: DataFrame): Long =
    df.sparkSession.conf
      .getOption("spark.graft.verify.broadcastBudgetBytes")
      .map(_.toLong).getOrElse(512L << 20)

  /** Byte model of one shingle row's heap footprint — the same formula
    * [[shingled]]'s accumulators apply; kept as an expression for the
    * paths that aggregate over a SUBSET (candidate-level probes) or
    * over tables whose totals were never measured (lake reads, unions,
    * hand-built fixtures). Tables that still carry a precomputed
    * `bytes` column use it directly. */
  private def shingleBytesCol(df: DataFrame): Column =
    if (df.columns.contains("bytes")) col("bytes")
    else expr("aggregate(sh, 0L, (acc, x) -> acc + length(x) + 48L)")

  /** Exact string-Jaccard ≥ 0.8 verification of candidate pairs against
    * the materialized shingle table (no re-shingle), UNSORTED — callers
    * that present results sort last. Budget-gated (VERDICT r15 wrong
    * #1): a corpus-level PRE-gate admits any candidate set when the
    * whole corpus's payload fits the broadcast budget (candidate docs
    * are a SUBSET of docsSh rows, and the id list is bounded by the
    * same test at 24 B/id). The totals come FREE from [[shingled]]'s
    * accumulators when docsSh is that checkpoint (r17 — zero extra
    * jobs in the batch dedup queries' hot path); an unmeasured table
    * falls back to one aggregate. Only a corpus PAST the budget — the
    * 100 TB regime the gate exists for — pays the exact candidate-level
    * probes (X42 posture, aggregate-scale only, never a driver
    * materialization); past budget the verify joins run UNHINTED and
    * any runtime broadcast decision is left to AQE stats. Row-equality
    * of the two plans is spec-forced with a zero budget (LlmOpsSpec). */
  /** `corpusPreGate = false` skips the whole-table (count, bytes)
    * aggregate that admits any candidate set when the full corpus fits
    * the budget — a bench win for the batch dedup queries, but a
    * per-trigger CORPUS-scale pass for callers whose shingle table is
    * standing lake state that grows forever (q167's nightly shape and
    * its maintained-state arcs q176/q181 bill themselves O(batch), so
    * they pay only the candidate-level probes below, which are
    * batch-scale). */
  def verifyPairs(docsSh: DataFrame, cand: DataFrame,
      corpusPreGate: Boolean = true): DataFrame = {
    val budget = verifyBroadcastBudget(docsSh)
    val ids = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b"))).distinct()
    if (corpusPreGate) {
      val (n, chars) = Option(corpusTotals.get(docsSh)).getOrElse {
        val t = docsSh.agg(count(lit(1)).as("n"),
          coalesce(sum(shingleBytesCol(docsSh)), lit(0L)).as("chars")).head()
        (t.getLong(0), t.getLong(1))
      }
      if (chars + (64L + 24L) * n <= budget)
        return exactJaccard(docsSh.join(broadcast(ids), "doc_id"), cand,
          within = true)
    }
    // the id filter is gated BEFORE the shingle probe can run (the
    // probe executes that join), then ONE eagerly-checkpointed pass
    // fetches the candidate shingle payload with its exact (rows,
    // bytes) stats observed DURING the same job (r20 optimization
    // round, guide §5 recompute elimination): the stats aggregate used
    // to be a separate full scan of the stored shingle table, and the
    // verify's two join sides then re-executed the same fetch — now
    // the fetch runs once, the stats ride it for free, and the verify
    // reads candidate-scale persisted blocks.
    val nIds = ids.count()
    val idsSide = if (nIds <= budget / 24L) broadcast(ids) else ids
    val obs = org.apache.spark.sql.Observation()
    val fetched = docsSh.join(idsSide, "doc_id")
    val shingledCand = fetched
      .observe(obs, count(lit(1)).as("n"),
        coalesce(sum(shingleBytesCol(fetched)), lit(0L)).as("chars"))
      .localCheckpoint(true)
    val m = obs.get
    exactJaccard(shingledCand, cand,
      within = m("chars").asInstanceOf[Long] +
        64L * m("n").asInstanceOf[Long] <= budget)
  }

  /** Compiled exact set-intersection Jaccard over candidate pairs;
    * `within` (decided by [[verifyPairs]]) selects hinted-broadcast vs
    * plain equi-joins. ONE plan joined on both pair sides: aliasing the
    * same relation (instead of renaming columns before the hint) keeps
    * the two exchange subtrees canonically identical, so ReuseExchange
    * builds the candidate shingle map (or shuffle) once, not twice.
    *
    * The intersection itself is `array_intersect` (r19 optimization
    * round, guide §4): the previous typed `Dataset.map` paid an
    * object-deserialization boundary per pair — every shingle
    * UTF8String copied into a java.lang.String and boxed into a Seq —
    * before the identical hash-set intersection ran. The shingle
    * arrays are distinct by construction ([[graft.functions.TextOps.shingleSet]]
    * and every lake table written from it), so
    * |A∩B| = size(array_intersect) and |A∪B| = |A|+|B|−|A∩B| exactly,
    * and the whole verify stays inside one whole-stage-codegen span
    * (A/B numbers in OPTIMIZATION_r19.md). */
  private def exactJaccard(
      shingledCand: DataFrame, cand: DataFrame, within: Boolean): DataFrame = {
    val b = if (within) broadcast(shingledCand) else shingledCand
    cand.join(b.as("A"), col("doc_a") === col("A.doc_id"))
      .join(b.as("B"), col("doc_b") === col("B.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("A.sh"), col("B.sh"))).as("inter"),
        (size(col("A.sh")) + size(col("B.sh"))).as("tot"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / (col("tot") - col("inter")))
          .as("jac_raw"))
      .filter(col("jac_raw") >= 0.8)
      .select(col("doc_a"), col("doc_b"), round(col("jac_raw"), 4).as("jac"))
  }
}
